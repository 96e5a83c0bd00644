"""Dedup + similarity operator tests: the approximate scale paths
(MinHash LSH, SimHash, SRP-ANN) are validated by recall against their
exact oracle-checked twins, on the driver corpus at sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_engine_spark.catalog import load_table
from sql_engine_spark.operators import dedup as D
from sql_engine_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def exact_pairs(docs):
    return {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()}


def test_ngram_jaccard_exact_vs_bruteforce_random(spark):
    """Full PPJoin pipeline (prefix + length + positional filters, both
    prefix orders) against Python set math on a random high-overlap
    corpus at two thresholds — the filter stack must be an exact
    superset and the verify an exact intersection, pair for pair."""
    import random

    rng = random.Random(99)
    vocab = [f"w{i}" for i in range(30)]  # tiny vocab → dense overlap
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 20))))
        for i in range(70)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def sh_set(text, n=3):
        w = text.split()
        return {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)} if len(w) >= n else set()

    sets = {i: sh_set(t) for i, t in rows}
    for t in (0.5, 0.8):
        truth = set()
        ids = sorted(sets)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                sa, sb = sets[a], sets[b]
                if sa and sb:
                    inter = len(sa & sb)
                    if inter / (len(sa) + len(sb) - inter) >= t - 1e-12:
                        truth.add((a, b))
        for order in ("df", "hash"):
            D.clear_shingle_index()
            got = {
                (r.id_a, r.id_b)
                for r in D.ngram_jaccard_pairs(
                    df, threshold=t, prefix_order=order
                ).collect()
            }
            assert got == truth, (
                f"t={t} order={order}: missing={truth-got} extra={got-truth}"
            )
    D.clear_shingle_index()


def test_exact_dedup_deterministic(spark, docs):
    out = D.exact_dedup(docs.select("doc_id", "lang", "source"), ["lang", "source"], "doc_id")
    rows = {(r.lang, r.source): r.doc_id for r in out.collect()}
    # keep-min policy: every kept id is the min of its group
    mins = {
        (r.lang, r.source): r.m
        for r in docs.groupBy("lang", "source").agg(F.min("doc_id").alias("m")).collect()
    }
    assert rows == mins


def test_ngram_jaccard_finds_planted_dups(exact_pairs):
    assert len(exact_pairs) > 0  # corpus has planted near-dups (TESTDATA)


def test_minhash_recall_vs_exact(docs, exact_pairs):
    """Banding (8 tables) must recover ≥80% of true pairs at j≥0.8 —
    the planted dups are j≈0.9+ where MinHash recall is high."""
    approx = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs, threshold=0.8).collect()}
    if exact_pairs:
        recall = len(approx & exact_pairs) / len(exact_pairs)
        assert recall >= 0.8, f"minhash recall {recall:.2f}"


def test_simhash_candidates_cover_exact_pairs(docs, exact_pairs):
    """SimHash is a candidate generator: at hamming ≤ 8 (the shingle
    distance the planted dups actually show) it must cover most
    strongest (j≥0.95) pairs."""
    sim = {(r.id_a, r.id_b) for r in D.simhash_pairs(docs, max_hamming=8).collect()}
    strong = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, threshold=0.95).collect()
    }
    if strong:
        covered = len(sim & strong) / len(strong)
        assert covered >= 0.8, f"simhash coverage of j≥0.95 pairs: {covered:.2f}"


def test_dedup_by_pairs_drops_only_losers(docs, exact_pairs):
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    survivors = {r.doc_id for r in D.dedup_by_pairs(docs, pairs).collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    losers = {b for _, b in exact_pairs}
    assert survivors == all_ids - losers


def test_rarest_first_prefixes_cut_hot_shingle_candidates(spark):
    """Skewed corpus: every doc shares one hot phrase, otherwise unique
    text. Hash-ordered prefixes let the hot shingles collide (→ ~m²/2
    candidates); document-frequency (rarest-first) prefixes push them
    into suffixes, so candidates collapse while the final exact result
    is identical — the 100 TB skew fix VERDICT.md asked for."""
    import itertools

    from sql_engine_spark.operators.dedup import (
        StorageLevel,
        _candidate_pairs,
        ngram_jaccard_pairs,
        shingle_hashes,
    )

    words = ["".join(p) for p in itertools.product("abcdefghij", repeat=3)]
    # 12-word hot phrase → 10 hot shingles shared by EVERY doc; several
    # inevitably sit low in the global hash order, so hash-ordered
    # prefixes collide on them.
    hot = " ".join(f"hot{j}" for j in range(12))
    m = 60
    rows = []
    for i in range(m):
        uniq = " ".join(words[i * 10 : i * 10 + 10])
        rows.append((i, f"{uniq} {hot}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sh = (
        df.select(F.col("doc_id").alias("id"), shingle_hashes("text", 3).alias("sh"))
        .withColumn("sz", F.size("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_hash = _candidate_pairs(sh, 0.8, "hash").count()
    n_df = _candidate_pairs(sh, 0.8, "df").count()
    sh.unpersist()
    # hash order: hot shingles sit in prefixes of every doc with
    # probability prefix_len/sz each → many of the m(m-1)/2 pairs meet.
    # df order: hot shingles are the most frequent → always in suffixes.
    assert n_df == 0, f"df-ordered prefixes still met {n_df} pairs"
    assert n_hash > 100, f"skew fixture not skewed (hash candidates {n_hash})"
    # exact results agree (no true pairs at j>=0.8 in this corpus)
    got_df = ngram_jaccard_pairs(df, threshold=0.8, prefix_order="df").count()
    got_hash = ngram_jaccard_pairs(df, threshold=0.8, prefix_order="hash").count()
    assert got_df == got_hash == 0


def test_connected_components_100_hop_chain_logarithmic_rounds(spark):
    """An adversarial 100-hop duplicate chain must fully canonicalize
    within 8 large-star/small-star rounds (min-label propagation would
    need ~100 and, capped at 8, would return wrong labels — this
    assertion IS the iteration-count test VERDICT.md asked for)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame([(i,) for i in range(101)], "doc_id long")
    out = D.connected_components(edges, verts, max_iterations=8, driver_threshold=0)
    labels = {r.doc_id: r.component for r in out.collect()}
    assert len(labels) == 101
    assert set(labels.values()) == {0}


def _union_find_labels(n, edges):
    """Reference labels: vertex -> minimum id of its component."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in range(n)}


def test_connected_components_random_graph_matches_union_find(spark):
    """Random sparse graphs vs a driver-side union-find oracle:
    multi-cluster, isolated vertices, min-id labeling."""
    import random

    rng = random.Random(7)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    want = _union_find_labels(n, edges)

    e_df = spark.createDataFrame(edges, "id_a long, id_b long")
    v_df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # Both the driver-side union-find fast path (default gate) and the
    # distributed LS/SS path (gate forced off) must match the oracle.
    got_fast = {
        r.doc_id: r.component
        for r in D.connected_components(e_df, v_df).collect()
    }
    got_dist = {
        r.doc_id: r.component
        for r in D.connected_components(e_df, v_df, driver_threshold=0).collect()
    }
    assert got_fast == want
    assert got_dist == want


def test_connected_components_driver_threshold_boundary(spark, monkeypatch):
    """The driver gate counts DISTINCT canonical edges: exactly
    ``driver_threshold`` of them take the driver union-find, one more
    takes the distributed LS/SS loop, and both label like the
    reference. Duplicates, reversed duplicates and self-loops in the
    input must not count towards the gate."""
    import random

    rng = random.Random(11)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
    edges += [(b, a) for a, b in edges[:10]] + edges[:5] + [(3, 3), (7, 7)]
    k = len({(max(a, b), min(a, b)) for a, b in edges if a != b})
    want = _union_find_labels(n, [(a, b) for a, b in edges if a != b])

    loops = []
    fixpoint = D._ls_ss_fixpoint

    def counted_fixpoint(e, max_iterations):
        loops.append(1)
        return fixpoint(e, max_iterations)

    monkeypatch.setattr(D, "_ls_ss_fixpoint", counted_fixpoint)
    e_df = spark.createDataFrame(edges, "id_a long, id_b long")
    v_df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")

    def labels(threshold):
        out = D.connected_components(e_df, v_df, driver_threshold=threshold)
        return {r.doc_id: r.component for r in out.collect()}

    assert labels(k) == want
    assert loops == []  # k edges, threshold k: driver path
    assert labels(k - 1) == want
    assert loops == [1]  # k edges, threshold k - 1: LS/SS path

    # No edges at all: the driver path's labels table is empty, and it
    # must still carry long columns for the broadcast join.
    none = spark.createDataFrame([], "id_a long, id_b long")
    out = D.connected_components(none, v_df)
    assert out.schema.simpleString() == "struct<doc_id:bigint,component:bigint>"
    assert {r.doc_id: r.component for r in out.collect()} == {i: i for i in range(n)}
    assert loops == [1]


def test_dedup_family_second_pass_compiles_nothing(spark, sf_dir):
    """The dedup family's distinct whole-stage-codegen sources fit in
    the session's codegen cache, and an unchanged pipeline is an
    unchanged cache key (``session._DEFAULTS``): a second pass over
    x20 → x02 → x38 → x01 → s08 with cleared memos Janino-compiles
    nothing. With Spark's default cap of 100 entries this sequence
    (over 100 distinct sources) misses the LRU cache on every lookup,
    and with the codegen stage id in each class name an unchanged x38
    stage that AQE numbered differently missed too."""
    from sql_engine_spark import matrix

    names = [
        "x20_dedup_components", "x02_dedup_ngram_jaccard",
        "x38_containment", "x01_dedup_exact", "s08_stream_ingest_dedup",
    ]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass():
        D.clear_shingle_index()
        for name in names:
            matrix.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compiles.METRIC_COMPILATION_TIME().getCount()

    first = run_pass()
    try:
        assert run_pass() - first == 0
    finally:
        D.clear_shingle_index()


# --- similarity ------------------------------------------------------


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_brute_topk_matches_numpy(emb):
    import numpy as np

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    q = vecs[0]
    sims = sorted(
        ((vid, float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)))) for vid, v in vecs.items() if vid != 0),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    got = [(r.vec_id, r.cosine_sim) for r in S.cosine_topk(emb, list(q), k=10, exclude_id=0).collect()]
    assert [v for v, _ in got] == [v for v, _ in sims]
    for (_, a), (_, b) in zip(got, sims):
        assert abs(a - b) < 1e-9


def test_ann_recall_vs_brute(emb):
    qv = S.get_vector(emb, 0)
    brute = [r.vec_id for r in S.cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    ann = [r.vec_id for r in S.ann_topk(emb, qv, k=10, exclude_id=0).collect()]
    recall = len(set(ann) & set(brute)) / len(brute)
    assert recall >= 0.5, f"ANN recall@10 {recall:.2f}"


def test_ann_multiprobe_monotone_and_exhaustive(emb):
    """Multi-probe (probe_hamming) must be recall-monotone, and probing
    every band value (h = bits per band) must recover brute force
    exactly — the exhaustive-probe invariant."""
    qv = S.get_vector(emb, 0)
    brute = [r.vec_id for r in S.cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    last = -1.0
    for h in (0, 1):
        ann = [r.vec_id for r in S.ann_topk(emb, qv, k=10, exclude_id=0, probe_hamming=h).collect()]
        recall = len(set(ann) & set(brute)) / len(brute)
        assert recall >= last, f"recall dropped at h={h}"
        last = recall
    bits = S.ANN_PLANES // S.ANN_BANDS
    full = [r.vec_id for r in S.ann_topk(emb, qv, k=10, exclude_id=0, probe_hamming=bits).collect()]
    assert full == brute


def test_bucketed_dup_pairs_subset_of_exact(emb):
    """Banded SRP pair mining must be a subset of the exact result with
    usable recall. At cos≈0.4 (this corpus's top percentile; it has no
    high-cosine planted dups) per-band collision is ~0.16, any-of-4 ≈
    0.5 — for a true near-dup corpus (cos≥0.95) it is ≈0.99."""
    exact = {(r.id_a, r.id_b) for r in S.embedding_dup_pairs(emb, threshold=0.4, use_buckets=False).collect()}
    approx = {(r.id_a, r.id_b) for r in S.embedding_dup_pairs(emb, threshold=0.4, use_buckets=True).collect()}
    assert approx <= exact
    if len(exact) >= 10:
        assert len(approx) / len(exact) >= 0.3, f"bucketed recall {len(approx)}/{len(exact)}"


def test_ivf_recall_vs_brute(emb):
    """This corpus's nearest neighbors sit at cos≈0.3 (no planted
    dups), so partial-probe recall is inherently modest — assert the
    chance-beating floor at probe=4 AND the exact-recovery invariant:
    probing ALL lists must equal brute force exactly."""
    qv = S.get_vector(emb, 0)
    brute = [r.vec_id for r in S.cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    ivf4 = [r.vec_id for r in S.ivf_topk(emb, qv, k=10, exclude_id=0, n_probe=4).collect()]
    recall4 = len(set(ivf4) & set(brute)) / len(brute)
    assert recall4 >= 0.3, f"IVF recall@10 (probe 4/16) {recall4:.2f}"
    ivf_all = [r.vec_id for r in S.ivf_topk(emb, qv, k=10, exclude_id=0, n_probe=16).collect()]
    assert ivf_all == brute


def test_ivf_tolerates_null_embeddings(spark, emb):
    """Dirty-corpus invariant (review r10): a NULL embedding row must be
    EXCLUDED, not crash the Arrow assignment — the pre-swap JVM
    expressions produced a NULL list_id the probe filter dropped, and
    the Arrow path must keep those graceful-exclusion semantics
    (np.vstack over a None would otherwise raise)."""
    null_row = spark.createDataFrame(
        [(999_999, None)], "vec_id long, embedding array<float>"
    )
    dirty = emb.select("vec_id", "embedding").unionByName(null_row)
    qv = S.get_vector(emb, 0)
    clean = [r.vec_id for r in S.ivf_topk(emb, qv, k=10, exclude_id=0).collect()]
    got = [r.vec_id for r in S.ivf_topk(dirty, qv, k=10, exclude_id=0).collect()]
    assert got == clean


def test_shingle_index_memoized_and_clearable(spark, sf_dir):
    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    a = D.shingle_index(docs)
    b = D.shingle_index(load_table(spark, sf_dir, "documents"))
    assert a is b  # same corpus plan → same persisted index object
    c = D.shingle_index(docs, n=4)
    assert c is not a  # different shingle width → different index
    D.clear_shingle_index()
    assert D.shingle_index(docs) is not a  # cleared → rebuilt
    D.clear_shingle_index()


def test_portable_hash_matches_duckdb_fold(spark):
    """The load-bearing cross-engine primitive behind the x04/x05 hard
    oracles: Spark's conv(substring(md5(g),1,15),16,10) must equal
    DuckDB's 15-digit hex fold of the same md5, for ASCII and
    multi-byte inputs alike (md5 operates on utf-8 bytes in both)."""
    import duckdb

    from pyspark.sql import functions as F

    texts = ["the quick brown", "fox jumps over", "日本 語 の", "a b c", ""]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {
        r.t: r.h
        for r in df.select(
            "t", F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long").alias("h")
        ).collect()
    }
    con = duckdb.connect()
    for t in texts:
        # the SHIPPED oracle spelling (r9: '0x…'::BIGINT cast), plus
        # the original per-char strpos fold as an independent witness
        (want, fold) = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT, "
            "list_reduce([strpos('0123456789abcdef', substr(md5(?), i, 1)) - 1 "
            "for i in range(1, 16)], (a, b) -> a * 16 + b)",
            [t, t],
        ).fetchone()
        assert got[t] == want == fold, (t, got[t], want, fold)


def test_minhash_oracle_coeffs_are_shared_objects(spark):
    """The oracle SQL embeds dedup.minhash_coeffs() verbatim — assert
    the generated x04 SQL contains every coefficient, so a reseed on
    either side cannot silently drift."""
    from sql_engine_spark.matrix import ORACLE

    sql = ORACLE["x04_dedup_minhash_lsh"]
    for a, b in D.minhash_coeffs():
        assert str(a) in sql and str(b) in sql


def test_minhash_oracle_banding_geometry_is_shared(spark):
    """ADVICE r6: the oracle's band geometry must come from the same
    N_BANDS/ROWS_PER_BAND constants the operator defaults read, so
    changing either side's parameters cannot silently desync the hard
    oracle. Pins: operator defaults == constants, oracle SQL band
    count == N_BANDS, minhash column count == N_BANDS*ROWS_PER_BAND,
    and the default coefficient list covers exactly that many hashes."""
    import inspect
    import re

    from sql_engine_spark.matrix import ORACLE

    sig = inspect.signature(D.minhash_lsh_pairs)
    assert sig.parameters["n_bands"].default == D.N_BANDS
    assert sig.parameters["rows_per_band"].default == D.ROWS_PER_BAND
    assert len(D.minhash_coeffs(D.N_BANDS * D.ROWS_PER_BAND)) == D.N_BANDS * D.ROWS_PER_BAND

    sql = ORACLE["x04_dedup_minhash_lsh"]
    assert f"unnest(range(0, {D.N_BANDS}))" in sql
    mh_aliases = set(re.findall(r"AS (mh\d+)\b", sql))
    assert len(mh_aliases) == D.N_BANDS * D.ROWS_PER_BAND
    # every mh column the band fold references exists in the signature CTE
    folded = set(re.findall(r"\+ (mh\d+)\)", sql))
    assert folded <= mh_aliases and len(folded) == D.N_BANDS * D.ROWS_PER_BAND

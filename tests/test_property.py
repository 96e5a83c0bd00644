"""Property-based tests (SURVEY.md §5.2): random integer tables →
engine operators vs plain-Python reference semantics. Pins the
corrected aggregate-after-WHERE behavior (the reference's verified bug,
reference sqlengine.py:280-281) on arbitrary inputs, not just fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),
        st.integers(min_value=-1000, max_value=1000),
        st.integers(min_value=-1000, max_value=1000),
    ),
    min_size=0,
    max_size=40,
)

SLOW_SPARK = settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@given(rows=ROWS, t=st.integers(min_value=-1000, max_value=1000))
@SLOW_SPARK
def test_filter_project_matches_python(spark, rows, t):
    df = spark.createDataFrame(rows or [(0, 0, 0)], "A long, B long, C long")
    if not rows:
        df = df.limit(0)
    got = sorted((r.A, r.B) for r in df.filter(F.col("A") > t).select("A", "B").collect())
    want = sorted((a, b) for a, b, _ in rows if a > t)
    assert got == want


@given(rows=ROWS)
@SLOW_SPARK
def test_distinct_matches_python(spark, rows):
    df = spark.createDataFrame(rows or [(0, 0, 0)], "A long, B long, C long")
    if not rows:
        df = df.limit(0)
    got = sorted((r.A, r.B) for r in df.select("A", "B").distinct().collect())
    want = sorted({(a, b) for a, b, _ in rows})
    assert got == want


@given(rows=ROWS, t=st.integers(min_value=-1000, max_value=1000))
@SLOW_SPARK
def test_aggregates_respect_where(spark, rows, t):
    """max/min/sum/count AFTER the filter — on every input, including
    all-filtered (NULL max/min, 0 count) and empty tables."""
    df = spark.createDataFrame(rows or [(0, 0, 0)], "A long, B long, C long")
    if not rows:
        df = df.limit(0)
    out = df.filter(F.col("A") > t).agg(
        F.max("B").alias("mx"),
        F.min("B").alias("mn"),
        F.sum("B").alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    kept = [b for a, b, _ in rows if a > t]
    assert out.n == len(kept)
    assert out.mx == (max(kept) if kept else None)
    assert out.mn == (min(kept) if kept else None)
    assert out.s == (sum(kept) if kept else None)


def _brute_skyline(points):
    out = []
    for a in points:
        if not any(
            b[0] <= a[0] and b[1] <= a[1] and (b[0] < a[0] or b[1] < a[1]) for b in points
        ):
            out.append(a)
    return sorted(out)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20), st.integers(min_value=0, max_value=20)
        ),
        min_size=0,
        max_size=40,
    )
)
@SLOW_SPARK
def test_skyline_matches_brute_force(spark, rows):
    """Random point sets (dense → many ties/duplicates) through the
    two-phase distributed skyline vs the O(n²) definition. Exercises
    the partition-local pruning across multiple partitions."""
    from sql_engine_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(rows or [(0, 0)], "x long, y long").repartition(4)
    if not rows:
        df = df.limit(0)
    got = sorted((r.x, r.y) for r in skyline_2d(df, "x", "y").collect())
    assert got == _brute_skyline(rows)


def _brute_skyline_3vl(points):
    """NOT EXISTS oracle semantics with SQL three-valued logic: a NULL
    in either dimension makes every dominance comparison unknown, so
    such rows are never dominated (and never dominate)."""
    out = []
    for a in points:
        dominated = any(
            b[0] is not None and b[1] is not None and a[0] is not None and a[1] is not None
            and b[0] <= a[0] and b[1] <= a[1] and (b[0] < a[0] or b[1] < a[1])
            for b in points
        )
        if not dominated:
            out.append(a)
    return sorted(out, key=lambda p: (p[0] is None, p[0], p[1] is None, p[1]))


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=0, max_value=10)),
            st.one_of(st.none(), st.integers(min_value=0, max_value=10)),
        ),
        min_size=1,
        max_size=40,
    )
)
@SLOW_SPARK
def test_skyline_null_dimensions_match_3vl_oracle(spark, rows):
    """Rows with a NULL x or y must pass through (the NOT EXISTS oracle
    keeps them under three-valued logic) while the non-null subset gets
    the normal skyline — the ADVICE.md round-1 null-divergence fix."""
    from sql_engine_spark.operators.skyline import skyline_2d

    df = spark.createDataFrame(rows, "x long, y long").repartition(3)
    got = sorted(
        ((r.x, r.y) for r in skyline_2d(df, "x", "y").collect()),
        key=lambda p: (p[0] is None, p[0], p[1] is None, p[1]),
    )
    assert got == _brute_skyline_3vl(rows)


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=30, unique=True),
    ppm=st.integers(min_value=0, max_value=1_000_000),
)
@SLOW_SPARK
def test_weighted_mix_matches_arithmetic_for_any_rate(spark, ids, ppm):
    """For ANY keep rate, the kept set is exactly the documented
    integer arithmetic — no float boundary can flip a row."""
    from sql_engine_spark.operators.pipeline import MIX_HASH_K, weighted_mix

    df = spark.createDataFrame([(i, "t", "s") for i in ids], "doc_id long, text string, source string")
    got = sorted(r.doc_id for r in weighted_mix(df, {"s": ppm}).collect())
    want = sorted(
        i for i in ids if ((i * MIX_HASH_K) % (1 << 20)) * 1_000_000 < ppm * (1 << 20)
    )
    assert got == want


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=30, unique=True),
    val_ppm=st.integers(min_value=0, max_value=400_000),
    test_ppm=st.integers(min_value=0, max_value=400_000),
)
@SLOW_SPARK
def test_split_assignment_partitions_exactly(spark, ids, val_ppm, test_ppm):
    """Splits are a PARTITION (every row exactly one label) matching
    the documented hash ranges for any (val, test) rates."""
    from sql_engine_spark.operators.pipeline import SPLIT_HASH_K, assign_splits

    df = spark.createDataFrame([(i, "t", "s") for i in ids], "doc_id long, text string, source string")
    got = {r.doc_id: r.split for r in assign_splits(df, val_ppm=val_ppm, test_ppm=test_ppm).collect()}
    for i in ids:
        h = (i * SPLIT_HASH_K) % (1 << 20)
        if h * 1_000_000 < test_ppm * (1 << 20):
            want = "test"
        elif h * 1_000_000 < (test_ppm + val_ppm) * (1 << 20):
            want = "val"
        else:
            want = "train"
        assert got[i] == want


_WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
_DOC_TEXTS = st.lists(
    st.lists(_WORDS, min_size=0, max_size=20).map(" ".join),
    min_size=1,
    max_size=12,
)


@given(texts=_DOC_TEXTS, top_n=st.integers(min_value=1, max_value=6))
@SLOW_SPARK
def test_stopword_stats_matches_python(spark, texts, top_n):
    """Corpus-derived stopwords on arbitrary tiny corpora: the derived
    list is the top-n by document frequency (lexicographic ties), and
    per-doc counts are exact."""
    from collections import Counter

    from sql_engine_spark.operators.text import stopword_stats

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    dfreq = Counter()
    for t in texts:
        for w in set(t.split(" ")):
            dfreq[w] += 1
    stop = {w for w, _ in sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]}
    got = {r.doc_id: r for r in stopword_stats(df, top_n=top_n).collect()}
    for i, t in enumerate(texts):
        ws = t.split(" ")
        assert got[i].n_tokens == len(ws)
        assert got[i].n_stop == sum(1 for w in ws if w in stop)


@given(texts=_DOC_TEXTS, window=st.integers(min_value=2, max_value=5))
@SLOW_SPARK
def test_span_dups_match_python_random(spark, texts, window):
    """Verbatim span pairs on arbitrary tiny corpora: exact shared
    distinct-span counts, id_a < id_b, no self-pairs."""
    from collections import defaultdict

    from sql_engine_spark.operators.pipeline import span_dup_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    inv = defaultdict(set)
    for i, t in enumerate(texts):
        ws = t.split(" ")
        for j in range(len(ws) - window + 1):
            inv[" ".join(ws[j : j + window])].add(i)
    want: dict = {}
    for ds in inv.values():
        ds = sorted(ds)
        for a in range(len(ds)):
            for b in range(a + 1, len(ds)):
                want[(ds[a], ds[b])] = want.get((ds[a], ds[b]), 0) + 1
    got = {
        (r.id_a, r.id_b): r.n_shared_spans
        for r in span_dup_pairs(df, window=window).collect()
    }
    assert got == want


@given(texts=_DOC_TEXTS, c=st.integers(min_value=1, max_value=6))
@SLOW_SPARK
def test_chunk_dedup_matches_python_random(spark, texts, c):
    """Keep-first chunk dedup on arbitrary tiny corpora, any chunk
    width: counts and reassembled text match the sequential Python
    reference exactly (including whole-doc elimination and partial
    tail chunks)."""
    from sql_engine_spark.operators.pipeline import chunk_dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    seen: set[str] = set()
    exp = {}
    for did, t in enumerate(texts):
        w = t.split(" ")
        n = max(-(-len(w) // c), 1)
        kept = []
        n_kept = 0
        for i in range(n):
            ch = " ".join(w[i * c : i * c + c])
            if ch not in seen:
                seen.add(ch)
                n_kept += 1
                kept.append(ch)
        exp[did] = (n, n_kept, " ".join(kept))
    got = {
        r.doc_id: (r.n_chunks, r.n_kept, r.clean_text)
        for r in chunk_dedup(df, c).collect()
    }
    assert got == exp


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # doc_id
            st.sampled_from(["s0", "s1", "s2"]),
            st.integers(min_value=0, max_value=500),  # weight (0 → clamp 1)
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    k=st.integers(min_value=1, max_value=5),
)
@SLOW_SPARK
def test_weighted_sample_matches_python_random(spark, rows, k):
    from sql_engine_spark.operators.pipeline import (
        PRIORITY_HASH_K,
        _MIX_BUCKETS,
        weighted_priority_sample,
    )

    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    per: dict[str, list] = {}
    for did, src, w in rows:
        wt = max(w, 1)
        key = (did % _MIX_BUCKETS) * PRIORITY_HASH_K % _MIX_BUCKETS // wt
        per.setdefault(src, []).append((key, did, wt))
    exp = set()
    for src, lst in per.items():
        for rnk, (key, did, wt) in enumerate(sorted(lst)[:k], start=1):
            exp.add((did, src, wt, key, rnk))
    got = {
        (r.doc_id, r.source, r.weight, r.sample_key, r.rnk)
        for r in weighted_priority_sample(df, k=k).collect()
    }
    assert got == exp


@given(
    ids=st.lists(st.integers(min_value=0, max_value=1 << 40), min_size=1, max_size=30, unique=True),
    eppm=st.integers(min_value=0, max_value=3_500_000),
)
@SLOW_SPARK
def test_epoch_upsample_matches_arithmetic_for_any_rate(spark, ids, eppm):
    """Any epoch factor 0..3.5 on any ids: realized copies equal the
    integer arithmetic exactly, copy_idx is dense 1..n."""
    from sql_engine_spark.operators.pipeline import (
        MIX_HASH_K,
        _MIX_BUCKETS,
        epoch_upsample,
    )

    df = spark.createDataFrame([(i, "s") for i in ids], "doc_id long, source string")
    got: dict[int, list[int]] = {}
    for r in epoch_upsample(df, {"s": eppm}).collect():
        got.setdefault(r.doc_id, []).append(r.copy_idx)
        assert r.n_copies == len_expected(i=r.doc_id, eppm=eppm)
    for i in ids:
        n = len_expected(i=i, eppm=eppm)
        assert sorted(got.get(i, [])) == list(range(1, n + 1))


def len_expected(i: int, eppm: int) -> int:
    from sql_engine_spark.operators.pipeline import MIX_HASH_K, _MIX_BUCKETS

    h = (i % _MIX_BUCKETS) * MIX_HASH_K % _MIX_BUCKETS
    return eppm // 1_000_000 + (1 if h * 1_000_000 < (eppm % 1_000_000) * _MIX_BUCKETS else 0)


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),  # user
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=40,
    )
)
@SLOW_SPARK
def test_event_funnel_matches_python_random(spark, evs):
    """Strict-funnel walk on arbitrary tiny event streams: stage
    histogram matches the sequential Python walk exactly (event_id is
    the arrival index, so ts ties resolve deterministically)."""
    import datetime

    from sql_engine_spark.operators.temporal import event_funnel

    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i // 3), u, t)
        for i, (u, t) in enumerate(evs)  # //3 forces some ts ties
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, event_type string")
    steps = ("view", "click", "purchase")
    per: dict[int, list] = {}
    for i, (u, t) in enumerate(evs):
        per.setdefault(u, []).append((i // 3, i, t))
    from collections import Counter

    exp = Counter()
    for u, lst in per.items():
        stg = 0
        for _, _, t in sorted(lst):
            if stg < 3 and t == steps[stg]:
                stg += 1
        exp[stg] += 1
    got = {r.stage: r.n_users for r in event_funnel(df).collect()}
    assert got == dict(exp)


@given(
    st.lists(st.sampled_from(["view", "click", "purchase", "other"]), max_size=40),
    st.integers(min_value=0, max_value=40),
)
def test_funnel_transition_maps_compose(seq, cut):
    """Backs the monoid claim in event_funnel's docstring (VERDICT r3
    #6): a funnel walk over any event run reduces to a (k+1)-entry
    stage-transition map, and map composition over an arbitrary split
    of the run equals the sequential walk — the property a custom
    ordered-partial aggregate for bot-scale users would rely on."""
    steps = ("view", "click", "purchase")

    def walk(stage, events):
        for t in events:
            if stage < len(steps) and t == steps[stage]:
                stage += 1
        return stage

    def tmap(events):  # run → stage-transition map
        return tuple(walk(s, events) for s in range(len(steps) + 1))

    cut = min(cut, len(seq))
    left, right = tmap(seq[:cut]), tmap(seq[cut:])
    composed = tuple(right[left[s]] for s in range(len(steps) + 1))
    assert composed == tmap(seq)
    assert composed[0] == walk(0, seq)


# --- round-7 surfaces: no Spark needed, so full example budgets -----

@given(
    img=st.integers(min_value=0, max_value=2**32 - 1).flatmap(
        lambda seed: st.tuples(
            st.just(seed),
            st.integers(min_value=8, max_value=20),
            st.integers(min_value=8, max_value=20),
        )
    )
)
@settings(max_examples=25, deadline=None)
def test_jpeg_roundtrip_property(img):
    """Any random grayscale image must roundtrip the baseline codec
    within the flat-quant DCT rounding bound."""
    import numpy as np

    from sql_engine_spark.operators.multimodal import jpeg_decode
    from tests.test_jpeg_codec import jpeg_encode_444

    seed, h, w = img
    rng = np.random.default_rng(seed)
    pix = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    w2, h2, out = jpeg_decode(jpeg_encode_444(pix))
    assert (w2, h2) == (w, h)
    got = np.frombuffer(out, dtype=np.uint8).reshape(h, w)
    err = np.abs(got.astype(int) - pix.astype(int))
    # pure noise is the worst case for DCT coefficient rounding; the
    # per-pixel error stays bounded by the sum of |IDCT| row weights
    assert err.max() <= 6, err.max()


@given(v=st.decimals(min_value="-10000.00", max_value="10000.00", places=2).map(float))
@settings(max_examples=200, deadline=None)
def test_cents_tie_rule_matches_duckdb(v):
    """ADVICE r6, generalized: the operator's half-up cents fold must
    equal DuckDB's floor(v*100 + 0.5) for EVERY 2-decimal value —
    including the exact-binary-.5 ties where Python round() diverges."""
    import math

    import duckdb

    py = int(math.floor(v * 100 + 0.5))
    (sql,) = duckdb.sql(f"SELECT CAST(floor(({v!r})*100 + 0.5) AS BIGINT)").fetchone()
    assert py == sql, (v, py, sql)


@given(data=st.binary(min_size=0, max_size=300))
@settings(max_examples=100, deadline=None)
def test_resize_hex_replay_matches_operator(data):
    """x26's oracle algebra on arbitrary bytes: hex(byte-cycled
    payload) == cycled hex, so the DuckDB replay reproduces the
    operator's portable fingerprint for ANY payload, not just the
    corpus."""
    import hashlib

    import duckdb

    target = 1024
    if not data:
        resized = bytes(target)
    else:
        reps = (target + len(data) - 1) // len(data)
        resized = (data * reps)[:target]
    op_fp = hashlib.sha256(resized.hex().upper().encode()).hexdigest()
    hexed = data.hex().upper()
    if not data:
        sql_expr = f"sha256(repeat('00', {target}))"
    else:
        reps = (target + len(data) - 1) // len(data)
        sql_expr = f"sha256(substring(repeat('{hexed}', {reps}), 1, {2 * target}))"
    (sql_fp,) = duckdb.sql(f"SELECT {sql_expr}").fetchone()
    assert op_fp == sql_fp


@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_image_avg_hash_matches_bigint_rule_random(spark, w, h, seed):
    """The r8 exact-rational aHash threshold on arbitrary image shapes:
    operator bits == the pure big-int rule sum_c·N > S·cnt_c (computed
    here in Python arbitrary-precision ints — the same domain the
    operator uses for the cross-multiplication, so no silent int64
    wrap at any image size)."""
    import random as _random

    import numpy as np

    from sql_engine_spark.operators.multimodal import image_avg_hash, png_encode

    rng = _random.Random(seed)
    pixels = bytes(rng.randrange(256) for _ in range(w * h * 3))
    df = spark.createDataFrame(
        [(1, bytearray(png_encode(pixels, w, h)), {"mime": "image/png"})],
        "doc_id long, payload binary, meta map<string,string>",
    )
    row = image_avg_hash(df, strict=True).collect()[0]
    got = (row.band0, row.band1, row.band2, row.band3)

    g3 = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, 3).astype(np.int64).sum(axis=2)
    ri = (np.arange(h) * 8) // h
    ci = (np.arange(w) * 8) // w
    cell = (ri[:, None] * 8 + ci[None, :]).ravel()
    sums = [0] * 64
    cnts = [0] * 64
    for c, g in zip(cell, g3.ravel()):
        sums[c] += int(g)
        cnts[c] += 1
    total, npix = sum(sums), w * h
    bits = [sums[c] * npix > total * cnts[c] for c in range(64)]
    want = tuple(
        sum((1 << off) for off in range(16) if bits[b * 16 + off]) for b in range(4)
    )
    assert got == want, (w, h, got, want)


@given(
    texts=st.lists(
        st.text(max_size=200), min_size=1, max_size=6, unique=True
    )
)
@settings(max_examples=50, deadline=None)
def test_x63_band_sql_replay_matches_python(texts):
    """The x63 oracle's signature algebra on ARBITRARY unicode text
    (not just the corpus): run the oracle SQL verbatim — retargeted at
    its `sig` CTE — over an in-memory documents table and compare the
    four 16-bit bands against a pure-Python recomputation of the
    encode→pad→cell-sum→big-int-rule chain. Together with
    test_image_avg_hash_matches_bigint_rule_random (operator == rule)
    this closes the operator == SQL loop for any multibyte input."""
    import duckdb
    import pandas as pd

    from sql_engine_spark.matrix.wave6 import _x63_ahash_sql

    sql = _x63_ahash_sql()
    tail = "SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3"
    assert tail in sql  # retarget must track the oracle's final SELECT
    sig_sql = sql.replace(
        tail, "SELECT doc_id, band0, band1, band2, band3 FROM sig ORDER BY doc_id"
    )

    def bands(text: str) -> tuple[int, int, int, int]:
        data = text.encode("utf-8")
        ph = max(1, (len(data) + 47) // 48)
        pixels = data.ljust(16 * ph * 3, b"\x00")
        sums, cnts = [0] * 64, [0] * 64
        for pi in range(16 * ph):
            c = (((pi // 16) * 8) // ph) * 8 + ((pi % 16) * 8) // 16
            sums[c] += pixels[3 * pi] + pixels[3 * pi + 1] + pixels[3 * pi + 2]
            cnts[c] += 1
        ts, tn = sum(sums), 16 * ph
        bits = [sums[c] * tn > ts * cnts[c] for c in range(64)]
        return tuple(
            sum((1 << off) for off in range(16) if bits[b * 16 + off]) for b in range(4)
        )

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}),
    )
    got = {int(r[0]): tuple(int(v) for v in r[1:]) for r in con.sql(sig_sql).fetchall()}
    want = {i: bands(t) for i, t in enumerate(texts)}
    assert got == want


@given(
    vec=st.lists(
        st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
        min_size=64,
        max_size=64,
    )
)
@settings(max_examples=25, deadline=None)
def test_srp_query_bands_match_sql_fold(vec):
    """x07's r8 coherence contract on arbitrary vectors: the operator's
    Python left-fold query bands equal the oracle's DuckDB left-fold
    bands (same plane literals, same summation order) — the link that
    makes query-side and corpus-side SRP signatures agree by
    construction rather than by summation luck."""
    import duckdb

    from sql_engine_spark.matrix.ext import _dlit, _fold_sum
    from sql_engine_spark.operators.similarity import (
        ANN_BANDS,
        ANN_PLANES,
        ANN_SEED,
        _hyperplanes,
        _query_bands,
    )

    want = _query_bands(vec, ANN_PLANES, ANN_BANDS, ANN_SEED)

    planes = _hyperplanes(64, ANN_PLANES, ANN_SEED)
    per = ANN_PLANES // ANN_BANDS
    pl = "[" + ", ".join("[" + ", ".join(_dlit(v) for v in p) + "]" for p in planes) + "]"
    qv = "[" + ", ".join(_dlit(float(x)) for x in vec) + "]"

    def bit(p):
        prods = f"list_transform(range(1, 65), i -> qv[i] * pl[{p + 1}][i])"
        return f"(CASE WHEN {_fold_sum(prods)} > 0.0 THEN 1 ELSE 0 END)"

    bands = ", ".join(
        " + ".join(f"{bit(b * per + i)} * {1 << i}" for i in range(per)) for b in range(ANN_BANDS)
    )
    got = list(
        duckdb.sql(f"WITH p AS (SELECT {pl} AS pl, {qv}::DOUBLE[] AS qv) SELECT {bands} FROM p").fetchone()
    )
    assert got == want

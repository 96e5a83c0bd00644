"""Wave-4 operator tests: batched retrieval (x48), k-NN labeling
(x49), corpus stopwords (x50), verbatim span dups (x51). Oracle parity
runs in test_oracle_matrix; here are the behavioral contracts plus
full Python recomputations on the sf0.001 corpus."""

from __future__ import annotations

from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from sql_engine_spark.catalog import load_table
from sql_engine_spark.operators.pipeline import span_dup_pairs
from sql_engine_spark.operators.similarity import knn_classify, multi_query_topk
from sql_engine_spark.operators.text import stopword_stats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_multi_query_topk_shape_and_order(emb):
    out = multi_query_topk(emb, k=10).collect()
    n_queries = emb.filter(F.col("vec_id") % 50 == 0).count()
    per_q = defaultdict(list)
    for r in out:
        per_q[r.qid].append(r)
    assert len(per_q) == n_queries
    for qid, rows in per_q.items():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, 11))
        sims = [r.cosine_sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != qid for r in rows)


def test_multi_query_topk_matches_single_query(emb):
    """The batched searcher must agree with the single-query exact
    searcher (cosine_topk) for a query in its set."""
    from sql_engine_spark.operators.similarity import cosine_topk, get_vector

    qv = get_vector(emb, 0)
    single = [r.vec_id for r in cosine_topk(emb, qv, k=10, exclude_id=0).collect()]
    batched = [
        r.vec_id
        for r in multi_query_topk(emb, k=10)
        .filter(F.col("qid") == 0)
        .orderBy("rnk")
        .collect()
    ]
    assert batched == single


def test_knn_classify_votes_and_domain(emb):
    out = knn_classify(emb, k=10).collect()
    n_queries = emb.filter(F.col("vec_id") % 50 == 0).count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert len(out) == n_queries
    for r in out:
        assert 1 <= r.votes <= 10
        assert r.pred_label in labels
        assert r.true_label in labels


def test_stopword_stats_matches_python(docs):
    rows = docs.select("doc_id", "text").collect()
    toks = {r.doc_id: r.text.split(" ") for r in rows}
    dfreq = Counter()
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] += 1
    stop = {t for t, _ in sorted(dfreq.items(), key=lambda kv: (-kv[1], kv[0]))[:20]}
    got = {r.doc_id: r for r in stopword_stats(docs, top_n=20).collect()}
    assert set(got) == set(toks)
    for doc_id, ts in toks.items():
        r = got[doc_id]
        n_stop = sum(1 for t in ts if t in stop)
        assert r.n_tokens == len(ts)
        assert r.n_stop == n_stop, doc_id
        assert abs(r.stop_ratio - n_stop / len(ts)) < 1e-12
        assert 0.0 <= r.stop_ratio <= 1.0


def test_span_dups_match_python(docs):
    rows = docs.select("doc_id", "text").collect()
    spans = {}
    W = 8
    for r in rows:
        w = r.text.split(" ")
        spans[r.doc_id] = {
            " ".join(w[i : i + W]) for i in range(len(w) - W + 1)
        } if len(w) >= W else set()
    want = {}
    ids = sorted(spans)
    inv = defaultdict(set)
    for d, ss in spans.items():
        for s in ss:
            inv[s].add(d)
    for s, ds in inv.items():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                want[(ds[i], ds[j])] = want.get((ds[i], ds[j]), 0) + 1
    got = {
        (r.id_a, r.id_b): r.n_shared_spans
        for r in span_dup_pairs(docs, window=W).collect()
    }
    assert got == want
    assert all(a < b for a, b in got)


def test_quality_stratified_keeps_top_half_per_source(docs):
    from sql_engine_spark.operators.pipeline import quality_stratified

    out = quality_stratified(docs, keep_frac=0.5).collect()
    by_src = defaultdict(list)
    for r in out:
        by_src[r.source].append(r)
    for src, rows in by_src.items():
        kept = [r for r in rows if r.kept == 1]
        # kept set = exactly the rows with percentile >= 0.5, and it is
        # the TOP of the quality order (min kept quality >= max dropped)
        dropped = [r for r in rows if r.kept == 0]
        if kept and dropped:
            assert min(r.quality_score for r in kept) >= max(
                r.quality_score for r in dropped
            ) - 1e-12, src
        assert all(0.0 <= r.q_pct <= 1.0 for r in rows)


def test_dup_cluster_stats_consistent_with_components(spark, docs):
    from sql_engine_spark.operators import dedup as D
    from sql_engine_spark.operators.pipeline import dup_cluster_stats

    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    comp = {
        r.doc_id: r.component
        for r in D.connected_components(pairs, docs).collect()
    }
    toks = {r.doc_id: len(r.text.split(" ")) for r in docs.select("doc_id", "text").collect()}
    sizes = Counter(comp.values())
    got = {r.component: r for r in dup_cluster_stats(docs, pairs).collect()}
    want_multi = {c for c, n in sizes.items() if n >= 2}
    assert set(got) == want_multi
    for c, r in got.items():
        members = [d for d, cc in comp.items() if cc == c]
        assert r.n_docs == len(members)
        assert r.rep_doc == min(members)
        assert r.total_tokens == sum(toks[d] for d in members)
        assert r.dup_tokens == r.total_tokens - toks[min(members)]


def test_prefix_filters_survive_long_documents_under_ansi(spark):
    """F.size() emits int32, and every prefix/length/positional filter
    multiplies shingle counts by ~10^6 — ANSI mode turns the int32
    overflow at ~1343-2148 shingles (routine web-document sizes) into
    ARITHMETIC_OVERFLOW that kills the whole probe job. sz is cast to
    long at the index source (and inside `_alpha`); a pair of
    2500-word duplicate docs must come back as a pair, not raise."""
    from sql_engine_spark.operators import dedup as D
    from sql_engine_spark.operators.pipeline import (
        containment_pairs,
        incremental_jaccard_pairs,
        incremental_pairs_vs_corpus,
    )

    big = " ".join(f"tok{i}" for i in range(2500))
    df = spark.createDataFrame(
        [(7, big), (10, big), (11, "small doc unrelated text")],
        "doc_id long, text string",
    )
    D.clear_shingle_index()
    assert {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(df, threshold=0.8).collect()} == {(7, 10)}
    got = {(r.id_new, r.id_old) for r in incremental_jaccard_pairs(df, threshold=0.8, new_mod=10).collect()}
    assert got == {(10, 7)}
    new_df = df.filter("doc_id = 10")
    old_df = df.filter("doc_id <> 10")
    got2 = {(r.id_new, r.id_old) for r in incremental_pairs_vs_corpus(new_df, old_df, threshold=0.8).collect()}
    assert got2 == {(10, 7)}
    cont = {(r.id_a, r.id_b) for r in containment_pairs(df, threshold=0.9).collect()}
    assert (7, 10) in cont and (10, 7) in cont
    D.clear_shingle_index()


def test_incremental_probe_positional_filter_exact_vs_bruteforce(spark):
    """The two-sided positional prune on the batch-vs-corpus probe
    (min(|A|−p_n, |B|−p_o) ≥ ⌈t/(1+t)·(|A|+|B|)⌉, both sides in hash
    order) must keep candidates an exact superset: on a random
    high-overlap split corpus the probe equals brute-force Jaccard
    between every (new, old) pair."""
    import random

    from sql_engine_spark.operators.pipeline import incremental_pairs_vs_corpus

    rng = random.Random(1717)
    vocab = [f"w{i}" for i in range(40)]
    mk = lambda: " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25)))  # noqa: E731
    old_rows = [(i, mk()) for i in range(50)]
    # new batch: some fresh docs, some near-copies of old ones
    new_rows = [(100 + i, mk()) for i in range(15)]
    for i in range(10):
        new_rows.append((200 + i, old_rows[i][1]))  # verbatim copies
    old_df = spark.createDataFrame(old_rows, "doc_id long, text string")
    new_df = spark.createDataFrame(new_rows, "doc_id long, text string")

    def sh_set(text, n=3):
        w = text.split()
        return {" ".join(w[j : j + n]) for j in range(len(w) - n + 1)} if len(w) >= n else set()

    olds = {i: sh_set(t) for i, t in old_rows}
    news = {i: sh_set(t) for i, t in new_rows}
    for t in (0.5, 0.8):
        truth = set()
        for a, sa in news.items():
            for b, sb in olds.items():
                if sa and sb:
                    inter = len(sa & sb)
                    if inter / (len(sa) + len(sb) - inter) >= t - 1e-12:
                        truth.add((a, b))
        got = {
            (r.id_new, r.id_old)
            for r in incremental_pairs_vs_corpus(new_df, old_df, threshold=t).collect()
        }
        assert got == truth, f"t={t}: missing={truth-got} extra={got-truth}"


def test_incremental_dedup_equals_restricted_full_dedup(docs):
    """The incremental probe must find EXACTLY the full-corpus pairs
    that cross the new/old boundary (no recall loss from the one-sided
    prefix)."""
    from sql_engine_spark.operators import dedup as D
    from sql_engine_spark.operators.pipeline import incremental_jaccard_pairs

    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    want = {}
    for (a, b), j in full.items():
        if (a % 10 == 0) != (b % 10 == 0):
            new, old = (a, b) if a % 10 == 0 else (b, a)
            want[(new, old)] = j
    got = {
        (r.id_new, r.id_old): r.jaccard
        for r in incremental_jaccard_pairs(docs, threshold=0.8, new_mod=10).collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


def test_crossmodal_agreement_partitions_pair_union(spark, docs, sf_dir):
    """Tags must partition the union of the two pair sets, and each
    side's values must round-trip (jaccard present iff lexical tag,
    cosine present iff semantic tag)."""
    from sql_engine_spark.operators import dedup as D
    from sql_engine_spark.operators.pipeline import crossmodal_dup_agreement
    from sql_engine_spark.operators.similarity import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    lex = {(r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(docs, threshold=0.8).collect()}
    sem = {(r.id_a, r.id_b) for r in embedding_dup_pairs(emb, threshold=0.4).collect()}
    out = crossmodal_dup_agreement(docs, emb).collect()
    got = {(r.id_a, r.id_b): r for r in out}
    assert set(got) == lex | sem
    for k, r in got.items():
        if k in lex and k in sem:
            assert r.agreement == "both" and r.jaccard is not None and r.cosine_sim is not None
        elif k in lex:
            assert r.agreement == "lexical_only" and r.cosine_sim is None
        else:
            assert r.agreement == "semantic_only" and r.jaccard is None

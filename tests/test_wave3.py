"""Behavioral tests for wave 3: deterministic mixture sampling,
length histogram, quantified-comparison rewrite semantics, recursive
calendar gap fill, and stream-static enrichment."""

from __future__ import annotations

from pyspark.sql import functions as F

from sql_engine_spark.catalog import load_stream, load_table
from sql_engine_spark.operators.pipeline import MIX_HASH_K, length_histogram, weighted_mix


def _docs(spark, n=200):
    rows = [(i, " ".join(f"w{j}" for j in range(10 + (i % 60))), f"src{i % 4}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_weighted_mix_honors_zero_and_full_weights(spark):
    df = _docs(spark)
    kept = weighted_mix(df, {"src0": 0, "src1": 1_000_000, "src2": 500_000}).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, set()).add(r.doc_id)
    assert "src0" not in by_src  # 0 ppm → dropped entirely
    assert len(by_src["src1"]) == 50  # 10⁶ ppm → every src1 doc kept
    assert "src3" not in by_src  # absent from weights → dropped
    assert 0 < len(by_src["src2"]) < 50  # partial rate keeps a strict subset


def test_weighted_mix_is_deterministic_and_hash_defined(spark):
    df = _docs(spark)
    w = {"src2": 250_000}
    a = sorted(r.doc_id for r in weighted_mix(df, w).collect())
    b = sorted(r.doc_id for r in weighted_mix(df.repartition(7), w).collect())
    assert a == b  # partitioning-independent
    expected = [
        i for i in range(200)
        if i % 4 == 2 and ((i * MIX_HASH_K) % (1 << 20)) * 1_000_000 < 250_000 * (1 << 20)
    ]
    assert a == expected  # exactly the documented arithmetic


def test_length_histogram_buckets_and_shares(spark):
    rows = [
        (0, " ".join(["w"] * 5), "a"),   # 5 tokens  → bucket 0
        (1, " ".join(["w"] * 20), "a"),  # 20        → 16
        (2, " ".join(["w"] * 100), "a"), # 100       → 96
        (3, " ".join(["w"] * 33), "b"),  # 33        → 32
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r.source, r.bucket_lo): (r.n_docs, r.share) for r in length_histogram(df).collect()}
    assert out[("a", 0)] == (1, 1 / 3)
    assert out[("a", 16)] == (1, 1 / 3)
    assert out[("a", 96)] == (1, 1 / 3)
    assert out[("b", 32)] == (1, 1.0)


def test_quantified_all_vacuous_truth_on_empty_subquery(spark, sf_dir):
    """`> ALL (empty)` is TRUE for every row — the rewrite's
    `max IS NULL` arm. Replay the matrix rewrite against a brand that
    does not exist and check nothing is filtered by the ALL arm."""
    part = load_table(spark, sf_dir, "part")
    mx = part.where(F.col("p_brand") == "Brand#NOPE").agg(F.max("p_retailprice").alias("__mx"))
    out = (
        part.crossJoin(F.broadcast(mx))
        .where(F.col("__mx").isNull() | (F.col("p_retailprice") > F.col("__mx")))
        .count()
    )
    assert out == part.count()


def test_recursive_calendar_fills_gap_months(spark, sf_dir):
    from sql_engine_spark.matrix.wave3 import g45_recursive_cte

    rows = g45_recursive_cte(spark, sf_dir).collect()
    assert len(rows) == 80  # 1995-01 .. 2001-08 inclusive
    by_mo = {r.mo: r for r in rows}
    assert by_mo["1995-01"].mo and by_mo["2001-08"].mo
    # gap months (if any) carry explicit zeros, never NULL
    assert all(r.n_orders >= 0 and r.total_price is not None for r in rows)


def test_stream_static_enrich_equals_batch(spark, sf_dir):
    from sql_engine_spark.matrix.wave3 import EVENT_WEIGHTS
    from sql_engine_spark.functions.money import cents, from_cents
    from sql_engine_spark.streaming import windows as SW

    stream = load_stream(spark, sf_dir, "events")
    dims = spark.createDataFrame(EVENT_WEIGHTS, "event_type string, weight int")
    got = SW.run_to_batch(SW.static_enrich_agg(stream, dims), output_mode="complete")

    batch = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(dims), "event_type")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            from_cents(F.sum(cents("value") * F.col("weight").cast("long"))).alias("weighted_value"),
        )
    )
    g = {(r.window_start, r.event_type): (r.n_events, r.weighted_value) for r in got.collect()}
    b = {(r.window_start, r.event_type): (r.n_events, r.weighted_value) for r in batch.collect()}
    assert g == b


def test_bigram_rarity_prefers_rare_docs(spark):
    from sql_engine_spark.operators.pipeline import bigram_lm_score

    rows = [(i, "the cat sat on the mat", f"s{i}") for i in range(9)]
    rows.append((9, "zephyr quixotic umbral glyph", "s9"))  # unique bigrams
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.doc_id: r for r in bigram_lm_score(df).collect()}
    common = out[0]
    rare = out[9]
    assert rare.rarity > common.rarity  # unseen bigrams score rarer
    assert common.n_bigrams == 5 and rare.n_bigrams == 3
    # integer surprisal: 48 total bigrams (9·5 + 3); rare counts are 1
    assert rare.sum_inv == 3 * 48 and rare.rarity == 48.0


def test_split_assignment_proportions_and_determinism(spark):
    from sql_engine_spark.operators.pipeline import SPLIT_HASH_K, assign_splits

    df = spark.createDataFrame(
        [(i, "t", "s") for i in range(20_000)], "doc_id long, text string, source string"
    )
    out = assign_splits(df, val_ppm=100_000, test_ppm=100_000)  # 10%/10%
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["train"] + counts["val"] + counts["test"] == 20_000
    assert 0.08 < counts["test"] / 20_000 < 0.12  # hash-uniform ≈ 10%
    assert 0.08 < counts["val"] / 20_000 < 0.12
    # exactly the documented arithmetic, partitioning-independent
    h = lambda i: (i * SPLIT_HASH_K) % (1 << 20)
    want_test = sum(1 for i in range(20_000) if h(i) * 1_000_000 < 100_000 * (1 << 20))
    assert counts["test"] == want_test


def test_cross_source_matrix_counts_pairs_once(spark):
    from sql_engine_spark.operators.pipeline import cross_source_dup_matrix

    docs = spark.createDataFrame(
        [(1, "a", "web"), (2, "b", "web"), (3, "c", "books"), (4, "d", "code")],
        "doc_id long, text string, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    out = {(r.source_a, r.source_b): r.n_pairs for r in cross_source_dup_matrix(docs, pairs).collect()}
    assert out == {("web", "web"): 1, ("books", "web"): 1, ("books", "code"): 1}


def test_cap_and_token_budget_are_hash_order_prefixes(spark):
    from sql_engine_spark.operators.pipeline import (
        MIX_HASH_K,
        cap_per_source,
        token_budget_subset,
    )

    rows = [(i, " ".join(["w"] * (10 + i % 5)), f"s{i % 2}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    capped = cap_per_source(df, cap=10)
    by_src = {}
    for r in capped.collect():
        by_src.setdefault(r.source, []).append(r.doc_id)
    h = lambda i: (i * MIX_HASH_K) % (1 << 20)
    for src in ("s0", "s1"):
        ids = [i for i in range(100) if i % 2 == int(src[1])]
        want = set(sorted(ids, key=lambda i: (h(i), i))[:10])
        assert set(by_src[src]) == want  # exactly the 10 smallest-hash docs
    sub = token_budget_subset(df, budget=100)
    for r in sub.groupBy("source").agg(F.sum("n_tokens").alias("t")).collect():
        assert r.t <= 100  # budget never overrun
    # prefix property: kept set = longest hash-order prefix fitting
    kept_s0 = {r.doc_id for r in sub.collect() if r.source == "s0"}
    ids = sorted((i for i in range(100) if i % 2 == 0), key=lambda i: (h(i), i))
    cum, want = 0, set()
    for i in ids:
        cum += 10 + i % 5
        if cum > 100:
            break
        want.add(i)
    assert kept_s0 == want


def test_cap_per_source_salted_pre_rank_plan(spark):
    """VERDICT r4 #2: the exact per-source cap window must be fed by a
    salted (source, hash-bucket) pre-rank so a hot source never becomes
    one straggler sort (AQE splits join partitions only, never window
    sorts). Pin: two row_number windows, the first partitioned on the
    salt, and WindowGroupLimit pushing both rank limits map-side."""
    from sql_engine_spark.operators.pipeline import cap_per_source

    df = _docs(spark)
    plan = cap_per_source(df, 10)._jdf.queryExecution().executedPlan().toString()
    # two row_number windows (salted pre-rank + exact per-source rank):
    # count Window NODES containing row_number, not a literal rendering
    # of the whole expression string (ADVICE r5 — plan toString drifts
    # across Spark versions; node structure is the stable part)
    win_nodes = [ln for ln in plan.splitlines() if "Window [" in ln and "row_number()" in ln]
    assert len(win_nodes) == 2, plan
    assert "__salt" in plan, plan  # the salted pre-rank stage exists
    # the rank limits are pushed below the shuffles (WindowGroupLimit).
    # The rule and its plan rendering exist in Spark 3.5/4.x only —
    # gate on version so an upgrade doesn't fail a correct operator
    # (ADVICE r5); the two-window + salt checks above stay unconditional.
    import pyspark

    if tuple(int(p) for p in pyspark.__version__.split(".")[:2]) >= (3, 5):
        assert "WindowGroupLimit" in plan, plan


def test_token_budget_two_phase_plan(spark):
    """VERDICT r4 #3: the per-source prefix sum must be two-phase — a
    per-(source, bucket) aggregate whose offsets broadcast back, with
    the corpus-side running-sum window partitioned on (source, bucket)
    — never a corpus-wide window partitioned on source alone."""
    from sql_engine_spark.operators.pipeline import token_budget_subset

    df = _docs(spark)
    plan = token_budget_subset(df, 100)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan  # offsets join is broadcast
    corpus_windows = [ln for ln in plan.splitlines() if "Window [sum(__n_tokens" in ln]
    assert corpus_windows and all("__b" in ln for ln in corpus_windows), plan
    # the only source-partitioned window runs over the tiny aggregated
    # (source, bucket) totals frame, not the corpus
    tiny = [ln for ln in plan.splitlines() if "Window [sum(__bsum" in ln]
    assert len(tiny) == 1, plan


def test_cap_and_budget_hot_source_within_3x_of_uniform(spark):
    """One source holding 90% of a 10⁵-doc corpus must run within 3× of
    a uniform 64-source corpus for both x46 and x47 — the straggler the
    salted pre-rank / two-phase prefix sum exists to prevent.

    This is a wall-clock regression TRIPWIRE, not the skew measurement:
    the authoritative number is bench.py's skewed_source probe (min-of-2
    at 20× data). Min-of-3 with a 3× factor and a 0.5 s floor so the
    box's documented contention pockets (BASELINE.md: 6× one-off
    outliers) can't flake an unrelated green run (ADVICE r5); a real
    un-mitigated straggler is >10× on this shape, so 3× still trips."""
    import time

    from sql_engine_spark.operators.pipeline import cap_per_source, token_budget_subset

    def corpus(skewed: bool):
        src = (
            "case when id % 10 < 9 then 'hot' else concat('s', id % 64) end"
            if skewed
            else "concat('s', id % 64)"
        )
        return spark.range(100_000).selectExpr(
            "id AS doc_id", "'tok0 tok1 tok2 tok3 tok4' AS text", f"{src} AS source"
        )

    def run(op):
        out = {}
        for label, skewed in (("uniform", False), ("skewed", True)):
            runs = []
            for _ in range(3):  # min-of-3: one GC pause can't fail the suite
                t0 = time.monotonic()
                op(corpus(skewed)).agg({"doc_id": "count"}).collect()
                runs.append(time.monotonic() - t0)
            out[label] = min(runs)
        return out

    t_cap = run(lambda df: cap_per_source(df, 500))
    assert t_cap["skewed"] <= 3.0 * max(t_cap["uniform"], 0.5), t_cap
    t_bud = run(lambda df: token_budget_subset(df, 2_000))
    assert t_bud["skewed"] <= 3.0 * max(t_bud["uniform"], 0.5), t_bud


def test_coin_hash_has_no_overflow_cliff_at_huge_ids(spark):
    """ids near 2⁶² must not trip ANSI int64 overflow: the hash reduces
    the id mod 2²⁰ before multiplying (same value, bounded product)."""
    from sql_engine_spark.operators.pipeline import MIX_HASH_K, assign_splits, weighted_mix

    big = [(1 << 62) + i for i in range(6)]
    df = spark.createDataFrame([(i, "t", "s") for i in big], "doc_id long, text string, source string")
    kept = {r.doc_id for r in weighted_mix(df, {"s": 500_000}).collect()}
    want = {i for i in big if ((i % (1 << 20)) * MIX_HASH_K) % (1 << 20) * 1_000_000 < 500_000 * (1 << 20)}
    assert kept == want
    assert assign_splits(df).count() == 6  # no ArithmeticException


def test_wave3_sql_text_front_door(spark, sf_dir):
    """VERDICT r2 item 7: the wave-3 grammar surface must be reachable
    through the engine's real interface — a SQL STRING through the
    dialect shim (run_sql) against registered views — not only through
    template-parameterized spark.sql calls. g47 (quantified ALL/ANY) is
    the documented exception: Spark's parser has no production for it,
    so it stays a DataFrame rewrite."""
    from sql_engine_spark.catalog import register_views
    from sql_engine_spark.matrix import QUERIES
    from sql_engine_spark.matrix import wave3 as W
    from sql_engine_spark.sql import run_sql

    register_views(spark, sf_dir)
    cases = {
        "g45_recursive_cte": W._G45_SPARK.format(orders="orders"),
        "g46_full_outer": W._G46_SPARK.format(customer="customer", supplier="supplier"),
        "g48_semi_anti_join": W._G48_SPARK.format(customer="customer", orders="orders"),
        "g49_grouping_id": W._G49_SPARK.format(orders="orders"),
        "g50_rank_family": W._G50_SPARK.format(customer="customer"),
    }
    for name, sql_text in cases.items():
        front = run_sql(spark, sql_text + ";")  # trailing ; exercises the shim
        expected = QUERIES[name](spark, sf_dir)
        got = sorted(map(tuple, front.collect()), key=repr)
        want = sorted(map(tuple, expected.collect()), key=repr)
        assert got == want, f"{name}: front-door SQL text diverges from matrix entry"


def test_cap_and_budget_randomized_equivalence_with_single_window(spark):
    """The salted pre-rank (x46) and the two-phase prefix sum (x47)
    must be EXACTLY the single-window formulations they replaced, on
    randomized corpora: random sources (incl. a dominant one), random
    token counts, several caps/budgets, and n_buckets values that
    force both degenerate (1 bucket = the old plan) and fragmented
    (buckets ≫ rows-per-source) decompositions."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from sql_engine_spark.operators.pipeline import (
        MIX_HASH_K,
        cap_per_source,
        token_budget_subset,
        _coin_hash,
    )

    rng = random.Random(20260814)
    rows = [
        (
            rng.randrange(1 << 40),  # sparse ids: empty buckets guaranteed
            " ".join("w" * 1 for _ in range(rng.randrange(1, 12))),
            "hot" if rng.random() < 0.7 else f"s{rng.randrange(5)}",
        )
        for _ in range(400)
    ]
    rows = [r for i, r in enumerate(rows) if r[0] not in {x[0] for x in rows[:i]}]
    # NULL sources are their own group under a window partition; the
    # decomposed paths must keep them too (null-safe join keys). NULL
    # text counts as 0 tokens by the operator's pinned semantic — a
    # NULL leaking into the running sum would make cum NULL and
    # silently drop the row (the r5 review's confirmed repro).
    rows += [(rng.randrange(1 << 40), "w w w", None) for _ in range(10)]
    rows += [(rng.randrange(1 << 40), None, "hot") for _ in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    h = _coin_hash("doc_id", MIX_HASH_K)
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    for cap, nb in ((7, 1), (7, 32), (23, 5), (1, 1024)):
        got = {r.doc_id for r in cap_per_source(df, cap, n_buckets=nb).collect()}
        want = {
            r.doc_id
            for r in df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .collect()
        }
        assert got == want, (cap, nb)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_tok = F.when(F.col("text").isNull(), F.lit(0)).otherwise(
        F.size(F.split(F.col("text"), " "))
    ).cast("long")
    for budget, nb in ((30, 1), (30, 32), (500, 5), (3, 1024)):
        got = {r.doc_id for r in token_budget_subset(df, budget, n_buckets=nb).collect()}
        want = {
            r.doc_id
            for r in df.withColumn("__cum", F.sum(n_tok).over(wc))
            .filter(F.col("__cum") <= budget)
            .collect()
        }
        assert got == want, (budget, nb)


def test_cap_and_budget_degenerate_inputs(spark):
    """Empty input, cap=0, and budget=0 must all return empty frames
    with the contract schema — the decomposed plans (salted pre-rank,
    broadcast offsets join) have more moving parts to get this wrong
    than the single windows they replaced."""
    from sql_engine_spark.operators.pipeline import cap_per_source, token_budget_subset

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert cap_per_source(empty, 10).count() == 0
    out = token_budget_subset(empty, 100)
    assert out.count() == 0
    assert out.columns == ["doc_id", "text", "source", "n_tokens"]
    df = spark.createDataFrame(
        [(1, "a b", "s"), (2, "c", "s")], "doc_id long, text string, source string"
    )
    assert cap_per_source(df, 0).count() == 0
    assert token_budget_subset(df, 0).count() == 0

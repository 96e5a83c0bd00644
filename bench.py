#!/usr/bin/env python3
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE compact JSON line as the LAST
stdout line (driver tail-capture safe); spreads, warmups, and
ANN-recall operating points go to BENCH_DETAIL.json, never stdout.

Methodology: each query runs ONE discarded warmup, then
$SPARK_GRAFT_BENCH_RUNS measured times (default 3; the BRACKETED
queries run at least BRACKET_N); ``queries`` reports the MEDIAN,
``spread`` the [min, max], ``warmup`` the discarded first run. The
measured action is a ``noop``-format write — a count() would let Spark
prune every projection and under-measure wide outputs. ``recall``
tracks ANN recall@10 (x07 SRP-LSH, x18 IVF) vs the exact brute top-k
(x06).

Headline set: the TPC-H-style flagship plans, the heaviest Tier-X
pipelines, the Arrow decode path, and a streaming window run — the
queries whose plans decide whether the engine survives a 100× scale-up.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q4_order_priority",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q14_promo_revenue",
    "q18_large_orders",
    "q19_disjunctive",
    "q21_waiting_supplier",  # joined r11 with the entry itself (semi+anti fact self-joins — the heaviest new flagship shape); 37-query set, the 36-query comparable excludes it
    "e08_distinct",
    "g08_join_explicit_agg",
    "g19_window_topn",
    "x02_dedup_ngram_jaccard",
    "x04_dedup_minhash_lsh",
    "x06_sim_topk_brute",
    "x12_text_fingerprint",
    "x14_sessionize_batch",
    "x18_sim_ivf",
    "x27_skyline",
    "x29_sketch_profile",
    "x32_multimodal_decode",
    "x33_contamination",
    "x34_tfidf_topterms",
    "x35_sequence_packing",
    "x38_containment",
    "x40_curation_pipeline",
    "x41_domain_mix",
    "x43_bigram_rarity",
    "x46_source_cap",
    "x48_multi_query_topk",
    "x51_span_dups",
    "x54_incremental_dedup",
    "x56_chunk_dedup",
    "x58_weighted_sample",
    "x59_semantic_dedup",
    "s01_stream_tumbling",
]

# Queries with a standing n=BRACKET_N bracket: their medians drifted on
# untouched code, every TARGETS query is one, and a slot only
# self-flags at n≥5 (slot_contended), so a 3-sample spread would leave
# drift vs regression to a coin flip. Per-query n is recorded in
# BENCH_DETAIL["n_runs"] so spreads are not read as one sample size.
# Why each query joined: BASELINE.md.
BRACKET_N = 5
BRACKETED = frozenset({
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier_volume",
    "q18_large_orders",
    "q21_waiting_supplier",
    "x02_dedup_ngram_jaccard",
    "x04_dedup_minhash_lsh",
    "x06_sim_topk_brute",
    "x12_text_fingerprint",
    "x14_sessionize_batch",
    "x18_sim_ivf",
    "x29_sketch_profile",
    "x32_multimodal_decode",
    "x33_contamination",
    "x34_tfidf_topterms",
    "x35_sequence_packing",
    "x38_containment",
    "x43_bigram_rarity",
    "x51_span_dups",
    "x54_incremental_dedup",
    "x56_chunk_dedup",
    "x58_weighted_sample",
    "x59_semantic_dedup",
    "s01_stream_tumbling",
})

# Standing per-query ceilings (seconds, sf0.1): evaluated against the
# MEDIAN of a CERTIFIED window at the slot's bracketed n. The
# adjudication rule every ceiling shares (SCALE.md): a certified median
# above its ceiling with the slot's own intra-spread ≤ 1.35× is a real
# regression; above 1.35× the slot self-flags and the solo recheck
# adjudicates. History and rationale live in BASELINE.md (x18/x29/x32/
# x33/x56/x59/q21 r7–r12) and SCALE.md "Join-strategy pins" (x38's
# 3.0→4.0 refresh r13; the post-pin x02/x04/x54 ceilings NEW r14 —
# priced from certified windows F/G: pinned shuffle-hash builds cost
# ~2× the broadcast plans they replaced, and those plans die at 125×).
TARGETS = {
    "q21_waiting_supplier": 1.5,
    "x02_dedup_ngram_jaccard": 4.0,  # r14: F 3.480 [3.190, 3.706]; G 3.878 solo
    "x04_dedup_minhash_lsh": 3.2,  # r14: F 2.774 [2.215, 2.868]
    "x18_sim_ivf": 1.1,
    "x29_sketch_profile": 1.9,
    "x32_multimodal_decode": 0.6,
    "x33_contamination": 1.25,
    "x38_containment": 4.0,
    "x54_incremental_dedup": 3.5,  # r14: F 1.956 clean; G 3.093 was host steal
    "x56_chunk_dedup": 0.65,
    "x59_semantic_dedup": 1.5,
}


# Contention canary: box contention can inflate untouched JVM-only
# plans 15–85%, so a fixed JVM-only query — e08's DISTINCT plan, zero
# Python — is timed at the START, MIDPOINT, and END of the measured
# loop; max/min of the samples is the run's contention spread,
# recorded in BENCH_DETAIL *and* on the contract line
# ("canary_spread"). A flagged first pass triggers ONE full
# re-measure; the better-ranked pass ships (both stay in detail).
CANARY_QUERY = "e08_distinct"
# 1.2, not 1.3: a window at 1.27 was uniformly ~1.2× inflated across
# untouched JVM-only queries, i.e. visibly contended. Runs in the
# 1.2–1.3 band buy the one re-measure instead of shipping.
CANARY_CLEAN = 1.2

# Steal-sensitive twin gate. The cross-round floor, recorded in
# SCALE.md "py-canary floor": min
# samples 0.209 / 0.227 / 0.238 / 0.248 / 0.249 / 0.256 / 0.275
# across the r14 driver window, r14 window B, and five r15 windows —
# honest samples live in a 0.21–0.31 s absolute band (the r14
# CERTIFIED windows' maxima reach 0.307). The line is 1.5, set from
# the two populations observed across seven r15 passes: every
# honest / clean-e08 pass reads ≤ 1.41 (1.2, 1.24, 1.31, 1.32, 1.41 —
# the 1.41 being samples [0.209, 0.295], BOTH inside the certified
# absolute band: a lower floor inflates the ratio, it does not
# indicate steal), while every adjudicated steal pass reads ≥ 1.6
# (1.6 / 1.64 / 1.68 / 1.73 / 1.93 / 5.0, each alongside flagged
# slots or an inflated e08). 1.5 sits in the empty gap between the
# populations: a clean-e08 window whose py spread crosses it is the
# s01-r13 class (non-JVM-path steal) and must not certify per-query
# medians.
PY_CANARY_CLEAN = 1.5

# Single-SLOT contention line (r12): a certified window certifies the
# WINDOW, not each query's moment — r11's driver window read q3 at
# 1.6× and an r12 certified window read x38 at 3.145 [2.702, 4.011]
# while e08 stayed clean both times. At n≥5 a slot whose own max/min
# spread exceeds this line self-flags: its median is not
# target-evaluable, re-measure solo (r12 incidents read 1.48–8.2;
# clean slots ≤ 1.31).
SLOT_SPREAD_LINE = 1.35


def window_rank(spread: float, py_spread: float) -> tuple:
    """Rank one measured window for the re-measure pick — LOWER is
    better. Gate outcome first: a lexicographic (spread, py_spread)
    compare could discard a re-measure that passes BOTH canary gates
    because its e08 spread is marginally higher than a first window
    that FAILED the py gate (first 1.10/1.60 vs re-measure 1.12/1.25),
    shipping a false uncertified verdict with a clean window in hand.
    Rank = (fails-any-gate, normalized worst ratio
    max(spread/CANARY_CLEAN, py/PY_CANARY_CLEAN)): a certifiable window
    beats any uncertifiable one, and within a class the window closer
    to clean on its WORST gate wins."""
    passes = spread <= CANARY_CLEAN and py_spread <= PY_CANARY_CLEAN
    return (not passes, max(spread / CANARY_CLEAN, py_spread / PY_CANARY_CLEAN))


def targets_block(timings: dict, spread: dict) -> dict:
    """The decidable-from-the-record target evaluation: every standing
    ceiling with its measured median, slot spread, and over/under
    verdict. ``over`` is None — an EXPLICIT unknown — when the query
    was not measured this window: a bare False would read as a pass to
    anyone applying the 1.35× rule from the record. Only meaningful on
    a certified window (emit stamps that verdict)."""
    return {
        q: {
            "ceiling": TARGETS[q],
            "median": timings.get(q),
            "over": (timings[q] > TARGETS[q]) if q in timings else None,
            "slot_spread": (
                round(spread[q][1] / max(spread[q][0], 1e-9), 2)
                if q in spread
                else None
            ),
        }
        for q in sorted(TARGETS)
    }


def slot_contended(spread: dict, n_by_query: dict) -> dict:
    """Names → intra-spread for slots that self-flag (n≥5 only — an
    n=3 spread is a coin flip, not a contention signal)."""
    return {
        name: round(mx / max(mn, 1e-9), 2)
        for name, (mn, mx) in spread.items()
        if n_by_query.get(name, 0) >= 5 and mx / max(mn, 1e-9) > SLOT_SPREAD_LINE
    }


def solo_recheck(flagged, run_fn, n: int = 5) -> dict:
    """Resolution arm of the slot-contention flag: each flagged query
    is re-measured SOLO after the main loop (nothing else has run for
    minutes; the contending co-tenant burst has passed) with n runs,
    and the solo bracket ships in BENCH_DETAIL["slot_recheck"] so
    adjudication is in the record, not a post-hoc session.

    ``resolved`` = the solo bracket's own spread is back under
    SLOT_SPREAD_LINE — the in-window flag was slot contention and the
    solo MEDIAN is the adjudicated reading. False means the spread
    persists with the box quiet: a genuinely high-variance plan, which
    is a code problem to investigate, not a measurement artifact.
    ``run_fn(name) -> seconds`` is injected so the resolution logic is
    unit-testable without a SparkSession."""
    out = {}
    for name in sorted(flagged):
        runs = sorted(run_fn(name) for _ in range(n))
        spread = round(runs[-1] / max(runs[0], 1e-9), 2)
        out[name] = {
            "median": round(statistics.median(runs), 3),
            "bracket": [round(runs[0], 3), round(runs[-1], 3)],
            "n": n,
            "spread": spread,
            "resolved": spread <= SLOT_SPREAD_LINE,
        }
    return out


def recheck_with_context(flagged, run_fn, canary_fn, py_canary_fn, n: int = 5) -> tuple:
    """solo_recheck plus one min-of-2 sample of each canary taken right
    after the rechecks: a host burst that SPANS the recheck leaves
    resolved=False with in-family medians, ambiguous between 'recheck
    itself contended' and 'genuinely high-variance plan' without
    context. The samples ship as BENCH_DETAIL["slot_recheck_canary"]
    and ["slot_recheck_py_canary"]; a resolved=False whose e08 context
    sits well above the clean floor adjudicates as a contended recheck,
    and one whose e08 context is clean but whose py context is inflated
    as non-JVM-path steal — either is re-read in the next clean window.
    Returns (recheck, canary, py_canary); both samples are None when
    nothing was flagged."""
    rec = solo_recheck(flagged, run_fn, n)
    if not rec:
        return rec, None, None
    return rec, _min_of_2(canary_fn), _min_of_2(py_canary_fn)


def _min_of_2(sample) -> float:
    """Min of two ``sample()`` seconds, rounded: the detected signature
    is SUSTAINED inflation, so one GC pause must not decide a canary or
    probe reading."""
    return round(min(sample() for _ in range(2)), 3)


def _run_once(fn, spark, sf_dir: str) -> float:
    # Drop the dedup memo artifacts (shingle index, pair graph) so a
    # timed run measures the OPERATOR, not a cache hit from its own
    # warmup — intra-session artifact reuse is a feature, not a number.
    from sql_engine_spark.operators.dedup import clear_shingle_index

    clear_shingle_index()
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    # noop write: every output column is computed and serialized, so
    # projection cost is paid (count() would prune it all away).
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _py_canary_once(spark) -> float:
    """Steal-sensitive canary probe: one tiny mapInPandas stage over 32
    trivial partitions. The JVM-only e08 canary is a hot codegen loop,
    structurally blind to Python worker spin-up, per-task scheduling
    of many tiny tasks, and fork/exec page-cache pressure — the cost
    classes behind an I/O-side burst or s01-class jitter. This probe
    pays exactly those costs and ~nothing else, so a window where e08
    sits at its floor while this spread blows out is adjudicated as
    host steal on the non-JVM path, not regression. Coverage caveat:
    ``spark.python.worker.reuse`` is on in the session, so only the
    FIRST probe of a session pays worker spin-up/fork-exec; later
    samples (and every min-of-2) measure tiny-task scheduling plus the
    Arrow round-trip. All raw samples ship in canary.py_samples so the
    un-amortized first reading stays visible."""
    return _run_once(
        lambda s, _: s.range(0, 256, 1, 32).mapInPandas(lambda it: it, "id long"),
        spark,
        "",
    )


def _probe_s(op, df) -> float:
    """Probe timing: min-of-2 seconds of ``op(df)`` through _run_once
    (memos cleared, noop write)."""
    return _min_of_2(lambda: _run_once(lambda *_: op(df), None, ""))


def _stage(df, tmp: str, label: str):
    """Write ``df`` as parquet under ``tmp`` and read it back, so a
    probe times the operator over a file scan, not the build of its
    input."""
    path = os.path.join(tmp, label)
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _replica(docs, n: int):
    """``n``× mutually non-duplicate replica of ``docs`` (doc_id, text)
    from tools.replica_scale.replicate_table, in ``n`` partitions: one
    file per replica's worth of rows once staged, as a corpus grown by
    appending shards has. The file count decides whether
    dedup.ensure_parallelism adds a repartition, so it is part of what
    the growth probes measure."""
    from tools.replica_scale import replicate_table

    return replicate_table(docs, n, ["doc_id"], ["text"]).repartition(n)


def _recall(corpus, qv: list, hammings: tuple, probes: tuple) -> dict:
    """Recall@10 vs the exact brute top-10 on ``corpus`` for SRP at
    each probe Hamming radius (with its scan fraction) and IVF at each
    n_probe of 16 lists (with its probe fraction). Scan fractions count
    rows passing the SEARCHER'S OWN band filter (srp_probe_condition —
    a hand-rolled copy would drift)."""
    from sql_engine_spark.operators import similarity as S

    n_total = corpus.count()
    truth = {r.vec_id for r in S.cosine_topk(corpus, qv, k=10, exclude_id=0).collect()}

    def rec(df) -> float:
        got = {r.vec_id for r in df.collect()}
        return round(len(got & truth) / max(1, len(truth)), 3)

    banded = S.with_srp_bands(corpus, len(qv))
    out = {}
    for h in hammings:
        out[f"srp_h{h}"] = {
            "recall_at_10": rec(S.ann_topk(corpus, qv, k=10, exclude_id=0, probe_hamming=h)),
            "scan_frac": round(banded.filter(S.srp_probe_condition(qv, h)).count() / n_total, 3),
        }
    for p in probes:
        out[f"ivf_p{p}"] = {
            "recall_at_10": rec(S.ivf_topk(corpus, qv, k=10, exclude_id=0, n_probe=p)),
            "probe_frac": round(p / 16, 3),
        }
    return out


def _ann_recall(spark, sf_dir: str) -> dict:
    """Recall@10 of the ANN searchers vs exact brute force, at several
    operating points, each with its scan fraction — the whole tradeoff,
    not one number. This corpus is isotropic (true top-10 sits at cos
    ≈0.3–0.4, TESTDATA.md), so high recall necessarily costs a high
    scan fraction and banding recall is structurally capped.
    ``planted`` is the same measurement on a corpus WITH true
    near-neighbor structure — the actual near-dup-mining regime: 10
    planted neighbors of the query at exact cosine 0.97 (orthogonal
    decomposition, seeded) unioned into the corpus, where the same
    banding must reach ≥0.9 recall at a small scan fraction."""
    import numpy as np

    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    qv = S.get_vector(emb, 0)
    out = _recall(emb, qv, hammings=(0, 1, 2), probes=(4, 12))

    q = np.asarray(qv, dtype=np.float64)
    q = q / np.linalg.norm(q)
    rng = np.random.default_rng(7)
    rows = []
    for i in range(10):
        g = rng.standard_normal(len(q))
        u = g - (g @ q) * q
        u = u / np.linalg.norm(u)
        v = 0.97 * q + np.sqrt(1.0 - 0.97**2) * u
        rows.append((-(i + 1), [float(x) for x in v]))
    planted = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    union = emb.select("vec_id", "embedding").unionByName(planted)
    out["planted"] = _recall(union, qv, hammings=(0, 1), probes=(4,))
    return out


def _scale_probe(spark, sf_dir: str, tmp: str) -> dict:
    """Dedup-family growth curve: the corpus tops out at sf0.1, so
    synthesize 1× and 5× replicas (tools.replica_scale.replicate_table:
    every token of replica k>0 is suffixed, so replicas are mutually
    NON-duplicate) and time the dedup pipelines on each. Dup DENSITY
    stays constant while volume grows 5× — the regime where a
    banded/prefix-filtered path must grow near-linearly and a
    candidate-quadratic one blows up. Reported time is min-of-2 (noise
    floor); ``growth`` is the x5/x1 ratio per op."""
    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators import dedup as D
    from sql_engine_spark.operators import pipeline as P

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ops = {
        "x02_jaccard": D.ngram_jaccard_pairs,
        "x04_minhash": D.minhash_lsh_pairs,
        "x38_containment": lambda df: P.containment_pairs(df, threshold=0.6),
        # includes pair generation — the full dedup→canonicalize pipeline
        "x20_components": lambda df: D.connected_components(D.ngram_jaccard_pairs(df), df),
        # corpus-rewriting dedup: keep-first min-struct agg + per-doc rebuild
        "x56_chunk_dedup": P.chunk_dedup,
        # incremental ingest dedup: the new batch (doc_id%10==0) probes
        # the corpus index one-sided; batch and corpus both grow k×, so
        # a healthy probe grows ~linearly (~k×) — growth tracking
        # batch×corpus (≈k²×) would falsify the one-sided claim.
        "x54_incremental_dedup": lambda df: P.incremental_jaccard_pairs(
            df, threshold=0.8, new_mod=10
        ),
    }
    probe: dict = {}
    for n in (1, 5):
        df = _stage(_replica(docs, n), tmp, f"x{n}")
        probe[f"x{n}"] = {name: _probe_s(op, df) for name, op in ops.items()}
        print(f"# scale_probe x{n}: {probe[f'x{n}']}", file=sys.stderr)
    probe["growth_x5_over_x1"] = {
        name: round(probe["x5"][name] / max(probe["x1"][name], 1e-9), 2) for name in ops
    }
    return probe


def _skew_probe(spark, sf_dir: str, tmp: str) -> dict:
    """Skewed-source probe: the per-source window family (x46 cap, x47
    token budget, x52 stratified quality, x58 weighted sample) timed on
    a 20×-replicated corpus under two source assignments — uniform (64
    even sources) vs 90%-one-source — the regime where a naive
    per-source window sort becomes one straggler task. The replicas are
    verbatim clones with interleaved ids (doc_id·20 + k), which the
    source assignment reads. Reported per op: min-of-2 seconds for each
    variant plus the skewed/uniform ratio (target ≤2×)."""
    from pyspark.sql import functions as F

    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators import pipeline as P

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    rep = docs.withColumn("__k", F.explode(F.sequence(F.lit(0), F.lit(19)))).select(
        (F.col("doc_id") * 20 + F.col("__k")).alias("doc_id"), "text", "n_chars"
    )
    variants = {
        "uniform": "concat('s', pmod(doc_id, 64))",
        "skewed": "CASE WHEN pmod(doc_id, 10) < 9 THEN 'hot' ELSE concat('s', pmod(doc_id, 64)) END",
    }
    frames = {
        label: _stage(rep.withColumn("source", F.expr(src)), tmp, label)
        for label, src in variants.items()
    }
    ops = {
        "x46_source_cap": lambda df: P.cap_per_source(df, 500),
        "x47_token_budget": lambda df: P.token_budget_subset(df, 50_000),
        "x52_quality_stratified": lambda df: P.quality_stratified(df, keep_frac=0.5),
        "x58_weighted_sample": lambda df: P.weighted_priority_sample(df, k=100),
    }
    probe: dict = {}
    for name, op in ops.items():
        block = {label: _probe_s(op, df) for label, df in frames.items()}
        block["ratio"] = round(block["skewed"] / max(block["uniform"], 1e-9), 2)
        print(f"# skew_probe {name}: {block}", file=sys.stderr)
        probe[name] = block
    return probe


def _pair_skew_probe(spark, sf_dir: str, tmp: str) -> dict:
    """Pair-key (probe-key) skew probe: every dedup-family candidate
    producer ships its RAW candidate pairs across ONE hash(id_a)
    exchange (dedup._cluster_always), so a "hub" document with a large
    near-dup set concentrates its pairs on one partition. The hazard is
    bounded by construction — key id_a=h carries at most one pair per
    partner, never the quadratic clique total (pairs (a,b) with a<b
    spread id_a across all clique members) — but the bound is
    data-dependent, so measure it: x02 on the _scale_probe 5× replica,
    uniform vs the same corpus with every ``doc_id % 50 == 7`` doc
    replaced by one identical text (a planted clique, triangular id_a
    distribution — the worst planted hub this corpus admits; the
    replica id offset is a multiple of 50, so every replica plants the
    same share). Reported per variant: min-of-2 seconds +
    clique/uniform ratio, plus the clique size counted from the data
    (``hub_docs``, c) and its c·(c−1)/2 true pairs (``hub_pairs``).
    NOTE the ratio also prices those extra TRUE pairs the uniform
    corpus lacks (candidate join, verify, dedup all grow), so it is
    an UPPER bound on the partition-skew cost, not a pure skew
    reading; the standing line is the skewed-source family's ≤2×."""
    from pyspark.sql import functions as F

    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rep = _replica(docs, 5)
    hub_text = " ".join(f"hubtok{i}" for i in range(60))
    is_hub = F.col("doc_id") % 50 == 7
    frames = {
        "uniform": _stage(rep, tmp, "pair_uniform"),
        "hub": _stage(
            rep.select("doc_id", F.when(is_hub, F.lit(hub_text)).otherwise(F.col("text")).alias("text")),
            tmp,
            "pair_hub",
        ),
    }
    block = {label: _probe_s(D.ngram_jaccard_pairs, df) for label, df in frames.items()}
    block["ratio"] = round(block["hub"] / max(block["uniform"], 1e-9), 2)
    c = frames["hub"].filter(is_hub).count()
    block["hub_docs"] = c
    block["hub_pairs"] = c * (c - 1) // 2
    print(f"# pair_skew_probe: {block}", file=sys.stderr)
    return block


def _measure(spark, sf_dir: str, n_runs: int):
    """One full measured pass over BENCH_QUERIES, with both canaries
    sampled (min-of-2 each) at start / midpoint / end. Returns
    (timings, spread, warmup, n_by_query, canary)."""
    from sql_engine_spark import matrix

    canary_fn = matrix.QUERIES[CANARY_QUERY]
    samples: list[float] = []
    py_samples: list[float] = []

    def sample_canaries() -> None:
        samples.append(_min_of_2(lambda: _run_once(canary_fn, spark, sf_dir)))
        py_samples.append(_min_of_2(lambda: _py_canary_once(spark)))

    sample_canaries()
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    warmup: dict[str, float] = {}
    n_by_query: dict[str, int] = {}
    mid = len(BENCH_QUERIES) // 2
    for i, name in enumerate(BENCH_QUERIES):
        if i == mid:
            sample_canaries()
        fn = matrix.QUERIES[name]
        warmup[name] = round(_run_once(fn, spark, sf_dir), 3)
        n_q = max(n_runs, BRACKET_N if name in BRACKETED else 0)
        n_by_query[name] = n_q
        runs = [_run_once(fn, spark, sf_dir) for _ in range(n_q)]
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]
        print(
            f"# {name}: median {timings[name]:.3f}s over {n_q} runs "
            f"{spread[name]} (warmup {warmup[name]:.3f}s)",
            file=sys.stderr,
        )
    sample_canaries()
    canary = {
        "query": CANARY_QUERY,
        "samples": samples,
        "spread": round(max(samples) / max(min(samples), 1e-9), 2),
        "py_samples": py_samples,
        "py_spread": round(max(py_samples) / max(min(py_samples), 1e-9), 2),
    }
    print(f"# canary: {canary}", file=sys.stderr)
    return timings, spread, warmup, n_by_query, canary


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    from sql_engine_spark import matrix
    from sql_engine_spark.session import get_spark

    spark = get_spark(app_name="sql_engine_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths so per-query numbers measure the plan,
    # not first-call classloading. The canary warms 3×: a fresh
    # session's first jobs run 2–3× slow under C2 JIT/GC warmup, and a
    # warmup-inflated first sample would flag a CLEAN run and buy a
    # pointless full re-measure.
    matrix.QUERIES["e02_star"](spark, sf_dir).collect()
    for _ in range(3):
        _run_once(matrix.QUERIES[CANARY_QUERY], spark, sf_dir)

    timings, spread, warmup, n_by_query, canary = _measure(spark, sf_dir, n_runs)
    canaries = [canary]
    # Either gate over the line buys the one re-measure: a clean-e08 /
    # dirty-py first pass is non-JVM-path steal and is just as
    # uncertifiable as a dirty-e08 pass.
    if canary["spread"] > CANARY_CLEAN or canary["py_spread"] > PY_CANARY_CLEAN:
        print(
            f"# canary spread {canary['spread']} (clean ≤ {CANARY_CLEAN}) / "
            f"py {canary['py_spread']} (clean ≤ {PY_CANARY_CLEAN}): contended "
            "run, re-measuring once",
            file=sys.stderr,
        )
        t2 = _measure(spark, sf_dir, n_runs)
        canaries.append(t2[4])
        # Gate-outcome-first pick: a re-measure that passes both gates
        # ships even if its e08 spread is nominally higher than the
        # dirty first window's.
        if window_rank(t2[4]["spread"], t2[4]["py_spread"]) < window_rank(
            canary["spread"], canary["py_spread"]
        ):
            timings, spread, warmup, n_by_query, canary = t2

    # Slot-contention resolution: any query whose own n≥5 bracket
    # self-flagged gets an immediate solo re-measure — the main loop is
    # over, so the slot's co-tenant burst (GC, page cache churn from a
    # neighboring query) is gone; the solo bracket is the adjudication.
    flags = slot_contended(spread, n_by_query)
    recheck, recheck_canary, recheck_py = recheck_with_context(
        flags,
        lambda name: _run_once(matrix.QUERIES[name], spark, sf_dir),
        lambda: _run_once(matrix.QUERIES[CANARY_QUERY], spark, sf_dir),
        lambda: _py_canary_once(spark),
    )
    if flags:
        print(
            f"# slot_contended {flags} — solo recheck (canary {recheck_canary}, "
            f"py {recheck_py}): {recheck}",
            file=sys.stderr,
        )

    # ANN recall@10 vs the exact brute-force searcher, same sf.
    recall = _ann_recall(spark, sf_dir)
    print(f"# recall@10: {recall}", file=sys.stderr)

    # Dedup growth curve at 5× data (skippable for quick local runs).
    scale_probe: dict = {}
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        with tempfile.TemporaryDirectory(prefix="sql_engine_probe_", ignore_cleanup_errors=True) as tmp:
            scale_probe = _scale_probe(spark, sf_dir, tmp)
            scale_probe["skewed_source"] = _skew_probe(spark, sf_dir, tmp)
            scale_probe["pair_hub"] = _pair_skew_probe(spark, sf_dir, tmp)

    sf = sf_dir.rstrip("/").split("sf")[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf

    detail = {
        "sf": sf_val,
        "runs_per_query": n_runs,
        "n_runs": n_by_query,
        "spread": spread,
        "warmup": warmup,
        "canary": canary,
        "canary_all_passes": canaries,
        "canary_rerun": len(canaries) > 1,
        # "certified" is stamped by emit() on BOTH the contract line
        # and this detail dict from ONE expression, so the two records
        # cannot drift.
        "slot_contended": flags,
        "slot_recheck": recheck,
        "slot_recheck_canary": recheck_canary,
        "slot_recheck_py_canary": recheck_py,
        # Every standing ceiling with the measured median, its slot
        # spread, and the flag state — a reader applies the 1.35× rule
        # without cross-referencing BASELINE.md.
        "targets": targets_block(timings, spread),
        "recall": recall,
        "scale_probe": scale_probe,
    }
    emit(timings, sf_val, detail, canary["spread"], canary["py_spread"])


def emit(timings: dict, sf_val, detail: dict, canary_spread: float, py_spread: float) -> str:
    """Write the detail sidecar and print the compact driver-contract
    JSON as the LAST stdout line. Returns the line (for tests).
    Detail goes to BENCH_DETAIL.json + stderr, NOT the stdout line: a
    line that outgrows the driver's tail capture is lost. The contract
    line carries only metric/value/unit/queries/sf, both canary
    spreads, and their verdict "certified" — per-query targets are not
    evaluated on an uncertified run."""
    # The certified verdict is computed HERE, once, and stamped on both
    # records, so the two cannot drift apart when a clean line moves.
    # BOTH canaries gate: e08 for the JVM codegen path, the mapInPandas
    # twin for the tiny-task/Python-worker path e08 is blind to.
    certified = canary_spread <= CANARY_CLEAN and py_spread <= PY_CANARY_CLEAN
    detail = {**detail, "certified": certified}
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(f"# detail -> {detail_path}", file=sys.stderr)

    line = json.dumps({
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "canary_spread": canary_spread,
        "py_canary_spread": py_spread,
        # One bool a reader can trust without knowing the clean lines'
        # current values: False = contended window, do NOT read
        # per-query deltas as regressions.
        "certified": certified,
    })
    print(line, flush=True)
    return line


if __name__ == "__main__":
    main()

"""Replica-scale harness: the versioned, tested tool behind the
q18/q21/x-family scale curves, and the replica builder bench.py's scale
probes use. Replica id arithmetic is done in long: int32 ``k *
ID_OFFSET`` overflows under ANSI at ×500. The protocol BASELINE.md's
curves used: fact rows cloned ``factor`` times with ``id + k *
ID_OFFSET`` replica keys (both operands cast to long FIRST — the
tested fix), dims un-replicated so fact→dim fanout stays constant
while fact→fact joins grow; one discarded warmup per point; min-of-N
(default 3); e08 canary context before/after the sweep. Usage:
``python tools/replica_scale.py q21_waiting_supplier 1 5 25`` →
one JSON object. ``replicate_table`` is pinned in tests/test_units.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

# One canary and one timed region, shared with bench.py: a hardcoded
# twin would silently diverge if bench rotates either.
from bench import CANARY_QUERY, _min_of_2, _run_once  # noqa: E402

# Replica id spacing: 10M clears every driver-corpus id at sf0.1 —
# and replicate_table VERIFIES it (one cheap max() agg) rather than
# trusting the comment: --sf-dir accepts any corpus, and at e.g. sf10
# (l_orderkey up to 60M) silent key collisions would corrupt join
# fanout and the measured curve with no error.
ID_OFFSET = 10_000_000

# Replica-key columns per table: only replica-LOCAL keys (fact↔fact
# join keys / PKs) are offset; dim foreign keys (o_custkey, l_suppkey)
# stay in-range so un-replicated dims join every replica.
FACT_ID_COLS: dict[str, list[str]] = {
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
}

# Text columns mutated per replica (every token suffixed with _r{k}):
# dedup-family curves need mutually NON-duplicate replicas so dup
# DENSITY stays constant while volume grows (bench.py's scale and
# pair-hub probes build their replicas here) — verbatim clones would
# multiply every doc's dup count by factor and measure the wrong regime.
# Embeddings stay verbatim: top-k scan/rerank cost is content-independent.
MUTATE_COLS: dict[str, list[str]] = {"documents": ["text"]}

# Per-query protocol: which tables replicate (the rest are symlinked).
PROTOCOLS: dict[str, tuple[str, ...]] = {
    "q18_large_orders": ("orders", "lineitem"),
    "q21_waiting_supplier": ("orders", "lineitem"),
    "x02_dedup_ngram_jaccard": ("documents",),
    "x04_dedup_minhash_lsh": ("documents",),
    "x20_dedup_components": ("documents",),  # pair gen + CC
    "x38_containment": ("documents",),
    "x54_incremental_dedup": ("documents",),
    "x18_sim_ivf": ("embeddings",),
    "x06_sim_topk_brute": ("embeddings",),
}


def replicate_table(
    df: DataFrame, factor: int, id_cols: list[str], mutate_cols: list[str] = ()
) -> DataFrame:
    """Clone every row ``factor`` times, offsetting each ``id_cols`` by
    ``k * ID_OFFSET`` — both operands cast to long BEFORE the multiply
    (pinned at ×500: int32 ``k`` × ID_OFFSET throws under ANSI, k>214;
    explode() can't nest inside a cast, so the casts sit at the use
    site). ``mutate_cols`` text gets every token suffixed with ``_r{k}``
    (k>0) so replicas are mutually non-duplicate (MUTATE_COLS
    rationale; the separator keeps a digit-suffixed base token like
    ``alpha1`` from colliding with replica 1's mutated ``alpha`` —
    ADVICE r12). Base ids must sit below ID_OFFSET — verified here,
    not assumed (module comment)."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")
    if factor == 1:
        return df
    mx = df.agg(*[F.max(F.col(c).cast("long")).alias(c) for c in id_cols]).collect()[0]
    for c in id_cols:
        if mx[c] is not None and mx[c] >= ID_OFFSET:
            raise ValueError(
                f"replica id collision: max({c})={mx[c]} >= ID_OFFSET={ID_OFFSET} — "
                "replica keys would overlap base ids; raise ID_OFFSET for this corpus"
            )
    rep = df.withColumn("__k", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
    for c in id_cols:
        rep = rep.withColumn(
            c,
            F.col(c).cast("long")
            + F.col("__k").cast("long") * F.lit(ID_OFFSET).cast("long"),
        )
    for c in mutate_cols:
        rep = rep.withColumn(
            c,
            F.when(
                F.col("__k") > 0,
                F.regexp_replace(
                    F.col(c),
                    F.lit(r"(\S+)"),
                    F.concat(F.lit("$1_r"), F.col("__k").cast("string")),
                ),
            ).otherwise(F.col(c)),
        )
    return rep.drop("__k")


def build_replica_dir(
    spark, sf_dir: str, factor: int, out_dir: str, fact_tables: tuple[str, ...]
) -> str:
    """Materialize a sf_dir-shaped dir: ``fact_tables`` written as
    ``factor``× replicas, every other table symlinked (zero copy)."""
    from sql_engine_spark.catalog import TABLES, load_table

    # Symlink targets must survive any later cwd: a relative --sf-dir
    # would otherwise resolve relative to the tempdir out_dir and
    # produce broken links (ADVICE r12).
    sf_dir = os.path.abspath(sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(src):
            continue
        dst = os.path.join(out_dir, f"{name}.parquet")
        if name in fact_tables:
            replicate_table(
                load_table(spark, sf_dir, name),
                factor,
                FACT_ID_COLS[name],
                MUTATE_COLS.get(name, ()),
            ).write.mode("overwrite").parquet(dst)
        elif not os.path.lexists(dst):
            os.symlink(src, dst)
    return out_dir


def run_curve(
    spark,
    query: str,
    factors: list[int],
    sf_dir: str,
    runs: int = 3,
    fact_tables: "tuple[str, ...] | None" = None,
) -> dict:
    """Build each replica dir, apply warmup-then-min-of-N, and return
    the curve with step growth ratios and canary context."""
    from sql_engine_spark import matrix

    fn = matrix.QUERIES[query]
    facts = fact_tables if fact_tables is not None else PROTOCOLS[query]
    canary = matrix.QUERIES[CANARY_QUERY]

    def canary_sample() -> float:
        return _min_of_2(lambda: _run_once(canary, spark, sf_dir))

    _run_once(canary, spark, sf_dir)  # absorb fresh-session JIT untimed
    # Absorb the QUERY's own codegen/JIT too: with a canary-only
    # absorber an x04 sweep's first point read 4.0 s min while the 5×
    # point read 2.6 s — non-monotonic, i.e. the x1 point was measuring
    # first-call classloading, not the plan. One untimed run on the BASE
    # dir warms the plan without touching any replica point's cache
    # state; its duration ships in the record for audit.
    curve_absorber = round(_run_once(fn, spark, sf_dir), 3)
    base = tempfile.mkdtemp(prefix="replica_scale_")
    curve: dict = {"query": query, "sf_dir": sf_dir, "runs": runs, "points": {}}
    curve["absorber"] = curve_absorber
    curve["canary_pre"] = canary_sample()
    try:
        for factor in factors:
            rep_dir = build_replica_dir(
                spark, sf_dir, factor, os.path.join(base, f"x{factor}"), facts
            )
            warmup = round(_run_once(fn, spark, rep_dir), 3)
            samples = [round(_run_once(fn, spark, rep_dir), 3) for _ in range(runs)]
            curve["points"][f"x{factor}"] = {
                "min": min(samples), "runs": samples, "warmup": warmup,
            }
            print(
                f"# x{factor}: min {min(samples):.3f}s over {runs} runs "
                f"{samples} (warmup {warmup:.3f}s)",
                file=sys.stderr,
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    curve["canary_post"] = canary_sample()
    mins = [(f, curve["points"][f"x{f}"]["min"]) for f in factors]
    pairs = list(zip(mins, mins[1:]))
    if len(mins) > 2:
        pairs.append((mins[0], mins[-1]))  # total ratio alongside the legs
    curve["growth"] = {
        f"x{b}_over_x{a}": round(tb / max(ta, 1e-9), 2) for (a, ta), (b, tb) in pairs
    }
    return curve


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query")
    ap.add_argument("factors", nargs="+", type=int)
    ap.add_argument("--runs", type=int, default=3)
    default_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    ap.add_argument("--sf-dir", default=default_sf)
    ap.add_argument("--facts", default=None, help="comma-separated fact tables")
    ap.add_argument(
        "--persist-level",
        default="default",
        choices=["default", "disk_only", "none"],
        help="dedup memo persist level for capacity A/Bs (VERDICT r14 #2: "
        "is x38's 250×/125× super-linearity the persisted ordered-index "
        "working set?): default = engine behavior (MEMORY_AND_DISK), "
        "disk_only = serialized-on-disk cache (page-cache arm), none = "
        "recompute-not-persist (no cache memory pressure at all)",
    )
    args = ap.parse_args()

    from sql_engine_spark.session import get_spark

    spark = get_spark(app_name="replica-scale")
    spark.sparkContext.setLogLevel("ERROR")
    facts = tuple(args.facts.split(",")) if args.facts else None
    apply_persist_level(args.persist_level)
    curve = run_curve(spark, args.query, args.factors, args.sf_dir, args.runs, facts)
    curve["persist_level"] = args.persist_level
    print(json.dumps(curve))


def apply_persist_level(level: str) -> None:
    """Experiment-only override of the dedup memo's storage behavior —
    patched HERE, in the harness, so the engine keeps exactly one
    persist policy in production code. ``none`` swaps ``_memo_persist``
    for a build-and-stamp passthrough (every use of the artifact
    recomputes its plan; zero cache memory/page-cache pressure);
    ``disk_only`` rebinds the level so the cache is serialized-on-disk
    only. Both keep the ``_corpus_input_bytes`` stamp — the join
    partition scaling must stay identical across arms or the A/B
    measures plans, not storage."""
    if level == "default":
        return
    from pyspark.storagelevel import StorageLevel

    from sql_engine_spark.operators import dedup

    if level == "disk_only":
        dedup.StorageLevel = type(
            "_SL", (), {"MEMORY_AND_DISK": StorageLevel.DISK_ONLY}
        )
    else:

        def _memo_nopersist(memo, extra_key, df, build):
            out = build()
            out._corpus_input_bytes = dedup._input_bytes(df)
            return out

        dedup._memo_persist = _memo_nopersist


if __name__ == "__main__":
    main()

"""SparkSession factory with scale-oriented defaults.

The reference engine is single-process and single-threaded with no
execution configuration at all (reference sqlengine.py:384-410). Here the
session is the engine: every knob below is chosen for correctness of the
oracle comparison (UTC session time zone, ANSI mode) or for scale (AQE,
skew-join handling, Arrow transfers).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for the test harness (local[32], 128 GiB container).
# On a real cluster the same code runs unchanged; shuffle partitions
# should then be ~2-3x total executor cores (set SPARK_GRAFT_SHUFFLE).
_DEFAULTS: dict[str, str] = {
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting — the scale path for 100 TB joins/aggs.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas UDF / mapInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics for the DuckDB oracle (naive
    # timestamps in parquet are interpreted as UTC on both sides).
    "spark.sql.session.timeZone": "UTC",
    # ANSI semantics (Spark 4 default) match the DuckDB oracle: overflow
    # and bad casts are errors, not silent NULLs.
    "spark.sql.ansi.enabled": "true",
    # Broadcast threshold: TPC-H-style dimension tables (region, nation,
    # supplier, part at small SF) broadcast; AQE upgrades more joins at
    # runtime from observed sizes. The session-global 8 MB
    # adaptive.autoBroadcastJoinThreshold cap that guarded the r13
    # 125×-replica broadcast OOM was RETIRED in r15 (VERDICT r14 #1):
    # every corpus-scaled dedup join now carries a per-join
    # shuffle_hash pin, and the pins are honored THROUGH AQE
    # replanning — executed-plan (isFinalPlan=true) audit of the whole
    # family at sf0.1 under a 64 MB adaptive threshold shows zero
    # BroadcastHashJoin (pinned in test_plans.py; A/B + rationale in
    # SCALE.md "AQE broadcast-cap retirement"). Honest small sides get
    # their 8–64 MB runtime upgrades back engine-wide.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Scale-adaptive default (r16): follow the harness core count
    # instead of a hard 32 — the driver also benches at LOWER core
    # counts to measure scaling, where 32 shuffle partitions on
    # local[8] is 4 waves of tiny tasks per exchange. At the standard
    # local[32] bench this resolves to the same "32" (byte-identical
    # plans); SPARK_GRAFT_SHUFFLE stays the explicit cluster override
    # (~2-3x total executor cores there).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE")
    or os.environ.get("SPARK_GRAFT_CPUS")
    or "32",
    # events.parquet stores ts as TIMESTAMP(NANOS), which Spark's parquet
    # reader rejects; read as long nanos and convert in the catalog
    # (catalog.load_table) with exact integer division.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Keep scan partitions reasonable for small local files while still
    # splitting 100 TB inputs (default 128 MiB per partition).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Compiled codegen classes, keyed by generated source, LRU. Spark's
    # default of 100 entries is below one pass of the dedup family
    # (x20 x02 x38 x01 s04 s08 at sf0.01: 147 distinct sources), so a
    # session repeating that pass missed on every lookup and
    # Janino-compiled 133 sources again per pass, then JIT-compiled the
    # fresh classes. Distinct sources with an unbounded cache: 131 for
    # that pass, 71 for the SQL / TPC-H / retrieval pass, 1,275 for
    # every matrix entry once at sf0.001, 2,172 for the whole pytest
    # session. 4096 holds all of these with headroom; a cached entry
    # costs about 8-12 KB of metaspace and code heap (all matrix
    # entries cached vs 100: +10-15 MB). The cache is JVM-wide (one per
    # driver JVM, shared by every session in it, sized when the JVM
    # first generates code), and this is a static conf: it only takes
    # effect when get_spark creates the session. An existing session
    # returned by getOrCreate, such as one a caller built without these
    # defaults, keeps the size its JVM started with.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # By default a whole-stage class name carries its codegen stage id.
    # Under AQE that id follows the order in which the query's stages
    # are planned, which can differ between runs of the same query, so
    # an unchanged pipeline came back under a new class name and missed
    # the cache (x38: 4 of 16 sources in a second pass). Without the id
    # in the name, equal pipelines are equal cache keys; explain output
    # still shows the stage ids.
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "sql_engine_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` resolves from the argument, then ``$SPARK_GRAFT_CPUS``
    (``local[N]``), then ``local[*]`` — a spark-submit-provided master
    always wins because ``getOrCreate`` reuses an existing session.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def rightsize_shuffle_partitions(spark: SparkSession) -> None:
    """Right-size a STOCK session's shuffle partitions to its core
    count — but ONLY when the conf is untouched default ("200"), so a
    deliberate setting is never overridden (documented tradeoff: a
    user who deliberately sets exactly 200 is indistinguishable from
    the default — SURVEY §8.2 / ADVICE r2). On a local box the stock
    200 is pure task-launch overhead for every non-AQE-coalescible
    exchange (windows, sorts, streaming state — state partition counts
    freeze into checkpoints at first batch); on a real cluster the
    conf is always deliberate or AQE-managed and defaultParallelism is
    cluster-sized, so this is a no-op/safe. Single shared copy — the
    sentinel logic must not drift between the batch catalog and the
    stream readers."""
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(2, spark.sparkContext.defaultParallelism)),
        )

"""SparkSession factory with scale-oriented defaults.

The reference engine is single-process and single-threaded with no
execution configuration at all (reference sqlengine.py:384-410). Here the
session is the engine: every knob below is chosen for correctness of the
oracle comparison (UTC session time zone, ANSI mode) or for scale (AQE,
skew-join handling, Arrow transfers).
"""

from __future__ import annotations

import os
import re

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
    # Pinned on every session the catalog reads through
    # (pin_session_confs).
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
    # events.parquet may store ts as TIMESTAMP(NANOS), which Spark's
    # parquet reader rejects; read as long nanos and convert in the
    # catalog (catalog._normalize_nanos_ts) with exact integer division.
    # Pinned on every session the catalog reads through
    # (pin_session_confs).
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
    # Broadcast piece size. Every broadcast serialises into a chunked
    # buffer that allocates one whole piece up front, however small the
    # payload, and a pass broadcasts about 60 times: each stage's task
    # binary, each parquet scan's Hadoop conf, each broadcast join.
    # Spark's 4 MiB piece (a 4 MiB + 16 B array) is a G1 humongous
    # object at every heap size: over half a region, so it takes
    # whole regions of its own (5 of the 1 MiB regions of a 2 GiB heap,
    # 2 of the 4 MiB regions of the 8 GiB default). 256 KiB stays under
    # half of the smallest region, 1 MiB. Measured with perfbench at
    # sf0.01 on a 4-vCPU VM (2 GiB heap, 1 MiB regions): humongous
    # allocation per warm sql_retrieval pass (JFR) fell from 299.5 MiB,
    # 252 MiB of it 63 broadcast pieces, to 47.5 MiB, and median peak
    # RSS from 1526 to 1286 MiB over 10 alternating pairs (dedup_stream:
    # 416 to 171 MiB humongous, 1565 to 1435 MiB RSS), with CPU time
    # unchanged. It is not a SQL conf, so no plan changes. In local mode
    # tasks read the driver's copy, not the pieces; on a cluster a large
    # broadcast is fetched in more pieces (a 64 MiB join side is 256
    # pieces, not 16).
    "spark.broadcast.blockSize": "256k",
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
    if "spark.driver.defaultJavaOptions" not in conf:
        floor = _g1_region_floor(conf["spark.driver.memory"])
        if floor:
            conf["spark.driver.defaultJavaOptions"] = floor
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# G1 region floor for driver heaps under 8 GiB. G1 sizes its regions
# from the max heap (1 MiB under 4 GiB, 2 MiB under 8 GiB, 4 MiB from
# 8 GiB) and places any array of half a region or more in whole regions
# of its own (a humongous object). Spark serialises every task result
# into a chunked buffer whose first chunk is a hard-coded 1 MiB array
# (1 MiB + 16 B with its header): humongous under 1 or 2 MiB regions,
# an ordinary eden object under 4 MiB ones. The same holds for Spark's
# other fixed 0.5-1 MiB buffers (SerializedValuesHolder chunks, the
# LongToUnsafeRowMap page, the getByteArrayRdd buffer, the hash-agg fast
# maps). Spark puts defaultJavaOptions before extraJavaOptions, so a
# caller's own -XX:G1HeapRegionSize there still wins; from 8 GiB up
# G1's own choice stands, so the floor never lowers a region. Measured
# with perfbench at sf0.01 on a 4-vCPU VM (2 GiB heap): humongous
# allocation per warm pass (JFR) fell from 171.1 MiB (123 MiB of it
# result chunks) to 0 on dedup_stream and from 47.5 MiB to 0 on
# sql_retrieval; median peak RSS fell from 1408 to 1296 MiB (-8%, 10/10
# alternating pairs) and from 1272 to 1212 MiB (-5%, 6/6), CPU time
# within noise. Not a SQL conf, so no plan changes. On a cluster the result
# chunk is allocated on the executors, whose heap is
# spark.executor.memory; no executor floor is set (SCALE.md).
_G1_REGION_FLOOR = "-XX:G1HeapRegionSize=4m"
_SIZE_UNITS = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}


def _g1_region_floor(heap: str) -> str | None:
    """The JVM option that floors G1's region at 4 MiB for a heap of
    ``heap`` (a Spark size string, MiB when it has no unit), or None
    when the heap is 8 GiB or more, where G1's own region is already
    that large, or when the size does not parse."""
    m = re.fullmatch(r"(\d+)([kmgtp]b?|b)?", heap.strip().lower())
    if m is None:
        return None
    size = int(m.group(1)) * _SIZE_UNITS[(m.group(2) or "m")[0]]
    return _G1_REGION_FLOOR if size < 8 << 30 else None


# The _DEFAULTS entries that results depend on: UTC, so naive parquet
# timestamps read as the instants DuckDB reads and window starts and
# watermarks follow the same clock; nanosAsLong, so a TIMESTAMP(NANOS)
# column reads at all.
_PINNED: tuple[str, ...] = (
    "spark.sql.session.timeZone",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def pin_session_confs(spark: SparkSession) -> None:
    """Pin the session confs the engine's results depend on, on any
    session: the catalog calls this before every read, so a session
    the caller built without :func:`get_spark` (the driver's) reads
    the corpus as the engine's own does.

    - ``spark.sql.session.timeZone`` = UTC and
      ``spark.sql.legacy.parquet.nanosAsLong`` = true, as in
      ``_DEFAULTS``.
    - ``spark.sql.shuffle.partitions`` is right-sized to the core count
      ONLY when it is the untouched default ("200"), so a deliberate
      setting is never overridden (documented tradeoff: a user who
      deliberately sets exactly 200 is indistinguishable from the
      default — SURVEY §8.2 / ADVICE r2). On a local box the stock
      200 is pure task-launch overhead for every non-AQE-coalescible
      exchange (windows, sorts, streaming state — state partition
      counts freeze into checkpoints at first batch); on a real
      cluster the conf is always deliberate or AQE-managed and
      defaultParallelism is cluster-sized, so this is a no-op/safe.

    A key is written only when its value differs, so a session built by
    :func:`get_spark` sees no write at all. This is the ONLY place in
    the engine that writes a session conf after the session is built:
    no operator changes one for the length of a call, so a query
    planned concurrently on the same session never sees a transient
    value."""
    confs = {k: _DEFAULTS[k] for k in _PINNED}
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        confs["spark.sql.shuffle.partitions"] = str(max(2, spark.sparkContext.defaultParallelism))
    for k, v in confs.items():
        if spark.conf.get(k) != v:
            spark.conf.set(k, v)


def shuffle_partitions(spark: SparkSession) -> "int | None":
    """The session's shuffle-partition count, read defensively — the
    engine's one reader of ``spark.sql.shuffle.partitions``.

    Managed platforms surface non-numeric values ("auto" under an
    AQE-managed Databricks conf), so the value is parsed with
    try/int rather than isdigit(): benign '1024 ' / '2048\\n' parse,
    non-ASCII digit codepoints don't. Non-positive values ("0", "-1")
    are rejected too — ``repartition(n <= 0)`` raises. Any value that
    does not parse, or a ``conf.get`` that itself raises, falls back to
    the cluster's ``defaultParallelism``. On a driver without a local
    SparkContext (Spark Connect) that is unreadable as well, and the
    answer is None: the caller keeps its own unscaled plan."""
    try:
        n = int(str(spark.conf.get("spark.sql.shuffle.partitions")).strip())
        if n > 0:
            return n
    except Exception:
        pass
    try:
        return int(spark.sparkContext.defaultParallelism)
    except Exception:
        return None

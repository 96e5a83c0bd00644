"""Table catalog: parquet corpus loader + temp-view registration.

Replaces the reference's global in-memory catalog (``definedb`` parsing
``metadata.txt`` into name→ordinal dicts, reference sqlengine.py:72-90,
and ``populatedb`` slurping whole CSVs into row lists, sqlengine.py:104-117).
Spark's catalog + analyzer take over name resolution; DataFrames stay
lazy/columnar instead of materialized Python lists.

Every table is read here, batch (``load_table``) and stream
(``load_stream``) alike: the schema comes from the parquet footers, not
from a copy declared next to a reader. It is inferred once per session:
Spark's inferred schema is memoized per (session UUID, path), keyed on
a stamp of the path's files and the parquet inference confs, and later
reads use it instead of running one inference job per call. The memo
holds schemas only, never DataFrames, so every call still returns a
relation with fresh expression ids.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from sql_engine_spark.session import pin_session_confs

# The driver-generated synthetic corpus (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# The confs that change the schema Spark infers from parquet footers.
_INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# (session UUID, path) -> ((file stamp, inference confs), inferred
# schema); one entry per (session, path), a new stamp replaces it. This
# is session metadata, not a per-query build artifact:
# dedup.clear_shingle_index does not clear it.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> "tuple[tuple, tuple] | None":
    """((session UUID, path), (file stamp, inference confs)) for a local
    path, or None when there is no memo to use: a non-local scheme
    (``hdfs://``, ``s3a://``), a missing path, or a session without a
    readable UUID. The stamp is the sorted (path, size, mtime_ns, inode)
    of every file under ``path``, so a rewritten table misses."""
    if "://" in path or not os.path.exists(path):
        return None
    try:
        uuid = spark._jsparkSession.sessionUUID()
    except Exception:
        return None
    if os.path.isdir(path):
        files = [os.path.join(d, f) for d, _, names in os.walk(path) for f in names]
    else:
        files = [path]
    stamp = []
    for f in sorted(files):
        st = os.stat(f)
        stamp.append((f, st.st_size, st.st_mtime_ns, st.st_ino))
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return (uuid, path), (tuple(stamp), confs)


def _inferred_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet at ``path``, inferred at
    most once per session and file stamp (the module docstring); a
    memo hit starts no job and builds no relation."""
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path).schema
    entry, version = key
    with _SCHEMAS_LOCK:
        memo = _SCHEMAS.get(entry)
    if memo is not None and memo[0] == version:
        return memo[1]
    schema = spark.read.parquet(path).schema
    with _SCHEMAS_LOCK:
        _SCHEMAS[entry] = (version, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one table.

    Columnar source + Catalyst means column pruning and predicate
    pushdown reach the scan for free (verify with
    ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``) —
    the opposite of the reference, which loads every column of every row
    before any filtering (sqlengine.py:104-117).

    The session confs the results depend on are pinned first
    (``session.pin_session_confs``): a caller's session may lack
    ``nanosAsLong``, without which Spark rejects a TIMESTAMP(NANOS)
    column, or UTC, without which the events ``ts`` would shift away
    from the UTC-reading DuckDB oracle. The first call for a local
    path in a session then infers the schema (one Spark job); later
    calls reuse it and start no job until the result runs, unless the
    path's files or the parquet inference confs changed since (the
    module docstring). Every call returns a new relation, so two
    results of one table self-join.
    """
    pin_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _normalize_nanos_ts(spark.read.schema(_inferred_schema(spark, path)).parquet(path))


def load_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over one table, with the schema and the
    events ``ts`` normalisation of :func:`load_table`.

    A file source cannot infer a schema mid-stream, so the stream is
    read with the table's memoized inferred schema, under the same
    pinned session confs: whichever timestamp type the corpus stores,
    batch and stream see the same columns. A table stored as a
    directory of part files (``<name>.parquet/part-*.parquet``) streams
    that directory, and new part files arriving in it are picked up
    incrementally. A single-file table streams ``sf_dir`` filtered to
    that file name, because a file source needs a directory to list."""
    pin_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.readStream.schema(_inferred_schema(spark, path)).format("parquet")
    if os.path.isdir(path):
        return _normalize_nanos_ts(reader.load(path))
    return _normalize_nanos_ts(reader.option("pathGlobFilter", f"{name}.parquet").load(sf_dir))


def _normalize_nanos_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (LTZ) whatever
    the corpus stored:

    - parquet TIMESTAMP(NANOS): with ``nanosAsLong`` it surfaces as
      long nanos → convert via integer division (``div`` — exact on
      int64; a double division would lose precision above 2^53), the
      same floor-to-µs DuckDB applies.
    - parquet TIMESTAMP(MICROS, no tz): surfaces as TIMESTAMP_NTZ →
      cast to TIMESTAMP. The session time zone is pinned to UTC
      (session.py), so the wall-clock is reinterpreted as the same
      instant DuckDB reads — and downstream instant functions
      (unix_millis, window, watermarks) type-check."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` resolves the
    same names the DuckDB oracle uses (replaces the reference's
    ``dbFramework`` ordinal maps, sqlengine.py:20-23,84-90)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs

"""Streaming document ingest: micro-batch incremental dedup of a
document stream against a static corpus index — the Structured
Streaming face of ``pipeline.incremental_pairs_vs_corpus`` and the
shape a production crawl pipeline actually runs (new shards arrive as
files; each micro-batch is probed against the materialized corpus
index before admission).

Batch-invariance: each new document is probed INDEPENDENTLY against
the static corpus, so the unioned per-batch outputs equal the one-shot
batch computation regardless of how the stream was chopped into
micro-batches (pytest-pinned against ``incremental_jaccard_pairs``).
The per-batch writer is the exactly-once ``__batch_id`` dynamic
partition overwrite of ``windows._write_batch_partition``, so a
replayed batch overwrites itself instead of duplicating pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql_engine_spark.session import rightsize_shuffle_partitions
from sql_engine_spark.streaming.windows import _write_batch_partition

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_PAIRS_SCHEMA = "id_new long, id_old long, jaccard double"


def read_documents_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str = "documents.parquet",
) -> DataFrame:
    """File-source stream over the documents parquet (explicit schema —
    file sources cannot infer mid-stream). ``max_files_per_trigger``
    bounds micro-batch size; tests point this at a multi-file copy of
    the corpus (glob='*.parquet') to force several batches."""
    rightsize_shuffle_partitions(spark)
    reader = (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("pathGlobFilter", glob)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(sf_dir)


def stream_incremental_dedup(
    new_docs_stream: DataFrame,
    corpus_df: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """Run the bounded (AvailableNow) ingest-dedup stream: every
    micro-batch of new documents is probed against the static corpus's
    memoized shingle index; detected (id_new, id_old, jaccard) pairs
    land in a ``__batch_id`` partition (idempotent on replay). Returns
    the unioned pair set as a batch DataFrame.

    At 100 TB the static index is the long-lived persisted artifact
    (built once, shared by every batch and every other near-dup
    operator); per-batch cost is O(batch + matches), independent of
    corpus size — the property that makes continuous ingest dedup
    affordable at all."""
    from sql_engine_spark.operators.pipeline import incremental_pairs_vs_corpus

    spark = new_docs_stream.sparkSession

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        pairs = incremental_pairs_vs_corpus(batch_df, corpus_df, n=n, threshold=threshold)
        _write_batch_partition(pairs, batch_id, out_path)

    q = (
        new_docs_stream.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(probe_batch)
        .start()
    )
    q.awaitTermination()
    # The sink is read back with its declared schema, so no job runs to
    # infer one; an existing directory with no batch files reads as
    # empty. Only a missing path (no batch ever wrote) falls back to an
    # empty frame. The check goes through Spark's own reader, so it is
    # filesystem-agnostic (hdfs://, s3a://, local alike); any OTHER
    # failure (corrupt part, permissions) must SURFACE, not silently
    # report "no duplicates".
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(_PAIRS_SCHEMA).parquet(out_path).select(
            "id_new", "id_old", "jaccard"
        )
    except AnalysisException as e:
        cls = getattr(e, "getErrorClass", lambda: None)() or ""
        if "PATH_NOT_FOUND" in cls:
            return spark.createDataFrame([], _PAIRS_SCHEMA)
        raise

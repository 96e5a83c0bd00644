"""Structured Streaming analytics over the ``events`` table
(SURVEY.md §2.3 Tier X; the reference has no streaming construct at all
— SURVEY.md §2.2 "Not present anywhere").

Pattern: ``readStream`` file source (``catalog.load_stream``) →
event-time watermark → windowed aggregation → sink. Tests and the
driver harness run bounded with ``Trigger.AvailableNow`` + memory
sink, which processes the whole input and (in complete mode) emits
exactly the batch-equivalent result — so the same DuckDB oracle SQL
that checks the batch window aggregation checks the stream. In
production the identical query runs unbounded with
``outputMode("append")``: the watermark bounds state, late events
beyond it are dropped, and finalized windows flush to a parquet/Delta
sink incrementally.

Money aggregates use exact integer cents (see functions/money.py) so
streaming results are deterministic and oracle-matchable.
"""

from __future__ import annotations

import uuid
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_engine_spark.functions.money import cents, from_cents
from sql_engine_spark.session import pin_session_confs


def tumbling_window_agg(
    events: DataFrame, width: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Tumbling event-time windows: count + exact-cents sum of ``value``
    per (window, event_type). Watermark bounds the aggregation state;
    events later than the watermark are dropped (late-data contract)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_cents"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            from_cents(F.col("sum_cents")).alias("sum_value"),
        )
    )


def sliding_window_counts(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def session_window_agg(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. State is per (user, open session) and bounded by the
    watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def static_enrich_agg(
    events: DataFrame,
    dims: DataFrame,
    width: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment: join the event stream to a small
    static dimension (event_type → integer weight) then aggregate into
    tumbling windows. The static side of a stream-static join is
    STATELESS — Spark broadcasts it per micro-batch, so there is no
    join state to watermark and the only stateful operator is the
    window aggregation. The weighted sum is exact: cents(value)·weight
    summed as int64, one final /100 division.

    Scale: the dim broadcast is bytes-sized; the windowed agg shuffles
    on (window, event_type) with map-side partial aggregation.
    """
    joined = events.join(F.broadcast(dims), "event_type")
    return (
        joined.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value") * F.col("weight").cast("long")).alias("w_cents"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            from_cents(F.col("w_cents")).alias("weighted_value"),
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event stream via ``dropDuplicatesWithinWatermark``:
    duplicate event_ids arriving within the watermark horizon are
    dropped with bounded state (the unbounded-state ``dropDuplicates``
    alternative is not 100 TB-safe)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def run_to_batch(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a (bounded) streaming query to completion with
    AvailableNow into a memory sink; return the result as a batch
    DataFrame. Complete mode emits every window — identical to the
    batch computation — which is what the oracle compares.

    State-partition sizing: streaming state tasks are fixed at the
    FIRST micro-batch to ``spark.sql.shuffle.partitions`` (AQE never
    coalesces streaming state), so the count is the session's
    ``spark.sql.shuffle.partitions``. ``session.get_spark`` and
    ``catalog.load_stream`` (through ``pin_session_confs``) already set
    it to the core count, and a deliberate setting (such as
    ``SPARK_GRAFT_SHUFFLE``) overrides that, as ``pin_session_confs``
    promises. The run changes no session conf, so a query planned
    concurrently on the same session is unaffected."""
    spark = stream_df.sparkSession
    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "view",
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: every ``left_type`` event matched to
    the ``right_type`` events of the same user in the trailing
    ``max_lag`` (attribution shape: click ← preceding views).

    Both sides carry a watermark AND the join condition carries the
    two-sided time bound — together they let the state store evict a
    buffered right-side row once the watermark passes ts + max_lag,
    which is what makes the join runnable forever at 100 TB/day: state
    is O(events in the lag horizon), not O(stream). Bounded
    append-mode output equals the batch inequality join, so a plain
    DuckDB interval join is the oracle."""
    left = (
        events.filter(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("__ruser"),
            F.col("ts").alias("view_ts"),
        )
    )
    return left.join(
        right,
        (F.col("user_id") == F.col("__ruser"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {max_lag}")),
        "inner",
    ).select("click_id", "view_id", "user_id", "click_ts", "view_ts")


def _write_batch_partition(batch_df: DataFrame, batch_id: int, path: str) -> None:
    """Write one micro-batch into its own ``__batch_id`` partition of
    the parquet dataset at ``path`` with dynamic partition overwrite,
    so a replayed batch (failure between sink commit and checkpoint
    commit — the at-least-once window every foreachBatch sink has)
    OVERWRITES its own partition instead of appending duplicates. The
    overwrite mode is a per-write option: a static overwrite would wipe
    every earlier batch's partition, and a session-conf toggle would
    leak into every other plan on the session (and would not reach the
    session clone foreachBatch hands the batch to)."""
    (
        batch_df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def stream_late_data_accounting(
    events: DataFrame,
    work_dir: str,
    window_s: int = 600,
    delay_ms: int = 1_800_500,
    late_mod: int = 50,
) -> DataFrame:
    """Watermarked LATE-DATA ACCOUNTING with a deterministic, batch-
    oracle-reconcilable drop set — the one watermark behavior a
    complete-mode bounded run can never exhibit (complete mode retains
    all state, so nothing is ever dropped).

    Replay determinism comes from pinning the arrival order: the
    corpus is split into TWO on-time shards (``event_id % late_mod !=
    0``, halved on ``event_id % 2``) and a late shard (``== 0``),
    staged as three parquet files whose modification times force
    file-source order, and streamed with ``maxFilesPerTrigger=1`` →
    exactly three micro-batches. Three, not two, because the operator
    watermark Spark ≥ 3.5 applies in batch N is the one ADVERTISED at
    the end of batch N−2 — a late shard arriving in batch 1 would be
    filtered against the initial 1970 watermark and nothing would
    drop. So the late batch (batch 2) is filtered/state-dropped with
    the watermark from the end of batch 0, i.e. derived from the
    FIRST on-time shard (even ``event_id``) ONLY:
    ``floor_ms(max even-shard ts) − delay_ms`` (Spark tracks
    event-time stats in floor-to-ms precision — EventTimeWatermarkExec
    divides the µs value by 1000). NOT the global on-time max: an odd
    on-time event can raise the global max without moving batch 2's
    effective watermark at all (pinned in
    ``test_streaming.test_late_watermark_is_first_shard_only``). Late
    rows whose 10-minute window END ≤ that watermark are dropped by
    the state store. ``delay_ms`` deliberately carries a 500 ms
    fraction so the threshold can never tie with a second-aligned
    window boundary — the ≤-vs-< edge is unreachable and the DuckDB
    oracle can replay the arithmetic exactly.

    The dropped count is read from the engine's OWN accounting —
    ``numRowsDroppedByWatermark`` summed over the run's progress
    events, the metric a production pipeline alerts on — and emitted
    as a ``LATE_DROPPED`` sentinel row next to the surviving window
    counts. For a streaming AGGREGATION that metric counts
    post-aggregation rows — one per dropped WINDOW group per batch,
    not one per dropped input event (two late events sharing one
    dropped window count once; pinned in
    ``test_late_dropped_counts_windows_not_events``) — and the oracle
    replays exactly that. Update-mode micro-batch outputs land in idempotent
    ``__batch_id`` partitions (the exactly-once shape of
    :func:`_write_batch_partition`); the final value of each
    window is its row from the LAST batch that updated it
    (``max_by(n_events, __batch_id)`` — cumulative state, so later
    batches supersede earlier ones).

    Output: (bucket, n_events) — one row per surviving window
    (bucket = 'yyyy-MM-dd HH:mm:ss' window start) plus the
    ('LATE_DROPPED', n) accounting row.
    """
    import os as _os
    import time as _time

    spark = events.sparkSession
    pin_session_confs(spark)

    on_time = F.col("event_id") % late_mod != 0
    shards = (
        events.filter(on_time & (F.col("event_id") % 2 == 0)),
        events.filter(on_time & (F.col("event_id") % 2 == 1)),
        events.filter(F.col("event_id") % late_mod == 0),
    )

    in_dir = _os.path.join(work_dir, "in")
    _os.makedirs(in_dir, exist_ok=True)
    now = _time.time()
    for i, shard in enumerate(shards):
        stage = _os.path.join(work_dir, f"stage{i}")
        shard.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(
            f for f in sorted(_os.listdir(stage))
            if f.startswith("part-") and f.endswith(".parquet")
        )
        dest = _os.path.join(in_dir, f"{i:02d}_shard.parquet")
        _os.replace(_os.path.join(stage, part), dest)
        # file-source batch order = modification-time order; pin it
        _os.utime(dest, (now - 300 + i * 100, now - 300 + i * 100))

    stream = (
        spark.readStream.schema(events.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(in_dir)
    )
    agg = (
        stream.withWatermark("ts", f"{delay_ms} milliseconds")
        .groupBy(F.window("ts", f"{window_s} seconds").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n_events",
        )
    )
    out_path = _os.path.join(work_dir, "out")
    out_schema = "bucket string, n_events long"
    q = (
        agg.writeStream.trigger(availableNow=True)
        .outputMode("update")
        .option("checkpointLocation", _os.path.join(work_dir, "ckpt"))
        .foreachBatch(partial(_write_batch_partition, path=out_path))
        .start()
    )
    q.awaitTermination()
    import json as _json

    dropped = 0
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        for op in d.get("stateOperators", []):
            dropped += op.get("numRowsDroppedByWatermark", 0)
    final = (
        spark.read.schema(out_schema).parquet(out_path)
        .groupBy("bucket")
        .agg(F.max_by("n_events", "__batch_id").alias("n_events"))
    )
    sentinel = spark.createDataFrame([("LATE_DROPPED", dropped)], out_schema)
    return final.unionByName(sentinel)

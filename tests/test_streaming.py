"""Structured Streaming tests (SURVEY.md §5.2: bounded AvailableNow
runs + memory sinks for determinism)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_engine_spark.catalog import load_stream, load_table
from sql_engine_spark.functions.money import cents, from_cents
from sql_engine_spark.streaming import windows as SW
from sql_engine_spark.streaming.stateful import sessionize_stream


# The events columns, for the hand-built corpora of the late-data tests.
EVENT_COLUMNS = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir):
    return load_stream(spark, sf_dir, "events")


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_stream_tumbling_equals_batch(spark, sf_dir, events_stream, events_batch):
    """Bounded complete-mode streaming == batch aggregation."""
    got = SW.run_to_batch(SW.tumbling_window_agg(events_stream, width="1 hour"))
    expect = (
        events_batch.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), from_cents(F.sum(cents("value"))).alias("sum_value"))
    )
    g = {tuple(r) for r in got.collect()}
    e = {tuple(r) for r in expect.collect()}
    assert g == e


def test_stream_sliding_window_counts(spark, events_stream, events_batch):
    """Each event lands in exactly width/slide sliding windows."""
    got = SW.run_to_batch(SW.sliding_window_counts(events_stream, width="1 hour", slide="30 minutes"))
    total = sum(r.n_events for r in got.collect())
    assert total == 2 * events_batch.count()


def test_stream_session_window(spark, events_stream):
    got = SW.run_to_batch(SW.session_window_agg(events_stream, gap="30 minutes"))
    assert got.count() > 0
    assert set(got.columns) == {"session_start", "user_id", "n_events"}


def test_streaming_dedup(spark, events_stream, events_batch):
    """dropDuplicatesWithinWatermark on a dup-free stream is lossless;
    row-level payload survives."""
    out = SW.run_to_batch(SW.streaming_dedup(events_stream), output_mode="append")
    assert out.count() == events_batch.count()


def test_stateful_sessionize_matches_batch_closed_sessions(spark, sf_dir, events_stream, events_batch):
    """applyInPandasWithState sessionization: the bounded run emits
    every gap-closed session, PLUS final sessions whose event-time
    timeout (session_end + 30min gap) fell behind the final watermark
    (max_ts − 1h). Only final sessions still inside the watermark
    horizon stay open in state. Reconstruct that exact expectation from
    the batch window-function sessionization."""
    got = SW.run_to_batch(sessionize_stream(events_stream), output_mode="append")

    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    win = w.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    sess = (
        events_batch.withColumn("ms", ms)
        .withColumn(
            "new_s",
            F.when(F.lag("ms").over(win).isNull() | ((F.col("ms") - F.lag("ms").over(win)) > 1800000), 1).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(win.rowsBetween(w.unboundedPreceding, w.currentRow)))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ms").alias("end_ms"),
            F.count(F.lit(1)).alias("n_events"),
            # the operator's exact fold: floor(v*100 + 0.5), NOT
            # cents()'s HALF_UP round — identical for non-negative
            # values but divergent on negative exact-.5 ties, so the
            # parity expectation must mirror the operator bit-for-bit
            from_cents(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))).alias(
                "sum_value"
            ),
        )
    )
    max_ms = events_batch.agg(F.max(F.unix_millis("ts"))).first()[0]
    watermark_ms = max_ms - 3600_000
    last = sess.groupBy("user_id").agg(F.max("sid").alias("last_sid"))
    expected = (
        sess.join(last, "user_id")
        .filter((F.col("sid") < F.col("last_sid")) | (F.col("end_ms") + 1800000 < watermark_ms))
        .select("user_id", "session_start", "n_events", "sum_value")
    )
    g = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S"), r.n_events, round(r.sum_value, 2))
        for r in got.collect()
    }
    e = {
        (r.user_id, r.session_start.strftime("%Y-%m-%d %H:%M:%S"), r.n_events, round(r.sum_value, 2))
        for r in expected.collect()
    }
    assert g == e


def test_late_data_dropped_beyond_watermark(spark, tmp_path):
    """Watermark contract: with a 10-minute watermark and append mode,
    an event arriving hours late (two micro-batches behind) lands in a
    window that was already finalized → dropped from the result.

    Spark filters late rows against the watermark of the *previous*
    micro-batch (watermarkForLateRows lags watermarkForEviction by one
    batch), so the drop is observable only from the second batch after
    the watermark-advancing data — hence three single-file batches."""
    import time as _time

    import pandas as pd

    d = tmp_path / "stream_in"
    d.mkdir()

    def mk(ids, tss):
        n = len(ids)
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(tss),
                "user_id": [1] * n,
                "event_type": ["click"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        )

    # Distinct mtimes → file-source batch order a, b, c.
    mk([1, 2], ["2024-01-01 00:01:00", "2024-01-01 02:00:00"]).to_parquet(
        d / "a.parquet", coerce_timestamps="us"
    )
    _time.sleep(1.1)
    mk([3], ["2024-01-01 02:30:00"]).to_parquet(d / "b.parquet", coerce_timestamps="us")
    _time.sleep(1.1)
    mk([4], ["2024-01-01 00:02:00"]).to_parquet(d / "c.parquet", coerce_timestamps="us")

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = "late_data_test"
    q = (
        stream.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.awaitTermination()
    # Batch a sets max ts 02:00 → watermark 01:50 finalizes the 00:00
    # window with n=1. Batch c's 00:02 event is behind the 02:20
    # late-rows watermark → dropped: n stays 1 (not 2), and only
    # finalized windows are emitted.
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1
    rows = {(r.win.start.isoformat(), r.n) for r in spark.table(name).collect()}
    assert rows == {("2024-01-01T00:00:00", 1), ("2024-01-01T02:00:00", 1)}, rows


def test_stream_to_parquet_sink(spark, sf_dir, events_batch, tmp_path):
    """End-to-end incremental ETL shape: readStream → projection →
    parquet sink with checkpoint. The bounded run must land exactly the
    batch row count, and the checkpoint makes a re-run a no-op (no
    double-writes) — the exactly-once file-sink contract."""
    from sql_engine_spark.streaming import windows as SW

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run() -> None:
        q = (
            load_stream(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    n = events_batch.count()
    assert spark.read.parquet(out).count() == n
    run()  # same checkpoint, no new input → nothing appended
    assert spark.read.parquet(out).count() == n


def test_foreach_batch_sink_exactly_once(spark, sf_dir, tmp_path):
    """The foreachBatch parquet sink must be IDEMPOTENT per batch id
    (replayed batch overwrites its own partition, no duplicates) and a
    checkpointed restart with no new data must add no rows."""
    from sql_engine_spark.streaming import windows as SW

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = load_stream(spark, sf_dir, "events")
    agg = SW.tumbling_window_agg(stream, width="1 hour")
    SW.stream_to_parquet_exactly_once(agg, out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    # Restart from the same checkpoint, no new input → no new rows.
    SW.stream_to_parquet_exactly_once(agg, out, ckpt)
    assert spark.read.parquet(out).count() == n1
    # Simulate a replayed batch: rewriting batch 0's output directly
    # must leave the row count unchanged (partition overwrite, not append).
    batch0 = spark.read.parquet(out).filter("__batch_id = 0").drop("__batch_id")
    from pyspark.sql import functions as F

    (
        batch0.withColumn("__batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(out)
    )
    assert spark.read.parquet(out).count() == n1


def test_late_accounting_sentinel_matches_threshold(spark, tmp_path):
    """s09 semantics pinned on a hand-built corpus: the late shard
    arrives in batch 3 (two on-time shards first — Spark >= 3.5
    filters late events with the watermark advertised BEFORE the
    previous batch, so a 2-batch run drops nothing), and the
    LATE_DROPPED sentinel must equal the replayed arithmetic:
    window_end <= floor_ms(max on-time ts) - 1800500 ms."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # on-time: ids 1..98 sans multiples of 50, one per minute
    for i in range(1, 99):
        if i % 50 != 0:
            rows.append((i, base + dt.timedelta(minutes=i), 1, "view", 1.0, "{}"))
    # late id 50 at +5 min: window [0,10) ends 00:10 <= watermark
    # (max on-time = +98 min, watermark ~= +67.99 min) -> DROPPED
    rows.append((50, base + dt.timedelta(minutes=5), 1, "view", 1.0, "{}"))
    # late id 100 at +66 min: window [60,70) ends +70 > watermark -> KEPT
    rows.append((100, base + dt.timedelta(minutes=66), 1, "view", 1.0, "{}"))
    df = spark.createDataFrame(rows, EVENT_COLUMNS)
    out = SW.stream_late_data_accounting(df, str(tmp_path / "s09"))
    got = {r.bucket: r.n_events for r in out.collect()}
    assert got.pop("LATE_DROPPED") == 1
    # the kept late event landed in its window alongside on-time rows
    # (+60..+69 min on-time events are ids 60..69 minus id 50's miss:
    # ten on-time rows, plus late id 100)
    assert got["2024-01-01 01:00:00"] == 11
    # every on-time row survived
    assert sum(got.values()) == len(rows) - 1


def test_late_watermark_is_first_shard_only(spark, tmp_path):
    """The drop threshold for the late batch is the watermark
    advertised at the end of batch 0 — max ts of the EVEN-id on-time
    shard — NOT the global on-time max: an odd on-time event far in
    the future must not move it. Here the global max (+200 min) would
    put the late event's window [90,100) far below watermark, but the
    even-shard max (+98 min) leaves it above — the event must be KEPT
    and LATE_DROPPED must be 0. (This is the semantics the s09 oracle
    replays; an oracle computing the watermark from all on-time
    events diverges on exactly this corpus.)"""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(1, 99):
        if i % 50 != 0:
            rows.append((i, base + dt.timedelta(minutes=i), 1, "view", 1.0, "{}"))
    # odd on-time outlier far ahead: raises the GLOBAL max only
    rows.append((99, base + dt.timedelta(minutes=200), 1, "view", 1.0, "{}"))
    # late event at +95 min: window [90,100) end +100 min; even-shard
    # watermark = +98 min - 30.008 min < +100 -> kept
    rows.append((150, base + dt.timedelta(minutes=95), 1, "view", 1.0, "{}"))
    df = spark.createDataFrame(rows, EVENT_COLUMNS)
    out = SW.stream_late_data_accounting(df, str(tmp_path / "s09a"))
    got = {r.bucket: r.n_events for r in out.collect()}
    assert got.pop("LATE_DROPPED") == 0
    # window [90,100): on-time ids 90..98 (9 rows) + the kept late one
    assert got["2024-01-01 01:30:00"] == 10
    assert sum(got.values()) == len(rows)


def test_late_dropped_counts_windows_not_events(spark, tmp_path):
    """numRowsDroppedByWatermark counts post-aggregation rows — one
    per dropped WINDOW group, not per dropped input event: two late
    events sharing one below-watermark window must yield
    LATE_DROPPED == 1 (and the oracle's COUNT(DISTINCT window)
    replays that)."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(1, 99):
        if i % 50 != 0:
            rows.append((i, base + dt.timedelta(minutes=i), 1, "view", 1.0, "{}"))
    # two late events in the SAME [0,10) window, end +10 min far below
    # the ~+68 min watermark -> one dropped window group
    rows.append((50, base + dt.timedelta(minutes=5), 1, "view", 1.0, "{}"))
    rows.append((100, base + dt.timedelta(minutes=6), 1, "view", 1.0, "{}"))
    df = spark.createDataFrame(rows, EVENT_COLUMNS)
    out = SW.stream_late_data_accounting(df, str(tmp_path / "s09b"))
    got = {r.bucket: r.n_events for r in out.collect()}
    assert got.pop("LATE_DROPPED") == 1
    assert sum(got.values()) == len(rows) - 2


def test_s02_cents_tie_rule_pinned():
    """ADVICE r6: the operator's cents fold and the s02 DuckDB replay
    oracle must share ONE rounding tie rule. Python round() is
    half-to-even while DuckDB round() is half-away-from-zero, so values
    whose v*100 is an exact binary .5 (0.125, 2.375) diverged by 1 cent
    — latent, data-dependent. Both sides now use floor(v*100 + 0.5);
    pin the source text of each AND that the folds agree numerically on
    the adversarial values where the old pair genuinely split."""
    import inspect
    import math

    import duckdb

    from sql_engine_spark.matrix import ORACLE
    from sql_engine_spark.streaming import stateful

    assert "math.floor(value * 100 + 0.5)" in inspect.getsource(stateful)
    assert "floor(value * 100 + 0.5)" in ORACLE["s02_stream_sessionize"]

    # each v*100 is an exact binary .5 whose floor is EVEN, so Python's
    # half-even round goes down while floor(+0.5) goes up — the
    # genuinely divergent class (odd-floor ties agree by accident)
    vals = [0.125, 0.625, 4.625, 7.125, 20.125]
    got_sql = duckdb.sql(
        "SELECT " + ", ".join(f"CAST(floor({v!r}*100 + 0.5) AS BIGINT)" for v in vals)
    ).fetchone()
    got_py = tuple(int(math.floor(v * 100 + 0.5)) for v in vals)
    assert got_sql == got_py
    # the values are genuinely adversarial: Python's half-even round
    # disagrees on every one (i.e. this test would catch a revert)
    assert all(int(round(v * 100)) != g for v, g in zip(vals, got_py))


def _event_reads(spark, sf_dir):
    """The events table read three ways, each as a sorted list of rows:
    the batch rows (``ts`` as epoch µs and as a session-zone string),
    an s04-shaped ``streaming_dedup`` run and a tumbling-window run,
    both over ``load_stream``."""

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    batch = load_table(spark, sf_dir, "events")
    dedup = SW.run_to_batch(
        SW.streaming_dedup(load_stream(spark, sf_dir, "events")), output_mode="append"
    )
    tumbling = SW.run_to_batch(
        SW.tumbling_window_agg(load_stream(spark, sf_dir, "events"), width="1 hour")
    )
    return (
        rows(
            batch.select(
                "event_id", "user_id", "event_type", "value", "props",
                F.unix_micros("ts"), F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            )
        ),
        rows(
            dedup.select(
                "event_id", "user_id", "event_type", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
            )
        ),
        rows(tumbling),
    )


@pytest.mark.parametrize("session", ["engine", "unpinned"])
def test_nanos_corpus_reads_as_micros(spark, sf_dir, tmp_path, session):
    """An events file that stores ``ts`` as TIMESTAMP(NANOS) reads,
    batch and stream, exactly as the µs corpus does. ``unpinned`` runs
    on a new session whose time zone is not UTC and whose
    ``nanosAsLong`` is off, so the rows only match if the catalog pins
    both before it reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{sf_dir}/events.parquet")
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6")
    assert str(pq.ParquetFile(str(tmp_path / "events.parquet")).schema_arrow.field("ts").type) == (
        "timestamp[ns]"
    )

    expect = _event_reads(spark, sf_dir)
    reader = spark
    if session == "unpinned":
        reader = spark.newSession()
        reader.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        reader.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    got = _event_reads(reader, str(tmp_path))
    for want, have in zip(expect, got):
        assert len(want) > 0
        assert have == want
    assert reader.conf.get("spark.sql.session.timeZone") == "UTC"

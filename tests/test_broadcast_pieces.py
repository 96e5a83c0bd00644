"""Broadcast pieces sized under the G1 humongous threshold, and a
broadcast join large enough to span many pieces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _vm_option(spark, name: str) -> str:
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


def _block_bytes(spark) -> int:
    # Spark reads the piece size in KiB when the value carries no unit.
    return spark.sparkContext._jsc.sc().conf().getSizeAsKb("spark.broadcast.blockSize", "4m") * 1024


def test_broadcast_piece_is_not_humongous(spark):
    """A broadcast piece is one byte array of ``spark.broadcast.blockSize``
    (plus a 16-byte array header), allocated up front for every
    broadcast. G1 places an object larger than half a region in whole
    regions of its own, so the piece must stay at or under half of the
    live JVM's region size, whatever the heap size made it."""
    if _vm_option(spark, "UseG1GC") != "true":
        pytest.skip("the humongous threshold is a G1 rule")
    region = int(_vm_option(spark, "G1HeapRegionSize"))
    assert _block_bytes(spark) + 16 <= region // 2, (_block_bytes(spark), region)


def test_multi_piece_broadcast_join_matches_shuffle_hash(spark):
    """A broadcast join whose build side is over 2 MiB of sha2 hex
    digests, so its serialised relation spans several pieces even
    compressed, returns the same rows as the same join pinned
    shuffle-hash. On a cluster every executor reassembles those pieces;
    in local mode tasks read the driver's copy, so this pins the rows
    and the plan, not the fetch."""
    assert _block_bytes(spark) < 1024 * 1024
    build = spark.range(40_000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("h")
    )
    probe = spark.range(0, 80_000, 3).select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))

    def rows(hint):
        df = probe.join(build.hint(hint), "k")
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan, sorted(df.collect())

    bplan, brows = rows("broadcast")
    splan, srows = rows("shuffle_hash")
    assert "BroadcastHashJoin" in bplan and "ShuffledHashJoin" in splan
    assert len(brows) == len(range(0, 40_000, 3))
    assert brows == srows

"""Broadcast pieces sized under the G1 humongous threshold, a broadcast
join large enough to span many pieces, and the G1 region floor that
keeps Spark's 1 MiB task-result chunk out of humongous regions on a
small driver heap."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from sql_engine_spark.session import _g1_region_floor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


@pytest.mark.parametrize(
    "heap, option",
    [(h, "-XX:G1HeapRegionSize=4m") for h in ("512m", "1g", "2048", " 2G ", "7g", "8191m")]
    + [(h, None) for h in ("8g", "8192m", "16g", "1t")],
)
def test_g1_region_floor_below_8g_only(heap, option):
    """Heaps under 8 GiB (a unitless size is MiB, as Spark reads it) get
    the 4 MiB region floor; from 8 GiB up G1's own region is already 4
    MiB or more and is left alone."""
    assert _g1_region_floor(heap) == option


_REGION_PROBE = """
from sql_engine_spark.session import get_spark
spark = get_spark(master="local[1]", extra_conf={"spark.ui.enabled": "false"})
jvm = spark.sparkContext._jvm
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
print("G1", bean.getVMOption("UseG1GC").getValue(), bean.getVMOption("G1HeapRegionSize").getValue())
spark.stop()
"""


def test_task_result_chunk_is_not_humongous_on_a_small_heap():
    """Spark serialises each task result into a chunked buffer whose
    first chunk is a 1 MiB array (plus a 16-byte header). A new driver
    JVM built by get_spark with a 1 GiB heap, where G1 would pick 1 MiB
    regions, must have regions large enough that the chunk is under half
    of one, so it is not a humongous object."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", _REGION_PROBE],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    _, g1, region = next(line for line in out.splitlines() if line.startswith("G1 ")).split()
    if g1 != "true":
        pytest.skip("the humongous threshold is a G1 rule")
    assert (1 << 20) + 16 < int(region) // 2, region

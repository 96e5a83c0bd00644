"""catalog.load_table infers each table's schema once per session and
file stamp, and still returns a fresh relation per call."""

from __future__ import annotations

import uuid

from sql_engine_spark.catalog import load_table


def _load_counting_jobs(spark, sf_dir: str, name: str):
    """``load_table(spark, sf_dir, name)`` and the number of Spark jobs
    the call itself started (its own job group)."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_reuses_the_schema(spark, tmp_path):
    spark.range(5).selectExpr("id", "cast(id * 2 as string) AS s").write.parquet(
        str(tmp_path / "t.parquet")
    )
    first, first_jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    second, second_jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())
    # Fresh expression ids per call: two results of one table self-join.
    a, b = first.alias("a"), second.alias("b")
    assert a.join(b, a["id"] == b["id"]).count() == 5


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    spark.range(3).selectExpr("id", "id + 1 AS extra").write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert sorted(df.collect()) == [(0, 1), (1, 2), (2, 3)]


def test_new_session_infers_once_for_itself(spark, tmp_path):
    spark.range(4).write.parquet(str(tmp_path / "t.parquet"))
    _, jobs = _load_counting_jobs(spark, str(tmp_path), "t")
    assert jobs >= 1
    other = spark.newSession()
    _, first_jobs = _load_counting_jobs(other, str(tmp_path), "t")
    _, second_jobs = _load_counting_jobs(other, str(tmp_path), "t")
    assert first_jobs >= 1
    assert second_jobs == 0

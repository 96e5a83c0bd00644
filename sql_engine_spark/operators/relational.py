"""Relational operators Spark has no single call for (SURVEY.md §2.1).

- :func:`salted_aggregate`: skew-safe two-phase grouped sum and count.
- :func:`stratified_sample_exact`: deterministic exact-fraction
  stratified sample.

The reference's own operators (scan, product, filter, project,
DISTINCT, aggregates, reference sqlengine.py:384-410) are plain
DataFrame or Spark SQL calls; the matrix entries in ``matrix/core.py``
make them directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    cents_col: Column,
    salt_col: Column,
    n_salts: int = 16,
    sum_alias: str = "sum_c",
    count_alias: str = "n_rows",
) -> DataFrame:
    """Two-phase skew-safe aggregation: a deterministic salt spreads one
    hot group key over ``n_salts`` reducers for the wide partial
    aggregation; the narrow final pass (n_salts rows per key) restores
    exact totals. Because partials are integer sums, the result is
    bit-identical to the unsalted aggregation — this operator exists so
    a single pathological key (the classic 100 TB skew killer) cannot
    stall one reducer. AQE's skew handling covers joins; aggregation
    skew needs this explicit shape.

    ``salt_col`` must be deterministic (e.g. pmod(xxhash64(row id), n))
    so retried tasks reproduce identical partials.
    """
    partial = (
        df.withColumn("__salt", F.pmod(salt_col, F.lit(n_salts)))
        .groupBy(*keys, "__salt")
        .agg(F.sum(cents_col).alias("__s"), F.count(F.lit(1)).alias("__n"))
    )
    return partial.groupBy(*keys).agg(
        F.sum("__s").alias(sum_alias), F.sum("__n").cast("long").alias(count_alias)
    )


def stratified_sample_exact(
    df: DataFrame, strata: list[str], order_by: str, fraction: float
) -> DataFrame:
    """Deterministic exact-fraction stratified sampling: keep the first
    ``ceil(n_g * fraction)`` rows of each stratum in ``order_by`` order.
    Unlike ``sampleBy`` (Bernoulli per row — nondeterministic across
    engines and only approximate per group), this is reproducible and
    hits the target count exactly, so a training-data pipeline can
    re-derive the identical sample from the identical snapshot.

    One shuffle on the strata keys serves both the per-group count and
    the row_number ranking (same window partitioning). At 100 TB the
    caveat is a giant stratum serializing through one reducer's sort —
    acceptable for lang/source-sized strata; for pathological strata,
    pre-aggregate counts and filter on a salted rank instead.

    The cap is computed in exact INTEGER arithmetic: ``fraction`` is
    scaled to a ratio num/10⁶ and ``ceil(n·num/10⁶)`` evaluated as
    ``floor((n·num + 10⁶−1)/10⁶)`` — a double multiply can land an ulp
    above the true product (0.1·45 → 4.500000000000001) and ceil one
    row too many, diverging from a DECIMAL-exact oracle.
    """
    num = round(fraction * 1_000_000)
    w = Window.partitionBy(*strata)
    ranked = df.withColumn("__rn", F.row_number().over(w.orderBy(order_by))).withColumn(
        "__n", F.count(F.lit(1)).over(w)
    )
    cap = F.floor((F.col("__n") * num + (1_000_000 - 1)) / F.lit(1_000_000))
    return ranked.filter(F.col("__rn") <= cap).drop("__rn", "__n")

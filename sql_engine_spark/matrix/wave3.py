"""Round-2 wave 3: grammar tier g45–g49 (recursive CTE, FULL OUTER,
quantified ALL/ANY, SEMI/ANTI join text, GROUPING/GROUPING_ID) plus
curation x41/x42 (deterministic mixture sampling, corpus length
histogram) and streaming s07 (stream-static enrichment).

Same exactness rules as core/ext/pipe: integer-exact arithmetic with
one final double division, counts BIGINT on both engines, identical
aliases. Grammar entries run genuine Spark SQL text (Catalyst parses
WITH RECURSIVE / FULL OUTER / LEFT SEMI / LEFT ANTI / GROUPING
natively); only the quantified-comparison entry is a documented
DataFrame rewrite because Spark's parser has no `> ALL (subquery)`
production (the oracle keeps the literal syntax).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_spark.catalog import load_stream, load_table
from sql_engine_spark.matrix import query
from sql_engine_spark.operators import pipeline as P

# ---------------------------------------------------------------------
# Grammar wave 3
# ---------------------------------------------------------------------

_G45_SPARK = """
WITH RECURSIVE cal(d) AS (
  SELECT DATE'1995-01-01'
  UNION ALL SELECT d + INTERVAL '1' MONTH FROM cal WHERE d < DATE'2001-08-01'
),
rev AS (
  SELECT date_format(o_orderdate, 'yyyy-MM') AS mo,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS cents
  FROM {orders} GROUP BY 1
)
SELECT date_format(cal.d, 'yyyy-MM') AS mo,
       CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(COALESCE(rev.cents, 0) AS DOUBLE)/100.0 AS total_price
FROM cal LEFT JOIN rev ON date_format(cal.d, 'yyyy-MM') = rev.mo
"""


@query(
    "g45_recursive_cte",
    oracle="""
    WITH RECURSIVE cal(d) AS (
      SELECT DATE'1995-01-01'
      UNION ALL SELECT d + INTERVAL 1 MONTH FROM cal WHERE d < DATE'2001-08-01'
    ),
    rev AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS mo,
             COUNT(*) AS n_orders,
             SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    )
    SELECT strftime(cal.d, '%Y-%m') AS mo,
           CAST(COALESCE(rev.n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(rev.cents, 0) AS DOUBLE)/100.0 AS total_price
    FROM cal LEFT JOIN rev ON strftime(cal.d, '%Y-%m') = rev.mo
    """,
)
def g45_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE as genuine Spark SQL text (Spark 4 recursion
    operator, 80 iterations < the 100-level default): calendar-month
    gap fill — generate every month 1995-01..2001-08 and LEFT JOIN the
    exact-cents monthly order revenue, so gap months surface as
    explicit zero rows. The recursion produces 80 rows on the driver
    side of the plan; the heavy side stays a one-shuffle aggregate."""
    return spark.sql(_G45_SPARK, orders=load_table(spark, sf_dir, "orders"))


_G46_SPARK = """
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM {customer}
  WHERE c_acctbal > 7500 GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM {supplier}
  WHERE s_acctbal > 7500 GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nationkey,
       CAST(COALESCE(c.n_cust, 0) AS BIGINT) AS n_cust,
       CAST(COALESCE(s.n_supp, 0) AS BIGINT) AS n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
"""


@query(
    "g46_full_outer",
    oracle=_G46_SPARK.replace("{customer}", "customer").replace("{supplier}", "supplier"),
)
def g46_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN in Spark SQL text: high-balance customer counts
    vs supplier counts per nation — the small supplier table genuinely
    leaves null sides at low SF. Both inputs pre-aggregate before the
    join (25-row sides), so the outer join itself is trivially
    broadcastable at any scale."""
    return spark.sql(
        _G46_SPARK,
        customer=load_table(spark, sf_dir, "customer"),
        supplier=load_table(spark, sf_dir, "supplier"),
    )


@query(
    "g47_quantified_all",
    oracle="""
    SELECT p_partkey, p_size, p_retailprice FROM part
    WHERE p_retailprice > ALL (SELECT p_retailprice FROM part WHERE p_brand = 'Brand#11')
      AND p_size = ANY (SELECT p_size FROM part WHERE p_brand = 'Brand#22')
    """,
)
def g47_quantified_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons `> ALL` / `= ANY`. Spark's parser has no
    quantified-subquery production, so this is the standard rewrite —
    `> ALL (S)` ⇒ `max(S) IS NULL OR x > max(S)` (exact because the
    subquery column is non-null; empty S ⇒ vacuous truth) and
    `= ANY (S)` ⇒ left-semi join — while the oracle runs the literal
    ALL/ANY syntax. Both subquery sides collapse to scalars/tiny sets
    → broadcast, no extra shuffle on the big side."""
    part = load_table(spark, sf_dir, "part")
    mx = part.where(F.col("p_brand") == "Brand#11").agg(
        F.max("p_retailprice").alias("__mx")
    )
    sizes = part.where(F.col("p_brand") == "Brand#22").select("p_size").distinct()
    return (
        part.crossJoin(F.broadcast(mx))
        .where(F.col("__mx").isNull() | (F.col("p_retailprice") > F.col("__mx")))
        .join(F.broadcast(sizes), "p_size", "left_semi")
        .select("p_partkey", "p_size", "p_retailprice")
    )


_G48_SPARK = """
SELECT c_nationkey AS nationkey, 'active' AS status, COUNT(*) AS n
FROM (SELECT c.c_nationkey FROM {customer} c LEFT SEMI JOIN {orders} o ON c.c_custkey = o.o_custkey)
GROUP BY c_nationkey
UNION ALL
SELECT c_nationkey, 'inactive', COUNT(*)
FROM (SELECT c.c_nationkey FROM {customer} c LEFT ANTI JOIN {orders} o ON c.c_custkey = o.o_custkey)
GROUP BY c_nationkey
"""


@query(
    "g48_semi_anti_join",
    oracle="""
    SELECT c_nationkey AS nationkey, 'active' AS status, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT c.c_nationkey FROM customer c SEMI JOIN orders o ON c.c_custkey = o.o_custkey)
    GROUP BY c_nationkey
    UNION ALL
    SELECT c_nationkey, 'inactive', CAST(COUNT(*) AS BIGINT)
    FROM (SELECT c.c_nationkey FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey)
    GROUP BY c_nationkey
    """,
)
def g48_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit LEFT SEMI / LEFT ANTI JOIN syntax in Spark SQL text
    (DuckDB spells them SEMI/ANTI): customers with ≥1 order vs none,
    counted per nation. Semi/anti joins never duplicate the left side,
    so no post-join distinct is needed — at scale this is the shape
    that replaces EXISTS/NOT IN without the null-aware trap."""
    out = spark.sql(
        _G48_SPARK,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )
    return out.withColumn("n", F.col("n").cast("long"))


_G49_SPARK = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
       CAST(grouping_id() AS BIGINT) AS gid,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_price
FROM {orders}
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


@query(
    "g49_grouping_id",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           CAST(2*GROUPING(o_orderstatus) + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def g49_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/GROUPING_ID() over CUBE in Spark SQL text — the
    flags that let a consumer tell a real NULL group from a rollup
    total. The oracle reconstructs Spark's bitmask as
    2·g(status)+g(priority) (first CUBE column = MSB in both)."""
    return spark.sql(_G49_SPARK, orders=load_table(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------
# Curation wave 3
# ---------------------------------------------------------------------

# Target mixture: parts-per-million keep rates per source domain.
# Chosen non-uniform so the test actually exercises different rates
# (src0 dropped entirely, src1 kept whole, the rest in between).
MIX_WEIGHTS_PPM: dict[str, int] = {
    "src0": 0,
    "src1": 1_000_000,
    "src2": 750_000,
    "src3": 500_000,
    "src4": 250_000,
    "src5": 125_000,
    # src6..src19 default to 0 (dropped) — mixture construction is
    # also *selection*; absent domains are excluded by design.
    "src10": 500_000,
    "src15": 250_000,
}


def _mix_case_sql() -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {w}" for s, w in MIX_WEIGHTS_PPM.items()
    )
    return f"CASE {arms} ELSE 0 END"


@query(
    "x41_domain_mix",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, source FROM documents
      WHERE (((doc_id % 1048576) * {P.MIX_HASH_K}) % 1048576) * CAST(1000000 AS BIGINT)
            < ({_mix_case_sql()}) * CAST(1048576 AS BIGINT)
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM kept GROUP BY source
    """,
)
def x41_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-weighted mixture sampling
    (operators/pipeline.weighted_mix): keep each domain at its target
    ppm rate via the integer hash (doc_id·K mod 2²⁰) — no RNG, no
    floats, bit-identical across engines and partitionings. The oracle
    replays the same arithmetic; id_sum pins the exact kept SET, not
    just its size."""
    docs = load_table(spark, sf_dir, "documents")
    kept = P.weighted_mix(docs, MIX_WEIGHTS_PPM)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "x42_length_histogram",
    oracle="""
    WITH b AS (
      SELECT source,
             CASE WHEN len(string_split(text, ' ')) >= 96 THEN 96
                  WHEN len(string_split(text, ' ')) >= 64 THEN 64
                  WHEN len(string_split(text, ' ')) >= 48 THEN 48
                  WHEN len(string_split(text, ' ')) >= 32 THEN 32
                  WHEN len(string_split(text, ' ')) >= 16 THEN 16
                  ELSE 0 END AS bucket_lo
      FROM documents
    ),
    agg AS (SELECT source, CAST(bucket_lo AS BIGINT) AS bucket_lo,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM b GROUP BY 1, 2)
    SELECT source, bucket_lo, n_docs,
           CAST(n_docs AS DOUBLE) / CAST(SUM(n_docs) OVER (PARTITION BY source) AS DOUBLE) AS share
    FROM agg
    """,
)
def x42_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length histogram
    (operators/pipeline.length_histogram): CASE-chain bucketing (no
    libm), one (source,bucket) shuffle, share as the single final
    double division over a window on the already-tiny aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return P.length_histogram(docs)


# ---------------------------------------------------------------------
# Streaming wave 3
# ---------------------------------------------------------------------

# Static enrichment dim: event_type → integer weight. Mirrored
# literally in the s07 oracle's VALUES list.
EVENT_WEIGHTS: list[tuple[str, int]] = [
    ("click", 3),
    ("view", 1),
    ("purchase", 10),
    ("signup", 5),
    ("error", 0),
]


@query(
    "s07_stream_static_enrich",
    oracle="""
    SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT) * w) AS DOUBLE)/100.0 AS weighted_value
    FROM events JOIN (VALUES ('click', 3), ('view', 1), ('purchase', 10),
                             ('signup', 5), ('error', 0)) d(event_type, w)
      USING (event_type)
    GROUP BY 1, 2
    """,
)
def s07_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming stream-static join (streaming/windows
    .static_enrich_agg): the event stream joins a broadcast static dim
    (stateless — re-broadcast per micro-batch, no join state), then a
    watermarked tumbling window aggregates the weighted exact-cents
    sum. Complete-mode bounded output equals the batch join+agg the
    oracle runs."""
    from sql_engine_spark.streaming import windows as SW

    stream = load_stream(spark, sf_dir, "events")
    dims = spark.createDataFrame(EVENT_WEIGHTS, "event_type string, weight int")
    return SW.run_to_batch(
        SW.static_enrich_agg(stream, dims, width="1 hour"), output_mode="complete"
    )


# ---------------------------------------------------------------------
# Curation wave 3b: LM-based quality, leakage reporting, splits
# ---------------------------------------------------------------------


@query(
    "x43_bigram_rarity",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS b FROM tok),
    counts AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY b),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
    per AS (
      SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(n.n // counts.c) AS BIGINT) AS sum_inv
      FROM bg JOIN counts USING (b) CROSS JOIN n GROUP BY bg.doc_id
    )
    SELECT doc_id, n_bigrams, sum_inv,
           CASE WHEN n_bigrams > 0
                THEN CAST(sum_inv AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                ELSE 0.0 END AS rarity
    FROM per
    """,
)
def x43_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram-LM rarity scoring (operators/pipeline
    .bigram_lm_score) — the perplexity-filter shape without a neural
    LM. Surprisal proxy is integer (N DIV count), so the per-doc sum
    is order-independent; rarity is the one final double division."""
    docs = load_table(spark, sf_dir, "documents")
    return P.bigram_lm_score(docs)


def _x44_oracle() -> str:
    from sql_engine_spark.matrix.ext import _JACCARD_PAIRS_CTE

    return f"""
    WITH {_JACCARD_PAIRS_CTE},
    p AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.8)
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p JOIN documents da ON da.doc_id = p.id_a
           JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2
    """


@query("x44_cross_source_dups", oracle=_x44_oracle())
def x44_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate-leakage matrix (operators/pipeline
    .cross_source_dup_matrix): near-dup pairs per unordered (source,
    source) combination — which domains plagiarize which. Consumes
    the MEMOIZED pair graph (dedup.ngram_jaccard_pairs), so after any
    Jaccard dedup in the session the marginal cost is two id→source
    joins of a tiny pair set."""
    from sql_engine_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    return P.cross_source_dup_matrix(docs, pairs)


@query(
    "x45_split_assignment",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CASE WHEN (((doc_id % 1048576) * {P.SPLIT_HASH_K}) % 1048576) * CAST(1000000 AS BIGINT)
                       < CAST(10000 AS BIGINT) * 1048576 THEN 'test'
                  WHEN (((doc_id % 1048576) * {P.SPLIT_HASH_K}) % 1048576) * CAST(1000000 AS BIGINT)
                       < CAST(20000 AS BIGINT) * 1048576 THEN 'val'
                  ELSE 'train' END AS split
      FROM documents
    )
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2
    """,
)
def x45_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/pipeline
    .assign_splits, 1%/1% val/test): integer-hash ranges on a
    DIFFERENT multiplier than the mixture sampler, so split and mix
    are independent. The oracle replays the arithmetic; per-source
    counts pin the proportions."""
    docs = load_table(spark, sf_dir, "documents")
    return P.assign_splits(docs).groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "x46_source_cap",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY ((doc_id % 1048576) * {P.MIX_HASH_K}) % 1048576, doc_id) AS rn
      FROM documents
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM r WHERE rn <= 100 GROUP BY source
    """,
)
def x46_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/pipeline.cap_per_source,
    cap=100): keep up to N docs per source in deterministic hash
    order. id_sum pins the exact kept set; the oracle replays the
    identical window."""
    docs = load_table(spark, sf_dir, "documents")
    return P.cap_per_source(docs, cap=100).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


@query(
    "x47_token_budget",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ((doc_id % 1048576) * {P.MIX_HASH_K}) % 1048576 AS h
      FROM documents
    ),
    c AS (
      SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM c WHERE cum <= 2000 GROUP BY source
    """,
)
def x47_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token-budget subset (operators/pipeline
    .token_budget_subset, budget=2000 tokens): the reproducible
    hash-order prefix whose running token total fits the budget.
    total_tokens proves every source lands ≤ budget; id_sum pins the
    set."""
    docs = load_table(spark, sf_dir, "documents")
    kept = P.token_budget_subset(docs, budget=2000)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("doc_id").cast("long").alias("id_sum"),
    )


_G50_SPARK = """
SELECT c_nationkey, c_custkey,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       PERCENT_RANK() OVER w AS prnk,
       CUME_DIST() OVER w AS cdist
FROM {customer}
WHERE c_acctbal > 9000
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)
"""


@query(
    "g50_rank_family",
    oracle="""
    SELECT c_nationkey, c_custkey,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           PERCENT_RANK() OVER w AS prnk,
           CUME_DIST() OVER w AS cdist
    FROM customer
    WHERE c_acctbal > 9000
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)
    """,
)
def g50_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions — DENSE_RANK,
    PERCENT_RANK, CUME_DIST — over a named WINDOW clause in Spark SQL
    text. Both engines compute the two ratio functions as exact small
    rationals ((rank−1)/(n−1), rows≤current/n) from int64 counters, so
    the doubles hash-match. Ordered by the unique c_custkey →
    deterministic."""
    return spark.sql(_G50_SPARK, customer=load_table(spark, sf_dir, "customer"))

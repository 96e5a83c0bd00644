"""Tier E + Tier G matrix entries (SURVEY.md §2.1, §2.2) plus the
TPC-H-style flagship queries. Each entry cites the reference operator
it re-expresses and calls the DataFrame API for it directly, so Catalyst
plans what the reference hard-wired as scan → cartesian product →
filter → project (reference sqlengine.py:384-410):

- filters and projections push into the parquet scan;
- a WHERE equality over a cross join becomes an equi-join
  (sqlengine.py:120-135,161-195);
- DISTINCT is a hash aggregate with map-side partials, not an O(n²)
  list-membership scan (sqlengine.py:375-377);
- aggregates run after the filter; the reference aggregates the
  unfiltered join, a verified bug (sqlengine.py:280-281).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_engine_spark.catalog import load_table
from sql_engine_spark.functions.money import cents, cents_sum_as_double, from_cents
from sql_engine_spark.matrix import query, sql_avg_dollars, sql_cents, sql_sum_dollars

# ---------------------------------------------------------------------
# Tier E — the operators the reference actually executes (§2.1)
# ---------------------------------------------------------------------


@query(
    "e01_scan_project",
    oracle="SELECT o_orderkey, o_custkey, o_orderpriority FROM orders",
)
def e01_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 scan + E12 projection (reference sqlengine.py:104-117,322-380).
    Column pruning reaches the parquet footer (ReadSchema shows 3 cols)."""
    return load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")


@query("e02_star", oracle="SELECT * FROM region")
def e02_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13 star expansion (sqlengine.py:260-265,405-407)."""
    return load_table(spark, sf_dir, "region").select("*")


@query(
    "e03_filter_comparisons",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity >= 30 AND l_discount <= 0.02 AND l_linenumber <> 3
      AND l_tax > 0.0 AND l_quantity < 49
    """,
)
def e03_filter_comparisons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6/E7/E10: all six comparators of checkCondition
    (sqlengine.py:138-158) in one conjunctive filter; pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    pred = (
        (F.col("l_quantity") >= 30)
        & (F.col("l_discount") <= 0.02)
        & (F.col("l_linenumber") != 3)
        & (F.col("l_tax") > 0.0)
        & (F.col("l_quantity") < 49)
    )
    return li.filter(pred).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@query(
    "e04_filter_andor_tree",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE (o_orderstatus = 'F' AND o_totalprice > 200000.0)
       OR (o_orderstatus = 'O' AND o_totalprice < 50000.0)
    """,
)
def e04_filter_andor_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8/E9 nested AND/OR tree (unwrapWhere, sqlengine.py:211-220) as
    plain Column boolean algebra."""
    o = load_table(spark, sf_dir, "orders")
    pred = ((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 200000.0)) | (
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") < 50000.0)
    )
    return o.filter(pred).select("o_orderkey", "o_orderstatus", "o_totalprice")


@query(
    "e05_negative_literal",
    oracle="SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > -100 AND c_acctbal < 500",
)
def e05_negative_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative literals crash the reference (`.isdigit()` literal test,
    sqlengine.py:171); here they are ordinary literals (FIXTURES.md §A)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter((F.col("c_acctbal") > -100) & (F.col("c_acctbal") < 500)).select("c_custkey", "c_acctbal")


@query("e06_cross_join", oracle="SELECT r_name, n_name FROM region CROSS JOIN nation")
def e06_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/E4 cartesian product (cartProd/joinTables, sqlengine.py:120-135)
    — legitimate only for tiny dimensions; Spark broadcasts the small side
    (BroadcastNestedLoopJoin), never materializing row lists."""
    r = load_table(spark, sf_dir, "region")
    return r.crossJoin(load_table(spark, sf_dir, "nation")).select("r_name", "n_name")


@query(
    "e07_implicit_equi_join",
    oracle="""
    SELECT o_orderkey, c_name FROM orders, customer
    WHERE o_custkey = c_custkey AND o_totalprice > 400000.0
    """,
)
def e07_implicit_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11: the reference evaluates `t1.c = t2.c` row-by-row over the
    materialized product (sqlengine.py:170-173,184-189). Here the query
    is *written* the same way — cross join then filter — precisely to
    show Catalyst extracting the equi-join condition and planning a hash
    join (see tests/test_plans.py)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joined = o.crossJoin(c).filter(
        (F.col("o_custkey") == F.col("c_custkey")) & (F.col("o_totalprice") > 400000.0)
    )
    return joined.select("o_orderkey", "c_name")


@query("e08_distinct", oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")
def e08_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 DISTINCT: hash aggregate (map-side partials) vs the
    reference's O(n²) list-membership scan (sqlengine.py:375-377)."""
    return load_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@query(
    "e09_aggregates",
    oracle=f"""
    SELECT MAX(l_quantity) AS max_qty, MIN(l_extendedprice) AS min_price,
           {sql_sum_dollars('l_extendedprice')} AS sum_price,
           {sql_avg_dollars('l_quantity')} AS avg_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    """,
)
def e09_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 MAX/MIN/SUM/AVG, multi-aggregate (sqlengine.py:274-294,
    driver :392-399). SUM/AVG via exact cents (see functions/money.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.max("l_quantity").alias("max_qty"),
        F.min("l_extendedprice").alias("min_price"),
        cents_sum_as_double("l_extendedprice").alias("sum_price"),
        (cents_sum_as_double("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "e10_agg_after_where",
    oracle=f"""
    SELECT {sql_sum_dollars('l_quantity')} AS sum_qty, COUNT(*) AS n_rows
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-01-01'
    """,
)
def e10_agg_after_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrected semantics for the verified reference bug: its
    aggregates read the UNFILTERED table even with WHERE
    (sqlengine.py:280-281; SURVEY.md §2.1). Ours aggregate the filtered
    rows, as SQL requires."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(F.col("l_shipdate") >= F.to_timestamp(F.lit("1999-01-01")))
    return filtered.agg(
        cents_sum_as_double("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------
# Tier G — grammar-accepted by the reference, executed only here (§2.2)
# ---------------------------------------------------------------------


@query(
    "g01_order_by_limit",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100
    """,
)
def g01_order_by_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT (parser.py:88,111-113 — parsed, ignored by the
    reference). Lowers to TakeOrderedAndProject (per-partition top-k),
    not a global sort. Unique tiebreak keys make the result set stable."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(100)
    )


@query(
    "g02_limit_offset",
    oracle="SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey OFFSET 100 LIMIT 50",
)
def g02_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT/OFFSET (parser.py:113)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy(F.col("o_orderkey").asc()).offset(100).limit(50)


@query(
    "g03_group_by_having",
    oracle=f"""
    SELECT c_nationkey, COUNT(*) AS n_customers, {sql_sum_dollars('c_acctbal')} AS sum_acctbal
    FROM customer GROUP BY c_nationkey
    HAVING {sql_sum_dollars('c_acctbal')} > 0
    """,
)
def g03_group_by_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (parser.py:105-109). Partial aggregation
    map-side, one shuffle on the group key."""
    c = load_table(spark, sf_dir, "customer")
    agg = c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        cents_sum_as_double("c_acctbal").alias("sum_acctbal"),
    )
    return agg.filter(F.col("sum_acctbal") > 0)


@query(
    "g04_union_all",
    oracle="""
    SELECT c_nationkey AS nationkey, c_acctbal AS acctbal, 'customer' AS src FROM customer
    UNION ALL
    SELECT s_nationkey AS nationkey, s_acctbal AS acctbal, 'supplier' AS src FROM supplier
    """,
)
def g04_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (parser.py:86,111)."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.col("c_acctbal").alias("acctbal"), F.lit("customer").alias("src")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_acctbal").alias("acctbal"), F.lit("supplier").alias("src")
    )
    return c.unionByName(s)


@query(
    "g05_union_distinct",
    oracle="SELECT c_nationkey AS nationkey FROM customer UNION SELECT s_nationkey FROM supplier",
)
def g05_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@query(
    "g06_intersect",
    oracle="SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier",
)
def g06_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "g07_except",
    oracle="SELECT c_custkey AS custkey FROM customer EXCEPT SELECT o_custkey FROM orders",
)
def g07_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set difference): customers who never ordered."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = load_table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    return c.subtract(o)


@query(
    "g08_join_explicit_agg",
    oracle=f"""
    SELECT n_name, COUNT(*) AS n_orders, {sql_sum_dollars('o_totalprice')} AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def g08_join_explicit_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit INNER JOIN ... ON chain (parser.py:90-102) + grouped
    aggregation. nation broadcasts (25 rows); customer↔orders is the
    real shuffle, on the join key."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = o.join(c, F.col("o_custkey") == F.col("c_custkey"), "inner")
    j = j.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"), "inner")
    return j.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        cents_sum_as_double("o_totalprice").alias("total_price"),
    )


@query(
    "g09_join_left",
    oracle="""
    SELECT n_nationkey, n_name, s_suppkey, s_name
    FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
    """,
)
def g09_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER JOIN (parser.py:90-102); NULL padding for unmatched."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return n.join(s, F.col("n_nationkey") == F.col("s_nationkey"), "left").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name"
    )


@query(
    "g10_natural_join",
    oracle="""
    SELECT nationkey, n_name, c_acctbal
    FROM (SELECT c_nationkey AS nationkey, c_acctbal FROM customer)
    NATURAL JOIN (SELECT n_nationkey AS nationkey, n_name FROM nation)
    """,
)
def g10_natural_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATURAL/USING join (parser.py:90-102): join on the shared column
    name, emitted once (coalesced) — Spark's list-of-names join form."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"), "c_acctbal")
    n = load_table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nationkey"), "n_name")
    return c.join(n, on="nationkey").select("nationkey", "n_name", "c_acctbal")


@query(
    "g11_between_in",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_rows, {sql_sum_dollars('l_extendedprice')} AS sum_price
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    """,
)
def g11_between_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEEN + IN list (parser.py:81-82)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_quantity").between(10, 20) & F.col("l_returnflag").isin("A", "R"))
    return f.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        cents_sum_as_double("l_extendedprice").alias("sum_price"),
    )


@query(
    "g12_in_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    """,
)
def g12_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) (parser.py:81) → left-semi join."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    return o.join(c, F.col("o_custkey") == F.col("c_custkey"), "left_semi").select("o_orderkey", "o_custkey")


@query(
    "g13_not_exists",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def g13_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS correlated subquery (parser.py:62) → left-anti join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti").select("c_custkey", "c_name")


@query(
    "g14_like",
    oracle="""
    SELECT p_partkey, p_name, p_type FROM part
    WHERE p_name LIKE '%widget%' OR p_type LIKE 'PRO%'
    """,
)
def g14_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE pattern match (parser.py:80)."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("%widget%") | F.col("p_type").like("PRO%")).select(
        "p_partkey", "p_name", "p_type"
    )


@query(
    "g15_case_cast",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 300000.0 THEN 'big'
                WHEN o_totalprice >= 100000.0 THEN 'mid'
                ELSE 'small' END AS bucket,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor
    FROM orders
    """,
)
def g15_case_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE expression + CAST (parser.py:61,58). FLOOR-then-cast is used
    because bare double→int casts round differently across engines."""
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") >= 300000.0, "big")
        .when(F.col("o_totalprice") >= 100000.0, "mid")
        .otherwise("small")
    )
    return o.select(
        "o_orderkey",
        bucket.alias("bucket"),
        F.floor("o_totalprice").cast("long").alias("price_floor"),
    )


@query(
    "g16_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_linenumber % 2 AS parity,
           l_partkey + l_suppkey AS key_sum,
           l_quantity * 2.0 AS qty2,
           -l_linenumber AS neg_ln,
           l_partkey & 255 AS low_bits
    FROM lineitem
    """,
)
def g16_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic / unary minus / bitwise AND (parser.py:72,76-78)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_linenumber") % 2).alias("parity"),
        (F.col("l_partkey") + F.col("l_suppkey")).alias("key_sum"),
        (F.col("l_quantity") * 2.0).alias("qty2"),
        (-F.col("l_linenumber")).alias("neg_ln"),
        (F.col("l_partkey").bitwiseAND(255)).alias("low_bits"),
    )


@query(
    "g17_string_funcs",
    oracle="""
    SELECT c_custkey, UPPER(c_name) AS uname, CAST(LENGTH(c_name) AS BIGINT) AS name_len,
           SUBSTR(c_name, 1, 8) AS pref, c_name || ':' || c_mktsegment AS tagged
    FROM customer
    """,
)
def g17_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar functions + || concat (parser.py:63,75)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("uname"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("pref"),
        F.concat(F.col("c_name"), F.lit(":"), F.col("c_mktsegment")).alias("tagged"),
    )


@query(
    "g18_null_handling",
    oracle="""
    SELECT n_nationkey, s_suppkey,
           COALESCE(s_name, 'missing') AS s_name_f,
           s_suppkey IS NULL AS no_supplier,
           NULLIF(n_nationkey % 5, 0) AS nz
    FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
    """,
)
def g18_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL tests / COALESCE / NULLIF (parser.py:73-74,80). The corpus
    has no NULLs (like the reference's integer-only model, SURVEY.md
    §1.2), so the outer join manufactures them."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    j = n.join(s, F.col("n_nationkey") == F.col("s_nationkey"), "left")
    return j.select(
        "n_nationkey",
        "s_suppkey",
        F.coalesce(F.col("s_name"), F.lit("missing")).alias("s_name_f"),
        F.col("s_suppkey").isNull().alias("no_supplier"),
        F.nullif(F.col("n_nationkey") % 5, F.lit(0)).alias("nz"),
    )


@query(
    "g19_window_topn",
    oracle="""
    SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS BIGINT) AS rn FROM (
        SELECT c_nationkey, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) WHERE rn <= 3
    """,
)
def g19_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (engine extension — absent from the reference
    entirely, SURVEY.md §2.2 'not present'): per-nation top-3 customers
    by balance. One shuffle on the partition key."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.select("c_nationkey", "c_custkey", "c_acctbal", F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@query(
    "g20_scalar_subquery",
    oracle=f"""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (SELECT {sql_avg_dollars('o_totalprice')} FROM orders)
    """,
)
def g20_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in WHERE (parser.py:62,81): orders above the mean
    price. The 1-row aggregate side broadcasts (BroadcastNestedLoopJoin)."""
    o = load_table(spark, sf_dir, "orders")
    avg_df = o.agg((cents_sum_as_double("o_totalprice") / F.count(F.lit(1))).alias("avg_price"))
    return (
        o.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "g21_count_distinct",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def g21_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) — planned as a two-stage Expand aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"), F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "g22_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, {sql_sum_dollars('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def g22_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (engine extension; absent from reference)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), cents_sum_as_double("l_quantity").alias("sum_qty")
    )


# ---------------------------------------------------------------------
# TPC-H-style flagship queries (SURVEY.md §7 phase 1)
# ---------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_dollars('l_quantity')} AS sum_qty,
           {sql_sum_dollars('l_extendedprice')} AS sum_base_price,
           CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS DOUBLE)/10000.0 AS sum_disc_price,
           CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')}) * (100 + {sql_cents('l_tax')})) AS DOUBLE)/1000000.0 AS sum_charge,
           {sql_avg_dollars('l_quantity')} AS avg_qty,
           {sql_avg_dollars('l_extendedprice')} AS avg_price,
           {sql_avg_dollars('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one scan, partial agg map-side, 4-group shuffle.
    disc_price/charge stay exact: cents × integer percentages."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1999-12-01")))
    e, d, t = cents("l_extendedprice"), cents("l_discount"), cents("l_tax")
    n = F.count(F.lit(1))
    return f.groupBy("l_returnflag", "l_linestatus").agg(
        cents_sum_as_double("l_quantity").alias("sum_qty"),
        cents_sum_as_double("l_extendedprice").alias("sum_base_price"),
        (F.sum(e * (F.lit(100) - d)).cast("double") / 10000.0).alias("sum_disc_price"),
        (F.sum(e * (F.lit(100) - d) * (F.lit(100) + t)).cast("double") / 1000000.0).alias("sum_charge"),
        (cents_sum_as_double("l_quantity") / n).alias("avg_qty"),
        (cents_sum_as_double("l_extendedprice") / n).alias("avg_price"),
        (cents_sum_as_double("l_discount") / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS DOUBLE)/10000.0 AS revenue,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate > TIMESTAMP '1997-06-01'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension filters push into the scans,
    two key-shuffles (or broadcast at small SF), top-10 via
    TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1997-06-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1997-06-01"))
    )
    j = c.join(o, F.col("c_custkey") == F.col("o_custkey")).join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    rev = F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).cast("double") / 10000.0
    agg = j.groupBy("o_orderkey", "o_orderdate", "o_orderpriority").agg(rev.alias("revenue"))
    return (
        agg.select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS DOUBLE)/10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join. region/nation/supplier broadcast;
    the fact-side shuffles stay on the orderkey/custkey chain. This is
    the engine's flagship (entry() runs it at sf0.001)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    rev = F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).cast("double") / 10000.0
    return j.groupBy("n_name").agg(rev.alias("revenue"))


@query(
    "g23_exists",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 45)
    """,
)
def g23_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS correlated subquery (parser.py:62) → left-semi join (the
    positive twin of g13's anti join)."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return s.join(li, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi").select("s_suppkey", "s_name")


@query(
    "g24_derived_table",
    oracle=f"""
    SELECT c_mktsegment, n_big, {sql_sum_dollars('seg.total')} AS seg_total
    FROM (
      SELECT c_mktsegment, COUNT(*) AS n_big, SUM(o_totalprice) AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_totalprice > 150000.0
      GROUP BY c_mktsegment
    ) seg
    GROUP BY c_mktsegment, n_big
    """,
)
def g24_derived_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived table ``(SELECT ...) AS alias`` in FROM (parser.py:95-99):
    an aggregate subquery re-aggregated in the outer query."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000.0)
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_big"), F.sum(cents("o_totalprice")).alias("total_c"))
    )
    return seg.groupBy("c_mktsegment", "n_big").agg(
        (F.sum("total_c").cast("double") / 100.0).alias("seg_total")
    )


@query(
    "g25_regexp",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE regexp_matches(p_name, '^[a-z]+ (widget|gadget) [0-9]+$')
    """,
)
def g25_regexp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGEXP pattern match (parser.py:80) → rlike. The pattern sticks
    to syntax Java regex and RE2 agree on."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("^[a-z]+ (widget|gadget) [0-9]+$")).select("p_partkey", "p_name")


@query(
    "g26_bit_shift",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_partkey << 2 AS shl, l_partkey >> 3 AS shr,
           l_partkey | l_suppkey AS bor, xor(l_partkey, l_suppkey) AS bxor
    FROM lineitem
    """,
)
def g26_bit_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise shifts and OR/XOR (parser.py:78)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.shiftleft(F.col("l_partkey"), 2).alias("shl"),
        F.shiftright(F.col("l_partkey"), 3).alias("shr"),
        F.col("l_partkey").bitwiseOR(F.col("l_suppkey")).alias("bor"),
        F.col("l_partkey").bitwiseXOR(F.col("l_suppkey")).alias("bxor"),
    )


@query(
    "g27_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS oyear,
           CAST(month(o_orderdate) AS BIGINT) AS omonth,
           CAST(dayofmonth(o_orderdate) AS BIGINT) AS oday,
           STRFTIME(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date,
           CAST(datediff('day', o_orderdate, TIMESTAMP '1999-01-01') AS BIGINT) AS days_to_ref,
           STRFTIME(date_trunc('month', o_orderdate), '%Y-%m-%d') AS omonth_start
    FROM orders
    """,
)
def g27_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time arithmetic (the grammar only has CURRENT_* literals,
    parser.py:48-53; full date functions are an engine extension).
    Formatted to strings so both engines compare identical values."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("oyear"),
        F.month("o_orderdate").cast("long").alias("omonth"),
        F.dayofmonth("o_orderdate").cast("long").alias("oday"),
        F.date_format(F.date_add(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias("due_date"),
        F.datediff(F.to_timestamp(F.lit("1999-01-01")), F.col("o_orderdate")).cast("long").alias("days_to_ref"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("omonth_start"),
    )


@query(
    "g28_math_funcs",
    oracle="""
    SELECT c_custkey,
           abs(c_acctbal) AS abal,
           round(c_acctbal, 1) AS rbal,
           sqrt(abs(c_acctbal)) AS sbal,
           CAST(floor(c_acctbal) AS BIGINT) AS fbal,
           CAST(ceil(c_acctbal) AS BIGINT) AS cbal,
           c_acctbal * c_acctbal AS sqbal,
           c_custkey % 7 AS m7
    FROM customer
    """,
)
def g28_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar functions (parser.py:63 generic call syntax). Sticks
    to IEEE-exact ops (abs/sqrt/floor/ceil/multiply/mod) — exp/ln vary
    by libm ulps across engines and cannot hash-match."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.abs("c_acctbal").alias("abal"),
        F.round("c_acctbal", 1).alias("rbal"),
        F.sqrt(F.abs("c_acctbal")).alias("sbal"),
        F.floor("c_acctbal").cast("long").alias("fbal"),
        F.ceil("c_acctbal").cast("long").alias("cbal"),
        (F.col("c_acctbal") * F.col("c_acctbal")).alias("sqbal"),
        (F.col("c_custkey") % 7).alias("m7"),
    )


@query(
    "g29_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows, {sql_sum_dollars('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def g29_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (engine extension; g22 covers ROLLUP)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), cents_sum_as_double("l_quantity").alias("sum_qty")
    )


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (priority checking): date-filtered orders semi-
    joined to late-shipped lineitems. The semi join shuffles once on
    the orderkey and never duplicates orders rows."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    j = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey")) & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return j.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@query(
    "q12_priority_class",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (conditional aggregation): CASE-sum pivots over a
    fact/fact join (adapted to this corpus: return flag in place of the
    reference schema's ship mode, which the synthetic corpus lacks)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN {sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})
                   ELSE 0 END) AS DOUBLE)
           / CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): part broadcasts into the
    date-pruned lineitem scan; single scalar output from exact-cents
    integer sums."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    p = load_table(spark, sf_dir, "part")
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS orderdate,
           {sql_sum_dollars('l_quantity')} AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the HAVING subquery is
    a pre-aggregation on the fact's own join key, delivered as a semi
    join — both aggregations shuffle on l_orderkey so AQE can reuse the
    partitioning; top-100 via TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_c"))
        .filter(F.col("qty_c") > 150 * 100)
        .select("l_orderkey")
    )
    j = (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    )
    return (
        j.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate")
        .agg(cents_sum_as_double("l_quantity").alias("total_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "q21_waiting_supplier",
    oracle="""
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND n_name IN ('NATION_3', 'NATION_7', 'NATION_13', 'NATION_19', 'NATION_23')
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the one
    TPC-H plan previously neither implemented nor in the blocked list
    (found by the r11 coverage audit — Q2/Q9/Q11/Q16/Q20 are
    partsupp-gated; Q21 is not). Adapted to this corpus: the
    receipt-after-commit lateness pair is absent from the synthetic
    lineitem, so "kept the order waiting" becomes "shipped strictly
    last among the order's suppliers" on ``l_shipdate`` — the same
    adaptation class as q12's return-flag pivot, preserving exactly
    the plan shape that makes Q21 hard: a correlated EXISTS (another
    supplier contributed to the order) AND a correlated NOT EXISTS
    with an INEQUALITY (no other supplier shipped later), over a
    finalized-order fact join. Spark-first: both subqueries are
    explicit left-semi / left-anti self-joins of the narrow
    (orderkey, suppkey, shipdate) projection — all three fact joins
    key on l_orderkey, so the shuffles share partitioning; the
    status-F orders probe is itself a semi join (no column baggage);
    supplier⋈nation broadcasts; top-100 is TakeOrderedAndProject
    (pinned in tests/test_plans.py)."""
    nat = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7", "NATION_13", "NATION_19", "NATION_23")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(nat, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o_final = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    other = li.select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_suppkey").alias("r_suppkey"),
        F.col("l_shipdate").alias("r_shipdate"),
    )
    l1 = li.join(
        o_final, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )
    contributed = l1.join(
        other,
        (F.col("l_orderkey") == F.col("r_orderkey"))
        & (F.col("l_suppkey") != F.col("r_suppkey")),
        "left_semi",
    )
    sole_laggard = contributed.join(
        other,
        (F.col("l_orderkey") == F.col("r_orderkey"))
        & (F.col("l_suppkey") != F.col("r_suppkey"))
        & (F.col("r_shipdate") > F.col("l_shipdate")),
        "left_anti",
    )
    return (
        sole_laggard.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(100)
    )


@query(
    "q19_disjunctive",
    oracle=f"""
    SELECT {sql_sum_dollars('l_extendedprice')} AS gross_revenue, COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicates over a join): Catalyst
    extracts the common l_partkey = p_partkey conjunct so this plans as
    a hash join with a residual OR filter — not a nested-loop."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    q = F.col("l_quantity")
    pred = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & q.between(20, 40))
    )
    return j.filter(pred).agg(
        cents_sum_as_double("l_extendedprice").alias("gross_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "g30_stats_exact",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
           CAST(COUNT(*) * SUM(CAST(ROUND(l_quantity*100) AS BIGINT) * CAST(ROUND(l_quantity*100) AS BIGINT))
                - SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) * SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) * COUNT(*) AS DOUBLE) / 10000.0 AS var_pop_qty,
           sqrt(CAST(COUNT(*) * SUM(CAST(ROUND(l_quantity*100) AS BIGINT) * CAST(ROUND(l_quantity*100) AS BIGINT))
                - SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) * SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) * COUNT(*) AS DOUBLE) / 10000.0) AS stddev_pop_qty,
           quantile_cont(l_quantity, 0.5) AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def g30_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates with EXACT cross-engine results: built-in
    var_pop/stddev float accumulation is partial-aggregation-order-
    dependent, so population variance is assembled from integer-cents
    power sums ((n·Σc² − (Σc)²)/n²) — order-independent, then one
    double division and an IEEE sqrt on both engines. Median via exact
    interpolated percentile (integer-valued quantities → exact halves)."""
    li = load_table(spark, sf_dir, "lineitem")
    c = cents("l_quantity").cast("decimal(38,0)")
    n = F.count(F.lit(1))
    s1 = F.sum(c)
    s2 = F.sum(c * c)
    var_pop = (n * s2 - s1 * s1).cast("double") / (n * n).cast("double") / F.lit(10000.0)
    return li.groupBy("l_returnflag").agg(
        n.alias("n_rows"),
        cents_sum_as_double("l_quantity").alias("sum_qty"),
        var_pop.alias("var_pop_qty"),
        F.sqrt(var_pop).alias("stddev_pop_qty"),
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
    )


@query(
    "q10_returned_revenue",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS DOUBLE)/10000.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): selective returnflag +
    date filters push to the scans, nation broadcasts, top-20 via
    TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    j = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    rev = F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).cast("double") / 10000.0
    return (
        j.groupBy("c_custkey", "c_name", "n_name")
        .agg(rev.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "g31_correlated_scalar",
    oracle="""
    SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier s
    WHERE s_acctbal = (SELECT MAX(s2.s_acctbal) FROM supplier s2
                       WHERE s2.s_nationkey = s.s_nationkey)
    """,
)
def g31_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q2 shape: per-group max lookup,
    parser.py:62,81). Planned as one window max over the correlation
    key — a single shuffle instead of a per-row subquery."""
    s = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey")
    return (
        s.withColumn("__mx", F.max("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("__mx"))
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )


@query(
    "g32_array_funcs",
    oracle="""
    SELECT n_nationkey,
           array_to_string(list(s_name ORDER BY s_name), ',') AS suppliers,
           CAST(len(list(s_name)) AS BIGINT) AS n_suppliers,
           list(s_name ORDER BY s_name)[1] AS first_supplier
    FROM nation JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_nationkey
    """,
)
def g32_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + element access (engine extension — SURVEY.md
    §2.2 lists array functions as absent from the reference): grouped
    collect with a deterministic sort, joined to a string for exact
    cross-engine comparison."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    j = n.join(s, F.col("s_nationkey") == F.col("n_nationkey"))
    arr = F.sort_array(F.collect_list("s_name"))
    return j.groupBy("n_nationkey").agg(
        F.array_join(arr, ",").alias("suppliers"),
        F.size(arr).cast("long").alias("n_suppliers"),
        F.element_at(arr, 1).alias("first_supplier"),
    )


@query(
    "g33_window_frames",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {sql_cents('o_totalprice')} AS price_c,
           CAST(SUM({sql_cents('o_totalprice')}) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling3_c,
           CAST(SUM({sql_cents('o_totalprice')}) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_c,
           COALESCE(CAST(LAG({sql_cents('o_totalprice')}) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT), -1) AS prev_c,
           COALESCE(CAST(LEAD({sql_cents('o_totalprice')}) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT), -1) AS next_c
    FROM orders
    """,
)
def g33_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame specs — ROWS BETWEEN rolling/running sums plus
    LAG/LEAD (engine extension; SURVEY.md §2.2 notes frame specs are
    absent from the reference). All four analytics share ONE window
    partitioning (o_custkey), so Spark plans a single shuffle + sort
    and evaluates every frame in the same Window operator — the shape
    that survives a 100× scale-up. Exact integer cents keep the rolling
    sums order-independent and bit-stable cross-engine."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    p = cents("o_totalprice")
    return o.select(
        "o_custkey",
        "o_orderkey",
        p.alias("price_c"),
        F.sum(p).over(w.rowsBetween(-2, 0)).cast("long").alias("rolling3_c"),
        F.sum(p).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long").alias("running_c"),
        F.coalesce(F.lag(p).over(w).cast("long"), F.lit(-1)).alias("prev_c"),
        F.coalesce(F.lead(p).over(w).cast("long"), F.lit(-1)).alias("next_c"),
    )


@query(
    "g34_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           {sql_sum_dollars('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
    """,
)
def g34_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (generalizes g22 ROLLUP / g29 CUBE):
    planned as one scan + Expand (3 replicas) + single hash aggregation
    — no per-set rescans, the shape that matters at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
               CAST(SUM(CAST(ROUND(l_quantity*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        """
    )


@query(
    "g35_pivot",
    oracle=f"""
    SELECT l_returnflag,
           COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN {sql_cents('l_quantity')} END) AS BIGINT), 0) AS qty_f_c,
           COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN {sql_cents('l_quantity')} END) AS BIGINT), 0) AS qty_o_c,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o
    FROM lineitem GROUP BY l_returnflag
    """,
)
def g35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list (groupBy().pivot(values)):
    lowers to conditional aggregation in a single pass — identical plan
    shape to the CASE-WHEN oracle, no second scan. Always pass the
    pivot values explicitly at scale: omitting them triggers an eager
    distinct-collect job over 100 TB before planning even starts."""
    li = load_table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            F.sum(cents("l_quantity")).cast("long").alias("qty_c"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return piv.select(
        "l_returnflag",
        F.coalesce(F.col("F_qty_c"), F.lit(0)).alias("qty_f_c"),
        F.coalesce(F.col("O_qty_c"), F.lit(0)).alias("qty_o_c"),
        F.coalesce(F.col("F_n"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O_n"), F.lit(0)).alias("n_o"),
    )


@query(
    "g36_not_in_subquery",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def g36_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN (subquery) — plans as a null-aware anti join, which is NOT
    the same as NOT EXISTS/left-anti (g13): one NULL in the subquery
    result empties the output under three-valued logic. Spark and DuckDB
    agree on the semantics; the matrix pins it because hand-rolling this
    as a plain anti join is the classic silent-wrong-results rewrite."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("customer")
    o.createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        """
    )


@query(
    "g37_intersect_except_all",
    oracle="""
    SELECT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      INTERSECT ALL
      SELECT s_nationkey FROM supplier
    )
    EXCEPT ALL
    SELECT n_nationkey FROM nation WHERE n_nationkey < 3
    """,
)
def g37_intersect_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — bag (multiplicity-preserving) set
    ops: each row appears min(m,n) resp. max(m−n,0) times. Spark plans
    both as a single aggregation over a tagged union (count per side,
    then generate), not a join — one shuffle each."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 3).select(
        F.col("n_nationkey").alias("nationkey")
    )
    return c.intersectAll(s).exceptAll(n)


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM({sql_cents('l_extendedprice')} * {sql_cents('l_discount')}) AS DOUBLE)/10000.0 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate
    pushes to the parquet scan and the whole query is one codegen stage
    with a single-row result; the canonical test that filters reach
    storage (at 100 TB this is the difference between reading a year
    and reading everything)."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        (F.sum(cents("l_extendedprice") * cents("l_discount")).cast("double") / 10000.0).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(vol_c) AS DOUBLE)/10000.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             {sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')}) AS vol_c
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by year.
    The two nation dims broadcast (twice, under different aliases); the
    lineitem↔orders join is the only big shuffle. The nation-pair
    disjunction is applied after the broadcast joins, where it prunes
    to two name pairs before aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
                | (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
            )
            & (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        )
    )
    vol_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        j.select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            vol_c.alias("vol_c"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("vol_c").cast("double") / 10000.0).alias("revenue"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left join with an extra join-side predicate
    (COUNT of a nullable column counts only matches), then a second
    aggregation over the counts. The o_orderpriority filter replaces
    the original's o_comment NOT LIKE (the synthetic corpus has no
    comment column). Two shuffles: join/group on c_custkey, then the
    tiny distribution aggregation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH agg AS (
      SELECT l_partkey AS a_partkey,
             COUNT(*) AS cnt,
             SUM({sql_cents('l_quantity')}) AS sum_qty_c
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM({sql_cents('l_extendedprice')}) AS DOUBLE)/100.0/7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN agg ON a_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND {sql_cents('l_quantity')} * 5 * cnt < sum_qty_c
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: rows below 20% of their part's average quantity.
    The correlated AVG subquery is decorrelated by hand into one
    per-part aggregate joined back (what Catalyst does internally for
    the subquery form), and the 0.2·avg comparison is cross-multiplied
    into exact integers (qty_c·5·cnt < Σqty_c) so no float average is
    ever materialized — bit-stable under any partitioning. p_brand
    replaces the original's brand+container pair (no p_container in
    the synthetic corpus)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    agg = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.count(F.lit(1)).alias("cnt"), F.sum(cents("l_quantity")).alias("sum_qty_c")
    )
    j = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(agg, F.col("a_partkey") == F.col("l_partkey"))
        .filter(cents("l_quantity") * 5 * F.col("cnt") < F.col("sum_qty_c"))
    )
    return j.agg(
        (F.sum(cents("l_extendedprice")).cast("double") / 100.0 / 7.0).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q8_market_share",
    oracle=f"""
    WITH flat AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             {sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')}) AS vol_c,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = c_nationkey
      JOIN region   ON r_regionkey = n1.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s_nationkey
      JOIN part     ON p_partkey = l_partkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1995-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'BRAZIL' THEN vol_c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(vol_c) AS DOUBLE) AS mkt_share
    FROM flat GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share — the widest flagship
    (8-way join over 7 tables, nation joined twice under different
    roles). All five dimensions (part filter, supplier, both nations,
    region) broadcast; only the lineitem⇄orders⇄customer fact chain
    shuffles. The share is a ratio of two exact integer-cent sums, one
    double division at the end — bit-stable under any partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1995-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    j = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("c_rkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("s_nkey") == F.col("s_nationkey"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    )
    vol_c = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    flat = j.select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        vol_c.alias("vol_c"),
        F.col("supp_nation"),
    )
    share = (
        F.sum(F.when(F.col("supp_nation") == "BRAZIL", F.col("vol_c")).otherwise(F.lit(0)))
        .cast("double")
        / F.sum("vol_c").cast("double")
    )
    return flat.groupBy("o_year").agg(share.alias("mkt_share"))


@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({sql_cents('l_extendedprice')} * (100 - {sql_cents('l_discount')})) AS DOUBLE)/10000.0 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: top supplier by quarterly revenue (the
    reference view + scalar-subquery MAX). The revenue aggregate is
    computed ONCE and reused for both the scalar max (a 1-row broadcast
    cross join) and the probe side; supplier broadcasts. Revenue is an
    exact integer-cent sum divided once, so max-equality is bit-safe —
    comparing floats for equality is exactly why the cents discipline
    exists."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        (
            F.sum(cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))).cast("double")
            / 10000.0
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )

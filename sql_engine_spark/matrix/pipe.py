"""Round-2 matrix entries: training-data curation wave 2 (x33–x38)
plus grammar wave 2 (g38–g43). Same registration/exactness rules as
``core``/``ext`` (see matrix/__init__): integer-exact arithmetic with
one final double division; counts BIGINT on both engines; identical
aliases.

The grammar entries g38/g39/g42 run through ``spark.sql`` with
DataFrame template args — genuine Spark SQL text (WITH, LATERAL VIEW,
VALUES) handled by Catalyst, no temp-view session pollution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_engine_spark.catalog import load_stream, load_table
from sql_engine_spark.matrix import query
from sql_engine_spark.operators import pipeline as P

# --- shared oracle fragments ----------------------------------------

# Shingle CTE that KEEPS shingle-less docs (empty list) — unlike ext's
# _SHINGLES_CTE, which drops len(w)<3 docs because its consumers only
# ever look at pairs.
_SHINGLES_ALL_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)])
              ELSE CAST([] AS VARCHAR[]) END AS s
  FROM tok
)
"""


# ---------------------------------------------------------------------
# Tier X wave 2: training-data curation
# ---------------------------------------------------------------------


@query(
    "x33_contamination",
    oracle=f"""
    WITH {_SHINGLES_ALL_CTE},
    bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 20 = 0),
    body AS (SELECT doc_id, s FROM sh WHERE doc_id % 20 <> 0),
    hits AS (
      SELECT b.doc_id, COUNT(*) AS n_overlap
      FROM (SELECT doc_id, unnest(s) AS g FROM body) b JOIN bench USING (g)
      GROUP BY b.doc_id
    )
    SELECT body.doc_id, CAST(len(body.s) AS BIGINT) AS n_shingles,
           CAST(COALESCE(hits.n_overlap, 0) AS BIGINT) AS n_overlap,
           CASE WHEN len(body.s) > 0
                THEN CAST(COALESCE(hits.n_overlap, 0) AS DOUBLE) / CAST(len(body.s) AS DOUBLE)
                ELSE 0.0 END AS contamination
    FROM body LEFT JOIN hits USING (doc_id)
    """,
)
def x33_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (operators/pipeline
    .benchmark_contamination): every 20th doc plays the benchmark; the
    benchmark's distinct-shingle set broadcasts against the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return P.benchmark_contamination(docs, F.col("doc_id") % 20 == 0)


@query(
    "x34_tfidf_topterms",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             CAST(tf.tf * (2*n.n_docs - 2*dfreq.df + 1) AS DOUBLE)
               / CAST(2*dfreq.df + 1 AS DOUBLE) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def x34_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per doc with the exact-rational RSJ idf
    (operators/pipeline.tfidf_top_terms) — no libm in the score."""
    docs = load_table(spark, sf_dir, "documents")
    return P.tfidf_top_terms(docs, k=3).withColumnRenamed("rank", "rnk")


@query(
    "x35_sequence_packing",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed AS (
      SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT) AS seq_id, n_tokens AS seq_fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.seq_fill + t.n_tokens > 256 THEN p.seq_id + 1 ELSE p.seq_id END,
             CASE WHEN p.seq_fill + t.n_tokens > 256 THEN t.n_tokens ELSE p.seq_fill + t.n_tokens END
      FROM packed p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
    )
    SELECT doc_id, shard, n_tokens, seq_id, seq_fill FROM packed
    """,
)
def x35_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 256-token training sequences over 8
    shards (operators/pipeline.pack_sequences). The oracle replays the
    same greedy recurrence as a recursive CTE — sequential semantics,
    independently expressed."""
    docs = load_table(spark, sf_dir, "documents")
    return P.pack_sequences(docs, budget=256, n_shards=8)


_SCRUB_PAT = r"\b(customer|supplier|part)\b"


@query(
    "x36_regex_scrub",
    oracle=f"""
    WITH c AS (SELECT doc_id, text, regexp_replace(text, '{_SCRUB_PAT}', '<ENT>', 'g') AS clean
               FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_SCRUB_PAT}')) AS BIGINT) AS n_hits,
           md5(clean) AS clean_md5,
           CAST(length(clean) AS BIGINT) AS clean_len
    FROM c
    """,
)
def x36_regex_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scrubbing (operators/pipeline.regex_scrub) — the PII-
    redaction shape, exercised with a corpus-hitting entity pattern
    (the synthetic corpus contains no digits/emails). The pattern
    stays in the RE2∩Java-regex common dialect."""
    docs = load_table(spark, sf_dir, "documents")
    return P.regex_scrub(docs, pattern=_SCRUB_PAT, replacement="<ENT>")


@query(
    "x37_repetition",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    scan AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2 THEN [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
                  ELSE CAST([] AS VARCHAR[]) END AS bi
      FROM tok
    ),
    s2 AS (SELECT doc_id, CAST(len(bi) AS BIGINT) AS n_bigrams,
                  CAST(len(list_distinct(bi)) AS BIGINT) AS n_distinct_bigrams
           FROM scan),
    tcnt AS (SELECT doc_id, term, COUNT(*) AS cnt
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
             GROUP BY doc_id, term),
    agg AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_token_cnt,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens
            FROM tcnt GROUP BY doc_id)
    SELECT s2.doc_id, n_bigrams, n_distinct_bigrams,
           CASE WHEN n_bigrams > 0
                THEN CAST(n_bigrams - n_distinct_bigrams AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
                ELSE 0.0 END AS dup_bigram_frac,
           n_tokens, top_token_cnt,
           CAST(top_token_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_share
    FROM s2 JOIN agg USING (doc_id)
    """,
)
def x37_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition stats (operators/pipeline
    .repetition_stats): duplicate-bigram fraction + top-token share."""
    docs = load_table(spark, sf_dir, "documents")
    return P.repetition_stats(docs)


@query(
    "x38_containment",
    oracle=f"""
    WITH {_SHINGLES_ALL_CTE},
    nz AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
    inv AS (SELECT doc_id, unnest(s) AS g FROM nz),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id <> b.doc_id
    ),
    pairs AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS inter,
             CAST(len(x.s) AS BIGINT) AS sz_a
      FROM cand c JOIN nz x ON x.doc_id = c.id_a JOIN nz y ON y.doc_id = c.id_b
    )
    SELECT id_a, id_b, CAST(inter AS DOUBLE) / CAST(sz_a AS DOUBLE) AS containment
    FROM pairs WHERE inter * 1000000 >= 600000 * sz_a
    """,
)
def x38_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment ≥ 0.6 (operators/pipeline
    .containment_pairs) — subset/quote duplicates that symmetric
    Jaccard misses. Prefix-filtered on the probe side; the oracle is
    the plain inverted-index + list_intersect formulation."""
    docs = load_table(spark, sf_dir, "documents")
    return P.containment_pairs(docs, threshold=0.6)


# ---------------------------------------------------------------------
# Grammar wave 2
# ---------------------------------------------------------------------


_G38_SQL = """
WITH nb AS (
  SELECT c_nationkey, COUNT(*) AS n_cust,
         SUM(CAST(ROUND(c_acctbal*100) AS BIGINT)) AS bal_c
  FROM {customer} GROUP BY c_nationkey
)
SELECT n_name, n_cust, CAST(bal_c AS DOUBLE)/100.0 AS total_bal
FROM nb JOIN {nation} ON n_nationkey = c_nationkey
WHERE bal_c * (SELECT COUNT(*) FROM nb) > (SELECT SUM(bal_c) FROM nb)
"""


@query(
    "g38_cte_reuse",
    oracle=_G38_SQL.replace("{customer}", "customer").replace("{nation}", "nation"),
)
def g38_cte_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH/CTE referenced three times (body + two scalar subqueries):
    nations whose total account balance beats the all-nation average,
    compared in exact integer cents via cross-multiplication. Runs as
    genuine Spark SQL text with DataFrame template args."""
    return spark.sql(
        _G38_SQL,
        customer=load_table(spark, sf_dir, "customer"),
        nation=load_table(spark, sf_dir, "nation"),
    )


@query(
    "g39_lateral_explode",
    oracle="""
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
    GROUP BY term ORDER BY n DESC, term LIMIT 20
    """,
)
def g39_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW explode in Spark SQL text (the SQL spelling of the
    flatten; DuckDB spells it unnest): global top-20 term counts."""
    return spark.sql(
        """
        SELECT term, COUNT(*) AS n
        FROM {documents} LATERAL VIEW explode(split(text, ' ')) t AS term
        GROUP BY term ORDER BY n DESC, term LIMIT 20
        """,
        documents=load_table(spark, sf_dir, "documents"),
    )


@query(
    "g40_qualify_topn",
    oracle="""
    SELECT c_nationkey, c_custkey, c_name, CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_c
    FROM customer
    QUALIFY ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) <= 2
    """,
)
def g40_qualify_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY semantics (filter on a window result without a derived
    table). Spark has no QUALIFY keyword; the DataFrame window-filter
    is its exact equivalent — the oracle uses DuckDB's native QUALIFY
    so the semantic pairing is cross-checked."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 2)
        .select(
            "c_nationkey",
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        )
    )


@query(
    "g41_string_agg",
    oracle="""
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation GROUP BY n_regionkey
    """,
)
def g41_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/GROUP_CONCAT family):
    deterministic via an explicit sort before the join — collect_list
    order is partition-dependent, array_sort pins it."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("names"),
        F.count(F.lit(1)).alias("n_nations"),
    )


_G42_SQL = """
SELECT r.r_regionkey, v.r_name, v.priority
FROM (VALUES ('AMERICA', CAST(1 AS BIGINT)), ('ASIA', CAST(2 AS BIGINT)),
             ('EUROPE', CAST(3 AS BIGINT))) AS v(r_name, priority)
JOIN {region} r ON r.r_name = v.r_name
ORDER BY v.priority
"""


@query(
    "g42_values_inline",
    oracle=_G42_SQL.replace("{region}", "region"),
)
def g42_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table constructor joined against a real table —
    the literal-driven lookup/config-join pattern."""
    return spark.sql(_G42_SQL, region=load_table(spark, sf_dir, "region"))


@query(
    "g43_percentiles",
    oracle="""
    SELECT o_orderpriority,
           quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.5) AS p50_c,
           quantile_cont(CAST(ROUND(o_totalprice*100) AS BIGINT), 0.25) AS p25_c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def g43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (percentile_cont semantics) over integer
    cents, grouped. Linear interpolation at q∈{0.5, 0.25} on int64
    inputs is exact in binary floating point, so both engines produce
    identical bits — the libm-free way to cross-check quantiles."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select("o_orderpriority", cents.alias("__c"))
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(__c, 0.5)").alias("p50_c"),
            F.expr("percentile(__c, 0.25)").alias("p25_c"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# ---------------------------------------------------------------------
# Streaming wave 2
# ---------------------------------------------------------------------


@query(
    "s06_stream_interval_join",
    oracle="""
    SELECT a.event_id AS click_id, b.event_id AS view_id, a.user_id,
           STRFTIME(a.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           STRFTIME(b.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_type = 'click' AND b.event_type = 'view'
     AND b.ts <= a.ts AND b.ts >= a.ts - INTERVAL 30 MINUTE
    """,
)
def s06_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream interval join (click←view attribution within
    30 minutes, watermarked state eviction on both sides;
    streaming/windows.interval_join). Bounded append-mode output
    equals the batch inequality join the oracle runs."""
    from sql_engine_spark.streaming import windows as SW

    stream = load_stream(spark, sf_dir, "events")
    out = SW.run_to_batch(SW.interval_join(stream), output_mode="append")
    return out.select(
        "click_id",
        "view_id",
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )


# ---------------------------------------------------------------------
# Round-2 additions: q22 flagship, vocab/OOV, NTILE
# ---------------------------------------------------------------------


@query(
    "q22_sales_opportunity",
    oracle="""
    WITH bal AS (
      SELECT c_custkey, c_nationkey, CAST(ROUND(c_acctbal*100) AS BIGINT) AS bal_c
      FROM customer
    ),
    pos AS (SELECT COUNT(*) AS n_pos, SUM(bal_c) AS sum_c FROM bal WHERE bal_c > 0)
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal_c) AS DOUBLE)/100.0 AS totacctbal
    FROM bal, pos
    WHERE bal_c * pos.n_pos > pos.sum_c
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey
    """,
)
def q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity), adapted to the
    synthetic schema: customers with above-positive-average balance and
    no RECENT orders, grouped by nation (the corpus lacks ``c_phone``,
    so nationkey plays the country code; every customer has *some*
    order in this corpus, so the anti join keys on orders since
    2000-01-01 to keep the result non-degenerate — same plan:
    scalar-average filter + anti join + grouped agg). The average
    comparison is cross-multiplied to exact integer cents
    (bal·n > Σbal), never a float divide; the anti join probes only
    the date-filtered order keys (filter pushed to the scan)."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    pos = c.filter(F.col("bal_c") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"), F.sum("bal_c").alias("sum_c")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01")))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(F.col("bal_c") * F.col("n_pos") > F.col("sum_c"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("bal_c").cast("double") / 100.0).alias("totacctbal"),
        )
    )


@query(
    "x39_vocab_oov",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    freq AS (SELECT term, COUNT(*) AS n FROM tok GROUP BY term),
    vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS r FROM freq
      ) WHERE r <= 10
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE vocab.term IS NULL) AS BIGINT) AS n_oov,
           CAST(COUNT(*) FILTER (WHERE vocab.term IS NULL) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM tok LEFT JOIN vocab USING (term)
    GROUP BY doc_id
    """,
)
def x39_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary build + out-of-vocabulary rate: the
    top-10 corpus vocabulary (count desc, term asc — deterministic) is
    derived, broadcast, and every document scored for OOV fraction.
    The vocab is corpus-derived yet fixed-size, so the probe side
    broadcasts no matter the corpus scale; the doc side is one explode
    + one map-side-combinable groupBy. OOV rate is the single final
    double division."""
    docs = load_table(spark, sf_dir, "documents")
    from sql_engine_spark.operators import text as T

    tok = docs.select(F.col("doc_id"), F.explode(T.tokens("text")).alias("term"))
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    vocab = (
        freq.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 10)
        .select("term", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(F.when(F.col("__in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            (F.col("n_oov").cast("double") / F.col("n_tokens").cast("double")).alias("oov_rate"),
        )
    )


@query(
    "g44_ntile",
    oracle="""
    SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM (
      SELECT CAST(NTILE(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS tile, n_chars
      FROM documents
    )
    GROUP BY tile
    """,
)
def g44_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE windowing: quartile-bucket documents by length (ties
    broken by doc_id for determinism) and summarize each bucket."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    return (
        docs.select(F.ntile(4).over(w).cast("long").alias("tile"), "n_chars")
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _x40_oracle() -> str:
    from sql_engine_spark.matrix.ext import _STOP_LIST

    return f"""
    WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS w FROM documents),
    q AS (
      SELECT doc_id, source, text,
             0.5*(CAST(len(list_filter(w, x -> list_contains({_STOP_LIST}, x))) AS DOUBLE)
                    / CAST(len(w) AS DOUBLE))
           + 0.3*least(1.0, CAST(len(w) AS DOUBLE)/50.0)
           + 0.2*(CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) AS qs,
             array_to_string(w[1:8], ' ') AS pre
      FROM t
    ),
    qd AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY pre ORDER BY doc_id) AS rn
      FROM q WHERE qs >= 0.35
    ),
    canon AS (SELECT * FROM qd WHERE rn = 1),
    ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rs,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM canon
    ),
    samp AS (SELECT source, doc_id FROM ranked WHERE rs <= CEIL(n * 0.5)),
    raw_c AS (SELECT source, COUNT(*) AS n_raw FROM documents GROUP BY source),
    q_c AS (SELECT source, COUNT(*) AS n_quality FROM qd GROUP BY source),
    u_c AS (SELECT source, COUNT(*) AS n_unique FROM canon GROUP BY source),
    s_c AS (SELECT source, COUNT(*) AS n_sampled FROM samp GROUP BY source)
    SELECT raw_c.source,
           CAST(n_raw AS BIGINT) AS n_raw,
           CAST(COALESCE(n_quality, 0) AS BIGINT) AS n_quality,
           CAST(COALESCE(n_unique, 0) AS BIGINT) AS n_unique,
           CAST(COALESCE(n_sampled, 0) AS BIGINT) AS n_sampled
    FROM raw_c
    LEFT JOIN q_c USING (source) LEFT JOIN u_c USING (source) LEFT JOIN s_c USING (source)
    """


@query("x40_curation_pipeline", oracle=_x40_oracle())
def x40_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel — the composition flagship: quality
    filter (x10's score ≥ 0.35) → boilerplate dedup on the 8-token
    prefix fingerprint (keep-smallest-doc_id) → deterministic
    exact-half per-source sample (x28's integer-exact cap) → per-source
    funnel report (n_raw / n_quality / n_unique / n_sampled).

    The stages FUSE into one lineage: stage membership is a flag, the
    dedup "keep first qualifying row per fingerprint" is a running
    count of quality rows inside the fingerprint window, the sample
    cap is the same integer-exact ceil over a per-source running
    count, and the funnel is one conditional aggregation — so the
    whole report costs ONE scan of the corpus and TWO shuffles (the
    fingerprint window, then the source window, whose partitioning
    the final groupBy reuses). The naive composition (operator →
    join → operator) scans the corpus 7×; at 100 TB the fused shape
    is the difference between one pass and seven."""
    from sql_engine_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    d = docs.select(
        "doc_id",
        "source",
        (T.quality_expr("text") >= 0.35).cast("int").alias("q_ok"),
        F.concat_ws(" ", F.slice(T.tokens("text"), 1, 8)).alias("pre"),
    )
    run = Window.partitionBy("pre").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = d.withColumn(
        "is_canon", ((F.col("q_ok") == 1) & (F.sum("q_ok").over(run) == 1)).cast("int")
    )
    srun = Window.partitionBy("source").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sall = Window.partitionBy("source")
    n_canon = F.sum("is_canon").over(sall)
    cap = F.floor((n_canon * 500_000 + (1_000_000 - 1)) / F.lit(1_000_000))
    d = d.withColumn(
        "sampled",
        ((F.col("is_canon") == 1) & (F.sum("is_canon").over(srun) <= cap)).cast("int"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("q_ok").cast("long").alias("n_quality"),
        F.sum("is_canon").cast("long").alias("n_unique"),
        F.sum("sampled").cast("long").alias("n_sampled"),
    )

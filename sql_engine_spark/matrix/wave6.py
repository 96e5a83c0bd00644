"""Round-3 wave 6: fractional-epoch upsampling (x61), corpus phrase
mining (x62), the Structured-Streaming ingest-dedup (s08 — a
STREAMING entry with a full hard oracle: its unioned micro-batch
output must equal the one-shot batch computation, so it shares x54's
oracle SQL verbatim), perceptual image near-dup mining (x63),
per-source χ² divergence (x64), quality-aware dedup canonicalization
(x65), the strict event funnel (x66), weekly retention cohorts (x67),
and per-user event-rate anomaly z-scores (x68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_engine_spark.catalog import load_stream, load_table
from sql_engine_spark.matrix import ORACLE, query
from sql_engine_spark.matrix.ext import _JACCARD_PAIRS_CTE, _STOP_LIST
from sql_engine_spark.operators import pipeline as P

# The matrix's canonical training-mix: upweight src0 hard (2.3 epochs),
# downsample src1 (0.5), leave everything else at 1.0.
_EPOCHS_PPM = {"src0": 2_300_000, "src1": 500_000}


@query(
    "x61_epoch_upsample",
    oracle=f"""
    WITH e AS (
      SELECT doc_id, source,
             CAST(CASE source WHEN 'src0' THEN 2300000
                              WHEN 'src1' THEN 500000
                              ELSE 1000000 END AS BIGINT) AS eppm,
             ((doc_id % 1048576) * {P.MIX_HASH_K}) % 1048576 AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, source,
             eppm // 1000000
               + CASE WHEN h * CAST(1000000 AS BIGINT)
                           < (eppm % 1000000) * 1048576 THEN 1 ELSE 0 END AS n_copies
      FROM e
    )
    SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(ci AS BIGINT) AS copy_idx
    FROM c, UNNEST(range(1, n_copies + 1)) AS t(ci)
    """,
)
def x61_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fractional-epoch upsampling (operators/pipeline
    .epoch_upsample): "src0 seen 2.3 epochs, src1 0.5" — ⌊e⌋ copies
    per doc plus one more iff the integer mix-coin lands under
    frac(e); copy fan-out is a scan-stage explode(sequence), no
    shuffle. The oracle replays the arithmetic and the lateral
    unnest."""
    docs = load_table(spark, sf_dir, "documents")
    return P.epoch_upsample(docs, _EPOCHS_PPM)


@query(
    "x62_phrase_mining",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id,
             unnest([array_to_string(w[i:i+2], ' ') for i in range(1, len(w) - 1)]) AS phrase
      FROM tok WHERE len(w) >= 3
    ),
    pd AS (SELECT phrase, doc_id, COUNT(*) AS c FROM g GROUP BY 1, 2),
    st AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(c) AS BIGINT) AS n_occurrences
      FROM pd GROUP BY 1
    )
    SELECT phrase, n_docs, n_occurrences
    FROM st ORDER BY n_docs DESC, n_occurrences DESC, phrase ASC LIMIT 25
    """,
)
def x62_phrase_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus phrase mining (operators/text.phrase_stats): top-25 word
    trigrams by (document frequency, total occurrences, phrase) — the
    boilerplate/template detector; occurrence counts (not per-doc
    distinct) separate in-doc repetition from corpus boilerplate.
    One explode, two map-side-combinable groupBys, TakeOrdered."""
    from sql_engine_spark.operators.text import phrase_stats

    docs = load_table(spark, sf_dir, "documents")
    return phrase_stats(docs, n=3, top=25)


@query("s08_stream_ingest_dedup", oracle=ORACLE["x54_incremental_dedup"])
def s08_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming ingest dedup (streaming/ingest
    .stream_incremental_dedup): the doc_id%10==0 "crawl" arrives as a
    bounded stream; every micro-batch probes the static corpus's
    memoized shingle index via foreachBatch, landing pairs in
    idempotent ``__batch_id`` partitions. Each new doc is probed
    independently against the static corpus, so the unioned output is
    batch-boundary-invariant and equals x54's one-shot computation —
    which is why a STREAMING entry can carry x54's hard oracle
    verbatim."""
    import atexit
    import shutil
    import tempfile

    from sql_engine_spark.streaming.ingest import stream_incremental_dedup

    corpus = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 != 0)
    stream = load_stream(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0)
    # The returned DataFrame lazily reads from base/pairs, so the dir
    # must outlive this call — reclaim it at interpreter exit instead
    # of leaking one sink+checkpoint per invocation.
    base = tempfile.mkdtemp(prefix="sql_engine_s08_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return stream_incremental_dedup(
        stream, corpus, out_path=f"{base}/pairs", checkpoint=f"{base}/ckpt"
    )


def _px_byte(i: str) -> str:
    """Hex-domain byte read for the x63 oracle: 0-based byte ``i`` of
    the utf-8 text, 0 past the end (the PNG zero padding). DuckDB
    ``hex()`` is uppercase; 2 hex chars per byte is multibyte-safe
    (the x19/x26 byte-aligned replay trick)."""
    return (
        f"CASE WHEN {i} < nb THEN "
        f"(strpos('0123456789ABCDEF', substr(hx, CAST(2*({i})+1 AS BIGINT), 1)) - 1) * 16"
        f" + (strpos('0123456789ABCDEF', substr(hx, CAST(2*({i})+2 AS BIGINT), 1)) - 1) "
        f"ELSE 0 END"
    )


def _x63_ahash_sql() -> str:
    """Integer replay of the perceptual-hash pair set. Pixel bytes are
    the zero-padded utf-8 text (and, since the r8 stored-deflate
    png_encode, literal fixed-offset slices of the PNG payload itself
    — 48-byte header + h×(1+48)-byte scanlines — so this text-domain
    replay IS the payload-domain replay, no zlib needed). The aHash
    threshold is exact-rational (sum_c·N > S·cnt_c in int64, divisors
    cancelled), so every one of the 64 bits replays engine-exactly;
    the banded join + hamming verify mirrors _x05_simhash_sql."""
    g3 = " + ".join(_px_byte(e) for e in ("3*pi", "3*pi + 1", "3*pi + 2"))
    ham = " + ".join(f"bit_count(xor(a.band{i}, b.band{i}))" for i in range(4))
    bands = ",\n             ".join(
        f"COALESCE(MAX(CASE WHEN bv.bi = {i} THEN bv.v END), 0) AS band{i}" for i in range(4)
    )
    return f"""
    WITH p AS (
      SELECT doc_id, hex(encode(COALESCE(text, ''))) AS hx,
             CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT) AS nb
      FROM documents
    ),
    d AS (SELECT doc_id, hx, nb, GREATEST(CAST(1 AS BIGINT), (nb + 47) // 48) AS ph FROM p),
    px AS (SELECT doc_id, hx, nb, ph, unnest(range(0, 16 * ph)) AS pi FROM d),
    g AS (
      SELECT doc_id,
             (((pi // 16) * 8) // ph) * 8 + ((pi % 16) * 8) // 16 AS c,
             {g3} AS g3
      FROM px
    ),
    cs AS (SELECT doc_id, c, SUM(g3) AS s, COUNT(*) AS n FROM g GROUP BY doc_id, c),
    tot AS (SELECT doc_id, SUM(g3) AS ts, COUNT(*) AS tn FROM g GROUP BY doc_id),
    bits AS (
      SELECT cs.doc_id, cs.c,
             CASE WHEN cs.s * tot.tn > tot.ts * cs.n THEN CAST(1 AS BIGINT) ELSE 0 END AS bit
      FROM cs JOIN tot ON tot.doc_id = cs.doc_id
    ),
    bv AS (
      SELECT doc_id, c // 16 AS bi, SUM(bit * (CAST(1 AS BIGINT) << CAST(c % 16 AS INTEGER))) AS v
      FROM bits GROUP BY doc_id, c // 16
    ),
    sig AS (
      SELECT d.doc_id,
             {bands}
      FROM d LEFT JOIN bv ON bv.doc_id = d.doc_id
      GROUP BY d.doc_id
    ),
    ex AS (SELECT doc_id, band0, band1, band2, band3,
                  unnest(range(0, 4)) AS bi,
                  unnest([band0, band1, band2, band3]) AS bvv
           FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({ham} AS INTEGER) AS hamming
      FROM ex a JOIN ex b ON a.bi = b.bi AND a.bvv = b.bvv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """


@query("x63_image_dup_pairs", oracle=_x63_ahash_sql())
def x63_image_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup mining (operators/multimodal
    .image_dup_pairs): every document rendered as a real PNG
    (encode_text_as_png), decoded and average-hashed (8×8 aHash) in
    one Arrow mapInPandas pass, then mined with the SAME banded
    hamming join as SimHash (dedup.banded_hamming_pairs — exact
    recall for hamming < 4 by pigeonhole). HARD oracle since r8
    (VERDICT r7 #1): stored-deflate png_encode makes pixel bytes
    fixed-offset payload slices and the exact-rational aHash threshold
    removes float accumulation, so DuckDB replays decode→hash→band→
    verify integer-exactly from the text bytes (_x63_ahash_sql);
    pytest additionally proves exact equality with a brute-force
    numpy recomputation at the pigeonhole threshold."""
    from sql_engine_spark.operators.multimodal import encode_text_as_png, image_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return image_dup_pairs(encode_text_as_png(docs), max_hamming=3)


@query(
    "x64_source_divergence",
    oracle="""
    WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
    st_all AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS o FROM tok GROUP BY source, t),
    corpus AS (SELECT t, CAST(SUM(o) AS BIGINT) AS c FROM st_all GROUP BY t),
    vocab AS (SELECT t, c FROM corpus ORDER BY c DESC, t ASC LIMIT 30),
    ost AS (SELECT st_all.source, st_all.t, st_all.o FROM st_all JOIN vocab ON st_all.t = vocab.t),
    ns AS (SELECT source, CAST(SUM(o) AS BIGINT) AS n_s FROM ost GROUP BY source),
    nn AS (SELECT CAST(SUM(o) AS BIGINT) AS N FROM ost),
    grid AS (
      SELECT ns.source, ns.n_s, vocab.t, vocab.c, COALESCE(ost.o, 0) AS o, nn.N
      FROM ns CROSS JOIN vocab CROSS JOIN nn
      LEFT JOIN ost ON ost.source = ns.source AND ost.t = vocab.t
    ),
    terms AS (
      SELECT source, n_s, t,
             ((CAST(o AS DOUBLE) * CAST(N AS DOUBLE) - CAST(n_s AS DOUBLE) * CAST(c AS DOUBLE))
              * (CAST(o AS DOUBLE) * CAST(N AS DOUBLE) - CAST(n_s AS DOUBLE) * CAST(c AS DOUBLE)))
               / ((CAST(N AS DOUBLE) * CAST(n_s AS DOUBLE)) * CAST(c AS DOUBLE)) AS x
      FROM grid
    )
    SELECT source, n_s AS n_tokens,
           list_reduce(list_prepend(0.0, list(x ORDER BY t ASC)), (a, b) -> a + b) AS chi2
    FROM terms GROUP BY source, n_s
    """,
)
def x64_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source χ² token-distribution divergence from the corpus
    (operators/pipeline.source_divergence) — the domain-drift monitor,
    over the deterministic top-30 corpus vocabulary. int64 counts,
    double-cast-before-multiply pinned-order IEEE terms (exact casts,
    no ANSI overflow cliff), token-sorted left-to-right fold — float
    math that still hash-matches DuckDB bit for bit."""
    docs = load_table(spark, sf_dir, "documents")
    return P.source_divergence(docs, vocab_size=30)


@query(
    "x65_quality_dedup",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_PAIRS_CTE},
    dup AS (SELECT id_a, id_b FROM pairs WHERE jaccard >= 0.8),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM dup
      UNION
      SELECT id_b AS src, id_a AS dst FROM dup
    ),
    reach(id, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id),
    tq AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    q AS (
      SELECT doc_id,
             0.5 * (CAST(len(list_filter(w, x -> list_contains({_STOP_LIST}, x))) AS DOUBLE)
                    / CAST(len(w) AS DOUBLE))
             + 0.3 * least(1.0, CAST(len(w) AS DOUBLE) / 50.0)
             + 0.2 * (CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)) AS qs
      FROM tq
    ),
    r AS (
      SELECT c.component, c.doc_id, q.qs,
             ROW_NUMBER() OVER (PARTITION BY c.component
                                ORDER BY q.qs DESC, c.doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS nd
      FROM comp c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT component, doc_id AS keep_doc, qs AS keep_quality,
           CAST(nd AS BIGINT) AS n_docs
    FROM r WHERE rn = 1
    """,
)
def x65_quality_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup canonicalization (operators/pipeline
    .quality_dedup_survivors): each near-dup component keeps its
    HIGHEST-quality member (tie → min id) — "keep the best copy", the
    policy x03's min-id canonicalization approximates. Oracle =
    recursive-CTE reachability + the x52 quality formula + a
    deterministic (quality DESC, id ASC) window."""
    from sql_engine_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    return P.quality_dedup_survivors(docs, pairs)


@query(
    "x66_event_funnel",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             list(event_type ORDER BY ts ASC, event_id ASC) AS types
      FROM events GROUP BY user_id
    ),
    walked AS (
      SELECT user_id,
             CAST(list_reduce(
               list_prepend('0', types),
               (a, t) -> CASE WHEN a = '0' AND t = 'view' THEN '1'
                              WHEN a = '1' AND t = 'click' THEN '2'
                              WHEN a = '2' AND t = 'purchase' THEN '3'
                              ELSE a END
             ) AS BIGINT) AS stage
      FROM seq
    )
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM walked GROUP BY stage
    """,
)
def x66_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict sequential funnel view→click→purchase (operators/temporal
    .event_funnel): one per-user shuffle + a sorted-array fold — no
    k-way self-joins. ORDER matters (a funnel, not three EXISTS), and
    the (ts, event_id) sort makes the walk engine-exact, so an
    ordered-walk computation carries a full hard oracle."""
    from sql_engine_spark.operators.temporal import event_funnel

    events = load_table(spark, sf_dir, "events")
    return event_funnel(events)


@query(
    "x67_retention_cohorts",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id AS u,
             CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0) AS BIGINT) AS w
      FROM events
    ),
    first AS (SELECT u, MIN(w) AS w0 FROM uw GROUP BY u)
    SELECT CAST(first.w0 AS BIGINT) AS cohort_week,
           CAST(uw.w - first.w0 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM uw JOIN first ON uw.u = first.u
    GROUP BY 1, 2
    """,
)
def x67_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (operators/temporal.retention_cohorts):
    cohort = integer week (days-since-epoch div 7 — engine-neutral
    arithmetic, no date_trunc semantics) of each user's first event;
    distinct active users per (cohort_week, week_offset). Two narrow
    map-side-combinable aggregations."""
    from sql_engine_spark.operators.temporal import retention_cohorts

    events = load_table(spark, sf_dir, "events")
    return retention_cohorts(events)


@query(
    "x68_event_anomalies",
    oracle="""
    WITH per AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS U,
             CAST(SUM(n_events) AS BIGINT) AS s1,
             CAST(SUM(n_events * n_events) AS BIGINT) AS s2
      FROM per
    )
    SELECT per.user_id, per.n_events,
           CASE WHEN sqrt(CAST(mom.U AS DOUBLE) * CAST(mom.s2 AS DOUBLE)
                          - CAST(mom.s1 AS DOUBLE) * CAST(mom.s1 AS DOUBLE)) > 0
                THEN (CAST(per.n_events AS DOUBLE) * CAST(mom.U AS DOUBLE) - CAST(mom.s1 AS DOUBLE))
                     / sqrt(CAST(mom.U AS DOUBLE) * CAST(mom.s2 AS DOUBLE)
                            - CAST(mom.s1 AS DOUBLE) * CAST(mom.s1 AS DOUBLE))
                ELSE 0.0 END AS z,
           CAST(CASE WHEN abs(
                  CASE WHEN sqrt(CAST(mom.U AS DOUBLE) * CAST(mom.s2 AS DOUBLE)
                                 - CAST(mom.s1 AS DOUBLE) * CAST(mom.s1 AS DOUBLE)) > 0
                       THEN (CAST(per.n_events AS DOUBLE) * CAST(mom.U AS DOUBLE) - CAST(mom.s1 AS DOUBLE))
                            / sqrt(CAST(mom.U AS DOUBLE) * CAST(mom.s2 AS DOUBLE)
                                   - CAST(mom.s1 AS DOUBLE) * CAST(mom.s1 AS DOUBLE))
                       ELSE 0.0 END) > 2.0 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM per CROSS JOIN mom
    """,
)
def x68_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-rate z-scores (operators/temporal
    .event_rate_anomalies): integer moments (n, U, Σn, Σn² — all
    order-independent int64), then one fixed-sequence double
    computation per user; population moments broadcast as a 1-row
    cross join. Bit-exact despite the sqrt (IEEE sqrt is correctly
    rounded on both engines)."""
    from sql_engine_spark.operators.temporal import event_rate_anomalies

    events = load_table(spark, sf_dir, "events")
    return event_rate_anomalies(events)


@query(
    "s09_stream_late_accounting",
    oracle="""
    WITH ot AS (SELECT ts FROM events WHERE event_id % 50 <> 0),
    -- the watermark that filters/drops the LATE batch (batch 2) is the
    -- one ADVERTISED at the end of batch 0 — i.e. derived from the
    -- FIRST on-time shard (even event_id) ONLY, not the global on-time
    -- max (Spark versions the operator watermark one batch behind).
    -- Spark tracks event-time stats at ms precision (floor of the us
    -- value), minus the 1800500 ms delay.
    b0 AS (SELECT ts FROM events WHERE event_id % 50 <> 0 AND event_id % 2 = 0),
    lt AS (SELECT ts FROM events WHERE event_id % 50 = 0),
    -- COALESCE: an empty even shard leaves the engine's watermark at
    -- 1970 (nothing drops, every late event kept); a NULL max here
    -- would instead NULL every comparison and drop ALL late rows
    -- from the oracle's counts.
    wm AS (SELECT COALESCE(MAX(epoch_ms(ts)) - 1800500, -9223372036854775807) AS w FROM b0),
    ltb AS (SELECT (epoch_ms(ts) - epoch_ms(ts) % 600000) AS start_ms FROM lt),
    kept_late AS (SELECT start_ms FROM ltb, wm WHERE start_ms + 600000 > wm.w),
    otb AS (SELECT (epoch_ms(ts) - epoch_ms(ts) % 600000) AS start_ms FROM ot),
    counts AS (
      SELECT STRFTIME(make_timestamp(start_ms * 1000), '%Y-%m-%d %H:%M:%S') AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM (SELECT start_ms FROM otb UNION ALL SELECT start_ms FROM kept_late)
      GROUP BY 1
    )
    SELECT bucket, n_events FROM counts
    UNION ALL
    -- numRowsDroppedByWatermark counts POST-AGGREGATION rows in the
    -- state operator — one per dropped WINDOW group per batch, not one
    -- per dropped input event.
    SELECT 'LATE_DROPPED' AS bucket, CAST(COUNT(DISTINCT start_ms) AS BIGINT) AS n_events
    FROM ltb, wm WHERE start_ms + 600000 <= wm.w
    """,
)
def s09_stream_late_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked late-data accounting (streaming/windows
    .stream_late_data_accounting): the event_id%50==0 shard arrives as
    a THIRD micro-batch after the watermark advanced past it (two
    on-time shards first — Spark applies the batch-N−2 watermark in
    batch N, so the effective drop threshold comes from the FIRST
    shard only), its below-watermark windows are dropped by the state
    store, and the engine's own numRowsDroppedByWatermark metric —
    one count per dropped WINDOW group, not per event — is emitted as
    a 'LATE_DROPPED' sentinel row next to the surviving update-mode
    window counts. Deterministic by pinned file order + a 500 ms
    fractional watermark delay (no window-boundary ties), so a batch
    DuckDB oracle replays the watermark arithmetic exactly — the
    late-DROP behavior itself carries a hard oracle, not just the
    late-KEEP behavior s01–s07 exercise."""
    import atexit
    import shutil
    import tempfile

    from sql_engine_spark.streaming.windows import stream_late_data_accounting

    events = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="sql_engine_s09_")
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return stream_late_data_accounting(events, base)


@query(
    "x69_quarantine_classes",
    oracle="""
    WITH t AS (
      -- COALESCE mirrors the engine's NULL-text → b'' encoding rule
      -- (operators/multimodal.encode_text_as_png, ADVICE r5)
      SELECT doc_id, strlen(COALESCE(text, '')) AS n, doc_id % 4 AS cls FROM documents
    ),
    c AS (
      SELECT doc_id,
             CASE cls WHEN 0 THEN 'ok'
                      WHEN 1 THEN 'ValueError'
                      WHEN 2 THEN 'error'
                      ELSE 'NotImplementedError' END AS error_class,
             CASE WHEN cls = 0 THEN GREATEST(1, (n + 47) // 48) * 48 END AS npb
      FROM t
    )
    SELECT error_class, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(npb) AS BIGINT) AS pixel_bytes
    FROM c GROUP BY error_class
    """,
)
def x69_quarantine_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The poison-blob quarantine boundary as a hard oracle contract
    (VERDICT r4 #5): every doc is encoded as a real PNG, 3 of 4
    payloads are deterministically corrupted into DISTINCT failure
    classes (operators/multimodal.poison_payloads — signature
    stripped / truncated before IDAT / unsupported 16-bit depth), and
    ``image_stats(strict=False)`` must quarantine each as an
    (id, error) row instead of failing the task. The aggregate pins
    the full taxonomy: per-error-class doc counts and id sums (the
    exact quarantined sets), plus decoded pixel-byte totals for the
    healthy class (recomputed by the oracle from text length) — so a
    decode regression OR a quarantine leak both hash-mismatch."""
    from sql_engine_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents")
    stats = M.image_stats(M.poison_payloads(M.encode_text_as_png(docs)), strict=False)
    return (
        stats.withColumn(
            "error_class",
            F.when(F.col("error").isNull(), F.lit("ok")).otherwise(
                F.regexp_extract("error", r"^(\w+):", 1)
            ),
        )
        .groupBy("error_class")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.sum("n_pixel_bytes").cast("long").alias("pixel_bytes"),
        )
    )

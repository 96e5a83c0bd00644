"""Training-data curation operators over the ``documents`` table —
the second wave of LLM-pipeline components (SURVEY.md §2.3; no
reference counterpart — the reference is a SQL-only engine).

Everything stays JVM-expression-side except greedy sequence packing,
which is inherently sequential per shard and runs as a *streaming*
``mapInPandas`` generator (state carried across Arrow batches, O(batch)
memory — never a whole-partition pandas materialization).

Exactness discipline (matches matrix/__init__ conventions): counts are
int64 end-to-end; every ratio is integer-exact until ONE final double
division, so Spark and the DuckDB oracle produce identical bits.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_engine_spark.operators import dedup as D
from sql_engine_spark.operators import text as T

# Documented default scrub target: PII-shaped spans (emails, US-SSN).
# The corpus fixture has none, so matrix/test entries pass an explicit
# corpus-hitting pattern; the pattern is RE2-and-Java-compatible (no
# backrefs, no lookaround) so Spark and DuckDB agree.
PII_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}|\d{3}-\d{2}-\d{4}"


def benchmark_contamination(
    df: DataFrame,
    is_benchmark: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    n_bench_buckets: int = 1,
) -> DataFrame:
    """Benchmark-contamination check: for every non-benchmark document,
    the fraction of its distinct word-``n``-gram shingles that appear
    anywhere in the benchmark slice (``is_benchmark`` rows).

    Plan shape (the 100 TB argument): the benchmark side collapses to a
    DISTINCT shingle set — benchmarks are fixed-size (MB-scale) no
    matter how big the corpus is — and joins **broadcast**, so the
    corpus side is one explode + one map-side-combinable groupBy on
    ``id``: a single shuffle of per-doc counters, never of text.

    Output: (doc_id, n_shingles, n_overlap, contamination) with
    contamination = n_overlap / n_shingles as the single final double
    division (0.0 for shingle-less docs on both engines).

    Single-pass corpus side: ``explode_outer`` keeps shingle-less docs
    alive through the flatten, the broadcast probe marks hits inline,
    and one groupBy rebuilds the per-doc row — so the expensive
    shingle expression runs exactly once per document (no join-back,
    no second scan, no persist).

    The benchmark-side dedup is a map-side-combinable ``collect_set``
    global aggregate rather than ``distinct()``: partial sets merge
    into ONE final task holding exactly the benchmark-sized set the
    broadcast ships everywhere anyway (benchmarks stay MB-scale no
    matter the corpus), replacing a 32-partition distinct shuffle
    whose stage latency dominated this query at bench scale (r5: the
    distinct stage was 0.45 s of a 1.4 s query; this shape measures
    0.4 s faster with bit-identical output).

    SIZE GUARD (ADVICE r5): the single-array shape has a JVM ceiling —
    one final task holds the whole distinct set as ONE array value
    (2 GiB / Integer.MAX elements). That is exactly the broadcast-side
    assumption (the set must fit on every executor anyway), but if
    ``is_benchmark`` ever selects a corpus-scale slice rather than a
    benchmark, pass ``n_bench_buckets > 1``: the collapse then groups
    by ``pmod(hash(g), n_bench_buckets)`` — still map-side-combinable,
    bit-identical output (each shingle lands in exactly one bucket),
    with the per-array ceiling raised n_bench_buckets× at the cost of
    a multi-task final stage. The default stays 1 because the one-task
    latency win is why this shape exists.
    """
    sh = D.ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        is_benchmark.alias("is_b"),
        D.shingle_hashes(text_col, n).alias("sh"),
    )
    bench_flat = sh.filter(F.col("is_b")).select(F.explode("sh").alias("g"))
    if n_bench_buckets > 1:
        collapsed = bench_flat.groupBy(
            F.pmod(F.hash("g"), F.lit(n_bench_buckets)).alias("__bb")
        ).agg(F.collect_set("g").alias("gs"))
    else:
        collapsed = bench_flat.agg(F.collect_set("g").alias("gs"))
    bench = collapsed.select(F.explode("gs").alias("g"), F.lit(1).alias("__hit"))
    flat = sh.filter(~F.col("is_b")).select(
        "id", F.size("sh").cast("long").alias("n_shingles"), F.explode_outer("sh").alias("g")
    )
    agg = (
        flat.join(F.broadcast(bench), "g", "left")
        .groupBy("id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count("__hit").alias("n_overlap"),
        )
    )
    contamination = F.when(
        F.col("n_shingles") > 0,
        F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("id").alias(id_col),
        "n_shingles",
        F.col("n_overlap").cast("long").alias("n_overlap"),
        contamination.alias("contamination"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Per-document top-``k`` terms by tf-idf, with the idf expressed as
    the EXACT rational Robertson–Spärck-Jones shape
    ``(N − df + ½)/(df + ½)`` — cross-multiplied to integers,
    ``score = (tf·(2N − 2df + 1)) / (2df + 1)``, numerator and
    denominator exact int64 and ONE double division, so ordering and
    bits match any other engine. (A log-idf would hit libm differences
    between the JVM and C — the classic cross-engine float trap.)

    Plan (r17): explode → map-side-combined tf aggregation on
    (doc_id, term) — a doc's tokens are scan-partition-local, so the
    partial agg collapses every doc's term counts BEFORE its
    exchange, which therefore carries |distinct (doc, term)| rows,
    not raw occurrences. The df aggregation and the tf⨝df join are
    written over the same tf subtree, but the physical plan does NOT
    share it (plans/r17/x34_tfidf_topterms_after.txt): column pruning
    leaves the df branch's (doc_id, term) exchange without the count
    column the tf branch's exchange carries, so the two exchanges
    differ, nothing is a ReusedExchange, and the corpus is scanned and
    exploded once per branch. The df aggregation itself ships only
    (term, partial count) rows, and
    the join's term distribution is left to the planner — at bench
    scale dfreq broadcasts (observed plan), at corpus scale the
    planner inserts the term exchange on tf rows (≤ one per (doc,
    term)). This replaces r16's deliberate repartition of the RAW
    token stream on term: that plan had one fewer exchange but
    shipped every occurrence of every token unaggregated and keyed
    on term alone — under a Zipf vocabulary the hottest term's whole
    corpus-wide occurrence mass landed on single partitions (the
    §2.5 hot-key class; VERDICT r16 #1 — measured 1.77× on a
    hot-term corpus where this shape reads 0.91, r17 skew probe) —
    whereas here the occurrence-scale exchange is the
    well-distributed, fully map-side-combined (doc_id, term) one and
    term-keyed exchanges only ever carry per-doc tf partials. N
    folds in as a broadcast 1-row cross join (never a driver
    ``collect``); the per-doc row_number window is the one remaining
    shuffle on doc. Deterministic tiebreak: (score DESC, term ASC).
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(T.tokens(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            (F.col("tf") * (2 * F.col("n_docs") - 2 * F.col("df") + 1)).cast("double")
            / (2 * F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Greedy sequence packing: assign documents (in doc-id order) to
    training sequences of at most ``budget`` whitespace tokens,
    opening a new sequence when the current one would overflow. An
    oversized document gets a sequence of its own — never split.

    Greedy packing is inherently sequential, so the scale unit is the
    SHARD (``doc_id mod n_shards``): shards pack independently and in
    parallel, and ``n_shards`` is the parallelism knob (≈ cluster
    cores at 100 TB). Within a shard the implementation is a
    ``mapInPandas`` *generator* that carries (shard, fill, seq) state
    across Arrow batches — O(batch) memory, no whole-partition pandas
    materialization — over a ``repartition(shard).sortWithinPartitions``
    stream, i.e. exactly one shuffle. Several shards may hash into one
    partition; the generator resets state on every shard change, which
    the (shard, doc_id) sort order makes safe.

    Output: (doc_id, shard, n_tokens, seq_id, seq_fill) where seq_id
    numbers sequences within the shard from 0 and seq_fill is the
    sequence's token count after this document was added.
    """
    base = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("long").alias("shard"),
        F.size(T.tokens(text_col)).cast("long").alias("n_tokens"),
    )
    parts = base.repartition(n_shards, "shard").sortWithinPartitions("shard", "doc_id")

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_shard = None
        fill = 0
        seq = 0
        for pdf in batches:
            seq_ids = []
            fills = []
            for shard, toks in zip(pdf["shard"].to_numpy(), pdf["n_tokens"].to_numpy()):
                if shard != cur_shard:
                    cur_shard, fill, seq = shard, 0, 0
                if fill > 0 and fill + toks > budget:
                    seq += 1
                    fill = 0
                fill += int(toks)
                seq_ids.append(seq)
                fills.append(fill)
            out = pdf.copy()
            out["seq_id"] = pd.Series(seq_ids, dtype="int64").values
            out["seq_fill"] = pd.Series(fills, dtype="int64").values
            yield out

    return parts.mapInPandas(
        pack, "doc_id long, shard long, n_tokens long, seq_id long, seq_fill long"
    )


def regex_scrub(
    df: DataFrame,
    pattern: str = PII_PATTERN,
    replacement: str = "<X>",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Regex scrubbing (PII-redaction shape): count matches of
    ``pattern`` per document and emit the scrubbed text's md5 + length
    (the digest keeps result rows O(1) regardless of document size).
    Pure scan-stage expressions — zero shuffles, codegen'd end to end.
    """
    hits = F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0)))
    clean = F.regexp_replace(F.col(text_col), pattern, replacement)
    return df.select(
        F.col(id_col),
        hits.cast("long").alias("n_hits"),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).cast("long").alias("clean_len"),
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Intra-document repetition signals (the filter that catches
    boilerplate/spam before training):

    - duplicate-bigram fraction — computed scan-side from array
      expressions (no shuffle at all);
    - top-token share — the modal token's frequency over the token
      count, via explode → (doc,term) count → per-doc max [two
      map-side-combinable shuffles of counters].

    Both ratios are integer-exact with one final double division.
    """
    w = T.tokens(text_col)
    sz = F.size(w)
    bi = F.when(
        sz >= 2,
        F.transform(F.sequence(F.lit(0), sz - 2), lambda i: F.concat_ws(" ", F.slice(w, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    scan = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(bi).cast("long").alias("n_bigrams"),
        F.size(F.array_distinct(bi)).cast("long").alias("n_distinct_bigrams"),
    ).withColumn(
        "dup_bigram_frac",
        F.when(
            F.col("n_bigrams") > 0,
            (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double")
            / F.col("n_bigrams").cast("double"),
        ).otherwise(F.lit(0.0)),
    )
    tok = df.select(F.col(id_col).alias("doc_id"), F.explode(T.tokens(text_col)).alias("term"))
    per_term = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = per_term.groupBy("doc_id").agg(
        F.max("cnt").alias("top_token_cnt"),
        F.sum("cnt").alias("n_tokens"),
    )
    return (
        scan.join(per_doc, "doc_id")
        .withColumn(
            "top_token_share",
            F.col("top_token_cnt").cast("double") / F.col("n_tokens").cast("double"),
        )
        .select(
            F.col("doc_id").alias(id_col),
            "n_bigrams",
            "n_distinct_bigrams",
            "dup_bigram_frac",
            "n_tokens",
            "top_token_cnt",
            "top_token_share",
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric near-duplicate detection: ordered pairs (a, b) with
    shingle containment C(a→b) = |Sa ∩ Sb| / |Sa| ≥ ``threshold`` —
    the quote/subset-duplicate case symmetric Jaccard misses (a short
    doc fully quoted inside a long one has high containment but low
    Jaccard).

    Exact, prefix-filtered (the containment variant of PPJoin):
    C ≥ t ⟹ overlap ≥ ⌈t·|Sa|⌉, so a's |Sa| − ⌈t·|Sa|⌉ + 1
    *rarest-first* prefix shingles (document-frequency order — the
    same hot-shingle skew defence as :func:`dedup.ngram_jaccard_pairs`)
    must hit b's FULL set; candidate generation probes a-prefixes into
    the full inverted index, plus the length filter |Sb| ≥ t·|Sa|
    (since |Sa∩Sb| ≤ |Sb|) in exact integer arithmetic. Survivors are
    verified with an integer cross-multiplied array_intersect —
    ``inter · 10⁶ ≥ num · |Sa|`` — and the reported containment is the
    single final double division.
    """
    # Shared persisted shingle index — the same (id, sh, sz) artifact
    # ngram_jaccard_pairs builds, so on a corpus that already ran a
    # Jaccard dedup the shingle scan is free (dedup.shingle_index memo).
    sh = D.shingle_index(df, id_col, text_col, n)
    num = round(threshold * 1_000_000)
    cands = _containment_candidates(sh, threshold)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # Verify joins pinned shuffle-hash, build sides chosen so the fat
    # array-carrying stream is NEVER sorted: join 1 builds the narrow
    # candidate pairs, join 2 builds the per-partition-bounded array
    # side and streams the wide intermediate. A merge pin here sorted
    # the ~46 GB pairs×arrays intermediate at the 125× point and went
    # super-linear (180 s vs ~25 s for the Jaccard twin); broadcast
    # stays forbidden either way (the 125× replica OOM class —
    # dedup._verify_pairs_jaccard rationale).
    # cands arrive hash-partitioned on id_a (the candidate producer
    # repartitions its raw pairs by the probe key before the dedup —
    # dedup._cluster_always rationale): no pair-side exchange here
    # (2 Exchange → 1 per verify, r16).
    n_sc = D.scaled_join_partitions(sh)
    return (
        cands.hint("shuffle_hash")
        .join(D._cluster(a, n_sc, "id_a"), "id_a")
        .join(D._cluster(b, n_sc, "id_b").hint("shuffle_hash"), "id_b")
        .withColumn("__inter", inter.cast("long"))
        .filter((F.col("__inter") * 1_000_000 >= F.col("sz_a") * num) & (F.col("sz_a") > 0))
        .select(
            "id_a",
            "id_b",
            (F.col("__inter").cast("double") / F.col("sz_a").cast("double")).alias("containment"),
        )
    )


def _containment_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """Distinct (id_a, id_b) containment candidates: probe a's
    rarest-first prefix (length |Sa| − ⌈t·|Sa|⌉ + 1) into the df-ordered
    POSITIONAL inverted index, with two exact integer filters:

    - length: |Sb| ≥ t·|Sa| (since |Sa∩Sb| ≤ |Sb|), cross-multiplied.
    - positional (the containment analogue of PPJoin's position
      filter): overlap o ≥ K = ⌈t·|Sa|⌉, and with BOTH shingle arrays
      sorted in the same global (df, hash) order, the smallest common
      shingle c₁ is preceded in b only by non-common shingles — all o
      common shingles sit at or after it — so c₁'s 0-based position
      satisfies p_b ≤ |Sb| − K. Joining on b-tokens with
      |Sb| − p_b ≥ K keeps c₁ for every true pair (exact superset
      preserved; a-side p_a ≤ |Sa| − K is the prefix slice itself).

    The b-side prune targets the boilerplate tail: a stop-phrase
    shingle shared by m docs sits LAST in every df-ordered array
    (maximal p_b), so it fails |Sb| − p_b ≥ K instead of emitting its
    m(m−1) candidate pairs. On the synthetic sf0.1 corpus (few true
    stop-phrases, mid-frequency shingles dominate) the measured
    reduction is a modest 570k → 462k distinct candidates; on a
    boilerplate-heavy crawl — where the hot-shingle quadratic lives —
    the pruned tail is exactly the hot set. Both sides explode the
    SAME memoized ordered-index artifact the Jaccard prefix path
    builds, so the filter costs no extra corpus pass. Exposed
    separately so skew tests can count candidates without running
    verification (mirrors dedup._candidate_pairs)."""
    num = round(threshold * 1_000_000)
    n_sc = D.scaled_join_partitions(sh)
    # Both join sides are written over one df-ordered posexplode
    # (slice(osh, 1, L) ≡ the p < L filter on posexplode(osh)), but
    # the plan still has TWO exploded-index exchanges, not one shared
    # one (plans/r17/x38_containment_after.txt): Catalyst pushes the
    # probe side's p < L filter below its exchange, so the two
    # subtrees differ and neither is a ReusedExchange. The probe side
    # ships only prefix rows (~0.4× the exploded rows at t=0.6) but
    # explodes the full array before filtering; the inverted side
    # ships the full index (1.0×).
    exploded = D._cluster(
        D.ordered_shingle_index(sh).select(
            "id", "sz", F.posexplode("osh").alias("p", "s")
        ),
        n_sc,
        "s",
    )
    prefix_len = (F.col("sz") - D._ceil_frac(F.col("sz"), threshold) + 1).cast("int")
    pref = exploded.filter(F.col("p") < prefix_len).select(
        F.col("id").alias("id_a"), F.col("sz").alias("psz_a"), "s"
    )
    inv = exploded.select(
        F.col("id").alias("id_b"),
        F.col("sz").alias("isz_b"),
        F.col("p").alias("pb"),
        "s",
    )
    k_a = D._ceil_frac(F.col("psz_a"), threshold)
    # Pinned shuffle-hash with the (much smaller) prefix side as build:
    # both exploded sides are corpus-scaled — never broadcastable at
    # scale (the 125× replica OOM class) — and a merge pin here forced
    # a full sort of the 60M-row exploded index side, measured 1.7×
    # slower at 125× than hash-building the prefix rows per partition.
    raw = (
        pref.hint("shuffle_hash").join(
            inv,
            (pref["s"] == inv["s"])
            & (F.col("id_a") != F.col("id_b"))
            & (F.col("isz_b") * 1_000_000 >= F.col("psz_a") * num)
            & (F.col("isz_b") - F.col("pb") >= k_a),
        )
        .select("id_a", "id_b")
    )
    # Probe-key partition before the dedup: one exchange serves dedup
    # AND the verify join (dedup._cluster_always rationale, r16).
    return D._cluster_always(raw, n_sc, "id_a").dropDuplicates(["id_a", "id_b"])


# --- wave 3: mixture construction + corpus shape ---------------------

# Knuth's multiplicative constant ⌊2³²/φ⌋ — the per-row "coin flip" is
# (id·K) mod 2²⁰, a deterministic hash both engines can compute with
# plain int64 arithmetic (no engine-specific hash function, no RNG
# state). The low 2²⁰ bits of the product depend only on the low 2²⁰
# bits of id, so the id is reduced mod 2²⁰ FIRST: identical result,
# and the intermediate (< 2²⁰·K ≈ 2⁵²) can never overflow int64 for
# ANY id — no ANSI-overflow cliff at id ≈ 2⁶³/K.
MIX_HASH_K = 2654435761
_MIX_BUCKETS = 1 << 20


def _coin_hash(id_col: str, k: int) -> Column:
    return F.pmod(
        F.pmod(F.col(id_col).cast("long"), F.lit(_MIX_BUCKETS)) * F.lit(k),
        F.lit(_MIX_BUCKETS),
    )


def weighted_mix(
    df: DataFrame,
    weights_ppm: dict[str, int],
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic source-weighted mixture sampling — the "data
    mixing" step of a training-data pipeline (sample each domain at a
    target rate before interleaving).

    Keeps a row iff ``(id·K mod 2²⁰) / 2²⁰ < ppm/10⁶``, compared in
    cross-multiplied integers (``hash·10⁶ < ppm·2²⁰``) so there is no
    floating point anywhere and the kept set is bit-identical across
    engines, partitionings, and retries. Sources absent from
    ``weights_ppm`` default to 0 ppm (dropped).

    Scale: a pure expression filter over the scan — no shuffle, no
    Python, no broadcast state; at 100 TB this is a map-only pass that
    AQE can pipeline into whatever comes next.
    """
    m = F.create_map(*[F.lit(x) for kv in weights_ppm.items() for x in kv])
    ppm = F.coalesce(m[F.col(source_col)], F.lit(0)).cast("long")
    h = _coin_hash(id_col, MIX_HASH_K)
    return df.where(h * F.lit(1_000_000) < ppm * F.lit(_MIX_BUCKETS))


def length_histogram(
    df: DataFrame,
    edges: tuple[int, ...] = (16, 32, 48, 64, 96),
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-length histogram — the corpus-shape profile a
    mixture designer reads before setting packing lengths. Bucket key
    is the largest edge ≤ n_tokens (0 below the first edge) via a CASE
    chain — exact integers, no log/floor floating point. ``share`` is
    the one final double division (n_docs / source_total).

    Scale: one groupBy shuffle on (source, bucket) — thousands of
    groups at most — then a tiny window over the aggregated result.
    """
    n = F.size(F.split(F.col(text_col), " ")).cast("long")
    bucket = F.lit(0).cast("long")
    for e in edges:  # ascending: the last satisfied edge wins
        bucket = F.when(n >= e, F.lit(e).cast("long")).otherwise(bucket)
    agg = (
        df.select(F.col(source_col).alias("source"), bucket.alias("bucket_lo"))
        .groupBy("source", "bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    total = F.sum("n_docs").over(Window.partitionBy("source"))
    return agg.select(
        "source",
        "bucket_lo",
        "n_docs",
        (F.col("n_docs").cast("double") / total.cast("double")).alias("share"),
    )


def bigram_lm_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-LM rarity score — the statistical quality filter of a
    pretraining pipeline (the perplexity-filter shape, without a
    neural LM): train a bigram count model ON the corpus itself, then
    score every doc by its mean inverse bigram frequency.

    Exactness: the per-bigram surprisal proxy is ``N DIV c(b)``
    (integer division by the corpus count) — an integer, so the
    per-doc sum is order-independent under Spark's parallel
    aggregation, and ``rarity`` is the single final double division
    (sum / n_bigrams). No log/libm anywhere.

    Scale: bigram counting is one explode + groupBy shuffle into a
    VOCABULARY-sized table (≪ corpus), which Spark broadcasts back
    onto the exploded probe side while it fits (the observed plan at
    test scale: BroadcastHashJoin on ``b``, zero probe-side shuffle)
    and degrades to a bigram-keyed shuffle join beyond the broadcast
    threshold. The corpus is scanned twice (probe explode + count
    explode) — deliberately: persisting the exploded bigram stream
    would cost more than the second columnar scan. The per-doc rollup
    is the one unavoidable shuffle on id. No driver state.
    """
    w = F.split(F.col(text_col), " ")
    sz = F.size(w)
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(sz - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(sz - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    exploded = df.select(F.col(id_col).alias("id"), F.explode(bigrams).alias("b"))
    counts = exploded.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    n_total = counts.agg(F.sum("c").cast("long").alias("n"))
    scored = (
        exploded.join(counts, "b")
        .crossJoin(F.broadcast(n_total))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.expr("n DIV c")).cast("long").alias("sum_inv"),
        )
    )
    return scored.select(
        F.col("id").alias(id_col),
        "n_bigrams",
        "sum_inv",
        F.when(
            F.col("n_bigrams") > 0,
            F.col("sum_inv").cast("double") / F.col("n_bigrams").cast("double"),
        ).otherwise(F.lit(0.0)).alias("rarity"),
    )


def cross_source_dup_matrix(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplicate-leakage matrix: how many near-dup pairs
    span each (source, source) combination — the report that tells a
    mixture designer which domains plagiarize which (and how much
    mass exact-dedup will move between them). Pair orientation is
    canonicalized (least, greatest) so the matrix is upper-triangular.

    Scale: the pair graph is O(near-dups) — tiny next to the corpus —
    so both id→source lookups join against the corpus with the pair
    side as the (broadcastable) probe; one final small groupBy.
    """
    src = df.select(F.col(id_col).alias("id"), F.col(source_col).alias("src"))
    j = (
        pairs.join(src.withColumnRenamed("src", "src_a"), pairs["id_a"] == src["id"])
        .drop("id")
        .join(
            src.withColumnRenamed("src", "src_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
    )
    return (
        j.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# Split-assignment hash constant — a DIFFERENT odd multiplier than
# MIX_HASH_K so the split is statistically independent of mixture
# sampling (same multiplier would make e.g. 'test' docs exactly the
# ones a low-ppm mix drops). 2246822519 = xxhash32 prime 2.
SPLIT_HASH_K = 2246822519


def assign_splits(
    df: DataFrame,
    val_ppm: int = 10_000,
    test_ppm: int = 10_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic train/val/test split assignment: the same
    integer-hash coin flip as :func:`weighted_mix` (different
    multiplier), carved into three ranges — [0, test) → 'test',
    [test, test+val) → 'val', rest → 'train'. No RNG, stable under
    re-partitioning/retries, reproducible across engines — the
    properties a dataset split actually needs. Pure scan-stage
    expression; compare in cross-multiplied integers."""
    h = _coin_hash(id_col, SPLIT_HASH_K)
    t_edge = h * F.lit(1_000_000) < F.lit(test_ppm).cast("long") * F.lit(_MIX_BUCKETS)
    v_edge = h * F.lit(1_000_000) < F.lit(test_ppm + val_ppm).cast("long") * F.lit(_MIX_BUCKETS)
    return df.withColumn(
        "split",
        F.when(t_edge, F.lit("test")).when(v_edge, F.lit("val")).otherwise(F.lit("train")),
    )


def _hash_bucket(h: Column, n_buckets: int) -> Column:
    """Order-preserving range bucket of the 2²⁰-bucket coin hash:
    ``⌊h·B/2²⁰⌋``. Monotone in ``h``, so every row of bucket b precedes
    every row of bucket b+1 in the global (h, id) order — the property
    that lets per-source order statistics decompose across buckets.
    h·B < 2²⁰·B is exact in int64 (and in double, < 2⁵³)."""
    return F.floor(h * F.lit(n_buckets) / F.lit(_MIX_BUCKETS)).cast("int")


def cap_per_source(
    df: DataFrame,
    cap: int,
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int = 32,
) -> DataFrame:
    """Per-domain document cap ("at most N examples per domain"):
    keep up to ``cap`` docs per source, chosen in the deterministic
    mix-hash order — stable under re-partitioning and unbiased by
    ingestion order (a plain LIMIT would keep whatever arrived
    first).

    Skew (VERDICT r4 #2): a bare per-source row_number window makes a
    pathologically hot source — routinely >50% of a 100 TB corpus —
    ONE straggler sort task, and AQE cannot help (its skew mitigation
    splits *join* partitions only; see the same correction at
    operators/temporal.py). So the cap runs in two stages: (1) a
    salted pre-rank over (source, hash-bucket) keeps ≤ ``cap`` rows
    per bucket — the hot source's sort splits ``n_buckets`` ways —
    which is a provable superset of the answer (a row in the global
    per-source top-``cap`` ranks ≤ cap in any subset containing it);
    (2) the exact per-source window then sorts at most
    ``cap·n_buckets`` survivors per source. Both windows use the same
    deterministic (hash, id) order, so the kept set is identical to
    the single-window formulation (pytest-pinned).
    """
    h = _coin_hash(id_col, MIX_HASH_K)
    order = [h.asc(), F.col(id_col).asc()]
    w_pre = Window.partitionBy(source_col, "__salt").orderBy(*order)
    w = Window.partitionBy(source_col).orderBy(*order)
    return (
        df.withColumn("__salt", _hash_bucket(h, n_buckets))
        .withColumn("__prn", F.row_number().over(w_pre))
        .filter(F.col("__prn") <= cap)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__salt", "__prn", "__rn")
    )


def token_budget_subset(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_buckets: int = 32,
) -> DataFrame:
    """Per-domain token budget ("sample ~1B tokens per domain"): walk
    each source's docs in deterministic hash order and keep them while
    the running token total stays ≤ ``budget`` — the subset UNDERSHOOTS
    rather than overruns (the first doc that would cross the budget,
    and everything after it in hash order, is dropped... docs later in
    the order that still fit do NOT re-enter; the walk is a prefix, so
    the kept set is a clean reproducible prefix, not a best-fit pack —
    use :func:`pack_sequences` machinery when best-fit matters).

    Exact: token counts and the running sum are int64; the keep test
    is an integer comparison.

    Skew (VERDICT r4 #3): the prefix-sum is TWO-PHASE instead of one
    per-source running-sum window (which would put a hot source's
    entire doc set in one sorted straggler partition — AQE splits join
    partitions only, never window sorts). The hash-range bucket is
    order-preserving (:func:`_hash_bucket`), so the global per-source
    running sum decomposes exactly: (1) one map-side-combinable
    aggregate computes per-(source, bucket) token totals — a tiny
    ``sources·n_buckets``-row frame; (2) a window over that tiny frame
    turns totals into per-bucket starting offsets, broadcast-joined
    back; (3) buckets whose offset already exceeds the budget are
    dropped BEFORE any sort (at 100 TB with budget ≪ corpus this
    eliminates almost all data), and the survivors get a local
    running-sum window over (source, bucket) — the hot source's sort
    is split ``n_buckets`` ways — with cum = offset + local sum.

    ``n_buckets`` is the honest knob (cf. the x58 fallback note): the
    surviving data per source is ≈ the budget's worth of docs plus ONE
    bucket's width (~source/n_buckets rows), so finer buckets shrink
    the one sorted straggler-candidate toward the budget itself; the
    price is the offsets frame (sources × n_buckets rows), which must
    stay broadcastable. 32 suits few-source curation corpora; a
    million-source crawl with a tiny budget wants n_buckets in the
    thousands and a merge-join fallback if the frame outgrows the
    broadcast threshold.

    Cost accounting vs the single-window plan: the offsets branch and
    the probe branch each scan + tokenize the corpus once (``base`` is
    not persisted), so this shape pays ONE extra map-only pass — which
    pipelines at full parallelism — to replace an unbounded one-task
    window sort with a bounded one. At 100 TB that trade is the point;
    callers that prefer memory over the second pass can persist the
    projected (id, source, tokens, bucket) frame themselves.

    NULL text counts as 0 tokens, explicitly: ANSI ``size(split(NULL))``
    is NULL (legacy: −1), and a NULL leaking into the running sum would
    make the row's cum NULL → silently dropped (or corrupt the bucket
    pre-filter under legacy −1). The explicit WHEN pins one semantic —
    a NULL-text doc passes through budget-free — in both SQL modes.
    """
    n = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(
        F.size(F.split(F.col(text_col), " "))
    ).cast("long")
    h = _coin_hash(id_col, MIX_HASH_K)
    base = (
        df.withColumn("__n_tokens", n)
        .withColumn("__h", h)
        .withColumn("__b", _hash_bucket(F.col("__h"), n_buckets))
    )
    # Phase 1+2: per-(source, bucket) totals → exclusive prefix offsets.
    # The window runs over the aggregated frame (≤ sources·n_buckets
    # rows), never the corpus.
    w_off = (
        Window.partitionBy(source_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        base.groupBy(source_col, "__b")
        .agg(F.sum("__n_tokens").alias("__bsum"))
        .withColumn("__off", F.coalesce(F.sum("__bsum").over(w_off), F.lit(0)))
        .select(
            F.col(source_col).alias("__osrc"), F.col("__b").alias("__ob"), "__off"
        )
    )
    # Phase 3: local running sum within each (source, bucket). The
    # ``__off <= budget`` pre-filter is exact, not heuristic: every row
    # in such a bucket has cum ≥ __off + its own (≥0) tokens, and rows
    # the final filter would keep all sit in buckets with __off ≤ budget.
    w_loc = (
        Window.partitionBy(source_col, "__b")
        .orderBy(F.col("__h").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # NULL-SAFE join keys: the window formulation treats a NULL source
    # (or a NULL id's hash bucket) as its own group, so the decomposed
    # path must too — a plain [source, __b] equi-join would silently
    # drop those rows. eqNullSafe keys still hash-join.
    on = F.col(source_col).eqNullSafe(F.col("__osrc")) & F.col("__b").eqNullSafe(
        F.col("__ob")
    )
    return (
        base.join(F.broadcast(offsets), on)
        .filter(F.col("__off") <= budget)
        .withColumn("__cum", F.col("__off") + F.sum("__n_tokens").over(w_loc))
        .filter(F.col("__cum") <= budget)
        .withColumnRenamed("__n_tokens", "n_tokens")
        # restore the input column order + n_tokens, the output contract
        .select(*df.columns, "n_tokens")
    )


def span_dup_pairs(
    df: DataFrame,
    window: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Verbatim span duplication: document pairs sharing at least one
    identical run of ``window`` consecutive tokens, with the count of
    distinct shared spans — the scalable Spark-native analogue of
    exact-substring dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better", ACL 2022, which uses a suffix
    array): a shared ≥window-token span is exactly a shared rolling
    window hash.

    Reuses the persisted shingle index at n=window (rolling windows ARE
    word shingles), so the corpus scan is shared with any other
    operator shingling at the same width. Candidates come from the
    inverted-index self-join on the int64 span hash; the count per pair
    is exact (per-doc spans are distinct). At 100 TB, cap span document
    frequency first (a span in thousands of docs is boilerplate, which
    a curation pipeline REMOVES rather than counts — and the cap kills
    the m²/2 hot-key blowup); here the corpus is boilerplate-free and
    the exact count is oracle-checked.

    Output: (id_a, id_b, n_shared_spans), id_a < id_b.
    """
    sh = D.shingle_index(df, id_col, text_col, n=window)
    inv = sh.select(F.col("id"), F.explode("sh").alias("g"))
    a = inv.select(F.col("id").alias("id_a"), "g")
    b = inv.select(F.col("id").alias("id_b"), "g")
    return (
        a.join(b, ["g"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


def quality_stratified(
    df: DataFrame,
    keep_frac: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source quality percentile normalization: rank each document's
    quality score WITHIN its source and keep the top ``keep_frac`` of
    every source — the stratified filter that replaces one global
    threshold (domains have different score distributions; a global
    cut silently drops whole domains).

    percent_rank over (source, quality, id) — the id tiebreak makes the
    rank (hence the percentile and the kept set) fully deterministic.
    One window shuffle on ``source``; for a pathologically dominant
    single source at 100 TB, swap the exact window for an
    approx-percentile threshold per source (two scans, no sort) — the
    exact window is the oracle-checkable default.

    Output: (doc_id, source, quality_score, q_pct, kept 0/1).
    """
    from pyspark.sql.window import Window

    from sql_engine_spark.operators.text import quality_expr

    w = Window.partitionBy(source_col).orderBy(
        F.col("quality_score").asc(), F.col(id_col).asc()
    )
    scored = df.select(
        F.col(id_col), F.col(source_col), quality_expr(text_col).alias("quality_score")
    )
    return scored.withColumn("q_pct", F.percent_rank().over(w)).withColumn(
        "kept", (F.col("q_pct") >= 1.0 - keep_frac).cast("long")
    )


def dup_cluster_stats(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate CLUSTER accounting: connected components over the
    pair graph → one row per multi-document cluster with its size, the
    representative (minimum id — the doc a dedup keeps), total token
    count, and the tokens a dedup would delete (total − representative)
    — the "bytes saved" report a production dedup run publishes.

    Costs one CC job over the (tiny) pair graph plus one join of the
    labels against per-doc token counts; clusters of size 1 are
    dropped (every unique doc is its own component — noise, and at
    corpus scale the singleton set is the corpus).

    Output: (component, n_docs, rep_doc, total_tokens, dup_tokens).
    """
    from sql_engine_spark.operators.dedup import connected_components
    from sql_engine_spark.operators.text import tokens

    comp = connected_components(pairs, df, id_col=id_col)
    toks = df.select(F.col(id_col), F.size(tokens(text_col)).cast("long").alias("__nt"))
    labeled = comp.join(toks, id_col)
    return (
        labeled.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("rep_doc"),
            F.sum("__nt").alias("total_tokens"),
            (F.sum("__nt") - F.min_by("__nt", F.col(id_col))).alias("dup_tokens"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def incremental_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    new_mod: int = 10,
) -> DataFrame:
    """Incremental near-dup detection: Jaccard ≥ threshold pairs between
    a NEW batch (here ``id % new_mod == 0`` — today's crawl) and the
    EXISTING corpus — the production shape that avoids re-deduping the
    whole corpus per ingest. At 100 TB the existing corpus's shingle
    index is the materialized artifact; only the new batch is shingled
    and probed.

    Exactness: J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A|, so probing the NEW doc's
    rarest-first prefix (|A| − ⌈t·|A|⌉ + 1 shingles) into the FULL
    corpus inverted index cannot miss a qualifying pair (the
    containment-style one-sided prefix bound); the two-sided length
    filter t·|A| ≤ |B| ≤ |A|/t prunes size-incompatible candidates in
    exact integer arithmetic, and survivors get the exact
    array_intersect Jaccard.

    Positional prune (exact, both sides in the SAME df order — the
    corpus side explodes the same memoized ``osh`` artifact the probe
    slices): J ≥ t ⟹ overlap o ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉, and the
    smallest common shingle sits at 0-based position ≤ |A| − o in A
    AND ≤ |B| − o in B simultaneously, so requiring
    min(|A| − p_n, |B| − p_o) ≥ α keeps it for every true pair while
    a corpus-side token deep in its df-ordered array (the hot-shingle
    tail) never generates candidates.

    Output: (id_new, id_old, jaccard).
    """
    num = round(threshold * 1_000_000)
    sh = D.shingle_index(df, id_col, text_col, n)
    n_sc = D.scaled_join_partitions(sh)
    new_pred = F.col("id") % new_mod == 0
    prefix_len = (F.col("sz") - D._ceil_frac(F.col("sz"), threshold) + 1).cast("int")
    osh = D.ordered_shingle_index(sh)
    pref = D._cluster(
        osh.filter(new_pred)
        .select("id", "sz", F.posexplode(F.slice("osh", 1, prefix_len)).alias("pn", "s"))
        .select(F.col("id").alias("id_new"), F.col("sz").alias("sz_new"), "pn", "s"),
        n_sc,
        "s",
    )
    inv = D._cluster(
        osh.filter(~new_pred)
        .select(
            F.col("id").alias("id_old"),
            F.col("sz").alias("sz_old"),
            F.posexplode("osh").alias("po", "s"),
        ),
        n_sc,
        "s",
    )
    alpha = D._alpha(F.col("sz_new"), F.col("sz_old"), threshold)
    raw = (
        # Pinned shuffle-hash with the (smaller, 10%-of-corpus) batch
        # prefix side as build: the batch here is NOT a trigger-bounded
        # micro-batch, so both exploded sides scale with the corpus —
        # never broadcastable (the 125× replica OOM class); hash not
        # merge per the containment-candidates rationale.
        pref.hint("shuffle_hash").join(
            inv,
            (pref["s"] == inv["s"])
            # length filter both ways: t·|A| ≤ |B| AND t·|B| ≤ |A|
            & (F.col("sz_old") * 1_000_000 >= F.col("sz_new") * num)
            & (F.col("sz_new") * 1_000_000 >= F.col("sz_old") * num)
            & (F.col("sz_new") - F.col("pn") >= alpha)
            & (F.col("sz_old") - F.col("po") >= alpha),
        )
        .select("id_new", "id_old")
    )
    # Probe-key partition before the dedup: one exchange serves dedup
    # AND the verify join (dedup._cluster_always rationale, r16).
    cands = D._cluster_always(raw, n_sc, "id_new").dropDuplicates(["id_new", "id_old"])
    a = sh.select(F.col("id").alias("id_new"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_old"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
    # Pinned shuffle-hash (build: narrow pairs, then the array side —
    # the fat stream is never sorted): both batch (10% of corpus) and
    # corpus array sides are corpus-scaled — never broadcastable (the
    # 125× replica OOM class; dedup._verify_pairs_jaccard rationale),
    # clustered at the corpus-scaled count (the 250× no-spill wall).
    j = (
        cands.hint("shuffle_hash")
        .join(D._cluster(a, n_sc, "id_new"), "id_new")
        .join(D._cluster(b, n_sc, "id_old").hint("shuffle_hash"), "id_old")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
    return (
        j.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def crossmodal_dup_agreement(
    docs: DataFrame,
    emb: DataFrame,
    j_threshold: float = 0.8,
    c_threshold: float = 0.4,
    use_buckets: bool = False,
) -> DataFrame:
    """Cross-modal near-duplicate AGREEMENT audit: full-outer join the
    lexical near-dup pairs (n-gram Jaccard ≥ ``j_threshold``) with the
    embedding near-dup pairs (cosine ≥ ``c_threshold``) over the
    shared id space, tagging each pair ``both`` / ``lexical_only`` /
    ``semantic_only`` — the sanity check that an embedding space
    actually reflects textual duplication before semantic dedup is
    trusted (on this synthetic corpus the embeddings are independent
    of the text, and the audit SHOWS it: both ≈ 0).

    Consumes the memoized lexical pair graph; the semantic side
    defaults to the exact all-pairs scorer for oracle checkability
    (``use_buckets=True`` is the banded 100 TB path, identical output
    minus banding recall). The outer join runs over two TINY pair
    sets, never the corpora.

    Output: (id_a, id_b, jaccard?, cosine_sim?, agreement).
    """
    from sql_engine_spark.operators.similarity import embedding_dup_pairs

    lex = D.ngram_jaccard_pairs(docs, threshold=j_threshold).select(
        F.col("id_a").alias("la"), F.col("id_b").alias("lb"), "jaccard"
    )
    sem = embedding_dup_pairs(emb, threshold=c_threshold, use_buckets=use_buckets).select(
        F.col("id_a").alias("sa"), F.col("id_b").alias("sb"), "cosine_sim"
    )
    j = lex.join(
        sem, (F.col("la") == F.col("sa")) & (F.col("lb") == F.col("sb")), "full_outer"
    )
    return j.select(
        F.coalesce("la", "sa").alias("id_a"),
        F.coalesce("lb", "sb").alias("id_b"),
        "jaccard",
        "cosine_sim",
        F.when(F.col("la").isNotNull() & F.col("sa").isNotNull(), F.lit("both"))
        .when(F.col("la").isNotNull(), F.lit("lexical_only"))
        .otherwise(F.lit("semantic_only"))
        .alias("agreement"),
    )


def chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Chunk-level exact dedup WITH document reconstruction (the
    CCNet / RefinedWeb paragraph-dedup shape, Wenzek et al. 2020): cut
    every document into non-overlapping ``chunk_tokens``-token chunks,
    delete every chunk occurrence whose text already appeared EARLIER
    in corpus order (first occurrence kept — ties broken on
    (doc_id, chunk_idx), so the kept set is deterministic), and
    reassemble each document from its surviving chunks. Unlike
    :func:`span_dup_pairs` (which only *reports* shared spans) this
    produces the cleaned corpus itself.

    Plan shape: chunking happens as ONE scan-stage expression on the
    token array (``transform(sequence(...), slice(...))`` — no
    token-level explode; the explode is per-chunk, 1/chunk_tokens of
    the token count). Then exactly two wide shuffles, the floor for
    exact corpus-wide chunk dedup: (1) keep-first as a
    ``groupBy(chunk).agg(min(struct(doc_id, chunk_idx)))`` — a
    map-side-combinable aggregate, so a boilerplate chunk repeated
    10⁸ times collapses to one row PER INPUT PARTITION before the
    shuffle and the reduce side sees ≤ one row per (chunk,
    partition); the chunk key deliberately never appears in a window
    (a skewed window partition is one straggler task AQE cannot
    split) or a join. (Spark executes the struct-buffered min as a
    SortAggregate — a LOCAL per-partition sort, O(p·log p) on uniform
    partitions, still partial-aggregating map-side; nothing like the
    window's per-key straggler.) Exact string grouping, NOT a 64-bit hash,
    because at 100 TB (≈ trillions of chunks) birthday collisions on
    int64 would silently delete unique text. (2) the per-document
    rebuild: the per-chunk winners (each chunk text has exactly one
    keeper) are unioned with one scan-side marker row per document
    carrying its total chunk count, and a single groupBy(doc_id)
    rebuilds the survivors — doc ids are unique-per-row keys, no
    skew. At 100 TB this is strictly cheaper than suffix-array
    exact-substring dedup (Lee et al. ACL 2022) and is the standard
    industrial approximation of it.

    Output: (doc_id, n_chunks, n_kept, clean_text); docs whose every
    chunk was seen earlier come back with clean_text = ''.
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1),
        lambda i: F.array_join(
            F.slice(toks, i * F.lit(chunk_tokens) + 1, chunk_tokens), " "
        ),
    )
    ch = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    # Keep-first = per-chunk min (doc_id, chunk_idx): struct comparison
    # is lexicographic, identical to ORDER BY doc_id, chunk_idx.
    winners = ch.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("chunk_idx").alias("i"))).alias("f")
    )
    kept = winners.select(
        F.col("f.d").alias(id_col),
        F.lit(None).cast("int").alias("__nc"),
        F.col("f.i").alias("chunk_idx"),
        "chunk",
    )
    marker = df.select(
        F.col(id_col),
        F.greatest(n_chunks, F.lit(1)).alias("__nc"),
        F.lit(None).cast("int").alias("chunk_idx"),
        F.lit(None).cast("string").alias("chunk"),
    )
    return marker.unionByName(kept).groupBy(id_col).agg(
        F.max("__nc").cast("long").alias("n_chunks"),
        F.count("chunk").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("chunk").isNotNull(), F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )


# Third independent multiplier (OEIS A000069-unrelated odd constant,
# coprime with 2^20) so priority sampling is statistically independent
# of both the mixture coin (MIX_HASH_K) and the split coin
# (SPLIT_HASH_K).
PRIORITY_HASH_K = 2654435769


def weighted_priority_sample(
    df: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    stratum_col: str = "source",
) -> DataFrame:
    """Deterministic weighted sampling per stratum — integer "priority
    sampling" (Duffield/Lund/Thorup, JACM 2007 shape): each row draws
    the deterministic pseudo-uniform ``h = coin_hash(id)`` and gets
    priority key ``h // weight`` — larger weight → proportionally
    smaller key → more likely in the per-stratum bottom-k. Pure
    integer arithmetic end-to-end (no float pow/log as in
    Efraimidis–Spirakis), so the sampled set is bit-reproducible
    across engines, partitionings, and retries — the property a
    training-mix sampler actually needs.

    One window shuffle on the stratum; the candidate set never leaves
    the executors. At 100 TB swap row_number for a per-stratum
    approximate k-th-key threshold (two scans) if a single stratum
    dominates; the exact window is the oracle-checkable default.

    Output: (doc_id, stratum, weight, sample_key, rnk), rnk ≤ k.
    """
    h = _coin_hash(id_col, PRIORITY_HASH_K)
    wt = F.greatest(F.col(weight_col).cast("long"), F.lit(1))
    win = Window.partitionBy(stratum_col).orderBy(
        F.col("sample_key").asc(), F.col(id_col).asc()
    )
    return (
        df.select(
            F.col(id_col),
            F.col(stratum_col),
            wt.alias("weight"),
            h.cast("long").alias("__h"),
        )
        # TRUE int64 division (`div`), not floor(double /): the double
        # quotient can round up across an integer boundary once the
        # weight nears 2^32, and the DuckDB oracle replays integer `//`.
        .withColumn("sample_key", F.expr("__h div weight"))
        .drop("__h")
        .withColumn("rnk", F.row_number().over(win))
        .filter(F.col("rnk") <= k)
    )


def component_splits(
    df: DataFrame,
    pairs: DataFrame,
    val_ppm: int = 10_000,
    test_ppm: int = 10_000,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-free train/val/test split: assign the split by the
    deterministic coin hash of each document's near-duplicate
    CONNECTED COMPONENT label (min reachable id), not of the document
    itself — so a near-dup pair can never straddle train and test
    (the contamination mode :func:`assign_splits` alone cannot
    prevent; cf. the dedup-before-split discipline of The Pile /
    RefinedWeb). Singleton docs are their own component and fall back
    to the plain per-doc coin.

    Cost: one CC job over the (tiny) pair graph + one broadcast-sized
    join of labels onto the corpus — the corpus itself never
    shuffles. Same integer-range arithmetic as assign_splits
    (SPLIT_HASH_K), replayable in the oracle.

    Output: (doc_id, component, split).
    """
    from sql_engine_spark.operators.dedup import connected_components

    # CC already labels EVERY vertex (singletons get their own id).
    comp = connected_components(pairs, df, id_col=id_col)
    return assign_splits(comp, val_ppm, test_ppm, id_col="component").select(
        id_col, "component", "split"
    )


def incremental_pairs_vs_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Two-input core of incremental near-dup detection — the STREAMING
    ingest shape: probe a (typically tiny) NEW batch against the static
    corpus's memoized inverted index. Unlike
    :func:`incremental_jaccard_pairs` (one corpus, id-mod split, and
    rarest-first prefixes from the corpus-wide frequency artifact), the
    batch side here is shingled fresh per call and probes in plain
    hash order: a micro-batch is too small to amortize a frequency
    rank, and the one-sided prefix bound (|A∩B| ≥ t·|A| ⟹ any
    (|A|−⌈t·|A|⌉+1)-subset of A hits B) is exact for ANY prefix
    order because the corpus side is the FULL index. Both sides ARE in
    the same hash order (``shingle_hashes`` emits sorted arrays), so
    the PPJoin positional prune applies exactly as in
    :func:`incremental_jaccard_pairs`: the smallest common shingle of
    a true pair sits at position ≤ |side| − α on BOTH sides
    (α = ⌈t/(1+t)·(|A|+|B|)⌉), so index tokens deep in their arrays
    never generate candidates. Per-batch cost is O(batch + matched
    candidates); the corpus index is built once and shared across
    every batch of the stream.

    Output: (id_new, id_old, jaccard ≥ threshold).
    """
    num = round(threshold * 1_000_000)
    sh_old = D.shingle_index(corpus_df, id_col, text_col, n)
    sh_new = (
        new_df.select(
            F.col(id_col).alias("id"), D.shingle_hashes(text_col, n).alias("sh")
        )
        # long for the same ANSI-overflow reason as shingle_index
        .withColumn("sz", F.size("sh").cast("long"))
        .filter(F.col("sz") > 0)
    )
    prefix_len = (F.col("sz") - D._ceil_frac(F.col("sz"), threshold) + 1).cast("int")
    pref = sh_new.select(
        F.col("id").alias("id_new"),
        F.col("sz").alias("sz_new"),
        F.posexplode(F.slice("sh", 1, prefix_len)).alias("pn", "s"),
    )
    inv = sh_old.select(
        F.col("id").alias("id_old"),
        F.col("sz").alias("sz_old"),
        F.posexplode("sh").alias("po", "s"),
    )
    alpha = D._alpha(F.col("sz_new"), F.col("sz_old"), threshold)
    cands = (
        pref.join(
            inv,
            (pref["s"] == inv["s"])
            & (F.col("sz_old") * 1_000_000 >= F.col("sz_new") * num)
            & (F.col("sz_new") * 1_000_000 >= F.col("sz_old") * num)
            & (F.col("sz_new") - F.col("pn") >= alpha)
            & (F.col("sz_old") - F.col("po") >= alpha),
        )
        .select("id_new", "id_old")
        .dropDuplicates(["id_new", "id_old"])
    )
    a = sh_new.select(
        F.col("id").alias("id_new"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")
    )
    b = sh_old.select(
        F.col("id").alias("id_old"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")
    )
    # The corpus side is pinned shuffle-hash (never broadcastable — the
    # 125× replica OOM class; build = per-partition-bounded arrays, the
    # fat stream never sorted) and clustered at the corpus-scaled
    # count (the 250× no-spill wall) — the probe side auto-matches its
    # partitioning, so no extra exchange. The NEW side stays unhinted
    # and unclustered on purpose: a micro-batch is trigger-bounded,
    # and broadcasting it is the intended streaming-ingest plan.
    j = cands.join(a, "id_new").join(
        D._cluster(b, D.scaled_join_partitions(sh_old), "id_old").hint("shuffle_hash"),
        "id_old",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
    return (
        j.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_new", "id_old", "jaccard")
    )


def epoch_upsample(
    df: DataFrame,
    epochs_ppm: dict[str, int],
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Deterministic fractional-epoch upsampling — the training-mix
    primitive behind "source A is seen 2.3 epochs": every doc of a
    source with epoch factor e (given in ppm, integer) appears
    ⌊e⌋ times, plus one more iff its integer coin lands below frac(e)
    — so expected copies per doc is exactly e, the realized count is
    deterministic (stable under retries/repartitioning), and a
    source's realized token budget is within one doc of e·N. The copy
    fan-out is a scan-stage ``explode(sequence(...))`` — no shuffle at
    all; sources absent from ``epochs_ppm`` default to 1.0 epochs.

    Output: one row per (doc, copy): (doc_id, source, n_copies,
    copy_idx 1..n_copies); docs with n_copies=0 (e < 1 and coin
    misses) vanish, exactly like a sampled-out doc in
    :func:`weighted_mix`.
    """
    e = None
    for src, ppm in sorted(epochs_ppm.items()):
        cond = F.col(source_col) == src
        e = F.when(cond, F.lit(int(ppm))) if e is None else e.when(cond, F.lit(int(ppm)))
    e = (e.otherwise(F.lit(1_000_000)) if e is not None else F.lit(1_000_000)).cast("long")
    h = _coin_hash(id_col, MIX_HASH_K)
    # `div` = true int64 division — a double `/` + cast rounds UP for
    # eppm near 2^63 with a high frac part (module discipline: integer
    # counters end-to-end).
    staged = df.select(F.col(id_col), F.col(source_col), e.alias("__eppm"))
    base = F.expr("__eppm div 1000000")
    frac_ppm = F.col("__eppm") - base * 1_000_000
    extra = (h * F.lit(1_000_000) < frac_ppm * F.lit(_MIX_BUCKETS)).cast("long")
    n_copies = (base + extra).alias("n_copies")
    copies = F.when(
        F.col("n_copies") >= 1, F.sequence(F.lit(1), F.col("n_copies"))
    ).otherwise(F.array().cast("array<long>"))
    return (
        staged.select(F.col(id_col), F.col(source_col), n_copies)
        .withColumn("copy_idx", F.explode(copies))
        .select(id_col, source_col, "n_copies", "copy_idx")
    )


def source_divergence(
    df: DataFrame,
    vocab_size: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source χ² divergence of the token distribution from the
    corpus-wide distribution — the "domain drift" monitor a mixture
    pipeline watches (a source whose χ² jumps changed its content).
    Restricted to the top-``vocab_size`` corpus tokens (deterministic
    count-desc/token-asc cut, the stopword-machinery bound that keeps
    the per-source fold FIXED-LENGTH no matter the corpus size).

    Exactness discipline: all counts are int64; each token's term is
    d²/(N·n_s·c_t) with d = o·N − n_s·c_t where every factor is cast
    to double BEFORE multiplying in a pinned order (each factor is
    < 2⁵³ so the casts are exact and every IEEE op rounds identically
    on both engines — and no int64 product can overflow ANSI mode at
    scale), summed in a token-sorted LEFT-TO-RIGHT fold —
    bit-identical to the DuckDB oracle despite being float math.

    Plan: one explode → ONE corpus-wide (source, token) rollup; the
    corpus counts, vocab cut, per-source totals, and N all derive
    from that tiny relation → a sources×vocab broadcast grid (zero
    counts must contribute their expected mass) → per-source sorted
    fold. The corpus is scanned and shuffled exactly once.

    Output: (source, n_tokens, chi2).
    """
    tok = df.select(F.col(source_col).alias("source"), F.explode(T.tokens(text_col)).alias("t"))
    # ONE corpus-wide aggregation: per-(source, token) counts; corpus
    # counts, the vocab cut, per-source totals, and N all derive from
    # this tiny (sources x tokens) relation — the corpus is exploded
    # and shuffled exactly once.
    st_all = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("o"))
    st_all = st_all.localCheckpoint(eager=False)
    corpus = st_all.groupBy("t").agg(F.sum("o").alias("c"))
    vocab = corpus.orderBy(F.col("c").desc(), F.col("t").asc()).limit(vocab_size)
    o_st = st_all.join(F.broadcast(vocab.select("t")), "t")
    n_s = o_st.groupBy("source").agg(F.sum("o").alias("n_s"))
    big_n = o_st.agg(F.sum("o").alias("N"))
    grid = (
        n_s.crossJoin(F.broadcast(vocab))
        .join(o_st, ["source", "t"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
        .crossJoin(F.broadcast(big_n))
    )
    # Products AFTER casting each exact-int64 factor to double, pinned
    # order — exact casts (< 2^53), deterministic IEEE rounding, and
    # no ANSI int64-overflow cliff when o*N outgrows 2^63 at scale.
    od, nd, nsd, cd = (F.col(c).cast("double") for c in ("o", "N", "n_s", "c"))
    d = od * nd - nsd * cd
    den = (nd * nsd) * cd
    term = (d * d) / den
    per = grid.select("source", "n_s", F.struct(F.col("t"), term.alias("x")).alias("tx"))
    return (
        per.groupBy("source", "n_s")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list("tx")),
                F.lit(0.0),
                lambda acc, s: acc + s["x"],
            ).alias("chi2")
        )
        .select("source", F.col("n_s").alias("n_tokens"), "chi2")
    )


def quality_dedup_survivors(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware dedup canonicalization: for every near-duplicate
    connected component keep the HIGHEST-quality member (tie → min id)
    instead of the min-id member that plain :func:`dedup_by_pairs` /
    x03 keeps — the policy production dedup actually wants ("keep the
    best copy", not "keep the first crawled copy"). Singleton docs
    keep themselves.

    One CC job over the (tiny) pair graph + one quality scan + TWO
    chained hash aggregates over the (corpus-sized but narrow)
    (component, quality, id) triple — no window, no sort anywhere in
    the canonicalization (a per-component window partition would be
    one straggler task AQE cannot split; and any struct-buffered
    aggregate — ``max_by(struct, struct)``, ``max(struct)`` — silently
    falls back to SortAggregate because struct buffers aren't
    UnsafeRow-mutable, re-smuggling the sort in):

    1. ``groupBy(component, q) → (min(id), count)`` — scalar buffers
       → HashAggregate with map-side combine: a mega dup-component of
       byte-identical text (routine in boilerplate-heavy crawls) has
       ONE distinct q and collapses to one row per input partition
       before the shuffle.
    2. ``groupBy(component) → (max(q), max_by(cand_id, q), sum)`` —
       q is a grouping key of step 1, so it is UNIQUE within each
       component and the scalar ``max_by`` is deterministic (highest
       q wins; its cand_id is already the min id at that q). Input is
       the collapsed (component, distinct-q) relation, so this second
       shuffle moves near-nothing.

    Output: (component, keep_doc, keep_quality, n_docs).
    """
    from sql_engine_spark.operators.dedup import connected_components
    from sql_engine_spark.operators.text import quality_expr

    comp = connected_components(pairs, df, id_col=id_col)
    scored = df.select(F.col(id_col), quality_expr(text_col).alias("q"))
    labeled = comp.join(scored, id_col)
    per_q = labeled.groupBy("component", "q").agg(
        F.min(F.col(id_col)).alias("__cand"), F.count(F.lit(1)).alias("__cnt")
    )
    # max_by SKIPS rows whose ordering key is NULL, so a component
    # whose every member has NULL quality (only NULL text produces
    # one — an empty string still tokenizes to [""] and scores) would
    # return keep_doc=NULL and silently keep nothing. Rank the NULL-q
    # group at -inf instead: it loses to any real score and an
    # all-NULL component falls back to its min id — exactly the
    # q DESC NULLS LAST, id ASC order the removed window used.
    # keep_quality stays max(q) = NULL for that component (the kept
    # row's own quality), matching the window's report.
    rank_q = F.coalesce(F.col("q"), F.lit(float("-inf")))
    return per_q.groupBy("component").agg(
        F.max_by(F.col("__cand"), rank_q).alias("keep_doc"),
        F.max("q").alias("keep_quality"),
        F.sum("__cnt").alias("n_docs"),
    )

"""Tier X deduplication operators (SURVEY.md §2.3): exact, n-gram
Jaccard, MinHash LSH, SimHash. Not present in the reference (its only
dedup is SELECT DISTINCT via an O(n²) list scan, reference
sqlengine.py:375-377); these are the LLM-pipeline operators mandated by
BASELINE.json, designed for 100 TB:

- exact dedup = hash aggregate on a key (map-side partials, one shuffle)
- n-gram Jaccard = prefix-filtered inverted-index self-join (PPJoin
  family): candidates only where sorted prefixes collide — exact, and
  never the O(n²) cross product
- MinHash LSH = expression-only banded minhash signatures over a
  portable (DuckDB-replayable) affine family, the sub-quadratic scale
  path
- SimHash = 64-bit bit-majority signature over the portable shingle
  ints, banded for candidate gen

Every approximate candidate generator is verified with an exact
array_intersect Jaccard (or exact hamming), so emitted pairs are never
false positives — only recall is approximate.
"""

from __future__ import annotations

import os
import random
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from sql_engine_spark.operators.text import tokens
from sql_engine_spark.session import shuffle_partitions


def exact_dedup(df: DataFrame, keys: list[str], tiebreak: str) -> DataFrame:
    """Keep exactly one row per key group: the row with the smallest
    ``tiebreak`` value (deterministic, unlike ``dropDuplicates`` which
    keeps an arbitrary row). One shuffle on ``keys``; at scale this is
    the standard hash-partitioned window dedup, and AQE splits skewed
    key groups."""
    w = Window.partitionBy(*keys).orderBy(F.col(tiebreak).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's default parallelism when the
    source likely produced fewer usable splits than cores (a small
    local parquet file is typically ONE row group, and a row group
    cannot be split across tasks — so expression-heavy stages fused
    into the scan run on one core no matter the split count). The
    heuristic reads ``df.inputFiles()`` + file sizes — pure metadata —
    instead of ``df.rdd.getNumPartitions()``, which would force a
    deprecated RDD conversion of the whole plan.

    Gated on BOTH file count and total bytes: a single LARGE splittable
    file (≥ ~64 MiB/core) already carries ≥ cores row-group splits, so
    only genuinely small inputs — where the repartition shuffle is a
    few MB, i.e. free — pay one. At real scale inputs span many
    files/row-groups and this is a no-op."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plans: assume already parallel
        return df
    if len(files) >= target:
        return df
    # Size gate, local files only: a single LARGE splittable file needs
    # no repartition (≥64 MiB/core of input → plenty of row groups to
    # split). Remote URIs (hdfs://, s3a://) or unstatable paths keep
    # the count-based decision — failing the size probe must not
    # silently DISABLE the repartition.
    total = _file_bytes(files)
    if total is not None and total >= target * 64 * 1024 * 1024:
        return df
    return df.repartition(target)


def _file_bytes(files: "list[str]") -> "int | None":
    """Summed size of ``inputFiles()`` URIs, or None when one of them
    is remote (hdfs://, s3a://) or unstatable."""
    try:
        return sum(
            os.path.getsize(uri[len("file:"):] if uri.startswith("file:") else uri)
            for uri in files
        )
    except (OSError, ValueError):
        return None


# --- corpus-scaled shuffle partitioning for the pinned hash joins ---
# A ShuffledHashJoin build side is per-partition and does NOT spill,
# so with a FIXED partition count every corpus-scaled build side
# eventually hits the execution-memory wall: the r13 pins that survive
# a 125× sf0.1 replica died at 250× (1.25M docs) with "Can't acquire
# 134217728 bytes memory to build hash relation" at 32 partitions
# (r14). The honest control is the partition count itself: ONE shuffle
# partition per ~1 MB of compressed source bytes keeps per-partition
# build state roughly constant (pair/prefix/freq rows scale ~linearly
# with corpus bytes at constant dup density), with the session conf as
# FLOOR — every corpus under ~conf MB (all driver sfs) keeps
# byte-identical plans. Pure driver-side file metadata, no job. Full
# rationale, A/B price, and asymptote: SCALE.md "SHJ operating
# envelope → corpus-scaled join partitioning".
_JOIN_PARTITION_INPUT_BYTES = 1 << 20


def _input_bytes(df: DataFrame) -> "int | None":
    """Total bytes of the file-backed inputs under ``df``'s plan (pure
    metadata). None for non-file / remote / unstatable inputs — there
    the cluster-sized session conf is the sizing rule. A PERSISTED
    plan reports no input files (the cache relation hides the scan),
    so ``_memo_persist`` stamps the source's byte count on every
    memoized artifact and that annotation wins here."""
    cached = getattr(df, "_corpus_input_bytes", None)
    if cached is not None:
        return cached
    try:
        files = df.inputFiles()
    except Exception:
        return None
    # No files: a cached/derived plan, not "0 bytes of input".
    return _file_bytes(files) if files else None


def scaled_join_partitions(df: DataFrame) -> "int | None":
    """Partition count for the pinned corpus-scaled hash joins, or
    None when the session conf already bounds the per-partition build
    (small corpus: the plan stays byte-identical). An unparseable
    ``spark.sql.shuffle.partitions`` (e.g. ``"auto"`` on an
    AQE-managed platform) must NOT silently disable the scaling rule
    — that would reintroduce the 250× SHJ no-spill wall exactly where
    it bites (ADVICE r14) — so the floor is
    :func:`~sql_engine_spark.session.shuffle_partitions`, which falls
    back to the cluster's ``defaultParallelism``. Only when that is
    unreadable too (Spark Connect) does the rule degrade to None:
    unscaled, but working."""
    total = _input_bytes(df)
    if total is None:
        return None
    conf = shuffle_partitions(df.sparkSession)
    if conf is None:
        return None
    n = total // _JOIN_PARTITION_INPUT_BYTES
    return int(n) if n > conf else None


def _cluster(df: DataFrame, n: "int | None", *cols: str) -> DataFrame:
    """Pre-cluster one side of a pinned join at the scaled partition
    count. REPARTITION_BY_NUM on the join keys SATISFIES the join's
    clustering requirement, so this replaces — never adds to — the
    exchange the join would insert; with n None the plan is untouched."""
    return df.repartition(n, *cols) if n else df


def _cluster_always(df: DataFrame, n: "int | None", *cols: str) -> DataFrame:
    """Like :func:`_cluster`, but repartitions even when the corpus is
    under the scaled-count floor (AQE-coalescible REPARTITION_BY_COL at
    the session conf count). Used where one deliberate exchange is
    about to be SHARED by an aggregation and a join keyed on a prefix
    of its columns — hash(id_a) satisfies ClusteredDistribution(id_a,
    id_b), so partitioning the raw pairs by the probe key once lets
    the pair dedup AND the verify probe join both reuse it (2 Exchange
    → 1 on every dedup-family verify path, r16)."""
    return df.repartition(n, *cols) if n else df.repartition(*cols)


# The corpus-artifact memo: every persisted per-corpus artifact —
# shingle indexes ("xxh", "portable"), the df-ordered index
# ("ordered"), the verified pair graph ("pairs") and SimHash
# signatures ("simhash") — keyed by (session, input-plan semantic hash,
# schema, kind tag, *params). At 100 TB these are the artifacts you
# materialize ONCE and feed to every near-dup operator (Jaccard join,
# containment, the CC pair source); in a long-lived session the second
# operator over the same corpus skips the shingle scan entirely.
# Bounded by distinct (corpus, kind, params) combinations per session;
# `clear_shingle_index()` unpersists everything.
_MEMO: dict[tuple, DataFrame] = {}
# One lock for the memo, so two queries on one session build a shared
# artifact once and never unpersist one the other is reading.
# Re-entrant: a build may itself consult the memo (the pair graph's
# build calls ordered_shingle_index, which calls _memo_persist).
_MEMO_LOCK = threading.RLock()


def _memo_persist(memo: dict, extra_key: tuple, df: DataFrame, build) -> DataFrame:
    """Memoized ``build()`` result, persisted MEMORY_AND_DISK, keyed by
    (JVM session UUID, input plan semantic hash, schema, *extra_key).
    The UUID is unique per session lifetime; ``id(sparkSession)`` is
    not a key, because a new session can reuse it after the old one is
    garbage-collected and be handed DataFrames bound to a dead session.
    The schema joins the key so a 32-bit semanticHash collision between
    different corpora cannot silently alias them. A session without a
    readable UUID, or a plan without a semantic hash, builds uncached
    (still persisted, correct)."""
    try:
        key = (
            df.sparkSession._jsparkSession.sessionUUID(),
            df.semanticHash(),
            df.schema.simpleString(),
        ) + extra_key
    except Exception:
        key = None
    with _MEMO_LOCK:
        if key is not None and key in memo:
            return memo[key]
        out = build().persist(StorageLevel.MEMORY_AND_DISK)
        # Persisting hides the file scan from inputFiles(), so the join
        # partition sizing (scaled_join_partitions) reads this stamp on
        # memoized artifacts; an already-stamped input (index-of-index,
        # e.g. ordered_shingle_index over shingle_index) passes through.
        out._corpus_input_bytes = _input_bytes(df)
        if key is not None:
            memo[key] = out
        return out


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int, hashes) -> DataFrame:
    """``(id, sh, sz)`` rows of ``df``: the sorted shingle-hash array
    ``hashes(text_col, n)`` and its size — the one shape of every
    shingle index. sz is LONG at the source: F.size() emits int32, and
    every prefix/length/positional filter downstream multiplies sz by
    ~10⁶ — int32 arithmetic under ANSI mode throws ARITHMETIC_OVERFLOW
    at ~2148 shingles (a routine web document), killing the job
    instead of returning pairs."""
    return df.select(F.col(id_col).alias("id"), hashes(text_col, n).alias("sh")).withColumn(
        "sz", F.size("sh").cast("long")
    )


def shingle_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Persisted ``(id, sh, sz)`` shingle index over ``df`` —
    hash-sorted int64 shingle arrays plus their sizes, the shared input
    shape of :func:`ngram_jaccard_pairs` and
    ``pipeline.containment_pairs``. Memoized on the input plan's
    semantic hash so repeated calls (same session, same corpus) return
    the SAME persisted DataFrame."""
    return _memo_persist(
        _MEMO,
        ("xxh", id_col, text_col, n),
        df,
        lambda: _shingle_rows(ensure_parallelism(df), id_col, text_col, n, shingle_hashes),
    )


def clear_shingle_index() -> None:
    """Unpersist and drop every memoized corpus artifact (test/session
    hygiene; also the answer to the cache-entry-leak concern — the
    cache is explicit and releasable as a whole)."""
    with _MEMO_LOCK:
        for cached in _MEMO.values():
            try:
                # blocking: an async drop races with a re-persist of the
                # SAME plan (the bench's clear-then-rebuild pattern) in
                # the cache manager — measured 0.5–12.5 s swings on an
                # otherwise-stable 0.5 s index build; blocking removal
                # is deterministic.
                cached.unpersist(blocking=True)
            except Exception:
                pass
        _MEMO.clear()


def _ngram_hashes(text: Column | str, n: int, hash_fn) -> Column:
    """Distinct word n-gram shingles of a single-space-tokenized text,
    each hashed to a long by ``hash_fn``, sorted. Pure array expression
    (no UDF): slice the token array at every offset and join with
    spaces."""
    w = tokens(text)
    sz = F.size(w)
    grams = F.transform(
        F.sequence(F.lit(0), sz - n),
        lambda i: hash_fn(F.concat_ws(" ", F.slice(w, i + 1, n))),
    )
    return F.when(sz >= n, F.sort_array(F.array_distinct(grams))).otherwise(
        F.array().cast("array<bigint>")
    )


def shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles hashed to int64 (xxhash64), sorted.
    Set semantics (and therefore Jaccard) are preserved modulo 64-bit
    collisions (~n²/2⁶⁵ — negligible at any corpus size), while every
    downstream shuffle, join key, and intersection becomes fixed-width
    integer work instead of string work."""
    return _ngram_hashes(text, n, F.xxhash64)


def _ceil_frac(sz: Column, threshold: float) -> Column:
    """ceil(threshold * sz) in exact integer arithmetic. A double
    multiply can land an ulp above the true product (0.8*45 →
    36.000000000000004) and over-shorten the prefix, silently dropping
    true pairs — so the threshold is scaled to an integer numerator."""
    num = round(threshold * 1_000_000)
    # floor((a + d - 1)/d) == ceil(a/d); the numerator stays well under
    # 2^53, so the double division is exact enough for floor to be safe.
    return F.floor((sz.cast("long") * num + (1_000_000 - 1)) / F.lit(1_000_000)).cast("long")


def _alpha(sz_a: Column, sz_b: Column, threshold: float) -> Column:
    """⌈t/(1+t)·(|A|+|B|)⌉ — the PPJoin overlap lower bound for
    J(A,B) ≥ t — in exact integer arithmetic, for the positional prune
    of :func:`_jaccard_filter`: the idiom includes the explicit long casts
    (F.size() emits int32; under ANSI mode (sz_a+sz_b)·num overflows
    int32 at ~1343 shingles per doc — a routine web-document size —
    and kills the probe job)."""
    num = round(threshold * 1_000_000)
    denom = 1_000_000 + num
    total = sz_a.cast("long") + sz_b.cast("long")
    return F.floor((total * num + (denom - 1)) / F.lit(denom))


def _tokens(idx: DataFrame, arr: str, threshold: "float | None" = None) -> DataFrame:
    """(id, sz, p, s) rows: each doc's shingles from array column ``arr``
    with their 0-based positions ``p`` in that array's order. With a
    ``threshold`` only the PPJoin prefix — the first |A| − ⌈t·|A|⌉ + 1
    shingles — is exploded (slice before posexplode, so the dropped
    suffix never becomes rows); without one, the full array (the
    inverted-index side of a one-sided prefix probe). Any global order
    of ``arr`` is exact for the prefix filter (Bayardo et al.)."""
    toks = F.col(arr)
    if threshold is not None:
        toks = F.slice(arr, 1, (F.col("sz") - _ceil_frac(F.col("sz"), threshold) + 1).cast("int"))
    return idx.select("id", "sz", F.posexplode(toks).alias("p", "s"))


def _jaccard_filter(threshold: float) -> Column:
    """Exact PPJoin pair predicate for J ≥ t over ``a.*``/``b.*`` token
    sides (:func:`_tokens` rows), in integer arithmetic:

    - length: t·max(|A|,|B|) ≤ min(|A|,|B|), cross-multiplied.
    - positional: J ≥ t ⟺ overlap ≥ α = ⌈t/(1+t)·(|A|+|B|)⌉, and a pair
      first meeting at 0-based positions (p_a, p_b) — both arrays in the
      same global order — can overlap at most min(|A|−p_a, |B|−p_b), so
      pairs below α are pruned (a token deep in its array, such as a
      hot shingle at the tail of a df-ordered array, meets nothing)."""
    num = round(threshold * 1_000_000)
    sz_a, sz_b = F.col("a.sz"), F.col("b.sz")
    return (F.least(sz_a, sz_b) * 1_000_000 >= F.greatest(sz_a, sz_b) * num) & (
        F.least(sz_a - F.col("a.p"), sz_b - F.col("b.p")) >= _alpha(sz_a, sz_b, threshold)
    )


def token_join(
    probe: DataFrame, index: DataFrame, on: "tuple[str, ...]", pair_filter: Column, *out: Column
) -> DataFrame:
    """Raw ``(id_a, id_b, *out)`` rows of an inverted-index join, the
    one candidate join of every near-dup pair producer: ``probe`` rows
    (aliased ``a``) meet ``index`` rows (aliased ``b``) where every
    token column in ``on`` is equal and ``pair_filter`` (over
    ``a.*``/``b.*``) holds. A token is a shingle (PPJoin, span pairs)
    or a (band, band key) pair (MinHash, SimHash, aHash, SRP). Pair
    dedup is left to the caller. Callers that pin the join cluster
    both sides on ``on`` at the scaled count and put the
    ``shuffle_hash`` hint on the side to build: both sides are exploded
    corpus tables, never broadcastable at scale (the 125× replica OOM
    class), and a merge pin would sort both exploded sides (measured
    1.7× slower on the containment join at 125×)."""
    a, b = probe.alias("a"), index.alias("b")
    keys = F.col(f"a.{on[0]}") == F.col(f"b.{on[0]}")
    for k in on[1:]:
        keys = keys & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return a.join(b, keys & pair_filter).select(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), *out
    )


def candidate_join(
    probe: DataFrame,
    index: DataFrame,
    on: "tuple[str, ...]",
    pair_filter: Column,
    n_sc: "int | None",
) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs of :func:`token_join`, for
    the producers that feed :func:`_verify_pairs`.

    The raw pairs are partitioned by the verify probe key BEFORE the
    dedup: hash(id_a) satisfies the dedup's ClusteredDistribution(id_a,
    id_b) AND :func:`_verify_pairs`' ClusteredDistribution(id_a), so one
    deliberate exchange replaces two (r16; prefix collisions duplicate
    each pair only ~1.2× at sf0.1, so the raw rows crossing one
    exchange cost less than partial-dedup plus deduped rows crossing
    two). Producers with no verify join (banded hamming, span pairs,
    SRP) dedup their own pairs: with no exchange to share, the id_a
    pre-partition only ships every band-colliding duplicate raw
    (x63 at sf0.1: 166,682 → 439,080 shuffle records). The streaming
    probe ``pipeline.incremental_pairs_vs_corpus`` also dedups its
    own, unclustered: its micro-batch side is meant to broadcast."""
    raw = token_join(probe, index, on, pair_filter)
    return _cluster_always(raw, n_sc, "id_a").dropDuplicates(["id_a", "id_b"])


def ordered_shingle_index(sh: DataFrame) -> DataFrame:
    """Document-frequency-ordered shingle arrays ``(id, sz, osh)`` for a
    shingle index ``sh`` — the df-order artifact of the PPJoin prefix
    filter. The ordering is THRESHOLD-INDEPENDENT (the threshold only
    decides how much of ``osh`` gets sliced into the prefix), so it is
    memoized and persisted alongside the shingle index: every prefix
    operator over the same corpus (Jaccard t=0.8, containment t=0.6, …)
    shares one corpus-wide frequency pass. At 100 TB this is the second
    index artifact you materialize once per corpus."""

    def build() -> DataFrame:
        n_sc = scaled_join_partitions(sh)
        # ONE deliberate exchange serves the whole frequency pass
        # (r16): the exploded token table is hash-partitioned on ``s``
        # once, ``freq`` is derived FROM that partitioned frame (its
        # groupBy is already clustered → no aggregation exchange), and
        # the toks⨝freq join finds both children clustered on ``s`` →
        # no join exchanges either. The old shape shuffled toks twice
        # (once as (s, count) partials into the freq groupBy, once raw
        # into the join); this ships the raw rows once: 3 Exchange →
        # 1 on the shared df-order artifact, strictly fewer bytes.
        toks = _cluster_always(
            sh.select("id", "sz", F.explode("sh").alias("s")), n_sc, "s"
        )
        freq = toks.groupBy("s").agg(F.count(F.lit(1)).alias("freq"))
        # freq is the DISTINCT-shingle table — corpus-scaled, yet two
        # long columns compress far under any broadcast threshold.
        # Pinned shuffle-hash (freq as per-partition build side): never
        # driver-broadcast (the 125× replica OOM class), and no sort of
        # the much larger exploded toks side; both sides clustered at
        # the corpus-scaled count so the freq build never outgrows a
        # partition (the 250× no-spill wall, _JOIN_PARTITION rationale).
        return (
            toks.join(freq.hint("shuffle_hash"), "s")
            .groupBy("id", "sz")
            # array_sort on struct compares fields in order → (freq, s)
            # ascending = rarest-first with a deterministic hash tiebreak.
            .agg(F.array_sort(F.collect_list(F.struct("freq", "s"))).alias("os"))
            .select("id", "sz", F.transform("os", lambda x: x["s"]).alias("osh"))
        )

    return _memo_persist(_MEMO, ("ordered",), sh, build)


def _verify_pairs(cands: DataFrame, sh: DataFrame) -> DataFrame:
    """Fetch both shingle arrays for candidate (id_a, id_b) pairs:
    ``cands`` joined with ``(sh_a, sz_a)`` and ``(sh_b, sz_b)`` from the
    shingle index ``sh``, ready for an exact array_intersect check. Both
    joins are strategy-pinned: EVERY side here scales with the corpus
    (cands is the candidate pair set, a/b carry the full shingle
    arrays), so none may ever broadcast — highly repetitive pair/array
    columns compress far below their in-memory size, and at a 125×
    sf0.1 replica AQE's compressed-bytes estimate slipped a
    corpus-scaled side under the 64 MB session threshold and killed the
    driver with "Not enough memory to build and broadcast" (r13).
    Shuffle-hash, not sort-merge, with build sides chosen so the fat
    array-carrying stream is never sorted (join 1 builds the narrow
    pairs, join 2 builds the per-partition-bounded array side): a merge
    pin sorted the pairs×arrays intermediate and went 3× super-linear
    on the containment verify's 125× point.

    ``cands`` arrives hash-partitioned on ``id_a`` (every producer that
    feeds this verify goes through :func:`candidate_join`, which
    partitions its raw pairs by the probe key before the pair dedup),
    so join 1 needs no pair-side exchange here (2 Exchange → 1 per
    verify, r16)."""
    n_sc = scaled_join_partitions(sh)
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b"))
    return (
        cands.hint("shuffle_hash")
        .join(_cluster(a, n_sc, "id_a"), "id_a")
        .join(_cluster(b, n_sc, "id_b").hint("shuffle_hash"), "id_b")
    )


def _with_jaccard(pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard of ``pairs``' ``(sh_a, sz_a)``/``(sh_b, sz_b)``
    arrays as a ``jaccard`` column, keeping rows with J ≥ threshold."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("sz_a") + F.col("sz_b") - inter).cast("double")
    return pairs.withColumn("jaccard", jac).filter(F.col("jaccard") >= threshold)


def _verify_pairs_jaccard(cands: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) for the candidate pairs with exact
    J ≥ threshold."""
    return _with_jaccard(_verify_pairs(cands, sh), threshold).select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    prefix_order: str = "df",
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via a prefix-filtered
    inverted index (AllPairs/PPJoin family, Bayardo et al. WWW'07).

    Plan: shingle each doc → hash shingles to int64 → sort into a
    GLOBAL total order → explode only the PREFIX (first sz − ⌈t·sz⌉ + 1
    shingles): any pair with J ≥ t must share a prefix shingle, so
    candidate generation stays exact while exploding ~(1−t) of each doc
    and meeting only pairs whose prefixes collide (~(1−t)² of the naive
    inverted-index candidates). Inside the join, a length filter
    (t·max ≤ min) prunes size-incompatible pairs and the PPJoin
    positional filter prunes pairs whose first prefix collision sits too
    deep to still reach the overlap threshold. Survivors are verified
    with an exact array_intersect Jaccard.

    ``prefix_order`` picks the global shingle order — any order is
    exact; the order decides SKEW:

    - ``"df"`` (default, the canonical PPJoin choice): ascending
      document frequency, ties by hash. Prefixes hold each doc's
      RAREST shingles, so a stop-phrase shingle shared by m docs sits
      in suffixes and never generates its m(m−1)/2 candidate pairs —
      the named 100 TB skew fix. Costs one extra pass (a count per
      shingle + a re-sort join) over the shingle table.
    - ``"hash"``: corpus-independent xxhash64 order — one pass, no df
      join, but hot shingles land in prefixes at the same rate as any
      other, so candidate count degrades quadratically on corpora with
      near-universal phrases.

    Output: (id_a, id_b, jaccard), id_a < id_b.
    The sub-quadratic 100 TB path is :func:`minhash_lsh_pairs`.
    """
    # No size>0 filter here: empty shingle arrays explode to zero rows
    # anyway, and a deterministic filter would be pushed below the
    # repartition, re-evaluating the whole shingle expression serially
    # on the (possibly single) input partition.
    # The shingle table feeds four plan branches (both join sides of
    # candidate generation and of verification); shingle_index persists
    # it so the expensive shingle expression is computed and
    # codegen-compiled once — and REUSED across operators on the same
    # corpus (containment, CC pair source). MEMORY_AND_DISK spills at
    # scale; size is O(corpus shingles). Shingles are int64 hashes
    # (shingle_hashes): integer join keys and integer intersections, no
    # string shuffles.
    sh = shingle_index(df, id_col, text_col, n)
    # The verified pair GRAPH is the second memoized artifact: dedup
    # (x01-style keep-one), survivor selection, and connected
    # components all consume the same (id_a, id_b, jaccard) set, and
    # its size is O(near-dup pairs) — tiny next to the corpus. Keyed
    # like the shingle index plus (threshold, prefix_order).
    return _memo_persist(
        _MEMO,
        ("pairs", id_col, text_col, n, round(threshold * 1_000_000), prefix_order),
        df,
        lambda: _verify_pairs_jaccard(
            _candidate_pairs(sh, threshold, prefix_order), sh, threshold
        ),
    )


def _candidate_pairs(sh: DataFrame, threshold: float, prefix_order: str) -> DataFrame:
    """Distinct (id_a, id_b) candidate pairs from the prefix-filtered
    inverted-index self-join (exact superset of the true ≥-threshold
    pairs). Exposed separately so skew tests can count candidates per
    prefix order without running verification."""
    if prefix_order == "hash":
        # shingle_hashes already emits hash-sorted arrays.
        toks = _tokens(sh, "sh", threshold)
    elif prefix_order == "df":
        toks = _tokens(ordered_shingle_index(sh), "osh", threshold)
    else:
        raise ValueError(f"prefix_order must be 'df' or 'hash', got {prefix_order!r}")
    # One repartition of the shared exploded side serves both aliases
    # (corpus-scaled count: the 250× no-spill wall).
    n_sc = scaled_join_partitions(sh)
    ex = _cluster(toks, n_sc, "s")
    pair_filter = (F.col("a.id") < F.col("b.id")) & _jaccard_filter(threshold)
    return candidate_join(ex, ex.hint("shuffle_hash"), ("s",), pair_filter, n_sc)


def dedup_by_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Drop every doc that has a near-duplicate with a smaller id
    (single-pass canonicalization: keeps the minimum-id representative
    of each duplicate *pair*; chains longer than one hop keep their
    local minima — full connected components is an iterative
    large-star/small-star job, intentionally out of this operator).
    Implemented as a left-anti join: no collect, two shuffles."""
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


# --- Portable (cross-engine-replayable) hash family -------------------
# xxhash64 is Spark-only, which left the MinHash/SimHash entries as
# rows-only checks (no DuckDB replay). This family keeps every step
# integer-exact in BOTH engines (VERDICT r5 #2/#3):
#   shingle → 60-bit int: first 15 hex chars of md5(shingle) parsed
#     base-16 (Spark: conv(substring(md5,·),16,10); DuckDB: fold the
#     same 15 digits) — md5 is the one hash both engines share.
#   minhash_i(s) = (aᵢ·(s mod P) + bᵢ) mod P with P = 2³¹−1 prime —
#     a classic universal family; every intermediate stays < 2⁶², so
#     ANSI int64 arithmetic never overflows on either engine.
#   band key = modular fold of r minhashes, seeded by band index.
# md5+conv costs ~2–4× xxhash64 per shingle; the plan SHAPE (scan-stage
# expressions, zero Python, zero extra shuffles) is unchanged, and at
# 100 TB the family is a one-expression swap if oracle replay is not
# needed.
MINHASH_P = 2_147_483_647  # 2³¹ − 1, prime
_FOLD_MULT = 1_000_003  # band-key fold multiplier (prime < 2²⁰)
# Banding geometry — single source of truth for BOTH the operator
# defaults and the x04 DuckDB replay oracle (matrix/ext.py formats
# these into the SQL). Changing one side without the other would
# silently desync the hard oracle (ADVICE r6); a unit test pins the
# generated oracle's band count to these names.
N_BANDS = 8
ROWS_PER_BAND = 4


def minhash_coeffs(n_hashes: int = 32, seed: int = 42) -> list[tuple[int, int]]:
    """The (aᵢ, bᵢ) affine coefficients — shared VERBATIM by the Spark
    operator and the DuckDB oracle SQL (matrix/ext.py formats this same
    list into the replay query, so the two sides cannot drift)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P)) for _ in range(n_hashes)
    ]


def portable_shingle_hashes(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles hashed to sorted 60-bit ints both
    engines can compute (md5-prefix, see family note above). Collision
    odds ~n²/2⁶¹ — negligible at any corpus size."""
    return _ngram_hashes(
        text, n, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
    )


def portable_shingle_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Persisted ``(id, sh, sz)`` portable-hash shingle index — the
    artifact MinHash and SimHash share (one corpus scan feeds both
    signature families), memoized alongside :func:`shingle_index`."""
    return _memo_persist(
        _MEMO,
        ("portable", id_col, text_col, n),
        df,
        lambda: _shingle_rows(
            ensure_parallelism(df), id_col, text_col, n, portable_shingle_hashes
        ),
    )


def minhash_band_keys(n_bands: int, rows_per_band: int, seed: int) -> list[Column]:
    """The b band-key COLUMN expressions over the shingle array column
    ``shm``, whose elements are already reduced mod P: r affine
    minhashes folded modularly per band, band index in the fold seed.
    Split out so signatures stay a pure scan-stage expression list."""
    coeffs = minhash_coeffs(n_bands * rows_per_band, seed)

    def _affine(a: int, b: int):
        # MUST be a one-parameter lambda: pyspark passes (element,
        # array_index) to two-parameter higher-order-function lambdas,
        # so a `lambda s, i=i:` closure idiom would silently hash the
        # POSITION into each minhash.
        return lambda s: (F.lit(a) * s + F.lit(b)) % F.lit(MINHASH_P)

    minhashes = [F.array_min(F.transform("shm", _affine(a, b))) for (a, b) in coeffs]
    band_keys = []
    for bidx in range(n_bands):
        k = F.lit(bidx + 1).cast("long")
        for mh in minhashes[bidx * rows_per_band : (bidx + 1) * rows_per_band]:
            k = (k * F.lit(_FOLD_MULT) + mh) % F.lit(MINHASH_P)
        band_keys.append(k.alias(f"bk{bidx}"))
    return band_keys


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash + banding, expression-only (no ML
    pipeline, no per-hash explode): the sub-quadratic 100 TB path.

    - signatures: b·r affine minhash values per doc over the PORTABLE
      shingle ints (family note above) — computed in the scan stage
      under whole-stage codegen, zero shuffles and zero Python, and
      integer-replayable by the DuckDB oracle (x04 is a HARD oracle
      row since r6; banding decisions are deterministic given the
      shared coefficients, so the replay reproduces the exact pair
      set, not just its statistics).
    - banding: each band of r minhashes folds to one key; docs explode
      to (band_idx, band_key) — b rows per doc — and self-join on the
      band. P(candidate) = 1 − (1 − J^r)^b ≈ 0.985 at J = 0.8 with
      b=8, r=4; chance collisions need J^r agreement, so dissimilar
      pairs almost never meet.
    - verification: candidates get an EXACT array_intersect Jaccard
      (same verifier as :func:`ngram_jaccard_pairs`), so false
      positives are eliminated; only banding recall is approximate.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold
    (exact value for every emitted pair).
    """
    # Persisted portable shingle index (shared with SimHash — one
    # corpus-wide shingle scan per session, dropped by
    # clear_shingle_index). Docs with empty shingle sets are filtered
    # AFTER the persisted index (a cheap filter over cached data) —
    # without it they would share one all-empty band key and
    # candidate-pair quadratically among themselves.
    idx = portable_shingle_index(df, id_col, text_col, n)
    sh = idx.filter(F.col("sz") > 0)
    # A derived view is a NEW DataFrame — the memo's byte stamp does
    # not follow it, and the persisted parent hides the file scan from
    # inputFiles() — so re-stamp the filtered index for join sizing.
    sh._corpus_input_bytes = _input_bytes(idx)
    # Hoist the mod-P reduction out of the b·r minhash transforms: one
    # projection materializes s mod P per element, so the 32 affine
    # transforms skip their per-element mod. The reduction is a SHARED
    # subexpression of all 32 minhashes, but expression CSE does not
    # dedupe it across output fields (the sketches.py r9 lesson), so it
    # gets its own projection: 1 mod per element instead of 32, same
    # integers ((a·(s mod P) + b) mod P ≡ (a·s' + b) mod P with
    # s' = s mod P; band-key equality asserted bit-exact in the r16
    # A/B; measured ~10% off the band-key stage).
    shm = sh.select("id", F.transform("sh", lambda s: s % F.lit(MINHASH_P)).alias("shm"))
    sig = shm.select("id", *minhash_band_keys(n_bands, rows_per_band, seed))
    n_sc = scaled_join_partitions(sh)
    # Long format: one shuffle on (band_idx, band_key) instead of b joins.
    ex = _cluster(
        sig.select(
            "id",
            F.posexplode(F.array(*[F.col(f"bk{b}") for b in range(n_bands)])).alias("band", "key"),
        ),
        n_sc,
        "band",
        "key",
    )
    # Pinned shuffle-hash (token_join rationale).
    cands = candidate_join(
        ex, ex.hint("shuffle_hash"), ("band", "key"), F.col("a.id") < F.col("b.id"), n_sc
    )
    return _verify_pairs_jaccard(cands, sh, threshold)


# --- SimHash -----------------------------------------------------------

_SIMHASH_BITS = 64
# 4 bands of 16 bits: by pigeonhole, a pair with hamming < 4 (the number
# of bands) agrees on at least one band, so recall is exact for hamming ≤ 3.
_BAND_BITS = 16


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """64-bit SimHash per document, entirely in JVM expressions.

    Features are distinct word n-gram shingles (raw tokens are far too
    coarse on small-vocabulary corpora — every doc shares most words);
    bit j of the signature is the sign of Σ_shingles (2·bit_j(hash)−1).
    Emitted as 4 × 16-bit bands (ints) for LSH banding.

    Reads the shared persisted PORTABLE shingle index (since r6): its
    int values are the md5-prefix hashes the DuckDB oracle can
    recompute, so the signature — and therefore the banded pair set —
    is a hard oracle contract, and MinHash/SimHash share one corpus
    scan. The portable ints carry 60 random bits; bits 60–63 are
    structurally zero, so their bit-sums are always −sz → signature
    bit 0 on every doc. Four dead bits cost a little band-3
    selectivity (12 effective bits) and nothing else — hamming
    distances between docs are unaffected (the dead bits never
    differ)."""
    toks = portable_shingle_index(df, id_col, text_col, n).select("id", F.explode("sh").alias("t"))
    h = F.col("t")
    bit_sums = [
        F.sum(F.when(F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"b{j}")
        for j in range(_SIMHASH_BITS)
    ]
    sums = toks.groupBy("id").agg(*bit_sums)
    band_cols = []
    for band in range(_SIMHASH_BITS // _BAND_BITS):
        expr = F.lit(0).cast("long")
        for off in range(_BAND_BITS):
            j = band * _BAND_BITS + off
            expr = expr + F.when(F.col(f"b{j}") > 0, F.lit(1 << off).cast("long")).otherwise(F.lit(0).cast("long"))
        band_cols.append(expr.alias(f"band{band}"))
    return sums.select(F.col("id"), *band_cols)


def simhash_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3, n: int = 3
) -> DataFrame:
    """SimHash near-dup candidate pairs: docs sharing any 16-bit band
    (banded LSH join — by pigeonhole, any pair with hamming ≤ 3 shares
    at least one of the 4 bands, so recall is exact for the ≤3 regime),
    then exact hamming distance filter via bit_count(xor).

    Output: (id_a, id_b, hamming), id_a < id_b.
    """
    sig = _memo_persist(
        _MEMO,
        ("simhash", id_col, text_col, n),
        df,
        lambda: simhash_signatures(df, id_col, text_col, n),
    )
    return banded_hamming_pairs(sig, max_hamming)


def banded_hamming_pairs(sig: DataFrame, max_hamming: int) -> DataFrame:
    """Banded-LSH pair mining over any 64-bit signature emitted as
    ``(id, band0..band3)`` 16-bit ints (SimHash, image average hash,
    ...): candidates share ≥1 band, then the exact hamming distance
    (bit_count of the XORed bands) filters. By pigeonhole, recall is
    EXACT for hamming < 4 (the band count); beyond that it degrades
    gracefully like any banding. Output: (id_a, id_b, hamming),
    id_a < id_b.

    The self-join clusters at the corpus-scaled partition count sized
    from ``sig`` itself. A PERSISTED ``sig`` hides its file scan from
    ``inputFiles()`` (the x04 re-stamp incident, r14) and carries the
    ``_corpus_input_bytes`` stamp instead — the memoized
    :func:`simhash_pairs` path gets it from ``_memo_persist``
    (ADVICE r14). An unpersisted signature frame, such as
    ``multimodal.image_avg_hash``'s mapInPandas output, still reports
    its source files.

    The pairs dedup after the hamming filter with a plain
    ``dropDuplicates`` (map-side partial, then one exchange on the pair
    key): there is no verify join to share an id_a exchange with
    (:func:`candidate_join`)."""
    # Long format (id, band_idx, band_value, full signature): ONE
    # self-join on (band_idx, band_value) replaces one join per band,
    # and the signature pipeline is computed once per side.
    bands = [F.col(f"band{i}") for i in range(_SIMHASH_BITS // _BAND_BITS)]
    ex = _cluster(
        sig.select("id", *bands, F.posexplode(F.array(*bands)).alias("b_idx", "b_val")),
        scaled_join_partitions(sig),
        "b_idx",
        "b_val",
    )
    ham = None
    for i in range(len(bands)):
        term = F.bit_count(F.col(f"a.band{i}").bitwiseXOR(F.col(f"b.band{i}")))
        ham = term if ham is None else ham + term
    # Pinned shuffle-hash (token_join rationale).
    pairs = token_join(
        ex, ex.hint("shuffle_hash"), ("b_idx", "b_val"), F.col("a.id") < F.col("b.id"),
        ham.alias("hamming"),
    )
    return pairs.filter(F.col("hamming") <= max_hamming).dropDuplicates(["id_a", "id_b"])


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 25,
    driver_threshold: int = 1 << 20,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: every
    vertex gets the MINIMUM id reachable through pairs as its canonical
    ``component`` label — the full-cluster canonicalization that
    :func:`dedup_by_pairs` (single-hop) approximates.

    Algorithm: alternating **large-star / small-star** (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), which
    converges in O(log² n) rounds regardless of graph DIAMETER — the
    round-1 min-label propagation needed O(diameter) rounds, so an
    adversarial 100-hop duplicate chain cost 100 shuffles; here it
    costs ~5 (asserted in tests). Each round:

    - large-star: every vertex u connects its strictly-LARGER
      neighbors to m(u) = min({u} ∪ N(u)) — long chains halve.
    - small-star: with edges oriented big→small, every vertex connects
      its smaller neighbors (and itself) to its minimum — stars
      flatten onto the component minimum.

    Both steps are a groupBy-min plus a co-partitioned self-join on the
    SAME key (one logical shuffle each); ``localCheckpoint`` truncates
    lineage between rounds. Convergence is detected from a single
    (count, hash-sum) scalar per round — edges never leave the
    executors. At fixpoint the edge set is exactly {(v, min of v's
    component)}, i.e. the answer.

    **Size-gated hybrid** (the broadcast-join-threshold pattern): when
    the deduped edge set fits comfortably on the driver
    (``driver_threshold`` edges, default 2²⁰ ≈ 16 MB), skip the
    iterative job entirely and run a path-compressed union-find there
    — the dup-pair graph of a curated corpus is normally minuscule
    next to the corpus. The gate and the fetch are ONE action,
    ``limit(driver_threshold + 1).collect()``: a result of threshold
    + 1 rows means "too big" without a separate count. Over the
    threshold that fetch is wasted (its driver memory peak is the
    driver path's own) and the edge set is computed again for the
    loop. The labels go back to Spark as a
    ``pyarrow.Table`` (JVM-side Arrow decode: no pickled RDD, no Python
    worker, no silent non-Arrow fallback). Only the distributed LS/SS
    path — over the threshold, or ``driver_threshold=0`` in tests —
    ``localCheckpoint``-s the edge set before its loop."""
    # Canonical orientation: (u, v) with u > v, deduped.
    e = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    spark = pairs.sparkSession
    edges = e.limit(driver_threshold + 1).collect() if driver_threshold > 0 else None
    if edges is not None and len(edges) <= driver_threshold:
        import pyarrow as pa

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges:
            ru, rv = find(row.u), find(row.v)
            if ru != rv:  # union by MIN label (component = min id)
                hi, lo = (ru, rv) if ru > rv else (rv, ru)
                parent[hi] = lo
        ids = list(parent)
        lab = spark.createDataFrame(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "component": pa.array([find(x) for x in ids], pa.int64()),
                }
            )
        )
        out = vertices.select(F.col(id_col).alias("id")).join(
            F.broadcast(lab), "id", "left"
        )
        return out.select(
            F.col("id").alias(id_col), F.coalesce("component", "id").alias("component")
        )
    e = _ls_ss_fixpoint(e.localCheckpoint(), max_iterations)
    labels = vertices.select(F.col(id_col).alias("id")).join(
        e.select(F.col("u").alias("id"), F.col("v").alias("component")), "id", "left"
    )
    return labels.select(
        F.col("id").alias(id_col), F.coalesce("component", "id").alias("component")
    )


def _ls_ss_fixpoint(e: DataFrame, max_iterations: int) -> DataFrame:
    """Alternate large-star/small-star on canonically-oriented edges
    until the edge set stabilizes; returns the star set (child → component
    min). Raises if the signature has not stabilized within
    ``max_iterations`` — a silently non-converged star set would hand
    the caller multiple/non-minimal labels per vertex with no signal
    (LS/SS converges in O(log² n) rounds, so 25 covers any realistic
    graph; hitting the cap means something is genuinely wrong).

    Runs up to ``max_iterations + 1`` passes: detection needs one
    confirming pass after the fixpoint, so a graph converging on
    exactly the last budgeted round still gets its confirmation
    instead of a spurious error."""
    prev_sig = None
    converged = False
    for _ in range(max_iterations + 1):
        # --- large-star: symmetric view; attach bigger neighbors to m(u)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))  # v > u ≥ m → canonical
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star: all neighbors here are < u; attach them + u to the min
        smin = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(smin, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))  # v > m → canonical
            .union(smin.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            # lazy checkpoint: the signature action below materializes
            # it, so each round costs ONE job instead of two.
            .localCheckpoint(eager=False)
        )
        # bit_xor is order-independent and cannot overflow (sum would
        # under ANSI mode); (count, xor-of-hashes) collides only if two
        # distinct edge sets of equal size xor-cancel (~2⁻⁶⁴).
        sig = ss.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        e = ss
        if prev_sig == (sig.n, sig.h):
            converged = True
            break
        prev_sig = (sig.n, sig.h)
    if not converged:
        raise RuntimeError(
            f"connected_components: large-star/small-star did not reach a "
            f"fixpoint in {max_iterations} iterations (edge signature still "
            f"changing) — labels would be unreliable; raise max_iterations"
        )
    return e

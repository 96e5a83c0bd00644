"""Tier X matrix entries (SURVEY.md §2.3): dedup, similarity search,
text analysis, multimodal plumbing, event analytics, streaming. These
are the LLM-data-pipeline operators mandated by BASELINE.json — no
reference citations exist (the reference has none of this); design notes
live in each operator module.

Oracle coverage: everything SQL-expressible carries a DuckDB oracle
(including exact n-gram Jaccard dedup, brute-force cosine top-k, the
*streaming* tumbling-window aggregation — bounded complete-mode equals
batch — and, since r6, MinHash LSH and SimHash, whose portable-hash
signatures DuckDB replays integer-exactly; since r8 also the mergeable
HLL x30, via portable md5 registers and a lut'd linear-counting term,
and SRP-LSH ANN x07, whose plane-literal left-fold signatures and
cosine rerank replay bit-exactly; since r9 also IVF x18, SemDeDup x59
and k-means-refine x60, via builder-retrained literal centroids +
order-pinned vectorized folds + micro-unit fixed point; and finally
the x29 profile, whose GK quantile sketch — the last engine-internal
piece anywhere — was replaced by a portable integer HDR histogram, so
since r9 EVERY matrix entry carries a hard DuckDB oracle).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sql_engine_spark.catalog import load_stream, load_table
from sql_engine_spark.functions.money import cents, from_cents
from sql_engine_spark.matrix import query
from sql_engine_spark.operators import dedup as D
from sql_engine_spark.operators import multimodal as M
from sql_engine_spark.operators import similarity as S
from sql_engine_spark.operators import text as T
from sql_engine_spark.streaming import windows as SW

# --- shared oracle fragments ----------------------------------------

_SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS s
  FROM tok WHERE len(w) >= 3
)
"""

# Candidate generation mirrors the engine's inverted-index shape (and is
# still EXACT: J ≥ 0.8 > 0 requires at least one shared shingle, so no
# qualifying pair can be missed) — it also keeps the oracle itself
# sub-quadratic instead of all-pairs.
_JACCARD_PAIRS_CTE = f"""
{_SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
           / CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE) AS jaccard
  FROM cand c JOIN sh x ON x.doc_id = c.id_a JOIN sh y ON y.doc_id = c.id_b
)
"""

_JACCARD_PAIRS_SQL = f"""
WITH {_JACCARD_PAIRS_CTE}
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.8
"""

# Left-to-right double fold mirroring F.aggregate (see matrix/__init__).
def _fold_sum(elems: str) -> str:
    return f"list_reduce(list_prepend(0.0, {elems}), (a, b) -> a + b)"


def _dlit(x: float) -> str:
    """Exact DOUBLE literal for DuckDB: repr round-trips the value, and
    an exponent marker forces DOUBLE (not DECIMAL) parsing."""
    r = repr(x)
    return r if "e" in r or "E" in r else r + "e0"


def _dot(u: str, v: str) -> str:
    return _fold_sum(f"list_transform(range(1, len({u})+1), i -> {u}[i]*{v}[i])")


_TOPK_SQL = f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id <> 0),
s AS (
  SELECT vec_id,
         {_dot('ev', 'qv')} AS dp,
         {_dot('ev', 'ev')} AS na,
         {_dot('qv', 'qv')} AS nb
  FROM e, q
)
SELECT vec_id,
       CASE WHEN sqrt(na)*sqrt(nb) <> 0.0 THEN dp/(sqrt(na)*sqrt(nb)) END AS cosine_sim
FROM s
ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
"""

_DUP_PAIRS_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS (SELECT vec_id, v, {_dot('v', 'v')} AS nrm FROM e),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CASE WHEN sqrt(a.nrm)*sqrt(b.nrm) <> 0.0
              THEN {_dot('a.v', 'b.v')}/(sqrt(a.nrm)*sqrt(b.nrm)) END AS cosine_sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM p WHERE cosine_sim >= 0.4
"""

def _x07_ann_sql() -> str:
    """Full DuckDB replay of the SRP-LSH ANN search (r8, rows-only →
    hard oracle): the 16 hyperplanes are imported from the operator and
    formatted verbatim as repr'd double literals — the SAME doubles
    with_srp_bands parses JVM-side — and every dot product on both the
    corpus and query side is the left-to-right fold of `_fold_sum`,
    matching F.aggregate's order exactly (the x64 χ² precedent). Sign
    bits, band packing, the any-band candidate filter, and the exact
    cosine rerank (the already-portable x06 algebra: IEEE sqrt and
    division are correctly rounded, unlike ln) therefore replay
    bit-exactly — verified 0 mismatches over all three corpus SFs in
    the r8 spike. Plane literals are generated at dim=64, the corpus
    embedding width."""
    from sql_engine_spark.operators.similarity import (
        ANN_BANDS,
        ANN_PLANES,
        ANN_SEED,
        _hyperplanes,
    )

    dim = 64
    planes = _hyperplanes(dim, ANN_PLANES, ANN_SEED)
    per = ANN_PLANES // ANN_BANDS
    pl = _centroid_lit(planes)

    def bit(vec: str, p: int) -> str:
        prods = f"list_transform(range(1, {dim}+1), i -> {vec}[i] * pl[{p + 1}][i])"
        return f"(CASE WHEN {_fold_sum(prods)} > 0.0 THEN 1 ELSE 0 END)"

    def bands(vec: str) -> str:
        return ",\n         ".join(
            " + ".join(f"{bit(vec, b * per + i)} * {1 << i}" for i in range(per))
            + f" AS band{b}"
            for b in range(ANN_BANDS)
        )

    any_band = " OR ".join(f"eb.band{b} = qb.band{b}" for b in range(ANN_BANDS))
    return f"""
    WITH p AS (SELECT {pl} AS pl),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    eb AS (SELECT vec_id, ev,
         {bands("ev")}
       FROM e, p),
    qb AS (SELECT qv,
         {bands("qv")}
       FROM q, p),
    cand AS (
      SELECT eb.vec_id, eb.ev, qb.qv FROM eb, qb
      WHERE ({any_band}) AND eb.vec_id <> 0
    ),
    s AS (
      SELECT vec_id,
             {_dot("ev", "qv")} AS dp,
             {_dot("ev", "ev")} AS na,
             {_dot("qv", "qv")} AS nb
      FROM cand
    )
    SELECT vec_id FROM s
    ORDER BY CASE WHEN sqrt(na)*sqrt(nb) <> 0.0 THEN dp/(sqrt(na)*sqrt(nb)) END DESC,
             vec_id ASC
    LIMIT 10
    """


# --- literal-centroid replay machinery (VERDICT r8 #1/#2, r9) --------
# The IVF / SemDeDup / k-means oracles embed the trained quantizer
# centroids as repr'd double literals, retrained by the BUILDER from a
# DuckDB read of the same parquet rows the Spark side trains on
# (float→double casts are exact, and both callers run the same
# similarity._lloyd_np in the same process, so the centroids are
# bit-identical by construction — the x07 plane-literal recipe extended
# to data-dependent literals via matrix.ORACLE_BUILDERS). Everything
# downstream of the centroids replays in SQL: unit vectors and centroid
# dots are the same left-to-right folds as the JVM expressions, and the
# argmax takes the FIRST max on both engines (Spark array_position ==
# DuckDB list_position).


def _emb_mtime(sf_dir: str) -> float:
    """Freshness key for the memoized embedding reads (ADVICE r9):
    keyed on the parquet's mtime, an in-process testdata regeneration
    can never serve stale embeddings/centroids to oracle builders."""
    import os

    try:
        return os.path.getmtime(f"{sf_dir}/embeddings.parquet")
    except OSError:
        return -1.0


def _load_embeddings_np(sf_dir: str):
    return _load_embeddings_np_at(sf_dir, _emb_mtime(sf_dir))


@functools.lru_cache(maxsize=4)
def _load_embeddings_np_at(sf_dir: str, _mtime: float):
    """(ids, X) of the full embeddings table ordered by vec_id, as the
    same float64 matrix Spark's orderBy-collect fetch produces.
    Cached per (sf_dir, file mtime) — callers only read — so the three
    oracle builders share one DuckDB read per import/sweep."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        "SELECT vec_id, embedding::DOUBLE[] FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    con.close()
    ids = [r[0] for r in rows]
    X = np.asarray([r[1] for r in rows], dtype=np.float64)
    return ids, X


def _trained_centroids(sf_dir: str, n_lists: int, seed: int):
    return _trained_centroids_at(sf_dir, _emb_mtime(sf_dir), n_lists, seed)


@functools.lru_cache(maxsize=8)
def _trained_centroids_at(sf_dir: str, _mtime: float, n_lists: int, seed: int):
    """Seeded quantizer centroids for ``sf_dir`` — the ONE training
    both the x18 builder (n_lists=16) and the x59/x60 builders
    (n_lists=8) go through, cached per (sf, mtime, k, seed) so
    identical trains run once per sweep. Read-only to callers
    (:func:`_lloyd_np` rebinds, never mutates)."""
    from sql_engine_spark.operators.similarity import IVF_TRAIN_MAX, _lloyd_np

    # Reuse the mtime ALREADY stat'ed by the wrapper: re-stat'ing here
    # could cache centroids trained on a just-regenerated file under
    # the pre-regeneration key (review r10).
    _ids, X = _load_embeddings_np_at(sf_dir, _mtime)
    return _lloyd_np(X[:IVF_TRAIN_MAX], n_lists=n_lists, seed=seed)


def _centroid_lit(C) -> str:
    return "[" + ", ".join("[" + ", ".join(_dlit(v) for v in row) + "]" for row in C) + "]"


def _assign_ctes(C) -> str:
    """CTE chain replaying similarity._with_list_assignment /
    _assign_lists_arrow over the embeddings table: ``asg`` has
    (vec_id, ev, uv, dots, list_id). The centroid literal is hoisted
    into its own CTE column (the r8 DuckDB gotcha: a literal indexed
    inside a lambda re-evaluates per element)."""
    dim = len(C[0])
    dots = (
        "list_transform(cl, cc -> "
        + _fold_sum(f"list_transform(range(1, {dim}+1), i -> uv[i]*cc[i])")
        + ")"
    )
    return f"""c AS (SELECT {_centroid_lit(C)} AS cl),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
    n AS (SELECT vec_id, ev, sqrt({_fold_sum('list_transform(ev, x -> x*x)')}) AS nrm FROM e),
    u AS (SELECT vec_id, ev,
          CASE WHEN nrm > 0.0 THEN list_transform(ev, x -> x/nrm) ELSE ev END AS uv FROM n),
    d AS (SELECT vec_id, ev, uv, {dots} AS dots FROM u, c),
    asg AS (SELECT vec_id, ev, uv, dots,
            CAST(list_position(dots, list_max(dots)) - 1 AS INTEGER) AS list_id FROM d)"""


def _x18_ivf_sql(sf_dir: str) -> str:
    """Full DuckDB replay of the IVF probe (r9, rows-only → hard
    oracle, the x07 recipe over data-dependent literals): retrain the
    coarse quantizer from the same first-64k-ids sample, embed the
    centroids, replay the scan-stage assignment (left-fold dots,
    first-max argmax), the n_probe ``IN`` filter (probe ids computed
    once by similarity.ivf_probe_order and embedded — driver-side on
    both sides by construction), and the exact cosine rerank x06/x07
    already replay bit-exactly."""
    from sql_engine_spark.operators.similarity import ivf_probe_order

    ids, X = _load_embeddings_np(sf_dir)
    C = _trained_centroids(sf_dir, n_lists=16, seed=42)
    qv = X[ids.index(0)]
    probe = ", ".join(str(p) for p in ivf_probe_order(C, list(qv), n_probe=4))
    return f"""
    WITH {_assign_ctes(C)},
    q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (SELECT vec_id, ev FROM asg WHERE list_id IN ({probe}) AND vec_id <> 0),
    s AS (
      SELECT vec_id,
             {_dot("ev", "qv")} AS dp,
             {_dot("ev", "ev")} AS na,
             {_dot("qv", "qv")} AS nb
      FROM cand, q
    )
    SELECT vec_id FROM s
    ORDER BY CASE WHEN sqrt(na)*sqrt(nb) <> 0.0 THEN dp/(sqrt(na)*sqrt(nb)) END DESC,
             vec_id ASC
    LIMIT 10
    """


_STOP_LIST = "[" + ", ".join(f"'{w}'" for w in T.STOPWORDS) + "]"

# --- portable-hash replay fragments (VERDICT r5 #2/#3) ---------------
# The MinHash/SimHash operators hash shingles with the PORTABLE family
# (operators/dedup.py: 60-bit md5-prefix ints + affine minhashes mod
# 2³¹−1), so DuckDB replays the exact signatures — these entries are
# hard oracle rows, not rows-only. The '0x…'::BIGINT cast below parses
# the same integer Spark gets from conv(substring(md5(g),1,15),16,10)
# (bit-identical to the old per-char strpos fold, ~11× faster — r9).
_PORTABLE_SHINGLES_CTE = """
tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
gr AS (
  SELECT doc_id,
         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS gs
  FROM tok WHERE len(w) >= 3
),
psh AS (
  SELECT doc_id,
         list_distinct(list_transform(gs,
             t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)) AS s
  FROM gr
),
u AS (SELECT doc_id, unnest(s) AS x FROM psh)
"""


def _x04_minhash_sql() -> str:
    """Integer replay of the banded-MinHash pair set: same affine
    coefficients (dedup.minhash_coeffs — imported, not copied), same
    band fold, same exact-Jaccard verification."""
    P = D.MINHASH_P
    # Geometry comes from the dedup module's N_BANDS/ROWS_PER_BAND
    # constants — the same names the operator defaults read — so the
    # oracle cannot silently desync from the Spark side (ADVICE r6).
    nb, rpb = D.N_BANDS, D.ROWS_PER_BAND
    coeffs = D.minhash_coeffs(nb * rpb)
    mins = ",\n         ".join(
        f"MIN(({a} * (x % {P}) + {b}) % {P}) AS mh{i}" for i, (a, b) in enumerate(coeffs)
    )
    keys = []
    for bidx in range(nb):
        k = f"CAST({bidx + 1} AS BIGINT)"
        for j in range(rpb):
            k = f"(({k}) * {D._FOLD_MULT} + mh{bidx * rpb + j}) % {P}"
        keys.append(k)
    key_list = "[" + ", ".join(keys) + "]"
    return f"""
    WITH {_PORTABLE_SHINGLES_CTE},
    mh AS (SELECT doc_id, {mins} FROM u GROUP BY doc_id),
    sig AS (SELECT doc_id, {key_list} AS keys FROM mh),
    ex AS (SELECT doc_id, unnest(range(0, {nb})) AS band, unnest(keys) AS key FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
               / CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS DOUBLE) AS jac
      FROM cand c JOIN psh x ON x.doc_id = c.id_a JOIN psh y ON y.doc_id = c.id_b
    )
    SELECT id_a, id_b FROM verified WHERE jac >= 0.8
    """


def _x05_simhash_sql() -> str:
    """Integer replay of the banded-SimHash pair set: 64 bit-majority
    sums over the portable shingle ints (bits 60–63 structurally zero,
    mirroring the engine), 4 × 16-bit band join, exact hamming ≤ 8."""
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (x >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}" for j in range(64)
    )
    bands = []
    for band in range(4):
        terms = " + ".join(
            f"(CASE WHEN b{band * 16 + off} > 0 THEN {1 << off} ELSE 0 END)" for off in range(16)
        )
        bands.append(f"CAST({terms} AS BIGINT) AS band{band}")
    band_cols = ",\n         ".join(bands)
    ham = " + ".join(f"bit_count(xor(a.band{i}, b.band{i}))" for i in range(4))
    return f"""
    WITH {_PORTABLE_SHINGLES_CTE},
    sums AS (SELECT doc_id, {bit_sums} FROM u GROUP BY doc_id),
    sig AS (SELECT doc_id, {band_cols} FROM sums),
    ex AS (SELECT doc_id, band0, band1, band2, band3,
                  unnest(range(0, 4)) AS bi,
                  unnest([band0, band1, band2, band3]) AS bv
           FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({ham} AS INTEGER) AS hamming
      FROM ex a JOIN ex b ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 8
    """


# ---------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------


@query(
    "x01_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def x01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a key with deterministic keep-smallest-id policy
    (operators/dedup.exact_dedup): one shuffle on the key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "n_chars")
    return D.exact_dedup(docs, ["lang", "source"], "doc_id")


@query("x02_dedup_ngram_jaccard", oracle=_JACCARD_PAIRS_SQL)
def x02_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8) via
    inverted-index self-join — candidates only where a shingle is
    shared, never O(n²) (operators/dedup.ngram_jaccard_pairs)."""
    return D.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8)


@query(
    "x03_dedup_survivors",
    oracle=f"""
    WITH {_JACCARD_PAIRS_CTE}
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM pairs WHERE jaccard >= 0.8)
    """,
)
def x03_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup result: drop the larger id of each duplicate pair
    (left-anti join — no collect)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    return D.dedup_by_pairs(docs.select("doc_id", "lang", "source"), pairs)


@query("x04_dedup_minhash_lsh", oracle=_x04_minhash_sql())
def x04_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — the sub-quadratic 100 TB path
    (operators/dedup.minhash_lsh_pairs). HARD oracle since r6
    (VERDICT r5 #2): the portable affine family makes the banding
    decisions integer-replayable, so DuckDB reproduces the exact pair
    set; recall vs the exact twin stays pytest-tracked."""
    return D.minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.8).select(
        "id_a", "id_b"
    )


@query("x05_dedup_simhash", oracle=_x05_simhash_sql())
def x05_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 8 via 4×16-bit band join
    (operators/dedup.simhash_pairs). Hamming 8 ≈ the shingle-level
    distance the corpus's planted near-dups actually exhibit. HARD
    oracle since r6 (VERDICT r5 #3): bit-majority signatures over the
    portable shingle ints are integer-replayable in DuckDB."""
    return D.simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=8)


# ---------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------


@query("x06_sim_topk_brute", oracle=_TOPK_SQL)
def x06_sim_topk_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of vec_id=0 — brute-force baseline
    via TakeOrderedAndProject (operators/similarity.cosine_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = S.get_vector(emb, 0)
    return S.cosine_topk(emb, qv, k=10, exclude_id=0)


@query("x07_sim_ann_lsh", oracle=_x07_ann_sql())
def x07_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via signed-random-projection buckets + exact rerank
    (operators/similarity.ann_topk): probes ~17/65536 buckets. HARD
    oracle since r8: plane literals + left-fold dots replay the
    signatures, candidate filter, and cosine rerank bit-exactly in
    DuckDB (_x07_ann_sql; query bands use the same left fold as the
    corpus side since r8, so they agree by construction, not by
    summation luck). Recall vs the exact x06 baseline remains pinned
    in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = S.get_vector(emb, 0)
    return S.ann_topk(emb, qv, k=10, exclude_id=0).select("vec_id")


@query("x08_sim_dup_pairs", oracle=_DUP_PAIRS_SQL)
def x08_sim_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding similarity-pair mining (cosine ≥ 0.4 — this corpus has
    no planted high-cosine duplicates; 0.4 ≈ its 99.99th percentile),
    exact all-pairs mode for oracle checkability; the scale path is
    use_buckets=True (operators/similarity.embedding_dup_pairs)."""
    return S.embedding_dup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4, use_buckets=False)


# ---------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------


@query(
    "x09_text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS mean_token_len
    FROM documents
    """,
)
def x09_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (operators/text.token_stats) — scan-stage only."""
    return T.token_stats(load_table(spark, sf_dir, "documents"))


@query(
    "x10_text_quality",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(list_filter(w, x -> list_contains({_STOP_LIST}, x))) AS DOUBLE)
               / CAST(len(w) AS DOUBLE) AS stopword_ratio,
             CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE) AS distinct_ratio,
             least(1.0, CAST(len(w) AS DOUBLE) / 50.0) AS len_score
      FROM t
    )
    SELECT doc_id, stopword_ratio, distinct_ratio,
           0.5*stopword_ratio + 0.3*len_score + 0.2*distinct_ratio AS quality_score
    FROM s
    """,
)
def x10_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (operators/text.quality_score)."""
    return T.quality_score(load_table(spark, sf_dir, "documents"))


def _langid_oracle() -> str:
    counts = {
        lang: f"CAST(len(list_filter(w, x -> list_contains([{', '.join(repr(s) for s in words)}], x))) AS BIGINT)"
        for lang, words in T.LANG_STOPWORDS.items()
    }
    langs = list(T.LANG_STOPWORDS)
    whens = []
    for i, lang in enumerate(langs[:-1]):
        conds = " AND ".join(f"score_{lang} >= score_{o}" for o in langs[i + 1 :])
        whens.append(f"WHEN {conds} THEN '{lang}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{langs[-1]}' END"
    score_cols = ", ".join(f"{expr} AS score_{lang}" for lang, expr in counts.items())
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id, {score_cols} FROM t)
    SELECT doc_id, {', '.join('score_' + lang for lang in langs)}, {case} AS predicted_lang FROM s
    """


@query("x11_text_langid", oracle=_langid_oracle())
def x11_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID (operators/text.lang_id)."""
    df = T.lang_id(load_table(spark, sf_dir, "documents"))
    # Cast scores to long to match DuckDB len() typing.
    casts = [F.col(f"score_{lang}").cast("long").alias(f"score_{lang}") for lang in T.LANG_STOPWORDS]
    return df.select("doc_id", *casts, "predicted_lang")


@query(
    "x12_text_fingerprint",
    oracle="""
    WITH t AS (SELECT doc_id, lower(trim(text)) AS norm FROM documents)
    SELECT doc_id, md5(norm) AS md5_fp,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          [CAST(ascii(norm[i]) AS BIGINT) for i in range(1, len(norm)+1)]),
             (a, b) -> (a*31 + b) % 2147483647
           ) AS poly_fp
    FROM t
    """,
)
def x12_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 + 31-ary rolling hash
    (operators/text.fingerprint)."""
    return T.fingerprint(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------
# Event analytics (JSON props, sessionization, windows)
# ---------------------------------------------------------------------


@query(
    "x13_events_json",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def x13_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON props extraction (SURVEY.md §2.3 multimodal
    metadata): get_json_object stays JVM-side."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@query(
    "x14_sessionize_batch",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id, value,
             epoch_ms(ts) AS ms,
             LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), y AS (
      SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS new_s FROM x
    ), z AS (
      SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM y
    )
    SELECT user_id, session_id,
           STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM z GROUP BY user_id, session_id
    """,
)
def x14_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) via window functions
    — the batch twin of streaming/stateful.sessionize_stream. One
    shuffle on user_id serves both window passes and the final group-by."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    with_flag = e.withColumn("ms", ms).withColumn(
        "new_s",
        F.when(F.lag("ms").over(w).isNull() | ((F.col("ms") - F.lag("ms").over(w)) > 1800000), 1).otherwise(0),
    )
    with_sid = with_flag.withColumn(
        "session_id",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"),
    )
    return with_sid.groupBy("user_id", "session_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        from_cents(F.sum(cents("value"))).alias("sum_value"),
    )


@query(
    "x15_window_tumbling_batch",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             CAST((epoch_ms(ts) - epoch_ms(ts) % 600000)/1000 AS BIGINT) AS secs
      FROM events
    )
    SELECT STRFTIME(make_timestamp(secs*1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM b GROUP BY 1, 2
    """,
)
def x15_window_tumbling_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 10-minute tumbling windows via exact integer epoch-ms
    bucketing (floating-point-free window assignment)."""
    e = load_table(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    secs = ((ms - ms % 600000) / 1000).cast("long")
    return (
        e.withColumn("window_start", F.date_format(F.timestamp_seconds(secs), "yyyy-MM-dd HH:mm:ss"))
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            from_cents(F.sum(cents("value"))).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------


@query(
    "x16_multimodal_features",
    oracle="""
    SELECT doc_id, CAST(strlen(text) AS BIGINT) AS byte_len,
           ascii(substr(text, 1, 1)) AS first_byte, sha256(text) AS sha256
    FROM documents
    """,
)
def x16_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + metadata columns → Arrow-batched mapInPandas
    feature extraction (operators/multimodal). The oracle checks the
    whole pipeline end-to-end because the fake text/plain 'decode' is
    the identity on the payload bytes."""
    docs = load_table(spark, sf_dir, "documents")
    return M.extract_features(M.attach_payload(docs))


# ---------------------------------------------------------------------
# Structured Streaming
# ---------------------------------------------------------------------


@query(
    "s01_stream_tumbling",
    oracle="""
    SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def s01_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run (readStream → watermark → tumbling
    window → AvailableNow → memory sink). Bounded complete-mode output
    equals the batch aggregation, so the batch oracle checks the
    streaming engine's result (streaming/windows.py)."""
    stream = load_stream(spark, sf_dir, "events")
    return SW.run_to_batch(SW.tumbling_window_agg(stream, width="1 hour"), output_mode="complete")


@query(
    "s02_stream_sessionize",
    oracle="""
    -- Batch replay of the bounded stateful run (VERDICT r5 #4, the
    -- s09 pattern): under AvailableNow the emission set is
    -- deterministic — every gap-closed session, PLUS trailing
    -- sessions whose event-time timeout (end + 30 min gap) fell
    -- strictly behind the final watermark (max ts − 1 h); only
    -- still-open trailing sessions stay in state. Exact integer
    -- cents mirror the operator's state arithmetic.
    WITH m AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             -- floor(v*100 + 0.5), not round(): matches the operator's
             -- explicit half-up cents fold (streaming/stateful.py) so
             -- exact-binary-.5 values can't diverge by a tie rule
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
    ),
    lagd AS (
      SELECT *, LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM m
    ),
    flag AS (
      SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS new_s
      FROM lagd
    ),
    sids AS (
      SELECT *, SUM(new_s) OVER (
        PARTITION BY user_id ORDER BY ms, event_id ROWS UNBOUNDED PRECEDING) AS sid
      FROM flag
    ),
    sess AS (
      SELECT user_id, sid, MIN(ms) AS start_ms, MAX(ms) AS end_ms,
             CAST(COUNT(*) AS BIGINT) AS n_events, SUM(cents) AS cents
      FROM sids GROUP BY 1, 2
    ),
    wm AS (SELECT MAX(epoch_ms(ts)) - 3600000 AS w FROM events),
    last AS (SELECT user_id, MAX(sid) AS last_sid FROM sess GROUP BY 1)
    SELECT s.user_id,
           STRFTIME(make_timestamp(s.start_ms * 1000), '%Y-%m-%d %H:%M:%S') AS session_start,
           s.n_events,
           s.cents / 100.0 AS sum_value
    FROM sess s JOIN last l ON s.user_id = l.user_id, wm
    WHERE s.sid < l.last_sid OR s.end_ms + 1800000 < wm.w
    """,
)
def s02_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stateful streaming via applyInPandasWithState: gap-based
    sessionization with event-time timeouts (streaming/stateful.py).
    HARD oracle since r6 (VERDICT r5 #4): with a pinned single-file
    source and Trigger.AvailableNow, the emission set is deterministic
    — the per-user gap fold closes sessions batch-side, and the
    trailing session is emitted iff its timeout (end + gap) fell
    strictly behind the FINAL watermark (max ts − 1 h), which Spark
    fires in the post-data timeout batch. The DuckDB replay folds the
    same gaps (ties on ms cannot move a session boundary: gap 0 ≤ GAP,
    and min/max/count/sum are tie-order invariant, so the window's
    (ms, event_id) order is safe against the operator's ms-only sort)
    and applies the same watermark arithmetic — the rule
    tests/test_streaming.py has asserted batch-equivalent since r2."""
    from sql_engine_spark.streaming.stateful import sessionize_stream

    stream = load_stream(spark, sf_dir, "events")
    out = SW.run_to_batch(sessionize_stream(stream), output_mode="append")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
        "sum_value",
    )


@query(
    "x17_text_bpe_tokens",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'),
                                t -> regexp_matches(t, '^[0-9]$'))) AS BIGINT) AS n_digit_tokens,
           CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))) AS BIGINT) AS n_distinct_bpe
    FROM documents
    """,
)
def x17_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (SURVEY.md §2.3 text analysis:
    "whitespace + a BPE-ish regex"): a GPT-2-style pre-tokenizer
    pattern — letter runs, single digits, single punctuation — kept to
    syntax Java regex and RE2 evaluate identically. Scan-stage only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), 0)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]$"))).cast("long").alias("n_digit_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe"),
    )


@query(
    "s03_stream_sliding",
    oracle="""
    WITH g AS (
      SELECT event_type,
             (epoch_ms(ts) - epoch_ms(ts) % 1800000) // 1000 AS slot
      FROM events
    ),
    w AS (
      SELECT event_type, unnest([slot, slot - 1800]) AS win_start FROM g
    )
    SELECT STRFTIME(make_timestamp(win_start*1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def s03_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming sliding windows (1h width, 30m slide): every event
    lands in exactly 2 windows. Bounded complete-mode output equals the
    batch expansion, which the oracle reproduces by unnesting both
    window starts per event."""
    stream = load_stream(spark, sf_dir, "events")
    return SW.run_to_batch(
        SW.sliding_window_counts(stream, width="1 hour", slide="30 minutes"),
        output_mode="complete",
    )


@query(
    "s04_stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    """,
)
def s04_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming dedup via dropDuplicatesWithinWatermark (bounded
    state — the 100 TB-safe exactly-once path). The corpus has unique
    event_ids, so the lossless append-mode output equals the plain
    event set, which is exactly what the oracle checks."""
    stream = load_stream(spark, sf_dir, "events")
    out = SW.run_to_batch(SW.streaming_dedup(stream), output_mode="append")
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


@query("x18_sim_ivf", oracle_builder=_x18_ivf_sql)
def x18_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-10: seeded k-means inverted lists, probe the 4
    nearest of 16, exact cosine rerank (operators/similarity.ivf_topk —
    the FAISS-IVF-Flat shape re-expressed as Spark partitioning).
    HARD oracle since r9 (_x18_ivf_sql): builder-retrained centroid
    literals + left-fold assignment replay + the x06/x07 exact rerank;
    recall vs the exact x06 baseline remains pinned in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = S.get_vector(emb, 0)
    return S.ivf_topk(emb, qv, k=10, exclude_id=0).select("vec_id")


@query(
    "x19_multimodal_frames",
    oracle="""
    -- HARD oracle since r7: frames are byte slices of the UTF-8
    -- payload, replayed byte-aligned over hex(encode(text)) (2 hex
    -- chars per byte — multibyte-safe, unlike codepoint substring on
    -- the text itself, the old rows-only reason). The fingerprint is
    -- sha256 over the UPPERCASE-HEX frame (the operator's portable
    -- domain: DuckDB sha256 is VARCHAR-only).
    WITH p AS (
      SELECT doc_id, hex(encode(text)) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS nb
      FROM documents
    ),
    f AS (
      SELECT doc_id, h, nb,
             unnest(range(0, (nb + 63) // 64, 4)) AS frame_idx
      FROM p
    )
    SELECT doc_id, frame_idx,
           least(CAST(64 AS BIGINT), nb - frame_idx * 64) AS frame_bytes,
           sha256(substring(h, CAST(frame_idx * 128 + 1 AS BIGINT), 128)) AS frame_sha256
    FROM f
    """,
)
def x19_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (every 4th 64-byte frame)
    via Arrow-batched mapInPandas with row fan-out
    (operators/multimodal.frame_sample). Deterministic content is
    asserted against a local recomputation in tests/test_units.py AND
    replayed exactly by the DuckDB oracle (portable hex-domain
    fingerprint, see operator docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.frame_sample(M.attach_payload(docs))


_COMPONENTS_SQL = f"""
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
)
SELECT id AS doc_id, MIN(lbl) AS component FROM reach GROUP BY id
"""


@query("x20_dedup_components", oracle=_COMPONENTS_SQL)
def x20_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full connected-components canonicalization of the exact Jaccard
    near-dup graph (operators/dedup.connected_components): every doc
    labeled with the min id of its duplicate CLUSTER (transitive), not
    just its pair — the correct keep-one policy for chained dups. The
    DuckDB oracle computes the same fixpoint with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.8)
    return D.connected_components(pairs, docs.select("doc_id"))


@query(
    "x21_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_c,
           COUNT(*) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def x21_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase salted aggregation over the low-cardinality
    event_type key (operators/relational.salted_aggregate): 16 salted
    partials per key, then an exact final merge. Integer partials make
    the result bit-identical to the plain GROUP BY — which is exactly
    what the oracle runs."""
    from sql_engine_spark.operators.relational import salted_aggregate

    e = load_table(spark, sf_dir, "events")
    return salted_aggregate(
        e,
        keys=["event_type"],
        cents_col=cents("value"),
        salt_col=F.xxhash64("event_id"),
        n_salts=16,
    )


def _sentiment_oracle() -> str:
    hits = {
        w: f"len(list_filter(string_split(text, ' '), t -> t = '{w}'))"
        for w in T.SENTIMENT_LEXICON
    }
    score = " + ".join(f"{h} * ({T.SENTIMENT_LEXICON[w]})" for w, h in hits.items())
    pos = " + ".join(h for w, h in hits.items() if T.SENTIMENT_LEXICON[w] > 0)
    neg = " + ".join(h for w, h in hits.items() if T.SENTIMENT_LEXICON[w] <= 0)
    return f"""
    SELECT doc_id,
           CAST({pos} AS BIGINT) AS pos_hits,
           CAST({neg} AS BIGINT) AS neg_hits,
           CAST({score} AS BIGINT) AS sentiment
    FROM documents
    """


@query("x22_text_sentiment", oracle=_sentiment_oracle())
def x22_text_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment scoring (operators/text.sentiment_score):
    literal-folded polarity lexicon, scan-stage only."""
    return T.sentiment_score(load_table(spark, sf_dir, "documents"))


@query(
    "x23_hierarchical_rollup",
    oracle="""
    WITH b AS (
      SELECT event_type, value,
             CAST((epoch_ms(ts) - epoch_ms(ts) % 3600000)/1000 AS BIGINT) AS hsecs
      FROM events
    )
    SELECT STRFTIME(make_timestamp(hsecs*1000000), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM b GROUP BY 1, 2
    """,
)
def x23_hierarchical_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: a 1-minute pre-aggregate
    (the materialized continuous-aggregate shape) re-aggregated to
    1-hour answers. Integer-cents partials compose exactly, so the
    two-level result is bit-identical to aggregating the raw events —
    which is precisely what the oracle computes. At 100 TB the 1-minute
    rollup is a persisted table ~1000× smaller than the raw stream;
    every coarser window reads it instead of the raw data."""
    e = load_table(spark, sf_dir, "events")
    ms = F.unix_millis("ts")
    minute = ((ms - ms % 60000) / 1000).cast("long")
    rollup_1m = e.groupBy(minute.alias("msecs"), "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents("value")).alias("c")
    )
    hour = (F.col("msecs") - F.col("msecs") % 3600).cast("long")
    return (
        rollup_1m.groupBy(hour.alias("hsecs"), "event_type")
        .agg(F.sum("n").alias("n_events"), from_cents(F.sum("c")).alias("sum_value"))
        .select(
            F.date_format(F.timestamp_seconds(F.col("hsecs")), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "x24_asof_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
    SELECT p.event_id, p.user_id,
           STRFTIME(p.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           STRFTIME(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts_s,
           c.value AS click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def x24_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.asof_join): each purchase gets the
    user's most recent prior-or-equal click. Union+window shape — one
    shuffle on user_id, no inequality join — checked against DuckDB's
    native ASOF LEFT JOIN."""
    from sql_engine_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(purchases, clicks, key="user_id", ts_col="ts", right_value_cols=("value",))
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts_s"),
        F.col("asof_value").alias("click_value"),
    )


@query(
    "x25_range_join",
    oracle="""
    SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
           epoch_ms(a.ts) - epoch_ms(b.ts) AS dt_ms
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND abs(epoch_ms(a.ts) - epoch_ms(b.ts)) <= 600000
    """,
)
def x25_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join (operators/temporal.range_join_pairs): same-user
    event pairs within 10 minutes, via bucket-quantized equi-join —
    result identical to the naive inequality join the oracle runs, cost
    scales with matches instead of n²."""
    from sql_engine_spark.operators.temporal import range_join_pairs

    e = load_table(spark, sf_dir, "events")
    return range_join_pairs(e, key="user_id", ts_col="ts", id_col="event_id", band_ms=600_000)


@query(
    "x26_multimodal_resize",
    oracle="""
    -- HARD oracle since r7: the deterministic byte-cycle "resize"
    -- commutes with hex encoding (hex of cycled bytes == cycled hex,
    -- byte-aligned), so the whole fake decode+resize replays in pure
    -- string SQL; fingerprint is the operator's portable hex-domain
    -- sha256. Empty payloads resize to 1024 zero bytes.
    WITH p AS (
      SELECT doc_id, hex(encode(text)) AS h,
             CAST(octet_length(encode(text)) AS BIGINT) AS nb
      FROM documents
    )
    SELECT doc_id,
           CAST(32 AS INTEGER) AS width,
           CAST(32 AS INTEGER) AS height,
           CAST(1024 AS BIGINT) AS resized_bytes,
           sha256(CASE WHEN nb = 0 THEN repeat('00', 1024)
                  ELSE substring(repeat(h, CAST((1024 + nb - 1) // nb AS BIGINT)), 1, 2048)
                  END) AS resized_sha256
    FROM p
    """,
)
def x26_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over binary payloads (operators/multimodal.
    resize_images): Arrow-batched mapInPandas, fixed 32×32-byte output
    per row; deterministic content asserted in tests/test_units.py AND
    replayed exactly by the DuckDB oracle (portable hex-domain
    fingerprint, see operator docstring)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.resize_images(M.attach_payload(docs))


@query(
    "x27_skyline",
    oracle="""
    SELECT p_partkey, p_retailprice, p_size FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice AND b.p_size <= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size)
    )
    """,
)
def x27_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier over part (minimize retail price AND
    size), expression-only: groupBy(x).min(y) (map-side partials = the
    partition-local prune, zero Python workers) → prefix-min window
    sweep over the tiny aggregated frontier → broadcast semi-join
    recovery (operators/skyline.py; PAPERS.md EDBT 2023). The O(n²)
    NOT EXISTS oracle checks it exactly."""
    from sql_engine_spark.operators.skyline import skyline_2d

    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    return skyline_2d(p, "p_retailprice", "p_size")


@query(
    "x28_stratified_sample",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang, source FROM r WHERE rn <= CEIL(n * 0.1)
    """,
)
def x28_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-fraction stratified sampling (10% per lang,
    keep-smallest-doc_id policy): reproducible train/eval splits a data
    pipeline can re-derive bit-identically, unlike Bernoulli sampleBy
    (operators/relational.stratified_sample_exact; one shuffle serves
    rank + count)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    from sql_engine_spark.operators.relational import stratified_sample_exact

    return stratified_sample_exact(docs, ["lang"], "doc_id", 0.1)


@query(
    "s05_stream_session_window",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id, epoch_ms(ts) AS ms,
             LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), y AS (
      SELECT *, CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS new_s FROM x
    ), z AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM y
    )
    SELECT STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, COUNT(*) AS n_events
    FROM z GROUP BY user_id, sid
    """,
)
def s05_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming session windows via F.session_window (native
    merging session state, 30-min gap; streaming/windows.py). Bounded
    complete-mode output equals batch gaps-and-islands sessionization,
    which the oracle reproduces with LAG + running sum. Unlike the
    applyInPandasWithState variant (s02), the native operator emits
    every session on the bounded run, so this one is fully
    oracle-checked."""
    stream = load_stream(spark, sf_dir, "events")
    return SW.run_to_batch(
        SW.session_window_agg(stream, gap="30 minutes"), output_mode="complete"
    )


def _x29_profile_sql() -> str:
    """Full DuckDB replay of the sketch profile (r9, the LAST
    rows-only entry → hard oracle): since the quantile sketch moved
    from Spark's engine-internal Greenwald-Khanna state to the
    portable integer HDR histogram (operators/sketches.py module
    comment), every profile value is deterministic and
    SQL-expressible — exact-cents HDR bins (octave = bit length, the
    x30 rank idiom; pure integer arithmetic), ceil-rank walk as a
    window cumsum (the ORACLE may window; the Spark plan must not —
    its rank walk is an array fold), the x30 portable-register HLL
    per column, and the already-exact categorical marginals. All
    shared expression SHAPES come from the sketches module builders
    (duck=True), so operator and oracle cannot desync."""
    from sql_engine_spark.operators.sketches import (
        _HLL_SCALE,
        _HLL_W,
        _rank_from_w_sql,
        CENTS_SCALE,
        HLL_EST_CONST,
        HLL_LINEAR_LUT,
        HLL_M,
        HLL_P,
        cents_sql,
        hdr_bin_sql,
        hdr_lower_bound_sql,
        hll_hash_sql,
        hll_idx_sql,
    )

    num_cols = ["l_quantity", "l_extendedprice", "l_discount"]
    cat_cols = ["l_returnflag", "l_linestatus"]
    num_union = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS col, {cents_sql(c)} AS v FROM lineitem" for c in num_cols
    )
    cat_union = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS val FROM lineitem"
        for c in cat_cols
    )
    lut = "[" + ", ".join(_dlit(x) for x in HLL_LINEAR_LUT) + "]"
    wmax = _HLL_W + 1
    return f"""
    WITH num AS (
      {num_union}
    ),
    bins AS (
      SELECT col, {hdr_bin_sql('v', duck=True)} AS b, COUNT(*) AS c
      FROM num GROUP BY 1, 2
    ),
    tot AS (
      SELECT col, CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COALESCE(SUM(CASE WHEN b IS NOT NULL THEN c END), 0) AS BIGINT) AS nn
      FROM bins GROUP BY col
    ),
    cum AS (
      SELECT col, b,
             SUM(c) OVER (PARTITION BY col ORDER BY b
                          ROWS UNBOUNDED PRECEDING) AS cm
      FROM bins WHERE b IS NOT NULL
    ),
    sel AS (
      SELECT t.col, t.n_rows,
             MIN(CASE WHEN cm >= (t.nn + 1) // 2 THEN b END) AS b50,
             MIN(CASE WHEN cm >= (95 * t.nn + 99) // 100 THEN b END) AS b95
      FROM tot t LEFT JOIN cum ON t.col = cum.col
      GROUP BY 1, 2
    ),
    hsh AS (
      SELECT col, {hll_hash_sql('v', duck=True)} AS h
      FROM num WHERE v IS NOT NULL
    ),
    mws AS (
      SELECT col, {hll_idx_sql('h')} AS idx, MIN(h // {1 << HLL_P}) AS mw
      FROM hsh GROUP BY col, idx
    ),
    regs AS (
      SELECT col, idx, {_rank_from_w_sql('mw', duck=True)} AS m FROM mws
    ),
    hll AS (
      SELECT col,
             CAST(COALESCE(SUM(CAST(1 AS BIGINT) << ({wmax} - m)), 0)
                  + ({HLL_M} - COUNT(*)) * CAST({_HLL_SCALE} AS BIGINT)
                  AS DOUBLE) AS s,
             {HLL_M} - COUNT(*) AS vz
      FROM regs GROUP BY col
    ),
    est AS (
      SELECT col,
             CASE WHEN ({HLL_EST_CONST!r} / s) <= {2.5 * HLL_M!r} AND vz > 0
                  THEN ({lut})[CAST(greatest(vz, 1) AS INTEGER)]
                  ELSE {HLL_EST_CONST!r} / s END AS e
      FROM hll
    ),
    numprof AS (
      -- LEFT JOIN + COALESCE(e, 0.0): an all-NULL numeric column has
      -- no hsh rows, so est is empty for it — the operator's estimate
      -- over an all-zero register set is lut[4096] = m*ln(m/m) = 0.0
      -- exactly, which the coalesce mirrors (the Spark row still
      -- exists with n_rows set, distinct 0, NULL quantiles).
      SELECT sel.col AS "column", sel.n_rows,
             CAST(floor(COALESCE(est.e, 0e0)) AS BIGINT) AS approx_distinct,
             CAST({hdr_lower_bound_sql('b50', duck=True)} AS DOUBLE)
               / {float(CENTS_SCALE)!r} AS p50,
             CAST({hdr_lower_bound_sql('b95', duck=True)} AS DOUBLE)
               / {float(CENTS_SCALE)!r} AS p95,
             CAST(NULL AS VARCHAR) AS top_value,
             CAST(NULL AS BIGINT) AS top_count
      FROM sel LEFT JOIN est ON sel.col = est.col
    ),
    catc AS (
      SELECT col, val, COUNT(*) AS c FROM (
      {cat_union}
      ) GROUP BY 1, 2
    ),
    catprof AS (
      SELECT col AS "column", CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(val) AS BIGINT) AS approx_distinct,
             CAST(NULL AS DOUBLE) AS p50, CAST(NULL AS DOUBLE) AS p95,
             MIN(CASE WHEN val IS NOT NULL
                      THEN {{'nc': -c, 'v': val}} END)['v'] AS top_value,
             CAST(-MIN(CASE WHEN val IS NOT NULL
                       THEN {{'nc': -c, 'v': val}} END)['nc'] AS BIGINT) AS top_count
      FROM catc GROUP BY col
    )
    SELECT * FROM numprof UNION ALL SELECT * FROM catprof
    """


@query("x29_sketch_profile", oracle=_x29_profile_sql())
def x29_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass sketch profile of lineitem (operators/sketches.py):
    portable-HLL distinct counts, portable integer-HDR p50/p95, exact
    heavy hitters — the scan-once data-profiling pass a 100 TB ingest
    runs first. A HARD oracle row since r9: the GK quantile sketch
    (whose compaction state was the one engine-internal,
    non-replayable piece left) was replaced by the integer HDR
    histogram, so the full profile replays in DuckDB
    (_x29_profile_sql); error bounds vs exact recomputation stay
    asserted in tests/test_sketches.py."""
    from sql_engine_spark.operators.sketches import profile_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(
        li,
        numeric_cols=["l_quantity", "l_extendedprice", "l_discount"],
        categorical_cols=["l_returnflag", "l_linestatus"],
    )


def _x30_hll_sql() -> str:
    """Full DuckDB replay of the portable-register HLL: same 60-bit
    md5-prefix hash (hex fold), same register max, same exact-int64
    harmonic sum, same two float ops. Constants are imported from the
    sketches module and formatted verbatim, so the oracle cannot
    desync from the operator (the x04 pattern)."""
    from sql_engine_spark.operators.sketches import (
        _HLL_SCALE,
        _HLL_W,
        HLL_EST_CONST,
        HLL_LINEAR_LUT,
        HLL_M,
        HLL_P,
    )

    wmax = _HLL_W + 1
    # The linear-counting table, verbatim — same doubles the Spark plan
    # carries (repr round-trips exactly; runtime libm ln is platform-
    # divergent, see the sketches module comment). The e0 suffix forces
    # DuckDB to parse each literal as DOUBLE — a bare decimal parses as
    # DECIMAL(16,11), one significant digit short of repr round-trip.
    lut = "[" + ", ".join(_dlit(x) for x in HLL_LINEAR_LUT) + "]"
    return f"""
    WITH hsh AS (
      SELECT source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
      FROM documents WHERE doc_id IS NOT NULL
    ),
    rk AS (
      SELECT source, h % {HLL_M} AS idx,
             CASE WHEN (h // {1 << HLL_P}) = 0 THEN {wmax}
                  ELSE {wmax} - length(ltrim(bin(h // {1 << HLL_P}), '0')) END AS m
      FROM hsh
    ),
    regs AS (
      SELECT source AS grp, idx, MAX(m) AS m FROM rk GROUP BY source, idx
      UNION ALL
      SELECT '__total__' AS grp, idx, MAX(m) AS m FROM rk GROUP BY idx
    ),
    agg AS (
      SELECT grp,
             SUM(CAST(1 AS BIGINT) << ({wmax} - m)) AS sp,
             COUNT(*) AS nr
      FROM regs GROUP BY grp
    ),
    e AS (
      SELECT grp,
             CAST(sp + ({HLL_M} - nr) * CAST({_HLL_SCALE} AS BIGINT) AS DOUBLE) AS s,
             {HLL_M} - nr AS v
      FROM agg
    )
    SELECT grp AS "group",
           CASE WHEN ({HLL_EST_CONST!r} / s) <= {2.5 * HLL_M!r} AND v > 0
                THEN ({lut})[CAST(greatest(v, 1) AS INTEGER)]
                ELSE {HLL_EST_CONST!r} / s END AS approx_distinct
    FROM e
    """


@query("x30_mergeable_distinct", oracle=_x30_hll_sql())
def x30_mergeable_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable per-source HLL distinct + a __total__ row from the
    register-wise sketch UNION (no second scan) — the shard-then-merge
    shape incremental 100 TB profiling needs. HARD oracle since r8
    (VERDICT r7 #7): the portable-register HLL
    (operators/sketches.portable_hll_distinct — md5-derived registers,
    exact-int64 harmonic fold, ln input space enumerated bit-stable)
    replays fully in DuckDB; the DataSketches binary variant
    (sketches.mergeable_distinct) remains the drop-in alternative and
    the two are agreement-pinned in tests/test_sketches.py."""
    from sql_engine_spark.operators.sketches import portable_hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    return portable_hll_distinct(docs, "source", "doc_id")


@query(
    "x32_multimodal_decode",
    oracle="""
    WITH t AS (SELECT doc_id, text, strlen(text) AS n FROM documents)
    SELECT doc_id,
           CAST(16 AS BIGINT) AS width,
           GREATEST(1, (n + 47) // 48) AS height,
           GREATEST(1, (n + 47) // 48) * 48 AS n_pixel_bytes,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          [CAST(ascii(text[i]) AS BIGINT) for i in range(1, len(text)+1)]),
             (a, b) -> a + b
           ) AS pixel_sum
    FROM t
    """,
)
def x32_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: each doc's utf-8 bytes are encoded
    as an actual RGB PNG (pure-Python encoder), then a second Arrow
    stage header-sniffs dimensions and fully decodes the PNG (zlib
    inflate + scanline unfiltering) back to pixels
    (operators/multimodal.png_decode). The oracle recomputes every
    emitted fact — dimensions from byte length, pixel sum from the
    ascii codes (zero padding adds nothing) — so the decode round-trip
    is hash-checked, not just smoke-tested."""
    docs = load_table(spark, sf_dir, "documents")
    return M.image_stats(M.encode_text_as_png(docs))


@query(
    "x31_embedding_centroid",
    oracle="""
    WITH x AS (
      SELECT label, generate_subscripts(embedding, 1) AS dim,
             CAST(ROUND(unnest(embedding)::DOUBLE * 1000000) AS BIGINT) AS s
      FROM embeddings
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(SUM(s) AS DOUBLE)/(1000000.0*COUNT(*)) AS centroid
    FROM x GROUP BY label, dim
    """,
)
def x31_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long format (label, dim,
    centroid): posexplode → fixed-point micro-units (round(v·10⁶) as
    BIGINT) → integer partial sums → one double division at the end.
    Integer partials make the parallel aggregation bit-identical to the
    sequential oracle — the same trick money aggregates use, applied to
    vector math. The shuffle key (label, dim) spreads one label's
    vector across 64 reducers for free (dim acts as a built-in salt).
    Centroids feed k-means seeding and IVF coarse quantizers (x18)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode(F.transform("embedding", lambda v: v.cast("double"))).alias("p", "v")
    )
    return (
        ex.groupBy("label", (F.col("p") + 1).cast("long").alias("dim"))
        .agg(
            F.sum(F.round(F.col("v") * 1000000).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "dim",
            (F.col("s").cast("double") / (F.lit(1000000.0) * F.col("n"))).alias("centroid"),
        )
    )

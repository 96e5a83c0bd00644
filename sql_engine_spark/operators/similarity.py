"""Tier X similarity search over ``embeddings.embedding``
(array<float>, SURVEY.md §2.3). Two tiers:

- brute-force cosine top-k — the exact baseline. One scan, per-partition
  top-k merged via TakeOrderedAndProject (orderBy+limit); no full sort
  shuffle. O(N·d) work — at 100 TB this is the rerank stage, not the
  search stage.
- banded SRP-LSH ANN (signed random projection, Charikar 2002) — the
  scale path: 16 fixed hyperplanes → 16-bit signature split into 4
  bands of 4 bits. Two vectors at angle θ agree on a plane with
  probability 1−θ/π, so near neighbors share a whole band with high
  probability (cos≥0.95 ⇒ ~0.66 per band, ~0.99 for any-of-4).
  Search filters to rows sharing ≥1 band with the query, then
  exact-reranks. Recall is checked against brute force in tests
  (seeded, deterministic).

Near-duplicate pair mining has two operators: the exact all-pairs
scorer :func:`embedding_dup_pairs` (small inputs, oracle baseline) and
the clustered :func:`semantic_dedup`, the scale path.

Design sources: SRP-LSH (Charikar, STOC 2002) and the top-k similarity
search literature in PAPERS.md (EDBT 2020, ICDE 2021).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_engine_spark.functions.vector import cosine_similarity, to_double_array
from sql_engine_spark.session import shuffle_partitions

ANN_PLANES = 16
ANN_BANDS = 4
ANN_SEED = 42


def _as_vec_lit(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)).cast("double") for x in vec])


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    ``orderBy(desc).limit(k)`` lowers to TakeOrderedAndProject: each
    partition keeps its local k, one merge — scales linearly with input
    and never global-sorts. Ties broken by id for determinism."""
    q = _as_vec_lit(query_vec)
    out = df.select(
        F.col(id_col),
        cosine_similarity(to_double_array(vec_col), q).alias("cosine_sim"),
    )
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def get_vector(df: DataFrame, key: int, id_col: str = "vec_id", vec_col: str = "embedding") -> list[float]:
    """Point lookup of one embedding (broadcast-sized driver fetch —
    the only sanctioned ``collect`` in this module)."""
    row = df.filter(F.col(id_col) == key).select(vec_col).first()
    if row is None:
        raise KeyError(f"no vector with {id_col}={key}")
    return [float(x) for x in row[0]]


def _hyperplanes(dim: int, n_planes: int = ANN_PLANES, seed: int = ANN_SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _planes_sql(planes: np.ndarray) -> str:
    """The plane/centroid matrix as a Spark SQL fragment — ONE
    from_json string literal, not array(array(...)) of k·d double
    literals. Eager analysis walks every literal node again on each
    downstream DataFrame op (~0.4 s per 4096 literals, measured on the
    x29 lut, r9), while from_json is a single node that the optimizer
    CONSTANT-FOLDS into the identical array literal before execution
    (verified: the optimized plan carries the folded array, and repr
    round-trips bit-exactly through Jackson's parseDouble — the same
    contract test_portable_hll_linear_term_bitstable... pins for the
    lut). Values and downstream fold arithmetic are therefore
    unchanged bit-for-bit."""
    js = "[" + ",".join("[" + ",".join(repr(float(v)) for v in p) + "]" for p in planes) + "]"
    return f"from_json('{js}', 'array<array<double>>')"


def with_srp_bands(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    n_planes: int = ANN_PLANES,
    n_bands: int = ANN_BANDS,
    seed: int = ANN_SEED,
) -> DataFrame:
    """Attach SRP band columns (small ints). At 100 TB, persist the
    corpus partitioned/bucketed by ``band0`` so each band probe prunes
    to a handful of partitions; the other bands are cheap int filters.

    The whole signature — all plane dot products, sign bits, and band
    packing — is built as ONE SQL string parsed JVM-side: the Column-
    API equivalent (16 lambda folds + 1024 literal cells) costs
    thousands of py4j round trips just to CONSTRUCT, which dominated
    wall time on small inputs. Same fold order and literal values, so
    the band values are bit-identical to the per-column formulation."""
    planes = _hyperplanes(dim, n_planes, seed)
    per = n_planes // n_bands
    sig_sql = (
        f"transform({_planes_sql(planes)}, p -> CASE WHEN "
        f"aggregate(zip_with(transform(`{vec_col}`, x -> CAST(x AS DOUBLE)), p, "
        f"(x, y) -> x * y), 0D, (a, x) -> a + x) > 0D THEN 1 ELSE 0 END)"
    )
    tmp = df.withColumn("__srp_sig", F.expr(sig_sql))
    band_exprs = [
        F.expr(
            " + ".join(f"__srp_sig[{b * per + i}] * {1 << i}" for i in range(per))
        ).alias(f"band{b}")
        for b in range(n_bands)
    ]
    return tmp.select(*df.columns, *band_exprs)


def _query_bands(query_vec: list[float], n_planes: int, n_bands: int, seed: int) -> list[int]:
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    bits = []
    for p in planes:
        # LEFT-FOLD, not np.dot: the corpus side's aggregate() is a
        # left-to-right IEEE fold, and np.dot's pairwise/SIMD summation
        # could flip the sign of a near-zero dot — query and corpus
        # bands must come from the SAME summation order, which is also
        # what lets the x07 oracle recompute these bands in SQL (r8).
        acc = 0.0
        for x, y in zip(query_vec, p):
            acc += float(x) * float(y)
        bits.append(1 if acc > 0 else 0)
    per = n_planes // n_bands
    return [sum(bits[b * per + i] << i for i in range(per)) for b in range(n_bands)]


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = ANN_PLANES,
    n_bands: int = ANN_BANDS,
    seed: int = ANN_SEED,
    exclude_id: int | None = None,
    probe_hamming: int = 0,
) -> DataFrame:
    """ANN top-k: candidates are rows sharing ≥1 SRP band with the
    query (OR of small-int equality/isin filters — scan-stage, no
    shuffle), exact cosine rerank on the survivors.

    ``probe_hamming`` enables multi-probe LSH (Lv et al., VLDB 2007):
    each band also accepts values within that hamming distance of the
    query's band value, trading scan fraction for recall — the knob
    that matters on corpora whose true neighbors are far (low cosine),
    where single-probe recall is structurally capped. Still a pure
    scan-stage int filter; candidate count grows with
    Σ_h C(bits, h) values per band."""
    banded = with_srp_bands(df, len(query_vec), vec_col, n_planes, n_bands, seed)
    cands = banded.filter(
        srp_probe_condition(query_vec, probe_hamming, n_planes, n_bands, seed)
    )
    return cosine_topk(cands, query_vec, k, id_col, vec_col, exclude_id)


def srp_probe_condition(
    query_vec: list[float],
    probe_hamming: int = 0,
    n_planes: int = ANN_PLANES,
    n_bands: int = ANN_BANDS,
    seed: int = ANN_SEED,
) -> Column:
    """The candidate filter :func:`ann_topk` scans with: rows whose
    SRP band columns match any query band within ``probe_hamming``
    bits. Exposed so harnesses measuring scan fraction (bench) filter
    with EXACTLY the searcher's condition — a hand-rolled copy would
    silently drift if the banding changes."""
    qb = _query_bands(query_vec, n_planes, n_bands, seed)
    bits = n_planes // n_bands
    cond = None
    for b, val in enumerate(qb):
        allowed = [v for v in range(1 << bits) if bin(v ^ val).count("1") <= probe_hamming]
        c = F.col(f"band{b}").isin(allowed) if len(allowed) > 1 else (F.col(f"band{b}") == val)
        cond = c if cond is None else (cond | c)
    return cond


def _with_list_assignment(df: DataFrame, C: "np.ndarray", vec_col: str) -> DataFrame:
    """Add ``__unit`` (l2-normalized double vector) and ``list_id``
    (argmax centroid dot — nearest centroid on the unit sphere) as pure
    scan-stage expressions; centroids ride along as a broadcast-sized
    SQL literal. ``__nrm`` MUST be materialized as its own column
    before the transform lambda divides by it: referenced inline, the
    O(d) norm fold is re-evaluated for EVERY element (O(d²) per row,
    interpreted — higher-order functions skip codegen). As a
    multiply-referenced non-cheap alias it survives CollapseProject,
    so it's computed once per row."""
    v = to_double_array(vec_col)
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.when(
        F.col("__nrm") > 0, F.transform(v, lambda x: x / F.col("__nrm"))
    ).otherwise(v)
    dots_sql = (
        f"transform({_planes_sql(C)}, c -> "
        f"aggregate(zip_with(__unit, c, (x, y) -> x * y), 0D, (a, x) -> a + x))"
    )
    return (
        df.withColumn("__nrm", nrm)
        .withColumn("__unit", unit)
        .withColumn("__dots", F.expr(dots_sql))
        .withColumn(
            "list_id", (F.expr("array_position(__dots, array_max(__dots))") - 1).cast("int")
        )
    )


def ivf_probe_order(C: "np.ndarray", query_vec: list[float], n_probe: int) -> list[int]:
    """The ``n_probe`` list ids nearest the query (centroid-dot order,
    ties by list id). Driver-side over k centroids — negligible work.
    Shared by :func:`ivf_topk` and the x18 oracle builder so the probe
    set is ONE computation, not two copies that could drift."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))
    if qn > 0:
        q = q / qn
    order = sorted(range(len(C)), key=lambda i: -float(np.dot(C[i], q)))
    return order[:n_probe]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF-style ANN: a k-means coarse quantizer partitions the corpus
    into ``n_lists`` inverted lists; search scans only the ``n_probe``
    lists whose centroids are nearest the query, then exact-reranks.

    The scale shape (FAISS IVF-Flat, re-expressed in Spark): train the
    quantizer on a BOUNDED DRIVER-SIDE SAMPLE (FAISS trains on ≤ a few
    hundred k vectors no matter the corpus size — at 100 TB you fetch
    ≤64k vectors, never the corpus), broadcast the centroids as a SQL
    literal, assign each vector scan-stage (argmax of centroid dot
    products — spherical k-means, so cosine argmax IS nearest-centroid
    on the unit sphere), and persist partitioned by ``list_id`` so a
    probe prunes to n_probe/n_lists of the data via partition pruning.
    Here assignment happens inline; the probe is a small-int ``isin``
    filter. Seeded sample + seeded Lloyd's → deterministic lists, and
    no per-call distributed training jobs.

    The inline assignment is the Arrow numpy pass
    (:func:`_assign_lists_arrow` with raw-vec passthrough, r10): the
    JVM higher-order-fold twin is interpreted O(k·d) per row — 14×
    slower measured (7.27 s vs 0.49 s at sf0.1) — and buys nothing at
    query time, because ``list_id`` is a computed column either way
    (no parquet pushdown) and the rerank's bit-exact oracle replay
    needs only the RAW vectors, which pass through Arrow unchanged.
    The JVM twin (:func:`_with_list_assignment`) remains the INGEST
    tool — writing ``list_id`` as a partition column so a probe
    partition-prunes without any per-row work at all. Plan: one
    pruned scan → one mapInPandas → list_id filter →
    TakeOrderedAndProject; no Exchange (pinned in tests/test_plans).
    """
    C = _train_spherical_quantizer(df, id_col, vec_col, n_lists, seed)
    probe = ivf_probe_order(C, query_vec, n_probe)
    # keep_lists prunes non-probed rows INSIDE the Arrow stage (their
    # vector payloads never cross back to the JVM — ~(1 − n_probe/
    # n_lists) of the corpus); the isin filter remains the idempotent
    # JVM-side contract.
    assigned = _assign_lists_arrow(
        df, C, id_col, vec_col, payload="vec", keep_lists=probe
    )
    cands = assigned.filter(F.col("list_id").isin(*probe)).select(
        F.col("id").alias(id_col), vec_col
    )
    return cosine_topk(cands, query_vec, k, id_col, vec_col, exclude_id)


def ivf_ingest(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = ANN_SEED,
    train_max: "int | None" = None,
    sample_order: str = "id",
    files_per_list: "int | None" = None,
) -> "np.ndarray":
    """The at-scale IVF ingest: train the coarse quantizer, assign
    every vector JVM-side (:func:`_with_list_assignment` — zero Python
    workers in the write job), and persist partitioned by ``list_id``
    so probes prune whole directories via partition pruning instead of
    doing ANY per-row assignment work at query time (SCALE.md, the
    stated reason the JVM twin exists). Returns the centroids — the
    only state a probe needs besides the path. One corpus scan, one
    partitioned write; at 100 TB this is the one-time indexing job.

    ``files_per_list`` controls the output file layout at scale.
    Default (None) writes straight from the scan tasks — no shuffle,
    right for local/modest parallelism, but at T tasks a partitionBy
    write emits up to T files PER list (tasks × lists small files at
    1000 executors). Setting it inserts one salted repartition on
    (list_id, hash(id) mod files_per_list): a given list's rows land
    in at most ``files_per_list`` output tasks — the files-PER-LIST
    bound is the guarantee (hash collisions among (list, salt) keys
    can co-locate slices in one task), and is what the layout test
    pins. Repartitioning on list_id
    ALONE would be wrong twice over — only n_lists distinct keys
    means at most n_lists live tasks (corpus/n_lists per task: 6 TB
    apiece at 100 TB), and zero write parallelism headroom; the salt
    is what bounds BOTH the file count and the per-task bytes."""
    C = _train_spherical_quantizer(
        df, id_col, vec_col, n_lists, seed,
        train_max=train_max if train_max is not None else IVF_TRAIN_MAX,
        sample_order=sample_order,
    )
    assigned = _with_list_assignment(
        df.filter(F.col(vec_col).isNotNull()), C, vec_col
    ).select(id_col, vec_col, "list_id")
    if files_per_list is not None:
        assigned = assigned.repartition(
            int(files_per_list) * n_lists,
            F.col("list_id"),
            F.pmod(F.hash(F.col(id_col)), F.lit(int(files_per_list))),
        )
    assigned.write.partitionBy("list_id").mode("overwrite").parquet(path)
    return C


def ivf_topk_prepartitioned(
    spark,
    path: str,
    C: "np.ndarray",
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe an :func:`ivf_ingest` index: the ``list_id isin(probe)``
    filter lands as ``PartitionFilters`` on the scan (list_id is a
    partition COLUMN), so only n_probe/n_lists of the files are ever
    opened — no assignment expressions, no Python stage, nothing but a
    pruned scan feeding the exact rerank's TakeOrderedAndProject.
    Plan-pinned in tests/test_plans.py (VERDICT r10 #1). Results match
    :func:`ivf_topk` exactly: same quantizer, same probe order, same
    rerank over the same raw vectors."""
    probe = ivf_probe_order(C, query_vec, n_probe)
    cands = spark.read.parquet(path).filter(F.col("list_id").isin(*probe))
    return cosine_topk(
        cands.select(id_col, vec_col), query_vec, k, id_col, vec_col, exclude_id
    )


IVF_TRAIN_MAX = 65_536


def _train_spherical_quantizer(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    seed: int,
    train_max: int = IVF_TRAIN_MAX,
    max_iter: int = 25,
    sample_order: str = "id",
) -> np.ndarray:
    """Seeded Lloyd's spherical k-means on a deterministic bounded
    sample (a TakeOrdered fetch — the only corpus access during
    training). Centroids are re-normalized each round, so
    nearest-centroid == cosine argmax. Returns (n_lists, d).

    ``sample_order`` picks the deterministic sample (VERDICT r10 #2):
    ``"id"`` (default) takes the first ``train_max`` ids — fine when
    ids carry no source/time structure (the driver corpus; SCALE.md
    adjudicates this), but at 100 TB low ids plausibly correlate with
    one source or time slice → unrepresentative centroids → skewed
    lists → probe recall collapse. ``"hash"`` orders by
    ``md5(cast(id as string))`` instead — a seeded-shuffle-quality
    sample at the same TakeOrdered cost, replayable bit-exactly in
    DuckDB (``ORDER BY md5(CAST(id AS VARCHAR))`` — both engines emit
    lowercase hex, so the string order agrees). List-size balance
    under both orders is pinned in tests/test_wave5.py."""
    if sample_order not in ("id", "hash"):
        raise ValueError(f"sample_order must be 'id' or 'hash', got {sample_order!r}")
    if train_max < 1:
        # limit(0) would otherwise surface as an opaque numpy failure
        # inside _lloyd_np (norm/choice on an empty matrix) — ADVICE r12.
        raise ValueError(f"train_max must be >= 1, got {train_max}")
    base = (
        # NULL vectors carry no training signal and would crash the
        # numpy matrix build — the sample is the first train_max
        # NON-NULL ids (testdata has no nulls, so the oracle builders'
        # DuckDB read of the same ids is unaffected).
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), to_double_array(vec_col).alias("v"))
    )
    order = (
        [F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()]
        if sample_order == "hash"
        else [F.col("id").asc()]
    )
    rows = base.orderBy(*order).limit(train_max).collect()
    X = np.asarray([r.v for r in rows], dtype=np.float64)
    return _lloyd_np(X, n_lists, seed, max_iter)


def _lloyd_np(
    X: "np.ndarray", n_lists: int, seed: int, max_iter: int = 25
) -> np.ndarray:
    """The numpy Lloyd's core behind :func:`_train_spherical_quantizer`,
    factored out so the x18/x59/x60 oracle builders can retrain from a
    DuckDB read of the SAME rows (float→double parquet casts are exact,
    so the input matrix is bit-identical) and embed the resulting
    centroids as literals — one training procedure, two callers, no
    copy to drift. Driver-side numpy throughout; determinism comes
    from the seed and from both callers running the same code in the
    same process."""
    norms = np.linalg.norm(X, axis=1)
    X = X / np.where(norms > 0, norms, 1.0)[:, None]
    k = min(n_lists, len(X))
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(max_iter):
        assign = np.argmax(X @ C.T, axis=1)
        newC = np.vstack(
            [X[assign == j].mean(axis=0) if np.any(assign == j) else C[j] for j in range(k)]
        )
        nn = np.linalg.norm(newC, axis=1)
        newC = newC / np.where(nn > 0, nn, 1.0)[:, None]
        if np.allclose(newC, C):
            break
        C = newC
    return C


def _kmeans_replay_np(U: "np.ndarray", C: "np.ndarray", iterations: int) -> "np.ndarray":
    """Sequential numpy replay of :func:`kmeans_refine`'s distributed
    iteration loop, bit-equal by construction: assignment via the
    order-pinned :func:`_fold_dots_np`, per-cluster sums as micro-unit
    ``floor(x·10⁶+0.5)`` int64 partials (order-independent, so the
    distributed aggregation produces the same integers), then the
    operator's exact ``(s/10⁶)/n`` division order and renormalization.
    ONE implementation shared by the x60 oracle builder and the
    bit-equality test (test_kmeans_refine_matches_numpy) so the
    iteration arithmetic cannot desync from either consumer — the
    `_lloyd_np` one-computation-two-callers pattern. ``U`` must be
    unit rows (:func:`_fold_norms_np`-normalized)."""
    for _ in range(iterations):
        assign = np.argmax(_fold_dots_np(U, C), axis=1)
        newC = np.array(C, copy=True)
        for j in range(len(C)):
            m = assign == j
            if m.any():
                s = np.floor(U[m] * 1000000.0 + 0.5).astype(np.int64).sum(axis=0)
                newC[j] = (s.astype(np.float64) / 1000000.0) / int(m.sum())
        nn = np.linalg.norm(newC, axis=1)
        C = newC / np.where(nn > 0, nn, 1.0)[:, None]
    return C


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥
    threshold) by exact all-pairs scoring: the oracle-checkable
    baseline, O(n²), small inputs only. The scale path for embedding
    near-dups is :func:`semantic_dedup`."""
    # Norms are per-VECTOR, not per-pair: compute |v|² once on each side
    # before the join so the O(pairs) stage evaluates only the single
    # cross dot product (the naive per-pair cosine re-folds both norms,
    # tripling the dominant cost). Same fold order as the oracle's
    # per-vector ``nrm`` CTE, so values stay bit-identical.
    from sql_engine_spark.functions.vector import dot as _dot

    vd = to_double_array(vec_col)
    nrm = _dot(vd, vd)
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), nrm.alias("na"))
    b_ = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), nrm.alias("nb"))
    joined = a.join(b_, F.col("id_a") < F.col("id_b"))
    denom = F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))
    sim = F.when(denom != F.lit(0.0), _dot(to_double_array(F.col("va")), to_double_array(F.col("vb"))) / denom)
    return joined.select("id_a", "id_b", sim.alias("cosine_sim")).filter(F.col("cosine_sim") >= threshold)


def multi_query_topk(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_mod: int = 50,
) -> DataFrame:
    """Batched exact retrieval: cosine top-k for EVERY query in a query
    set (here ``id % query_mod == 0``) in ONE corpus scan — the bulk
    evaluation/retrieval shape (score a whole eval set at once), vs
    :func:`cosine_topk`'s single literal query.

    Plan: the query set is broadcast (it is the small side by
    construction); each corpus row scores against all queries in the
    scan stage with per-side norms computed ONCE per row/query (not
    per pair); only the narrow (qid, id, score) triples shuffle — on
    ``qid`` — for the per-query ``row_number`` top-k. At 100 TB the
    shuffle is |Q|·N·~24 bytes of triples, never vectors; for very
    small |Q| (poor reducer parallelism) pre-prune per partition or
    salt qid — documented, not needed at these sizes.

    Output: (qid, vec_id, cosine_sim, rnk), rnk ≤ k.
    """
    from pyspark.sql.window import Window

    from sql_engine_spark.functions.vector import dot as _dot

    vd = to_double_array(vec_col)
    q = df.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("qid"),
        vd.alias("qv"),
        _dot(vd, vd).alias("nb"),
    )
    e = df.select(F.col(id_col), vd.alias("ev"), _dot(vd, vd).alias("na"))
    scored = (
        e.join(F.broadcast(q), F.col(id_col) != F.col("qid"))
        .withColumn("dp", _dot(F.col("ev"), F.col("qv")))
        .withColumn(
            "cosine_sim",
            F.when(
                F.sqrt("na") * F.sqrt("nb") != F.lit(0.0),
                F.col("dp") / (F.sqrt("na") * F.sqrt("nb")),
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine_sim").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col, "cosine_sim", "rnk")
    )


def knn_classify(
    df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_mod: int = 50,
) -> DataFrame:
    """k-NN label prediction for a query set: majority label of the k
    exact nearest neighbors (ties → smallest label), alongside the true
    label — the standard embedding-space sanity check (is the labeling
    locally consistent?) and a building block for pseudo-labeling
    pipelines.

    Built on :func:`multi_query_topk`'s one-scan batched scoring; the
    extra work is two tiny aggregations over |Q|·k triples. Output:
    (qid, true_label, pred_label, votes).
    """
    from pyspark.sql.window import Window

    top = multi_query_topk(df, k, id_col, vec_col, query_mod)
    lab = df.select(F.col(id_col), F.col(label_col).cast("long").alias("__nl"))
    votes = (
        top.join(lab, id_col)
        .groupBy("qid", "__nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    # nulls LAST on the label tiebreak: Spark's plain asc() sorts NULL
    # first while the DuckDB oracle's ASC sorts NULL last — a
    # null-label group tying for max votes would diverge.
    w = Window.partitionBy("qid").orderBy(
        F.col("votes").desc(), F.col("__nl").asc_nulls_last()
    )
    pred = (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select("qid", F.col("__nl").alias("pred_label"), "votes")
    )
    truth = df.filter(F.col(id_col) % query_mod == 0).select(
        F.col(id_col).alias("qid"), F.col(label_col).cast("long").alias("true_label")
    )
    return truth.join(pred, "qid").select("qid", "true_label", "pred_label", "votes")


def _fold_norms_np(M: "np.ndarray") -> np.ndarray:
    """Row-wise ``sqrt(((0 + x₀·x₀) + x₁·x₁) + …)`` — the EXACT
    arithmetic of the JVM expression ``sqrt(aggregate(v, 0D, (a,x) ->
    a + x*x))`` and of DuckDB's ``list_reduce(list_prepend(0.0, …))``,
    vectorized ACROSS rows instead of across dims: each loop step is
    one correctly-rounded elementwise multiply and one add per lane,
    and the loop runs the dims in the same left-to-right order as the
    folds, so every lane reproduces the scalar fold bit-for-bit. This
    order-pinned vectorized fold (r9) is what lets Arrow-stage numpy
    join the JVM/DuckDB portability contract that previously only
    scalar folds satisfied — at d=64 it costs d fused passes instead
    of one gemm, an O(1) constant over the same memory traffic."""
    acc = np.zeros(len(M), dtype=np.float64)
    for t in range(M.shape[1]):
        x = M[:, t]
        acc += x * x  # in-place: same IEEE sequence, no sum temporary
    return np.sqrt(acc)


def _fold_dots_np(A: "np.ndarray", B: "np.ndarray") -> np.ndarray:
    """(m,d)×(k,d) → (m,k) dot products as the left-fold over dims —
    bit-identical to ``aggregate(zip_with(a, b, *), 0D, +)`` per pair
    (see :func:`_fold_norms_np`). Replaces BLAS gemm wherever the dots
    feed THRESHOLD or ARGMAX decisions an oracle must replay: gemm's
    pairwise/SIMD summation is a different (and build-dependent)
    rounding sequence, which is why the old equivalence test had to
    skip near-tie rows. Memory: one (m,k) accumulator updated in place
    plus the per-pass outer-product temporary, d passes."""
    out = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for t in range(A.shape[1]):
        out += A[:, t, None] * B[None, :, t]
    return out


def _assign_lists_arrow(
    df: DataFrame,
    C: "np.ndarray",
    id_col: str,
    vec_col: str,
    payload: str = "unit",
    keep_lists: "list[int] | None" = None,
) -> DataFrame:
    """(id, list_id, payload) cluster assignment as ONE Arrow
    ``mapInPandas`` pass: normalize and argmax the centroid dots with
    order-pinned vectorized folds (:func:`_fold_dots_np`).
    ``payload="unit"`` carries the l2-normalized double vector (the
    :func:`semantic_dedup` pair stage consumes it); ``payload="vec"``
    passes the RAW vector through untouched (same name/type — Arrow
    float32 round-trips are exact), for callers whose downstream
    arithmetic must replay over the original values
    (:func:`ivf_topk`'s exact rerank); ``payload="maxdot"`` emits the
    winning centroid dot itself (:func:`kmeans_refine`'s tightness
    report). The scan-stage expression twin
    (:func:`_with_list_assignment`) remains the tool where the
    assignment must stay JVM-side — writing ``list_id`` as a partition
    column at ingest — and the pinned reference this pass is
    bit-checked against; query-time paths don't need JVM-side
    assignment: the
    interpreted O(k·d)-per-row higher-order folds cost ~14× this path
    (measured r10: 7.27 s vs 0.49 s at sf0.1), and they also JIT-warm
    over several runs — vectorized numpy is flat from call one (the
    ``_within_cluster_pairs`` lesson).

    Equivalence with the expression twin is pytest-pinned and EXACT
    since r9: the fold helpers reproduce the JVM fold's rounding
    sequence lane-for-lane (np.argmax and Spark's
    ``array_position(dots, array_max(dots))`` both take the FIRST
    max), so the old near-tie margin skip is gone — and the same
    pinning is what makes the x59 semantic-dedup pair set hard-oracle
    replayable in DuckDB."""
    if payload not in ("unit", "vec", "maxdot"):
        raise ValueError(f"payload must be 'unit', 'vec' or 'maxdot', got {payload!r}")
    Cd = np.ascontiguousarray(C, dtype=np.float64)
    if payload == "vec":
        schema = f"id long, list_id int, `{vec_col}` {dict(df.dtypes)[vec_col]}"
    elif payload == "maxdot":
        # the winning centroid dot itself (== cosine to OWN centroid on
        # the unit sphere) — bit-equal to array_max(__dots) of the JVM
        # twin because _fold_dots_np reproduces the fold lane-for-lane
        # and both argmaxes take the FIRST max (kmeans_refine's report)
        schema = "id long, list_id int, maxdot double"
    else:
        schema = "id long, list_id int, unit array<double>"
    keep = None if keep_lists is None else np.asarray(sorted(keep_lists), dtype=np.int32)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf[vec_col].map(np.asarray).to_numpy()).astype(np.float64)
            nrm = _fold_norms_np(M)
            U = M / np.where(nrm > 0, nrm, 1.0)[:, None]
            D = _fold_dots_np(U, Cd)
            lists = np.argmax(D, axis=1).astype(np.int32)
            if keep is not None:
                # Prune NON-probed rows before they cross Arrow back to
                # the JVM (review r10): with n_probe/n_lists = 4/16,
                # ~75% of the corpus (each row a full vector payload)
                # would be serialized only to die in the isin filter one
                # node later. Same rows survive either way — the JVM
                # filter stays as the idempotent contract.
                mask = np.isin(lists, keep)
                pdf, lists, U, D = pdf[mask], lists[mask], U[mask], D[mask]
                if not len(pdf):
                    continue
            if payload == "vec":
                col, pay = vec_col, pdf[vec_col]
            elif payload == "maxdot":
                col, pay = "maxdot", D[np.arange(len(lists)), lists]
            else:
                col, pay = "unit", list(U)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "list_id": lists, col: pay}
            )

    # NULL embeddings: the pre-swap JVM expressions produced a NULL
    # list_id that the probe filter dropped; np.vstack would instead
    # crash the whole query on a dirty corpus (review r10). The same
    # graceful-exclusion semantics, as a scan-stage filter.
    return df.select(id_col, vec_col).filter(
        F.col(vec_col).isNotNull()
    ).mapInPandas(assign, schema)


def _within_cluster_pairs(
    assigned: DataFrame, threshold: float, block: int = 1024
) -> DataFrame:
    """Exact cosine-≥-threshold pairs WITHIN each ``list_id`` group —
    the SemDeDup inner loop — as a per-cluster ``applyInPandas``
    vectorized fold. This is one of the sanctioned drops to the Arrow
    path: the pair cosine is a dense all-pairs dot product, which
    Spark's higher-order-function lambdas evaluate INTERPRETED per
    element (~3M pairs × 64 dims was 20+ s at sf0.1); d vectorized
    accumulator passes per cluster (:func:`_fold_dots_np` — the
    order-pinned fold that keeps every threshold decision bit-equal to
    the DuckDB oracle's per-pair fold, r9) do the same arithmetic in
    milliseconds and the Arrow transfer is just n·d doubles per
    cluster.

    Memory is bounded two ways: the fold runs in ``block``-row stripes
    (block × n, never n × n), and at 100 TB cluster size itself must
    be capped by raising ``n_lists`` with the corpus (SemDeDup's own
    recipe) — a cluster is one pandas group and must fit an executor.
    Output: (id_a, id_b), id_a < id_b, unordered."""

    def mine(pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = np.vstack(pdf["unit"].to_numpy())[order]
        out_a, out_b = [], []
        n = len(ids)
        for s in range(0, n, block):
            G = _fold_dots_np(M[s : s + block], M)  # stripe × n
            li, gj = np.nonzero(G >= threshold)
            gi = li + s
            keep = gi < gj  # strict upper triangle → id_a < id_b
            out_a.append(ids[gi[keep]])
            out_b.append(ids[gj[keep]])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    return assigned.groupBy("list_id").applyInPandas(mine, "id_a long, id_b long")


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    n_lists: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = ANN_SEED,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): cluster the
    embedding space with the bounded-sample spherical quantizer, find
    exact cosine-≥-threshold pairs WITHIN each cluster only, take
    connected components, and keep one representative (min id) per
    semantic component.

    The cluster restriction is what makes this the 100 TB path: the
    within-cluster self-join shuffles on ``list_id`` and does
    O(Σ nᵢ²·d) work instead of O(N²·d) — with k lists that is ~N²/k
    worst-case and far less for balanced clusters; recall loss happens
    only for pairs straddling a cluster boundary (measured against
    brute force in tests; n_lists=1 degenerates to exact). Assignment
    is one Arrow ``mapInPandas`` numpy pass (`_assign_lists_arrow`):
    this pipeline's unit vectors cross into Python for the pair gemm
    immediately anyway, so a JVM-side assignment buys nothing here,
    and the interpreted O(k·d)-per-row folds were the slow,
    JIT-warm-in-sensitive path. The scan-expression twin
    (`_with_list_assignment`) remains the ingest/partition-column
    tool and `kmeans_refine`'s fixed-point source (since r10 the IVF
    probe also rides the Arrow pass — see `ivf_topk`).

    Output: (vec_id, component, kept) — kept=1 iff the row is its
    component's representative; singleton vectors are their own
    component and survive. HARD oracle since r9: the order-pinned
    vectorized folds make the assignment and pair-threshold decisions
    bit-replayable in DuckDB against builder-retrained centroid
    literals, and the CC fixpoint replays as a recursive CTE
    (matrix/wave5._x59_semdedup_sql); equivalence and recall remain
    pytest-tested.
    """
    from sql_engine_spark.operators.dedup import connected_components

    C = _train_spherical_quantizer(df, id_col, vec_col, n_lists, seed)
    assigned = _assign_lists_arrow(df, C, id_col, vec_col)
    # Size the ONE exchange feeding the gemm stage to the group count:
    # a hash-repartition on list_id satisfies applyInPandas's required
    # ClusteredDistribution, so groupBy inserts no second exchange, and
    # the stage launches min(n_lists, conf) tasks instead of a full
    # spark.sql.shuffle.partitions fan-out where the empty partitions
    # each still schedule a task and fork an Arrow Python worker — the
    # round-3 2.2× bench-spread syndrome. At 100 TB n_lists exceeds the
    # conf and multiple clusters share a task, which is the right
    # packing (per-cluster work is the parallelism unit either way).
    n_parts = min(n_lists, shuffle_partitions(df.sparkSession) or n_lists)
    pairs = _within_cluster_pairs(assigned.repartition(n_parts, "list_id"), threshold)
    comp = connected_components(pairs, df, id_col=id_col)
    return comp.select(
        F.col(id_col),
        "component",
        (F.col(id_col) == F.col("component")).cast("long").alias("kept"),
    )


def kmeans_refine(
    df: DataFrame,
    n_lists: int = 8,
    iterations: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = ANN_SEED,
) -> DataFrame:
    """Distributed Lloyd's refinement of the coarse quantizer — the
    step FAISS calls when the driver-side training sample stops being
    representative: seed centroids from `_train_spherical_quantizer`'s
    bounded sample, then run ``iterations`` rounds where each round is
    ONE corpus scan (nearest-centroid assignment as the Arrow numpy
    pass — bit-equal to the JVM expression twin, r10) feeding a
    per-(cluster, dim) mean. The posexplode multiplies rows
    ×d, but hash aggregation collapses them map-side to at most
    k·d partial cells per task before the shuffle — the only wide
    traffic is k·d·partitions tiny doubles, never vectors. The k·d
    result (≤ a few KB) returns to the driver to become the next
    round's broadcast literal — the same driver-scalar pattern as the
    CC convergence check, independent of corpus size.

    Output (one report row per cluster): (list_id, n_vectors,
    mean_cos) — mean cosine of members to their centroid, the
    cluster-tightness figure SemDeDup-style pipelines monitor.

    HARD oracle since r9. Every cross-engine sum goes through
    micro-unit fixed point (``floor(x·10⁶ + 0.5)`` as BIGINT — the
    x31 centroid / money-cents pattern): integer partials are
    order-independent, so the distributed aggregation is bit-equal to
    the oracle builder's sequential replay of the same iterations, and
    ``mean_cos`` is DEFINED as the micro-unit mean (quantization
    ~1e-6, far below the figure's monitoring use). The per-iteration
    k·d driver update and its normalization replay in the builder
    (same Python, same process); the scan-stage assignment and the
    final report replay in DuckDB against the builder-embedded final
    centroids. Overflow headroom: |micro-unit| ≤ 10⁶, so a BIGINT
    group sum holds ~9·10¹² members per (cluster, dim) — comfortably
    past a 100 TB corpus.
    """
    C = _train_spherical_quantizer(df, id_col, vec_col, n_lists, seed)
    k = len(C)
    for _ in range(iterations):
        # Arrow assignment (r10, the x18 adjudication applied): each of
        # the iterations+1 corpus scans paid the interpreted O(k·d)
        # fold ×~3 expression copies; the numpy pass is bit-equal
        # (order-pinned folds), so the micro-unit partials — and
        # therefore every iteration's centroids — are unchanged.
        assigned = _assign_lists_arrow(df, C, id_col, vec_col)
        cells = (
            assigned.select("list_id", F.posexplode("unit").alias("dim", "x"))
            .groupBy("list_id", "dim")
            .agg(
                F.sum(F.floor(F.col("x") * 1000000.0 + F.lit(0.5)).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        newC = np.array(C, dtype=np.float64, copy=True)
        counts = np.zeros(k)
        for r in cells:
            newC[r.list_id][r.dim] = r.s
            counts[r.list_id] = r.n
        for j in range(k):
            if counts[j] > 0:
                # (s/10⁶)/n, two roundings in this order — mirrored
                # verbatim by the oracle builder's replay.
                newC[j] = (newC[j] / 1000000.0) / counts[j]
        nn = np.linalg.norm(newC, axis=1)
        C = newC / np.where(nn > 0, nn, 1.0)[:, None]
    final = _assign_lists_arrow(df, C, id_col, vec_col, payload="maxdot")
    # cosine to OWN centroid is by definition the max centroid dot —
    # the Arrow pass emits it directly (bit-equal to the JVM twin's
    # array_max(__dots); see the payload="maxdot" note).
    qcos = F.floor(F.col("maxdot") * 1000000.0 + F.lit(0.5)).cast("long")
    return (
        final.withColumn("__qc", qcos)
        .groupBy("list_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("__qc").alias("__s"),
        )
        .select(
            "list_id",
            "n_vectors",
            ((F.col("__s").cast("double") / 1000000.0) / F.col("n_vectors")).alias("mean_cos"),
        )
    )

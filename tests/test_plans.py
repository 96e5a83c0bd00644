"""Physical-plan assertions — the 100 TB discipline checks (SURVEY.md
§7 "scale risks"). Correctness tests prove results; these prove the
*plans* are the ones that survive a 1000-executor scale-up:
filters/columns reach the parquet scan, σ∘× becomes a real equi-join,
dimensions broadcast, top-k avoids global sort."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_engine_spark import matrix
from sql_engine_spark.catalog import load_table


import contextlib
import io


def _explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _plan(df) -> str:
    return _explain(df, "simple")


def _formatted(df) -> str:
    return _explain(df, "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 30).select("l_orderkey")
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(l_quantity,30.0)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    df = matrix.QUERIES["e01_scan_project"](spark, sf_dir)
    plan = _formatted(df)
    # ReadSchema must carry only the 3 projected columns.
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "o_orderkey" in read_schema and "o_orderpriority" in read_schema
    assert "o_totalprice" not in read_schema


def test_cross_join_plus_filter_becomes_equi_join(spark, sf_dir):
    """E11: the reference materializes the product then filters
    (sqlengine.py:120-135,161-195). Catalyst must extract the equality
    into a hash join — no cartesian product in the physical plan."""
    plan = _plan(matrix.QUERIES["e07_implicit_equi_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(matrix.QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    """orderBy+limit must lower to TakeOrderedAndProject (per-partition
    top-k), not a global Sort+CollectLimit."""
    plan = _plan(matrix.QUERIES["g01_order_by_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_in_agg(spark, sf_dir):
    df = matrix.QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes this df's own QueryExecution on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # Codegen stages are marked "*" in simple mode / "[codegen id : n]"
    # in formatted mode (Spark 4 no longer prints "WholeStageCodegen").
    assert "[codegen id :" in _formatted(df)


def test_semi_anti_joins(spark, sf_dir):
    assert "LeftSemi" in _plan(matrix.QUERIES["g12_in_subquery"](spark, sf_dir))
    assert "LeftAnti" in _plan(matrix.QUERIES["g13_not_exists"](spark, sf_dir))


def test_partial_aggregation_map_side(spark, sf_dir):
    """Grouped agg must show two HashAggregate phases (partial+final) —
    map-side combine before the shuffle."""
    plan = _plan(matrix.QUERIES["g08_join_explicit_agg"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path_factory):
    """Bucketing both join sides on the key elides the Exchange on both
    sides — the write-once/join-many co-location that makes fact⋈fact
    joins survive 100 TB (Spark's own ``bucketBy``)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "o_custkey")
    for df, table in ((o, "b_orders"), (c, "b_customer")):
        df.write.mode("overwrite").format("parquet").bucketBy(8, "o_custkey").saveAsTable(table)
    # Disable broadcast so the join would otherwise shuffle both sides.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(spark.table("b_customer"), on=["o_custkey"])
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


@pytest.mark.parametrize(
    "query", ["x02_dedup_ngram_jaccard", "x38_containment", "x54_incremental_dedup"]
)
def test_ngram_jaccard_never_cartesian(spark, sf_dir, query):
    """Every prefix-join producer must be a real equi-join on the
    shingle, never an O(n²) product, and no candidate or verify join
    may broadcast (the 125× replica OOM class). The containment probe
    explodes only its prefix slice, never the full array."""
    plan = _plan(matrix.QUERIES[query](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    if query == "x38_containment":
        assert "posexplode(slice(osh" in plan


def test_salted_agg_two_phase(spark, sf_dir):
    """x21 must plan two aggregation levels (salted wide phase + final
    merge), each with its own partial/final HashAggregate pair."""
    plan = _plan(matrix.QUERIES["x21_salted_agg"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4


def test_q18_semi_join(spark, sf_dir):
    plan = _plan(matrix.QUERIES["q18_large_orders"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_skyline_plan_is_expression_only(spark, sf_dir):
    """x27: the whole skyline plan must stay JVM-side — no Python
    workers (the round-1 mapInPandas prune cost 7s of worker spin-up),
    no cartesian/nested-loop join. Recovery is a broadcast semi join;
    the only shuffles are the groupBy(x) aggregate and the
    single-partition window over the pre-aggregated frontier."""
    plan = _plan(matrix.QUERIES["x27_skyline"](spark, sf_dir))
    assert "InPandas" not in plan and "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1  # the groupBy(x) shuffle


def test_pivot_is_single_scan(spark, sf_dir):
    """g35: PIVOT with explicit values lowers to one conditional
    aggregation — exactly one scan of lineitem, no join, no expand."""
    plan = _plan(matrix.QUERIES["g35_pivot"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_grouping_sets_single_expand(spark, sf_dir):
    """g34: GROUPING SETS plans as one scan + one Expand + one hash
    aggregation — not one rescan per grouping set."""
    plan = _plan(matrix.QUERIES["g34_grouping_sets"](spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Expand") == 1


def test_window_frames_share_one_window_operator(spark, sf_dir):
    """g33: four analytics over the same (partition, order) must share a
    single Window operator and a single shuffle on o_custkey."""
    plan = _plan(matrix.QUERIES["g33_window_frames"](spark, sf_dir))
    assert plan.count("Window") == 1
    assert plan.count("Exchange") == 1


def test_pair_dedup_shares_probe_key_exchange(spark, sf_dir):
    """The r16 probe-key contract, pinned (ADVICE r16): every
    candidate producer that feeds the verify join goes through
    dedup.candidate_join, which repartitions its RAW pairs on the probe
    key (dedup._cluster_always), so the pair dedup and the verify join
    plan WITHOUT an ENSURE_REQUIREMENTS exchange on the full pair key.
    Producers with no verify join keep a plain map-side dedup instead
    (test_banded_hamming_keeps_map_side_pair_dedup). A hashpartitioning(id_a, id_b) exchange reappearing
    in any of these plans means a caller stopped pre-partitioning and
    Spark silently re-inserted the shuffle this family removed —
    perf-only, invisible to correctness tests, caught here."""
    keys = {
        "x02_dedup_ngram_jaccard": ("id_a#", "id_b#"),
        "x04_dedup_minhash_lsh": ("id_a#", "id_b#"),
        "x38_containment": ("id_a#", "id_b#"),
        "x54_incremental_dedup": ("id_new#", "id_old#"),
    }
    for q, (ka, kb) in keys.items():
        plan = _formatted(matrix.QUERIES[q](spark, sf_dir))
        offenders = [
            ln
            for ln in plan.splitlines()
            if "hashpartitioning(" in ln and ka in ln and kb in ln
        ]
        assert not offenders, (q, offenders)


def test_stratified_sample_single_shuffle(spark, sf_dir):
    """x28: rank + per-stratum count reuse one hashpartitioning(lang)
    exchange; the filter happens post-window with no extra shuffle."""
    plan = _plan(matrix.QUERIES["x28_stratified_sample"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_sketch_profile_partial_aggregation(spark, sf_dir):
    """x29: every sketch aggregates map-side first (partial_ HLL /
    percentile objects), so the profile of a 100 TB table moves only
    constant-size state per partition — and the whole profile reads
    the table exactly TWICE regardless of column count (one scan for
    all sketches, one melted scan for all heavy-hitter columns)."""
    plan = _plan(matrix.QUERIES["x29_sketch_profile"](spark, sf_dir))
    assert "partial_approx_count_distinct" in plan or "partial_" in plan
    assert plan.count("Scan parquet") == 2


def test_q6_predicates_reach_parquet_scan(spark, sf_dir):
    """q6: shipdate range, discount band, and quantity bound must ALL
    appear in PushedFilters — the query that proves a year-slice of a
    100 TB table reads a year, not the table."""
    plan = _formatted(matrix.QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_q7_broadcasts_both_nation_aliases(spark, sf_dir):
    """q7: the nation dim joins twice under different aliases — both
    must broadcast; the only shuffle joins are the fact-fact ones."""
    plan = _plan(matrix.QUERIES["q7_nation_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_contamination_benchmark_broadcasts(spark, sf_dir):
    """x33: the benchmark shingle set is fixed-size regardless of corpus
    size, so it must join broadcast — the corpus side never shuffles
    text, only per-doc counters through the one groupBy exchange."""
    plan = _plan(matrix.QUERIES["x33_contamination"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_tfidf_no_cartesian_but_one_row_n(spark, sf_dir):
    """x34: the only nested-loop join allowed is the 1-row N fold-in;
    tf→df joins must be hash equi-joins."""
    plan = _plan(matrix.QUERIES["x34_tfidf_topterms"](spark, sf_dir))
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row n_docs
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_sequence_packing_one_shuffle_streaming_python(spark, sf_dir):
    """x35: greedy packing = exactly one Exchange (the shard
    repartition) feeding a streaming mapInPandas — state crosses Arrow
    batches, so no whole-partition pandas materialization exists to
    assert, but the plan must show the single shuffle + in-partition
    sort + one Python stage."""
    plan = _plan(matrix.QUERIES["x35_sequence_packing"](spark, sf_dir))
    assert plan.count("Exchange") == 1
    assert "MapInPandas" in plan
    assert "Sort [shard" in plan


def test_regex_scrub_is_scan_only(spark, sf_dir):
    """x36: scrubbing is a pure scan-stage map — zero exchanges."""
    plan = _plan(matrix.QUERIES["x36_regex_scrub"](spark, sf_dir))
    assert "Exchange" not in plan


def test_containment_is_equi_join(spark, sf_dir):
    """x38: candidate generation must probe the inverted index with a
    hash equi-join on the shingle — never an all-pairs product."""
    plan = _plan(matrix.QUERIES["x38_containment"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_percentiles_partial_aggregation(spark, sf_dir):
    """g43: exact percentiles still aggregate map-side (partial
    percentile state per partition), one scan."""
    plan = _plan(matrix.QUERIES["g43_percentiles"](spark, sf_dir))
    assert "partial_percentile" in plan
    assert plan.count("Scan parquet") == 1


def test_curation_funnel_is_single_scan(spark, sf_dir):
    """x40: the fused funnel must read the corpus ONCE and shuffle
    twice (fingerprint window, then source window whose partitioning
    the final aggregation reuses) — the naive operator-join-operator
    composition costs 7 scans."""
    plan = _plan(matrix.QUERIES["x40_curation_pipeline"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_domain_mix_filter_is_scan_stage(spark, sf_dir):
    """x41: the mixture keep-filter is pure scan-stage arithmetic —
    the only exchange in the matrix entry is its per-source count."""
    plan = _plan(matrix.QUERIES["x41_domain_mix"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1


def test_quantified_all_broadcasts_both_subqueries(spark, sf_dir):
    """g47: both quantifier subqueries collapse to broadcast sides —
    the big part scan must never shuffle or nested-loop against them."""
    plan = _plan(matrix.QUERIES["g47_quantified_all"](spark, sf_dir))
    assert plan.count("BroadcastExchange") == 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_full_outer_preaggregates_before_join(spark, sf_dir):
    """g46: both sides aggregate to ≤ nation-cardinality BEFORE the
    full outer join — the join runs on tiny inputs, and neither base
    scan reaches the join unaggregated."""
    plan = _plan(matrix.QUERIES["g46_full_outer"](spark, sf_dir))
    assert "FullOuter" in plan.replace(" ", "")
    assert plan.index("HashAggregate") < plan.index("Scan parquet")


def test_recursive_cte_heavy_side_single_agg(spark, sf_dir):
    """g45: the 80-row recursion must join the pre-aggregated monthly
    revenue (one aggregate over orders), never the raw orders scan."""
    plan = _plan(matrix.QUERIES["g45_recursive_cte"](spark, sf_dir))
    assert plan.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_multi_query_topk_broadcasts_queries(spark, sf_dir):
    """x48: the query set must broadcast (it is the small side by
    construction) and the corpus must be scanned exactly once for the
    scoring join — no cartesian of corpus×corpus."""
    df = matrix.QUERIES["x48_multi_query_topk"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_span_dups_is_equi_join(spark, sf_dir):
    """x51: span pair mining must be an equi-join on the span hash
    (inverted index), never a cartesian product, with partial
    aggregation for the per-pair counts."""
    df = matrix.QUERIES["x51_span_dups"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_count" in plan


def test_banded_hamming_keeps_map_side_pair_dedup(spark, sf_dir):
    """x05 and x63 have no verify join, so their pair dedup keeps its
    map-side partial below one exchange on the full pair key, and the
    raw pairs are never pre-partitioned on id_a: their pairs collide
    on several bands, and shipping them raw on id_a measured 2.6× the
    shuffle records on x63 at sf0.1 (166,682 → 439,080)."""
    for q in ("x05_dedup_simhash", "x63_image_dup_pairs"):
        lines = _plan(matrix.QUERIES[q](spark, sf_dir)).splitlines()
        pair_ex = [
            i
            for i, ln in enumerate(lines)
            if "Exchange hashpartitioning(id_a#" in ln and "id_b#" in ln
        ]
        partial = [i for i, ln in enumerate(lines) if "partial_first(hamming" in ln]
        assert pair_ex and partial and pair_ex[0] < partial[0], (q, lines)
        assert not [ln for ln in lines if "REPARTITION_BY_COL" in ln and "(id_a#" in ln], q


def test_srp_dup_pairs_is_one_token_join(spark, sf_dir):
    """The banded SRP path explodes its bands to (band, key) tokens and
    self-joins once (dedup.token_join): one join, no per-band union.
    Both sides are exploded corpus tables, so the join is pinned
    shuffle-hash, never a broadcast (the 125× replica OOM class)."""
    import re

    from sql_engine_spark.operators.similarity import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(embedding_dup_pairs(emb, 0.4, use_buckets=True))
    assert "Union" not in plan
    joins = re.findall(
        r"\b(?:BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin|BroadcastNestedLoopJoin"
        r"|CartesianProduct)\b",
        plan,
    )
    assert joins == ["ShuffledHashJoin"], plan


def test_stopword_stats_broadcasts_stop_list(spark, sf_dir):
    """x50: the 20-row stopword list must broadcast into the per-token
    membership join (the corpus-side explode must not shuffle on the
    token for the join)."""
    df = matrix.QUERIES["x50_stopword_stats"](spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan


def test_sketch_profile_categoricals_skip_sketch_scan(spark, sf_dir):
    """x29: categorical distinct counts + heavy hitters derive from the
    joint-combo relation (min_by over marginals), NOT a window sort or
    a join back into the profile — the plan must contain no Window and
    no SortMergeJoin."""
    df = matrix.QUERIES["x29_sketch_profile"](spark, sf_dir)
    plan = _plan(df)
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_arrow_multimodal_stages_prune_scan_columns(spark, sf_dir):
    """The r5 ReadSchema fix, pinned for the r7 hard-oracle entries:
    mapInPandas blocks Catalyst column pruning, so every Arrow payload
    stage pre-selects its consumed columns. The documents scan feeding
    x19 frames / x26 resize must read only (doc_id, text, source) —
    never lang or n_chars."""
    for name in ("x19_multimodal_frames", "x26_multimodal_resize"):
        plan = _formatted(matrix.QUERIES[name](spark, sf_dir))
        read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
        assert "text" in read_schema, (name, read_schema)
        assert "lang" not in read_schema and "n_chars" not in read_schema, (name, read_schema)


def test_portable_hll_partial_max_prune_and_exchange_reuse(spark, sf_dir):
    """The x30 portable HLL's scale contract (r8): register folding is
    a map-side-combined MAX on (group, idx) — reducer state is
    register-bounded, never cardinality-bounded; the scan reads only
    (doc_id, source); and the __total__ union branch rides a
    ReusedExchange of the per-group register shuffle at execution time
    instead of re-scanning the table."""
    from sql_engine_spark.operators.sketches import portable_hll_distinct

    docs = load_table(spark, sf_dir, "documents")
    df = portable_hll_distinct(docs, "source", "doc_id")
    plan = _plan(df)
    assert "partial_max" in plan
    assert "ReadSchema: struct<doc_id:bigint,source:string>" in plan
    assert "text" not in plan.split("ReadSchema")[1].split("\n")[0]
    df.collect()  # AQE applies ReuseExchange in the FINAL plan only
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_srp_ann_single_stage_no_shuffle(spark, sf_dir):
    """The x07 SRP-ANN scale contract (a hard oracle row since r8):
    signature computation and the any-band candidate filter are
    scan-stage expressions — NO Exchange anywhere in the plan — the
    exact rerank lowers to TakeOrderedAndProject (per-partition top-k,
    no global sort), and nothing falls back to Python workers. At
    100 TB this is the whole point: one scan, small-int filters, no
    shuffle before or after the rerank."""
    plan = _plan(matrix.QUERIES["x07_sim_ann_lsh"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    for node in ("InPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan


def test_ivf_probe_arrow_single_pass_no_shuffle(spark, sf_dir):
    """The x18 IVF probe plan contract (r10: the probe-path assignment
    swapped from the interpreted O(k·d)-per-row JVM fold to the
    bit-equal Arrow numpy pass — 14× measured at sf0.1, VERDICT r9
    #1). The shape that must survive: one column-pruned scan → exactly
    ONE MapInPandas assignment stage → small-int ``list_id`` filter →
    TakeOrderedAndProject rerank. No Exchange anywhere (the probe
    never shuffles), no second Python stage, and the scan reads only
    (vec_id, embedding) — Arrow stages block pushdown past them, so
    the pre-stage select IS the pruning (the r5 mapInPandas lesson)."""
    df = matrix.QUERIES["x18_sim_ivf"](spark, sf_dir)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1
    fmt = _formatted(df)
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in fmt


def test_ivf_prepartitioned_probe_partition_prunes(spark, sf_dir, tmp_path):
    """The at-scale IVF ingest claim, exercised end-to-end (VERDICT
    r10 #1 — previously the one 100 TB design claim with no test):
    ``ivf_ingest`` writes the corpus partitioned by ``list_id`` via
    the JVM expression twin (`_with_list_assignment`), and the
    ``ivf_topk_prepartitioned`` probe against that index must prune
    whole partition directories — ``PartitionFilters: [... list_id
    IN (…)]`` on the scan — with ZERO per-row assignment work at
    query time: no Python stage of any kind, no centroid-literal
    expressions (`from_json` is the assignment signature), no
    Exchange, and the rerank lowers to TakeOrderedAndProject. The
    probe must also return exactly what the inline ``ivf_topk``
    returns for the same quantizer/probe/rerank (SCALE.md cites this
    test as the survival argument for the JVM twin)."""
    from sql_engine_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_index")
    C = S.ivf_ingest(emb, path, n_lists=8)
    qv = S.get_vector(emb, 0)
    df = S.ivf_topk_prepartitioned(
        spark, path, C, qv, k=10, n_probe=2, exclude_id=0
    )
    fmt = _formatted(df)
    pf = [ln for ln in fmt.splitlines() if "PartitionFilters" in ln]
    assert pf, fmt
    assert "list_id" in pf[0] and " IN (" in pf[0], pf[0]
    # list_id is a partition column — the row-group scan reads ONLY
    # (vec_id, embedding); no assignment expressions anywhere.
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in fmt
    assert "from_json" not in fmt
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    for node in ("InPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in plan
    # Same results as the inline probe: one quantizer, one probe
    # order, one rerank — the index is a layout change, not a
    # semantics change.
    inline = S.ivf_topk(
        emb, qv, k=10, n_lists=8, n_probe=2, exclude_id=0
    ).collect()
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in inline]


def test_ivf_ingest_excludes_null_embeddings(spark, sf_dir, tmp_path):
    """A dirty corpus (NULL embedding) must not poison the index:
    `ivf_ingest` filters NULLs scan-stage, so no
    `__HIVE_DEFAULT_PARTITION__` directory appears, the index holds
    exactly the non-null rows, and the probe path stays healthy —
    the same graceful-exclusion semantics the Arrow assignment pass
    pins for the inline path."""
    import os

    from sql_engine_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dirty = emb.unionByName(
        spark.createDataFrame(
            [(999_999, None)], "vec_id long, embedding array<float>"
        )
    )
    path = str(tmp_path / "dirty_idx")
    C = S.ivf_ingest(dirty, path, n_lists=8)
    dirs = [d for d in os.listdir(path) if d.startswith("list_id=")]
    assert not any("HIVE_DEFAULT" in d for d in os.listdir(path))
    assert 1 <= len(dirs) <= 8
    back = spark.read.parquet(path)
    assert back.count() == emb.count()
    assert back.filter(F.col("vec_id") == 999_999).count() == 0
    qv = S.get_vector(emb, 0)
    got = S.ivf_topk_prepartitioned(
        spark, path, C, qv, k=5, n_probe=2, exclude_id=0
    ).collect()
    assert len(got) == 5


def test_ivf_ingest_files_per_list_bounds_layout(spark, sf_dir, tmp_path):
    """The at-scale file-layout knob: with ``files_per_list`` set, the
    salted repartition bounds every list directory to ~files_per_list
    parquet files (vs up to one per scan task without it), and the
    index contents — and probe results — are unchanged (layout knob,
    not a semantics knob)."""
    import os

    from sql_engine_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings").repartition(8)
    qv = S.get_vector(emb, 0)
    p1 = str(tmp_path / "idx_default")
    p2 = str(tmp_path / "idx_fpl")
    C1 = S.ivf_ingest(emb, p1, n_lists=8)
    C2 = S.ivf_ingest(emb, p2, n_lists=8, files_per_list=2)
    assert (C1 == C2).all()

    def files_by_list(path):
        out = {}
        for d in os.listdir(path):
            if d.startswith("list_id="):
                out[d] = len(
                    [f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")]
                )
        return out

    fpl = files_by_list(p2)
    assert fpl and all(n <= 2 for n in fpl.values()), fpl
    # same rows either way, and the probe agrees bit-for-bit
    a = sorted(tuple(r) for r in spark.read.parquet(p1).collect())
    b = sorted(tuple(r) for r in spark.read.parquet(p2).collect())
    assert a == b
    g1 = S.ivf_topk_prepartitioned(spark, p1, C1, qv, k=5, n_probe=2, exclude_id=0).collect()
    g2 = S.ivf_topk_prepartitioned(spark, p2, C2, qv, k=5, n_probe=2, exclude_id=0).collect()
    assert [tuple(r) for r in g1] == [tuple(r) for r in g2]


def test_q21_semi_anti_shape_no_cartesian(spark, sf_dir):
    """Q21's defining difficulty — a correlated EXISTS plus an
    inequality-correlated NOT EXISTS over the same fact — must lower
    to LeftSemi + LeftAnti hash joins (the anti join carrying the
    shipdate inequality as a join-side condition), never a cartesian
    or a per-row subquery; the status-F and nation-IN filters reach
    their scans, the lineitem scan reads only (orderkey, suppkey,
    shipdate), and top-100 is TakeOrderedAndProject. All three fact
    joins key on l_orderkey, so at scale the shuffles share
    partitioning."""
    df = matrix.QUERIES["q21_waiting_supplier"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    fmt = _formatted(df)
    assert "EqualTo(o_orderstatus,F)" in fmt
    assert "In(n_name, " in fmt
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint,l_shipdate:timestamp_ntz>"
        in fmt
    )


def test_dedup_scale_broadcast_guards(spark, sf_dir):
    """The 125× replica incident (r13): every side of the dedup
    candidate/verify joins and the df-frequency join scales with the
    corpus, yet Spark's estimates read them tiny — compressed file
    size propagated through project/explode under-states in-memory
    shingle state 10–50×, so BOTH the static planner and AQE's
    compressed-bytes upgrade flipped corpus-scaled sides to driver
    broadcasts at 125× (freq OOMed the driver; with pins removed the
    static planner broadcast the verify arrays AND the full exploded
    index, and OOMed again — estimates are structurally dishonest for
    this family, so per-join pins are the only robust control). Every
    such join is pinned shuffle-hash with a chosen build side (narrow
    pairs / per-partition-bounded arrays; a merge pin sorted the fat
    pairs×arrays intermediate and went 3× super-linear at 125×).

    The session-global 8 MB AQE broadcast cap that backstopped the
    pins r13–r14 was retired in r15 (VERDICT r14 #1): the pins alone
    carry the guarantee, so this test pins them at BOTH planning
    layers — the static plan for every family query, and the EXECUTED
    adaptive plan (isFinalPlan=true) for one, where AQE has already
    observed runtime sizes small enough to upgrade every join it is
    allowed to. A dropped hint flips the executed plan to
    BroadcastHashJoin here long before any replica sweep runs
    (executed-plan audit of all five at sf0.1 under the 64 MB adaptive
    threshold: zero BHJ — SCALE.md 'AQE broadcast-cap retirement')."""
    # x04/x05 joined the loop in r14 (ADVICE r13), x63 and x51 later:
    # the minhash_lsh_pairs, banded_hamming_pairs and span_dup_pairs
    # joins carry the same pins, and a dropped hint there would regress
    # to broadcast/sort-merge with no other test noticing.
    for q in (
        "x02_dedup_ngram_jaccard",
        "x04_dedup_minhash_lsh",
        "x05_dedup_simhash",
        "x38_containment",
        "x54_incremental_dedup",
        "x63_image_dup_pairs",
        "x51_span_dups",
    ):
        plan = _plan(matrix.QUERIES[q](spark, sf_dir))
        assert "BroadcastHashJoin" not in plan, q
        assert "ShuffledHashJoin" in plan, q
    # No session-scoped adaptive cap anymore: honest small sides keep
    # their runtime upgrades; the adaptive threshold falls back to the
    # static 64 MB line.
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == str(64 * 1024 * 1024)
    assert spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
    ) == str(64 * 1024 * 1024)
    # Executed-plan pin: x05 is the family's cheapest query — run it to
    # completion and assert the FINAL adaptive plan kept the hash join.
    df = matrix.QUERIES["x05_dedup_simhash"](spark, sf_dir)
    df.count()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "BroadcastHashJoin" not in executed
    assert "ShuffledHashJoin" in executed


def test_dedup_join_partitions_scale_with_corpus(spark, sf_dir, monkeypatch):
    """The 250× no-spill wall (r14): a ShuffledHashJoin build side
    cannot spill, so per-task build memory is build_size/partitions
    and the r13 pins — which survive 125× sf0.1 replicas at the
    session's 32 partitions — died at 250× with "Can't acquire …
    memory to build hash relation". The control is the partition
    count: the pinned joins cluster both sides at ~1 shuffle partition
    per MB of source bytes, session conf as FLOOR. Below the envelope
    (every driver sf) the helper answers None and plans stay
    byte-identical — the guard above already pins those shapes; this
    test shrinks the envelope so the tiny corpus counts as 'big' and
    asserts the exchanges actually move to the scaled count while the
    no-broadcast/hash-join discipline holds."""
    from sql_engine_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingle_index(docs)
    assert D.scaled_join_partitions(sh) is None, "driver sfs must stay under the envelope"
    conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    monkeypatch.setattr(D, "_JOIN_PARTITION_INPUT_BYTES", 1024)
    n = D.scaled_join_partitions(sh)
    assert n is not None and n > conf
    # The memoized ordered index was built under the normal envelope —
    # rebuild so the scaled count reaches every exchange, and clear
    # after so no other test inherits the shrunken-envelope artifact.
    D.clear_shingle_index()
    try:
        plan = _plan(D.ngram_jaccard_pairs(docs))
        assert f", {n})" in plan, plan
        assert "REPARTITION_BY_NUM" in plan
        assert "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan
        # The minhash path sizes from a FILTERED view of the persisted
        # portable index — a derived DataFrame loses the memo's byte
        # stamp and a persisted parent hides the scan, so the operator
        # re-stamps it (r14 review find): pin that the scaled count
        # reaches x04's exchanges too.
        plan = _plan(D.minhash_lsh_pairs(docs))
        assert f", {n})" in plan, plan
        assert "BroadcastHashJoin" not in plan
    finally:
        D.clear_shingle_index()


def test_scaled_join_partitions_unparseable_conf_falls_back(spark, sf_dir, monkeypatch):
    """ADVICE r14: an unparseable ``spark.sql.shuffle.partitions``
    (e.g. ``"auto"`` on an AQE-managed platform) must not silently
    disable corpus-scaled partitioning — that would reintroduce the
    250× SHJ no-spill wall exactly where the rule matters. The floor
    falls back to ``defaultParallelism``: above the envelope the
    scaled count still answers; below it the answer stays None."""
    from sql_engine_spark.operators import dedup as D

    from pyspark.sql.conf import RuntimeConfig

    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingle_index(docs)
    # Stock Spark validates conf.set("...partitions", "auto") away, so
    # simulate the platform-injected value at the READ: that is the
    # exact surface scaled_join_partitions consumes.
    orig_get = RuntimeConfig.get

    def fake_get(self, key, default=None):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return orig_get(self, key, default)

    monkeypatch.setattr(RuntimeConfig, "get", fake_get)
    try:
        # Below the envelope: tiny corpus, fallback floor bounds it.
        assert D.scaled_join_partitions(sh) is None
        # Above the envelope: the byte rule must still engage.
        monkeypatch.setattr(D, "_JOIN_PARTITION_INPUT_BYTES", 1024)
        n = D.scaled_join_partitions(sh)
        assert n is not None and n > spark.sparkContext.defaultParallelism
    finally:
        D.clear_shingle_index()

"""The benchmark's fixed query lists.

A query is ``(name, kind, group)``. ``kind`` is ``"sql"`` for an SQL
text sent through ``sql.run_sql`` (the text is the DuckDB oracle string
of the matrix entry of the same name) or ``"matrix"`` for a matrix
callable. ``group`` names the layer a query was chosen to load; the
layer-coverage check compares groups. README.md says why each list
holds what it holds and which queries are left out.
"""

from __future__ import annotations

SQL_TEXTS = [
    "e01_scan_project", "e02_star", "e03_filter_comparisons",
    "e04_filter_andor_tree", "e05_negative_literal", "e06_cross_join",
    "e07_implicit_equi_join", "e08_distinct", "e09_aggregates",
    "e10_agg_after_where",
]
TPCH = ["q1_pricing_summary", "q6_forecast_revenue", "q14_promo_revenue"]
RETRIEVAL = [
    "x06_sim_topk_brute", "x18_sim_ivf", "x16_multimodal_features",
    "x32_multimodal_decode",
]
DEDUP = [
    "x01_dedup_exact", "x02_dedup_ngram_jaccard", "x38_containment",
    "x20_dedup_components",
]
STREAM = ["s04_stream_dedup", "s08_stream_ingest_dedup"]

# Queries that share the dedup memos (shingle index, ordered index, pair
# graph). The first of them in a pass builds the memos and the others
# reuse them, so a random leader makes pass time bimodal. Shuffled passes
# keep these in the order listed here. x20 leads: its eager components
# loop then builds the memos in its build step (about 21 build jobs
# instead of 6), the slow cold-memo path ROADMAP item 2 targets, and
# that path is in every pass.
MEMO_SHARING = [
    "x20_dedup_components", "x02_dedup_ngram_jaccard", "x38_containment",
    "s08_stream_ingest_dedup",
]

WORKLOADS: dict[str, list[tuple[str, str, str]]] = {
    "sql_retrieval": (
        [(n, "sql", "sql") for n in SQL_TEXTS]
        + [(n, "matrix", "relational") for n in TPCH]
        + [(n, "matrix", "retrieval") for n in RETRIEVAL]
    ),
    "dedup_stream": (
        [(n, "matrix", "dedup") for n in DEDUP]
        + [(n, "matrix", "stream") for n in STREAM]
    ),
}


def pass_order(queries, rng):
    """A seeded shuffle of ``queries`` in which the memo-sharing queries
    keep their MEMO_SHARING order."""
    order = rng.sample(queries, len(queries))
    shared = iter(sorted((q for q in queries if q[0] in MEMO_SHARING),
                         key=lambda q: MEMO_SHARING.index(q[0])))
    return [next(shared) if q[0] in MEMO_SHARING else q for q in order]


# Warm-pass wall time of each workload on the reference host (4 vCPUs,
# 2.1 GHz). The number of warm passes in a run is ``--seconds`` divided
# by this, so it is fixed by the arguments and never by how fast the
# host or the program happens to be: every run takes its medians from
# the same passes.
PASS_SECONDS = {"sql_retrieval": 4.0, "dedup_stream": 6.0}


def warm_passes(workload: str, seconds: float, traced: bool) -> int:
    """Warm passes of one run. At least one; a traced run alternates
    traced and untraced passes, starting and ending traced, so it runs
    an odd number, at least three."""
    n = max(1, round(seconds / PASS_SECONDS[workload]))
    if traced:
        n = max(3, n + (n % 2 == 0))
    return n

"""The local correctness gate: every oracle-backed matrix entry must
match DuckDB exactly at sf0.001 (the driver re-runs this at sf0.01)."""

from __future__ import annotations

import pytest

from sql_engine_spark import matrix
from tests.oracle_harness import compare, run_oracle

ORACLE_NAMES = sorted(matrix.ORACLE)
ROWS_ONLY_NAMES = sorted(set(matrix.QUERIES) - set(matrix.ORACLE))


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, sf_dir, name):
    sdf = matrix.QUERIES[name](spark, sf_dir)
    # oracle_for_sf: data-dependent oracles (literal-centroid replays)
    # regenerate their embedded literals for the sf under test; the
    # driver itself always runs the static strings at sf0.01.
    opdf = run_oracle(matrix.oracle_for_sf(name, sf_dir), sf_dir)
    ok, msg = compare(sdf, opdf)
    assert ok, f"{name}: {msg}"


def test_every_query_has_an_oracle():
    assert ROWS_ONLY_NAMES == []

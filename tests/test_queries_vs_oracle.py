"""The local mirror of the driver's correctness gate: every registered
query with an oracle must value-match DuckDB on the same tables, and
no plan may carry either scale-killer (a row-at-a-time Python UDF or
a CartesianProduct)."""

from __future__ import annotations

import pytest

from aces_nifi_processors_bundle_spark.plans.oracles import ORACLES
from aces_nifi_processors_bundle_spark.plans.registry import QUERIES

from .conftest import assert_matches_oracle, plan_of


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    # Python may appear only as ArrowEvalPython (vectorized), never as
    # BatchEvalPython (row-at-a-time pickling), and no CartesianProduct
    # between unbounded sides. Checked on the plan before it runs.
    # q_store_* and q_stream_* queries run their jobs while being
    # built, so only the lazy, plan-carrying queries are checked.
    if not name.startswith(("q_store_", "q_stream_")):
        plan = plan_of(df)
        assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
        assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in ORACLES:
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    assert_matches_oracle(df, duck, ORACLES[name])


def test_every_query_has_oracle_or_reason():
    missing = set(QUERIES) - set(ORACLES)
    # Every registered query is currently SQL-expressible — even the
    # hyperplane-LSH funnel (md5-derived planes as a SQL derived table).
    assert not missing, f"queries lacking oracles: {missing}"

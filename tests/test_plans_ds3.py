"""Plan-shape gates + result invariants for the fifth TPC-DS batch
(operators/relational_ds3.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_variance_spark import registry
from tests.conftest import SF_DIR

registry.load_all()


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_excess_discount_broadcasts_per_part_agg(spark):
    # The correlated 1.3*avg(...) subquery must become a per-part aggregate
    # broadcast back onto the fact — no fact-wide shuffle join, no window
    # over the whole fact, and the date window pushed to the scan.
    plan = _plan(spark, "excess_discount_by_month")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_excess_discount_no_excess_without_spread(spark):
    # Sanity invariant: an excess line's discount strictly exceeds the
    # per-part average, so parts where every line has the same discount
    # can never contribute.
    df = registry.QUERIES["excess_discount_by_month"](spark, SF_DIR)
    rows = df.collect()
    assert all(r.n_excess > 0 and r.excess_cents > 0 for r in rows)
    assert {r.ship_month for r in rows} <= set(range(1, 13))


def test_returned_rebuy_pair_join_is_equi_not_nested_loop(spark):
    # The later-date predicate must ride the (custkey, partkey) equi-join
    # as a residual, never force a nested loop.
    plan = _plan(spark, "returned_rebuy_quantities")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_yoy_decline_single_scan_and_year_filter(spark):
    # q75's union-of-channels + self-join collapses to one conditional agg;
    # the year filter must reach the fact scan as a pushed predicate.
    plan = _plan(spark, "yoy_decline_with_returns")
    assert plan.count("FileScan parquet") == 2
    assert "In(l_shipdate" in plan or "GreaterThanOrEqual(l_shipdate" in plan or (
        "l_shipdate" in plan.split("PushedFilters", 1)[-1][:400]
    )
    df = registry.QUERIES["yoy_decline_with_returns"](spark, SF_DIR)
    rows = df.collect()
    assert rows, "no declining brands at sf0.1 — predicate lost selectivity"
    for r in rows:
        assert r.prev_net_c > 0
        assert r.curr_net_c < r.prev_net_c


def test_tpch_text_plans(spark):
    # q5's six-table snowflake must broadcast every dimension (no
    # sort-merge anywhere); q18's IN-subquery must plan as a semi join.
    p5 = _plan(spark, "tpch_q5")
    assert p5.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p5
    p18 = _plan(spark, "tpch_q18")
    assert "LeftSemi" in p18
    assert "CartesianProduct" not in p18
    # q4's EXISTS must plan as a semi join, q22's NOT EXISTS as an anti
    # join; q17's correlated scalar subquery must decorrelate into an
    # aggregate + join (never a per-row rescan / nested loop); q8's
    # 8-table snowflake must broadcast every dimension.
    p4 = _plan(spark, "tpch_q4")
    assert "LeftSemi" in p4 and "CartesianProduct" not in p4
    p22 = _plan(spark, "tpch_q22")
    assert "LeftAnti" in p22 and "CartesianProduct" not in p22
    p17 = _plan(spark, "tpch_q17")
    assert "CartesianProduct" not in p17
    assert "BroadcastNestedLoopJoin" not in p17
    p8 = _plan(spark, "tpch_q8")
    assert p8.count("BroadcastHashJoin") >= 6
    assert "CartesianProduct" not in p8


def test_fanout_pushdown_never_materializes_the_cross_product(spark):
    # The whole point: every returns table must be REDUCED (partial count)
    # before any join — the plan joins three aggregate outputs onto the
    # 35-row reason table, never fact x fact.
    plan = _plan(spark, "fanout_count_pushdown")
    # 3 aggregate-output joins onto reason + the date_dim dimension join
    assert plan.count("BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # three per-key partial counts + the date join + final year agg
    assert plan.count("HashAggregate") >= 6  # partial+final per count


def test_fanout_pushdown_equals_naive_join(spark):
    from lakehouse_variance_spark.operators.relational_ds3 import (
        _FANOUT_NAIVE_SQL,
    )
    from lakehouse_variance_spark.plans.tpcds_schema import (
        register_tpcds_views,
    )

    register_tpcds_views(spark, SF_DIR)
    naive = {
        (r.d_year, r.agg_0)
        for r in spark.sql(_FANOUT_NAIVE_SQL).collect()
    }
    rewritten = {
        (r.d_year, r.agg_0)
        for r in registry.QUERIES["fanout_count_pushdown"](
            spark, SF_DIR
        ).collect()
    }
    assert rewritten == naive

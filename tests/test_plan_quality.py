"""Physical-plan quality gates: the plans we shipped are the plans we want.

These assert the *shape* of the executed plan — filters reaching the scan,
dimensions broadcast, columns pruned — so a refactor that silently degrades
a plan (e.g. drops a broadcast to a sort-merge join, or blocks pushdown
behind a non-deterministic expression) fails CI, not a 100 TB run."""

from __future__ import annotations

import re

import pytest

from lakehouse_variance_spark import registry
from lakehouse_variance_spark.plans import tpcds_texts
from tests.conftest import SF_DIR, SF_DIR_MEDIUM

registry.load_all()


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_star_join_broadcasts_all_dimensions(spark):
    plan = _plan(spark, "join_multiway_region")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_filters_push_into_scans(spark):
    plan = _plan(spark, "q1_pricing_summary")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), "no pushed filters reached the scan"


def test_column_pruning_reads_narrow_schema(spark):
    # q1 touches 7 of lineitem's 11 columns; the scan must not read more.
    plan = _plan(spark, "q1_pricing_summary")
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scans
    cols = [c.split("#")[0] for c in scans[0].split(",")]
    assert len(cols) <= 7


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "join_topk_revenue")
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_joins_are_joins_not_filters(spark):
    semi = _plan(spark, "tpcds_q10")
    anti = _plan(spark, "tpcds_q69")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_fullouter_cumulative_joins_aggregates_not_facts(spark):
    plan = _plan(spark, "window_fullouter_cumulative")
    # The full outer join must run over the two AGGREGATED daily series
    # (sort-merge on the composite key), never the orders fact table.
    assert "FullOuter" in plan
    # Each branch scans orders once: 2 fact scans total, both pruned to the
    # 4 columns the branches need.
    scans = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert len(scans) == 2
    for s in scans:
        assert len(s.split(",")) <= 4


def test_pivot_is_single_scan_no_distinct_job(spark):
    # Explicit pivot values -> ONE fact scan feeding (prio,status) pre-agg
    # + pivotfirst, with no separate distinct-values job. (Omitting the
    # value list would trigger an eager .distinct().collect() before the
    # plan even builds.)
    plan = _plan(spark, "agg_pivot_wide")
    assert plan.count("FileScan parquet") == 1
    assert "pivotfirst" in plan


def test_except_all_avoids_pairwise_join(spark):
    plan = _plan(spark, "set_except_all")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_time_rollup_reaggregates_partials(spark):
    # day/month grains must derive from the checkpointed hourly partials:
    # the returned plan re-reads the materialized RDD and never rescans the
    # events fact table.
    plan = _plan(spark, "time_rollup_multigrain")
    assert "FileScan parquet" not in plan
    assert plan.count("ExistingRDD") >= 3


def test_semi_anti_combined_single_key_copartition(spark):
    # q94: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, and all three
    # web_sales/web_returns branches correlate on ws_order_number, so the
    # plan stays at one key's partitioning (no pair explosion, no
    # cartesian residual).
    plan = _plan(spark, "tpcds_q94")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_union_channels_broadcasts_dimensions(spark):
    # Both channel branches do dimension hops (customer->nation,
    # supplier->nation): nation/supplier must broadcast, and the union must
    # not introduce its own exchange (rollup's single shuffle only).
    plan = _plan(spark, "union_channels_rollup")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Union" in plan


def test_window_extras_partition_by_customer(spark):
    # ntile/first/last/lead all share the per-customer partitioning: no
    # global (empty-partition) window may appear — that would serialize
    # the whole table through one task.
    plan = _plan(spark, "window_ntile_first_last")
    assert "Window" in plan
    assert re.search(r"windowspecdefinition\(\s*o_custkey", plan), plan


def test_frequent_items_filters_are_semi_joins(spark):
    # q23: both IN-subquery filters must plan as LeftSemi joins on
    # their aggregation keys — never as materialized DISTINCT + inner join,
    # and never nested-loop.
    plan = _plan(spark, "tpcds_q23")
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan


def test_return_ratio_single_aggregate_shared_window_exchange(spark):
    """q49 shape: one scan + one aggregation computes every channel; the two
    rankings re-sort within the same channel hash partitioning instead of
    exchanging twice."""
    plan = _plan(spark, "union_return_ratio_ranked")
    assert plan.count("FileScan parquet") == 1  # one scan, not per-channel
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges <= 2  # agg shuffle + one shared window partitioning
    assert plan.count("Window") == 2


def test_scalar_counts_single_scan_no_join(spark):
    """q88 shape: the 8 cross-joined scalar subqueries must collapse to ONE
    conditional-aggregation scan — no join operator at all."""
    plan = _plan(spark, "scalar_counts_crossjoin")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_contamination_broadcasts_eval_side(spark):
    """The eval n-gram set must broadcast: the training-side scan joins with
    no shuffle of the big side."""
    plan = _plan(spark, "contamination_ngram")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_dedup_partial_aggregates(spark):
    """Keeper selection must partial-aggregate map-side before its shuffle."""
    plan = _plan(spark, "text_chunk_dedup")
    assert plan.count("HashAggregate") >= 4  # partial+final for keeper + rollup


def test_pack_offsets_single_scan_single_window_exchange(spark):
    plan = _plan(spark, "pack_token_offsets")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1  # by source, for the window


def test_percent_rank_single_exchange(spark):
    plan = _plan(spark, "window_percent_rank_cume")
    assert plan.count("Exchange hashpartitioning") == 1


def test_winsorized_mean_broadcasts_bounds(spark):
    plan = _plan(spark, "agg_winsorized_mean")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_upsert_single_join_no_window(spark):
    """MERGE plans as one outer join on the key (changelog coalesce), with
    no window or second exchange sneaking in."""
    plan = _plan(spark, "merge_upsert_orders")
    assert "Join FullOuter" in plan or "FullOuter" in plan
    assert "Window" not in plan


def test_cdc_apply_single_exchange(spark):
    """CDC collapse: the row_number window and per-key count share ONE
    shuffle on user_id."""
    plan = _plan(spark, "cdc_apply_latest")
    assert plan.count("Exchange hashpartitioning") == 1


def test_stats_spread_broadcasts_part_dimension(spark):
    """q17 shape: the part dimension broadcasts; the fact side aggregates
    partially before its shuffle."""
    plan = _plan(spark, "join_stats_spread")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan or "partial" in plan


def test_rollup_rank_windows_aggregate_not_fact(spark):
    """q67: Expand/rollup happens before the rank window, so the
    window input is the aggregate, and the dimensions broadcast."""
    plan = _plan(spark, "tpcds_q67")
    assert "BroadcastHashJoin" in plan
    assert plan.index("Expand") > plan.index("Window") or (
        # toString prints top-down: Window (consumer) appears before
        # Expand (producer) in a correct aggregate-then-rank plan.
        "Expand" in plan and "Window" in plan
    )


def test_filter_pipeline_is_single_scan_single_exchange(spark):
    """Cleaning report: one documents scan, one low-cardinality rollup
    shuffle (plus the deliberate spread() repartition)."""
    plan = _plan(spark, "text_filter_pipeline")
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_hash_join_not_nested_loop(spark):
    """Key-less interval join: bucketing must keep it a hash equi-join —
    a BroadcastNestedLoopJoin here is O(points × intervals) at scale."""
    plan = _plan(spark, "range_join_maintenance")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sessionize_single_exchange(spark):
    """Both session windows and the rollup share the user_id shuffle."""
    plan = _plan(spark, "batch_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1


def test_rank_filter_gets_window_group_limit(spark):
    # rank() <= k must trigger Spark's WindowGroupLimit: each map task
    # pre-filters to its local top-k BEFORE the window shuffle, so the
    # exchange carries O(k x partitions x groups), not the full fact —
    # the optimization that makes window-top-k viable at 100 TB.
    for q in ("tpcds_q67", "embed_cosine_topk"):
        plan = (
            registry.QUERIES[q](spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan, f"{q} lost WindowGroupLimit"


def test_q72_inventory_pruned_before_fact_fact_join(spark, monkeypatch):
    """q72's transitive date prune (tpcds_texts._FACT_PRUNES): the
    inventory side must be reduced by the 1999-week date prune BEFORE the
    catalog_sales fact-fact join — the prune predicate (a BETWEEN when the
    date_sk run is contiguous, an In list otherwise) must reach the
    inventory parquet scan.  Gate lowered to 0: sf0.001's inventory sits
    below the 16 MB size gate (sf0.1's 26.5 MB estimate qualifies)."""
    import lakehouse_variance_spark.plans.tpcds_texts as tpcds_texts

    # with the DEFAULT gate, sf0.001's tiny facts must NOT be pruned —
    # the prune constant outweighs any sub-16MB scan (r12 A/B)
    ungated = _plan(spark, "tpcds_q72")
    assert not re.search(
        r"PushedFilters: \[[^\]]*(?:In|GreaterThanOrEqual)\(inv_date_sk",
        ungated,
    ), "size gate failed to exempt a tiny fact"
    monkeypatch.setattr(tpcds_texts, "_PRUNE_MIN_FACT_BYTES", 0)
    plan = _plan(spark, "tpcds_q72")
    # the ~371-sk runtime date prune must reach the inventory parquet
    # scan (13.1M -> 2.7M rows before the fact-fact join)
    pushed = re.search(
        r"PushedFilters: \[[^\]]*"
        r"(?:In|GreaterThanOrEqual)\(inv_date_sk", plan
    )
    assert pushed, "inv_date_sk prune not pushed to the scan"
    fact_join = re.search(
        r"BroadcastHashJoin \[cs_item_sk[^\]]*\], \[inv_item_sk", plan
    )
    assert fact_join, "cs ⋈ inventory join not found"
    assert fact_join.start() < pushed.start(), (
        "inventory must be scan-pruned below the fact-fact join"
    )


def test_fact_prunes_reach_scans_and_restore_catalog(spark, monkeypatch):
    """The r12 generalized fact prunes (tpcds_texts._FACT_PRUNES): each
    pruned query's fact scans must carry the derived date/item key
    predicates in PushedFilters (the before-plans show IsNotNull-only
    full-table scans), and the view shadow must be scoped to the one
    spark.sql call — the catalog reads the FULL fact again afterwards.
    The size gate is lowered to 0 here: at sf0.1 the sales facts sit
    below the 16 MB default (deliberately — the interleaved A/B showed
    the prune constant outweighs a 6-9 MB scan), and this test checks
    the PLAN the prunes produce once a fact is big enough to qualify."""
    import lakehouse_variance_spark.plans.tpcds_texts as tpcds_texts

    monkeypatch.setattr(tpcds_texts, "_PRUNE_MIN_FACT_BYTES", 0)
    expect = {
        "tpcds_q4": ("ss_sold_date_sk", "cs_sold_date_sk",
                     "ws_sold_date_sk"),
        "tpcds_q51": ("ws_sold_date_sk", "ss_sold_date_sk"),
        "tpcds_q67": ("ss_sold_date_sk",),
        "tpcds_q78": ("ws_sold_date_sk", "cs_sold_date_sk",
                      "ss_sold_date_sk"),
        # q64's ss_sold_date_sk bound hides behind the In-list string
        # truncation; its propagated d_date_sk bound below is the
        # visible evidence for the date half.
        "tpcds_q64": ("ss_item_sk", "sr_item_sk", "cs_item_sk",
                      "cr_item_sk", "d_date_sk"),
    }
    for name, cols in expect.items():
        plan = _plan(spark, name)
        for col in cols:
            assert re.search(
                r"PushedFilters: \[[^\]]*"
                rf"(?:In|GreaterThanOrEqual)\({col}", plan
            ), f"{name}: {col} prune not pushed to the scan"
    # catalog restored: a full count over the shadowed names sees every row
    from lakehouse_variance_spark.plans.tpcds_schema import (
        register_tpcds_views,
    )

    register_tpcds_views(spark, SF_DIR)
    full = spark.sql("SELECT count(*) FROM store_sales").collect()[0][0]
    registry.QUERIES["tpcds_q67"](spark, SF_DIR)  # shadows + restores
    again = spark.sql("SELECT count(*) FROM store_sales").collect()[0][0]
    assert full == again, "fact prune leaked past its query"


def test_fact_prune_failure_restores_shadowed_views(spark, monkeypatch):
    """A failure while shadowing the SECOND fact view must put the first
    one back before re-raising: the catalog token still reads valid, so a
    leaked shadow would silently prune every later query."""
    import lakehouse_variance_spark.plans.tpcds_texts as tpcds_texts
    from lakehouse_variance_spark.plans.tpcds_schema import (
        register_tpcds_views,
    )

    monkeypatch.setattr(tpcds_texts, "_PRUNE_MIN_FACT_BYTES", 0)
    register_tpcds_views(spark, SF_DIR)
    prunes = tpcds_texts._FACT_PRUNES["tpcds_q4"]
    (first, _), (second, _) = prunes[0][1][:2]

    def rows():
        return spark.table(first).count()

    full = rows()
    restores = tpcds_texts._apply_fact_prunes(spark, prunes)
    pruned = rows()
    tpcds_texts._restore_views(restores)
    assert pruned < full, "the prune must drop rows for this check to bite"

    table = spark.table

    def failing_table(name):
        if name == second:
            raise RuntimeError("injected shadow failure")
        return table(name)

    monkeypatch.setattr(spark, "table", failing_table)
    with pytest.raises(RuntimeError, match="injected"):
        tpcds_texts._apply_fact_prunes(spark, prunes)
    monkeypatch.setattr(spark, "table", table)
    assert rows() == full, "first view left pruned after the failure"


def test_view_bytes_does_not_memoize_failed_estimate(spark, monkeypatch):
    """A failed size estimate fails open for that call only; it must not
    pin the 1 << 62 sentinel for the rest of the session."""
    import lakehouse_variance_spark.plans.tpcds_texts as tpcds_texts
    from lakehouse_variance_spark.memo import session_state
    from lakehouse_variance_spark.plans.synth_common import catalog_state_get
    from lakehouse_variance_spark.plans.tpcds_schema import (
        register_tpcds_views,
    )

    register_tpcds_views(spark, SF_DIR)
    state = session_state(spark)
    key = (catalog_state_get(spark), ("view_bytes", "store_sales"))
    state.pop(key, None)
    table = spark.table

    def broken(name):
        raise RuntimeError("no estimate")

    monkeypatch.setattr(spark, "table", broken)
    assert tpcds_texts._view_bytes(spark, "store_sales") == 1 << 62
    assert key not in state
    monkeypatch.setattr(spark, "table", table)
    got = tpcds_texts._view_bytes(spark, "store_sales")
    assert 0 < got < 1 << 62
    assert state[key][1] == got


def _canon_rows(df) -> list:
    return sorted(
        (
            tuple(round(v, 6) if isinstance(v, float) else v for v in r)
            for r in df.collect()
        ),
        key=repr,
    )


@pytest.mark.parametrize(
    "name, sf_dir",
    [pytest.param(q, SF_DIR, id=q) for q in sorted(tpcds_texts._FACT_PRUNES)]
    # sf0.001 misses some over-prunes (cutting tpcds_q4's key set to
    # d_year IN (2001) still returns the same rows there); sf0.01 does not.
    + [
        pytest.param(q, SF_DIR_MEDIUM, id=f"{q}-sf0.01",
                     marks=pytest.mark.slow)
        for q in sorted(tpcds_texts._FACT_PRUNES)
    ],
)
def test_fact_prune_returns_the_pure_texts_rows(
    spark, monkeypatch, name, sf_dir
):
    """With the size gate at 0 every prune fires at tier-1 scale, where an
    oracle can check it: the pruned query must return exactly the rows of
    the verbatim text. tpcds_q37's item slice is empty at sf0.001, so its
    shadows are the F.lit(False) case."""
    from lakehouse_variance_spark.plans.tpcds_schema import (
        register_tpcds_views,
    )

    monkeypatch.setattr(tpcds_texts, "_PRUNE_MIN_FACT_BYTES", 0)
    register_tpcds_views(spark, sf_dir)
    pure = _canon_rows(spark.sql(tpcds_texts.TPCDS_TEXTS[name]))
    shadowed = []
    apply = tpcds_texts._apply_fact_prunes

    def spy(spark_, prunes):
        restores = apply(spark_, prunes)
        shadowed.extend(restores)
        return restores

    monkeypatch.setattr(tpcds_texts, "_apply_fact_prunes", spy)
    pruned = _canon_rows(registry.QUERIES[name](spark, sf_dir))
    assert shadowed, f"{name}: no fact view was pruned"
    if name == "tpcds_q37" and sf_dir == SF_DIR:
        keys = [
            tpcds_texts._prune_keys(spark, dim_sql)
            for dim_sql, _ in tpcds_texts._FACT_PRUNES[name]
        ]
        assert (None, None, []) in keys
    assert pruned == pure


@pytest.mark.parametrize("name", sorted(tpcds_texts._FACT_PRUNES))
def test_fact_prune_predicates_come_from_the_text(name):
    """Each prune's dimension predicate is copied by hand from the verbatim
    text. Every literal and column it filters on must appear in
    TPCDS_TEXTS[name], so a re-drawn text (new years, colors, price
    bands) fails here instead of silently over- or under-pruning."""
    text = tpcds_texts.TPCDS_TEXTS[name]
    for dim_sql, _ in tpcds_texts._FACT_PRUNES[name]:
        where = dim_sql.split(" WHERE ", 1)[1]
        strings = re.findall(r"'[^']*'", where)
        bare = re.sub(r"'[^']*'", " ", where)
        numbers = re.findall(r"(?<![\w.])\d+(?:\.\d+)?(?![\w.])", bare)
        columns = re.findall(r"\b[a-z]+_[a-z_]+\b", bare)
        assert strings or numbers, dim_sql
        for lit in strings:
            assert lit in text, f"{name}: {lit} of {dim_sql!r} not in text"
        for lit in numbers:
            assert re.search(rf"(?<![\w.]){re.escape(lit)}(?![\w.])", text), (
                f"{name}: {lit} of {dim_sql!r} not in text"
            )
        for col in columns:
            assert re.search(rf"\b{col}\b", text), (
                f"{name}: {col} of {dim_sql!r} not in text"
            )


def test_ssb_flights_broadcast_all_dimensions(spark):
    """SSB flights are the canonical star shape: every dimension side
    (dim_date / part / supplier / customer) must broadcast — a single
    lineorder scan with map-side joins and no sort-merge join anywhere."""
    for name, min_bhj in (("ssb_q2_1", 3), ("ssb_q3_1", 3), ("ssb_q4_3", 4)):
        plan = _plan(spark, name)
        assert plan.count("BroadcastHashJoin") >= min_bhj, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_ssb_q1_predicates_push_into_fact_scan(spark):
    """Flight 1's discount/quantity bands must reach the lineorder scan
    as pushed parquet filters, not post-scan filters only."""
    plan = _plan(spark, "ssb_q1_1")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("lo_discount" in p or "lo_quantity" in p for p in pushed)


def test_hybrid_rrf_fusion_is_equi_join_with_topk_limits(spark):
    """search_hybrid_rrf's BNLJ_ALLOWED entry is audited here: the only
    BNLJs in its plan are the 1-row corpus-stat broadcasts inherited from
    the composed text_bm25_topk (avgdl / N aggregates with no grouping
    keys), while the RRF fusion itself must be an equi full-outer join on
    doc_id over two limit-bounded (top-k) rank tables — never a nested
    loop over data-scaled relations."""
    plan = _plan(spark, "search_hybrid_rrf")
    fusion = re.search(
        r"SortMergeJoin \[doc_id#\d+L?\], \[doc_id#\d+L?\], FullOuter", plan
    )
    assert fusion, "RRF fusion must be an equi join on doc_id"
    # every BNLJ must sit BELOW a TakeOrderedAndProject(limit=...) bound
    # (i.e. inside the bm25/cosine channel), and both channels are top-k
    assert plan.count("TakeOrderedAndProject") >= 1
    for m in re.finditer(r"BroadcastNestedLoopJoin", plan):
        assert m.start() > fusion.start(), (
            "BNLJ above the fusion join — a data-scaled nested loop"
        )

"""Plan-shape gates + result invariants for operators/relational_ds2.py,
the q45 OR-membership plan, and the round-3 vector/streaming additions."""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_variance_spark import registry
from lakehouse_variance_spark.plans.runner import register_sf_views
from tests.conftest import SF_DIR

registry.load_all()


# The q11/q4 year_total CTE self-join (docker/trino-client/queries/q11.sql,
# down-scoped to the TPC-H-ish tables): one CTE instantiated twice per
# channel, customers whose 'N'-channel growth beats their 'A'-channel growth.
_YEAR_TOTAL_SELFJOIN = """
WITH year_total AS (
    SELECT o.o_custkey AS custkey,
           year(o.o_orderdate) AS dyear,
           l.l_returnflag AS sale_type,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE year(o.o_orderdate) IN (1996, 1997)
      AND l.l_returnflag IN ('N', 'A')
    GROUP BY o.o_custkey, year(o.o_orderdate), l.l_returnflag)
SELECT t_n_1.custkey AS o_custkey,
       t_n_1.total_cents AS n_first_cents,
       t_n_2.total_cents AS n_second_cents,
       t_a_1.total_cents AS a_first_cents,
       t_a_2.total_cents AS a_second_cents
FROM year_total t_n_1
JOIN year_total t_n_2 ON t_n_2.custkey = t_n_1.custkey
JOIN year_total t_a_1 ON t_a_1.custkey = t_n_1.custkey
JOIN year_total t_a_2 ON t_a_2.custkey = t_n_1.custkey
WHERE t_n_1.sale_type = 'N' AND t_n_1.dyear = 1996
  AND t_n_2.sale_type = 'N' AND t_n_2.dyear = 1997
  AND t_a_1.sale_type = 'A' AND t_a_1.dyear = 1996
  AND t_a_2.sale_type = 'A' AND t_a_2.dyear = 1997
  AND t_n_1.total_cents > 0
  AND t_a_1.total_cents > 0
  AND CAST(t_n_2.total_cents AS DOUBLE) * CAST(t_a_1.total_cents AS DOUBLE)
    > CAST(t_a_2.total_cents AS DOUBLE) * CAST(t_n_1.total_cents AS DOUBLE)
"""


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_yoy_growth_is_one_scan_per_table_no_self_join(spark):
    # The q11 shape is a 4-way self-join of year totals in the original;
    # our conditional-aggregation rewrite must touch lineitem and orders
    # ONCE each and contain exactly one join.
    plan = _plan(spark, "yoy_channel_growth_compare")
    assert plan.count("FileScan parquet") == 2
    assert plan.count("Join") <= 1 + plan.count("BroadcastNestedLoopJoin")
    assert "HashAggregate" in plan
    # The year range reaches the orders scan as explicit date bounds.
    # (match on the raw plan text: Spark truncates long PushedFilters
    # lists with "...", which defeats a bracket-delimited regex)
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_cross_items_single_fact_pattern(spark):
    # cross_items via the bit_or channel bitmask (mask==7): the key set,
    # the per-part sales partials, AND the global-average scalar all come
    # out of one groupBy(l_partkey), so the fact appears in at most two
    # scan subtrees (avg branch + partials branch) and the identical
    # partkey exchanges dedupe to a single shuffle via ReusedExchange
    # (the verbatim INTERSECT form scans the fact 4+ times; the previous
    # draft re-shuffled it for a semi join and probed 6x at 10x data).
    plan = _plan(spark, "cross_channel_items_rollup")
    assert plan.count("FileScan parquet") <= 3  # <=2x lineitem + part
    assert "LeftSemi" not in plan  # bitmask filter replaced the semi join
    assert "BroadcastNestedLoopJoin" in plan  # 1-row scalar cross join
    assert "Expand" in plan  # the ROLLUP


def test_argmax_struct_has_no_window(spark):
    # The whole point: top-1-per-group WITHOUT a rank() window sort.
    plan = _plan(spark, "argmax_struct_top_type")
    assert "Window" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_argmax_matches_window_rank(spark):
    # Semantic cross-check inside Spark: max(struct) == row_number()=1.
    from pyspark.sql import Window

    df = registry.QUERIES["argmax_struct_top_type"](spark, SF_DIR)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    rev = (
        li.join(part, part.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "sales_cents"
            )
        )
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("sales_cents").desc(), F.col("p_type").desc()
    )
    expected = (
        rev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_brand",
            F.col("p_type").alias("top_type"),
            F.col("sales_cents").alias("top_sales_cents"),
        )
    )
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_unpivot_roundtrips_wide_totals(spark):
    # Long-form sums per brand must equal the wide row's column sum.
    long = registry.QUERIES["agg_unpivot_long"](spark, SF_DIR)
    total_long = {
        r["p_brand"]: r["t"]
        for r in long.groupBy("p_brand")
        .agg(F.sum("sales_cents").alias("t"))
        .collect()
    }
    assert long.count() == len(total_long) * 3  # 3 months per brand
    assert (
        long.filter(F.col("month_name").isin("jan", "feb", "mar")).count()
        == long.count()
    )
    # Rebuild the wide frame independently and compare VALUES, not counts.
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        F.year("o_orderdate") == 1996
    )
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    expect = {
        r["p_brand"]: r["t"]
        for r in li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(part, part.p_partkey == li.l_partkey)
        .filter(F.month("o_orderdate") <= 3)
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("t")
        )
        .collect()
    }
    for brand, t in expect.items():
        assert total_long[brand] == t


def test_centroid_matches_numpy(spark):
    import numpy as np

    df = (
        registry.QUERIES["embed_centroid_per_label"](spark, SF_DIR)
        .toPandas()
        .sort_values(["label", "dim"])
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").toPandas()
    for label, grp in emb.groupby("label"):
        mat = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
        exact = mat.mean(axis=0)
        got = df[df["label"] == label]["centroid"].to_numpy()
        # Micro-unit quantization error bound: floor() loses < 1e-6 per
        # element, so the mean is within 1e-6 of exact.
        assert np.allclose(got, exact, atol=1.5e-6)


def test_centroid_stable_across_partitionings(spark):
    a = registry.QUERIES["embed_centroid_per_label"](spark, SF_DIR).toPandas()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = registry.QUERIES["embed_centroid_per_label"](spark, SF_DIR).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    a = a.sort_values(["label", "dim"]).reset_index(drop=True)
    b = b.sort_values(["label", "dim"]).reset_index(drop=True)
    # Bit-identical, not approximately equal — the micro-unit accumulation
    # makes the reduction order-invariant.
    assert (a["centroid"] == b["centroid"]).all()


def test_sliding_window_covers_each_event_four_times(spark):
    agg = registry.QUERIES["stream_sliding_window"](spark, SF_DIR)
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    total = agg.agg(F.sum("n")).collect()[0][0]
    assert total == 4 * n_events


def test_yoy_rewrite_matches_verbatim_selfjoin(spark):
    # The conditional-agg rewrite must be row-identical to the verbatim
    # q11 four-instance CTE self-join text executed via spark.sql.
    a = registry.QUERIES["yoy_channel_growth_compare"](spark, SF_DIR)
    register_sf_views(spark, SF_DIR)
    b = spark.sql(_YEAR_TOTAL_SELFJOIN)
    assert sorted(map(tuple, a.select(sorted(a.columns)).collect())) == sorted(
        map(tuple, b.select(sorted(b.columns)).collect())
    )


def test_funnel_monotone_and_single_exchange(spark):
    row = registry.QUERIES["funnel_3step_users"](spark, SF_DIR).collect()[0]
    assert (
        row["n_users"]
        >= row["n_view"]
        >= row["n_view_click"]
        >= row["n_full_funnel"]
        >= 0
    )
    # First-touch funnel: one fact scan, no window, no self-join.
    plan = _plan(spark, "funnel_3step_users")
    assert plan.count("FileScan parquet") == 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_cohort_offset_zero_covers_every_user(spark):
    df = registry.QUERIES["cohort_retention_matrix"](spark, SF_DIR)
    n_users = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    day0 = (
        df.filter(F.col("day_offset") == 0)
        .agg(F.sum("n_active_users"))
        .collect()[0][0]
    )
    # Every user is active on their own first-seen day.
    assert day0 == n_users
    assert df.filter(F.col("day_offset") < 0).count() == 0


def test_time_weighted_avg_matches_numpy(spark):
    import numpy as np

    got = {
        r["user_id"]: r["twa_value"]
        for r in registry.QUERIES["window_time_weighted_avg"](
            spark, SF_DIR
        ).collect()
    }
    ev = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    for uid, grp in ev.groupby("user_id"):
        t = grp["ts"].astype("int64").to_numpy() // 1000  # ns -> us
        # np.round is half-to-even; the operator and oracle round half
        # AWAY from zero — floor(x+0.5) matches them on positive cents.
        v = np.floor(grp["value"].to_numpy() * 100 + 0.5)
        if len(t) < 2 or t[-1] == t[0]:
            assert uid not in got
            continue
        gaps = np.diff(t).astype(float)
        expect = float((v[:-1] * gaps).sum() / gaps.sum() / 100)
        assert abs(got[uid] - expect) < 1e-9 * max(1.0, abs(expect))


def test_seven_table_stress_broadcasts_every_dimension(spark):
    plan = _plan(spark, "join_seven_table_stress")
    # 5 broadcast dimension joins; the only shuffle join is fact-fact.
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") <= 1
    # Selective predicates reach their scans.
    assert "StringStartsWith(o_orderpriority,1)" in plan
    assert "LessThan(p_size,20)" in plan
    assert "GreaterThan(s_acctbal,0.0)" in plan


def test_or_membership_plans_existence_join(spark):
    # q45: the OR between a local predicate and subquery membership must
    # plan as ONE ExistenceJoin (boolean-emitting hash join), never a
    # union-of-branches double scan.
    plan = _plan(spark, "tpcds_q45")
    assert "ExistenceJoin" in plan
    # web_sales, customer, customer_address, date_dim, item and the
    # subquery's item: each scanned once
    assert plan.count("FileScan parquet") == 6

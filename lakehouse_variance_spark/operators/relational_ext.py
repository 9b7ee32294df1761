"""Additional relational query shapes from the reference's TPC-DS surface.

Each query here is either in the bench's headline set — union-of-channels
rollup (q5/q33/q66), day-gap bucket counts (q62/q99), the q49 and q88
shapes, the trailing-7-day RANGE frame — or covers a pattern no verbatim
TPC-DS text has: lag/lead/ntile/first_value/percent_rank windows, sliding
ROWS and RANGE frames, INTERSECT ALL and the winsorized mean. The other
TPC-DS shapes run verbatim in ``plans/tpcds_texts.py``.

Scale notes are per-query; the common themes: aggregates stay map-side
partial, dimension sides broadcast, fact-fact correlations key on the
equi-join column so each shuffles exactly once on the same key, and every
window partitions by a high-cardinality key (no global single-task windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_variance_spark.registry import register
from lakehouse_variance_spark.tables import load_table


@register(
    "union_channels_rollup",
    oracle="""
    WITH ch AS (
        SELECT n.n_name AS nation, 'orders' AS channel,
               o.o_totalprice AS amount
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        UNION ALL
        SELECT n.n_name AS nation, 'lineitem' AS channel,
               l.l_extendedprice * (1 - l.l_discount) AS amount
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
    )
    SELECT nation, channel,
           GROUPING(nation)  AS g_nation,
           GROUPING(channel) AS g_channel,
           count(*) AS n_rows,
           round(sum(amount), 2) AS total_amount
    FROM ch
    GROUP BY ROLLUP(nation, channel)
    """,
)
def union_channels_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of per-channel revenue streams then ROLLUP totals — the
    q5/q33/q56/q66 shape (channel CTEs unioned, then grouped with rollup;
    reference q5.sql, q66.sql:7-30).

    Each channel's dimension hops (customer→nation, supplier→nation)
    broadcast; the union is a zero-shuffle bag concat, and the rollup is one
    shuffle on the grouping key with map-side partials. grouping() columns
    disambiguate rollup NULLs exactly as q36.sql:5-9 does."""
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    cust = load_table(spark, sf_dir, "customer")
    supp = F.broadcast(load_table(spark, sf_dir, "supplier"))
    orders_ch = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.lit("orders").alias("channel"),
            F.col("o_totalprice").alias("amount"),
        )
    )
    lineitem_ch = (
        load_table(spark, sf_dir, "lineitem")
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.lit("lineitem").alias("channel"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
    )
    return (
        orders_ch.unionByName(lineitem_ch)
        .rollup("nation", "channel")
        .agg(
            F.grouping("nation").alias("g_nation"),
            F.grouping("channel").alias("g_channel"),
            F.count("*").alias("n_rows"),
            F.round(F.sum("amount"), 2).alias("total_amount"),
        )
        .select(
            "nation", "channel", "g_nation", "g_channel", "n_rows", "total_amount"
        )
    )


@register(
    "daygap_bucket_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN gap_days < 0                THEN 1 ELSE 0 END) AS BIGINT) AS early,
           CAST(sum(CASE WHEN gap_days BETWEEN 0 AND 30   THEN 1 ELSE 0 END) AS BIGINT) AS d0_30,
           CAST(sum(CASE WHEN gap_days BETWEEN 31 AND 90  THEN 1 ELSE 0 END) AS BIGINT) AS d31_90,
           CAST(sum(CASE WHEN gap_days BETWEEN 91 AND 365 THEN 1 ELSE 0 END) AS BIGINT) AS d91_365,
           CAST(sum(CASE WHEN gap_days > 365              THEN 1 ELSE 0 END) AS BIGINT) AS d_over_365,
           count(*) AS n_lines
    FROM (
        SELECT o.o_orderpriority,
               datediff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS gap_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    GROUP BY o_orderpriority
    """,
)
def daygap_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-gap bucketing with one CASE-count column per latency band — the
    q62/q99 shape (`sum(case when ship_date - sold_date <= 30 days …)` per
    group; reference q99.sql:8-18, q62.sql:8-18).

    The fact-fact join keys on orderkey (single co-partitioned shuffle); the
    bucket CASEs are branch-free codegen over the datediff, and the wide
    count vector aggregates map-side, so the shuffle carries |groups| rows
    regardless of fact size."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    gap = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "o_orderpriority", gap.alias("gap_days")
    )
    g = F.col("gap_days")

    def bucket(cond, name: str):
        return F.sum(F.when(cond, 1).otherwise(0)).alias(name)

    return joined.groupBy("o_orderpriority").agg(
        bucket(g < 0, "early"),
        bucket(g.between(0, 30), "d0_30"),
        bucket(g.between(31, 90), "d31_90"),
        bucket(g.between(91, 365), "d91_365"),
        bucket(g > 365, "d_over_365"),
        F.count("*").alias("n_lines"),
    )


@register(
    "window_lag_delta",
    oracle="""
    SELECT event_id,
           coalesce(CAST(round(value * 100) AS BIGINT)
                    - lag(CAST(round(value * 100) AS BIGINT))
                      OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    0) AS delta_cents
    FROM events
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-over-event value delta via lag() — the Spark-native
    form of the reference's run-over-run runtime comparison
    (traces/tools/helpers.py:198-228 computes config deltas batch-to-batch;
    lag expresses the same adjacency relationally).

    Partitioned by user_id (high-cardinality — no global window), ordered by
    (ts, event_id) so ties are total-ordered identically on both engines;
    deltas are integer cents, exact under any partitioning."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        F.coalesce(cents - F.lag(cents).over(w), F.lit(0)).alias("delta_cents"),
    )


@register(
    "window_ntile_first_last",
    oracle="""
    SELECT o_orderkey,
           ntile(4) OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice, o_orderkey) AS price_quartile,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER w AS last_order,
           coalesce(lead(o_orderkey) OVER w, -1) AS next_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_ntile_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / first_value / last_value / lead over per-customer order
    history — the window families the reference's query set omits
    (SURVEY §2A: "No lag/lead/ntile/first_value in the query set"), provided
    as first-class extras since trace analytics want them (previous-run
    lookup, quartile banding).

    One shuffle on o_custkey serves all four functions (same window spec
    modulo ordering column); last_value uses an explicit unbounded-following
    frame on BOTH engines — the default frame would return the current row.
    Tie-broken by o_orderkey for cross-engine determinism."""
    orders = load_table(spark, sf_dir, "orders")
    w_price = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w_full = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    w_lead = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w_price).alias("price_quartile"),
        F.first("o_orderkey").over(w_full).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.coalesce(F.lead("o_orderkey").over(w_lead), F.lit(-1)).alias(
            "next_order"
        ),
    )


@register(
    "window_moving_avg",
    oracle="""
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(CAST(o_orderdate AS DATE) AS STRING) AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders
        GROUP BY o_orderpriority, d
    )
    SELECT o_orderpriority, d,
           CAST(sum(cents) OVER w AS BIGINT) AS win_cents,
           CAST(count(*) OVER w AS BIGINT) AS win_days
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS frame (3 preceding .. 3 following) — the centered
    moving-average shape of reference q47/q57 (`avg(sum_sales) OVER
    (... ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)`), the one frame type
    the q51 running sum does not exercise.

    Aggregates daily integer cents first (|days × priorities| rows), then
    windows over the aggregate — the moving average derives exactly from
    (win_cents, win_days) so both engines emit identical integers."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (
        orders.groupBy(
            "o_orderpriority",
            F.col("o_orderdate").cast("date").cast("string").alias("d"),
        )
        .agg(F.sum(cents).alias("cents"))
    )
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    return daily.select(
        "o_orderpriority",
        "d",
        F.sum("cents").over(w).alias("win_cents"),
        F.count("*").over(w).alias("win_days"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING) AS BIGINT)
               AS n_near_price
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric ordering column: for each order, how many
    of the same customer's orders fall within ±1000 of its total price.
    RANGE frames bound by VALUE distance (not row offsets) — the remaining
    window frame type after running sums (ROWS unbounded) and moving
    averages (ROWS sliding). Value-determined membership makes the count
    independent of tie order, so it is cross-engine deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return orders.select(
        "o_orderkey", F.count("*").over(w).alias("n_near_price")
    )


@register(
    "window_trailing_7d_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
               AS BIGINT) AS trailing_7d_cents
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    """,
)
def window_trailing_7d_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: each event's trailing-7-day value sum
    per user — the rolling-window feature a fraud/usage pipeline computes.
    Spark expresses the interval frame as rangeBetween over unix_micros
    (exact integer microseconds — no truncation drift vs the oracle's
    INTERVAL frame); membership is value-determined, so tie order cannot
    change the integer-cents sum. One user_id exchange, per-user sort —
    the same cost any per-key window op pays."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    # ts reads as TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — the session
    # is pinned UTC (tables.load_table), so the cast is a zero-offset
    # relabel (same rule as the as-of join's gap arithmetic).
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(cents).over(w).alias("trailing_7d_cents"),
    )


@register(
    "set_intersect_all",
    oracle="""
    SELECT l_partkey, l_suppkey FROM lineitem WHERE l_returnflag = 'N'
    INTERSECT ALL
    SELECT l_partkey, l_suppkey FROM lineitem WHERE l_linestatus = 'F'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag-semantics intersection (each (part, supp) pair
    kept min(count_left, count_right) times), completing the set-op family
    alongside distinct INTERSECT/EXCEPT and EXCEPT ALL (SURVEY §7 flags the
    distinct-vs-bag distinction as a correctness hard part). Spark plans
    this as a count-compare aggregate + generate, one shuffle per side."""
    li = load_table(spark, sf_dir, "lineitem")
    left = li.filter(F.col("l_returnflag") == "N").select(
        "l_partkey", "l_suppkey"
    )
    right = li.filter(F.col("l_linestatus") == "F").select(
        "l_partkey", "l_suppkey"
    )
    return left.intersectAll(right)


@register(
    "union_return_ratio_ranked",
    oracle="""
    WITH by_channel AS (
        SELECT l_linestatus AS channel, l_partkey,
               round(CAST(sum(CASE WHEN l_returnflag = 'R'
                                   THEN l_quantity ELSE 0 END) AS BIGINT)
                     * 1.0 / CAST(sum(l_quantity) AS BIGINT), 6) AS qty_ratio,
               round(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                     * 1.0 / count(*), 6)                        AS item_ratio
        FROM lineitem
        WHERE l_linestatus IN ('O', 'F')
        GROUP BY 1, 2),
    ranked AS (
        SELECT channel, l_partkey, qty_ratio, item_ratio,
               rank() OVER (PARTITION BY channel
                            ORDER BY qty_ratio DESC, l_partkey)  AS qty_rank,
               rank() OVER (PARTITION BY channel
                            ORDER BY item_ratio DESC, l_partkey) AS item_rank
        FROM by_channel)
    SELECT channel, l_partkey, qty_ratio, item_ratio, qty_rank, item_rank
    FROM ranked WHERE qty_rank <= 10 OR item_rank <= 10
    """,
)
def union_return_ratio_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q49 shape (queries/q49.sql): per sales channel, rank items by
    two return ratios at once (returned-quantity share and returned-line
    share), keep the worst-10 under either ranking, and union the channels.

    The reference runs three per-channel subqueries UNIONed; here the
    channels live in one fact table, so one scan + one aggregation computes
    every channel and the "union" is the channel grouping key — the
    Spark-first rewrite of q49's triple scan. Ratios are quotients of exact
    int64 sums (quantities are integer-valued; no float re-association), so
    ranks are engine-deterministic; partkey breaks remaining ties.

    Scale: aggregate keys on (channel, partkey) — partial aggregation +
    one shuffle; both windows share the channel partitioning (2 partitions
    of |parts| rows each, re-sorted in place, no second shuffle).
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_linestatus").isin("O", "F")
    )
    ret_qty = F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(
        F.lit(0.0)
    )
    by_channel = (
        li.select(
            F.col("l_linestatus").alias("channel"),
            "l_partkey",
            "l_quantity",
            "l_returnflag",
        )
        .groupBy("channel", "l_partkey")
        .agg(
            F.round(
                F.sum(ret_qty).cast("bigint")
                / F.sum("l_quantity").cast("bigint"),
                6,
            ).alias("qty_ratio"),
            F.round(
                F.sum(
                    F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                )
                / F.count("*"),
                6,
            ).alias("item_ratio"),
        )
    )
    w_qty = W.partitionBy("channel").orderBy(
        F.col("qty_ratio").desc(), F.col("l_partkey")
    )
    w_item = W.partitionBy("channel").orderBy(
        F.col("item_ratio").desc(), F.col("l_partkey")
    )
    ranked = by_channel.select(
        "channel",
        "l_partkey",
        "qty_ratio",
        "item_ratio",
        F.rank().over(w_qty).alias("qty_rank"),
        F.rank().over(w_item).alias("item_rank"),
    )
    return ranked.filter((F.col("qty_rank") <= 10) | (F.col("item_rank") <= 10))


@register(
    "scalar_counts_crossjoin",
    oracle="""
    SELECT * FROM
        (SELECT count(*) AS h0 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 0 AND 2),
        (SELECT count(*) AS h1 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 3 AND 5),
        (SELECT count(*) AS h2 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 6 AND 8),
        (SELECT count(*) AS h3 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 9 AND 11),
        (SELECT count(*) AS h4 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 12 AND 14),
        (SELECT count(*) AS h5 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 15 AND 17),
        (SELECT count(*) AS h6 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 18 AND 20),
        (SELECT count(*) AS h7 FROM events
         WHERE event_type = 'click' AND hour(ts) BETWEEN 21 AND 23)
    """,
)
def scalar_counts_crossjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q88 shape (queries/q88.sql): eight independently-filtered
    scalar counts (time-of-day bands) cross-joined into a single row.

    The reference (and the oracle here) expresses this as eight separate
    scans cross-joined; the engine rewrites it as ONE conditional-
    aggregation scan — sum(CASE WHEN band THEN 1) x 8 — which is the plan
    you want at 100 TB: one pass over the fact table, partial aggregation
    to a single row, no join at all. The oracle proves the rewrite exact.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "click"
    )
    hour = F.hour("ts")
    aggs = [
        F.sum(
            F.when((hour >= lo) & (hour <= lo + 2), 1).otherwise(0)
        )
        .cast("bigint")
        .alias(f"h{i}")
        for i, lo in enumerate(range(0, 24, 3))
    ]
    return ev.agg(*aggs)


@register(
    "window_percent_rank_cume",
    oracle="""
    SELECT event_id,
           event_type,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6)    AS cume,
           dense_rank() OVER w             AS drank
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / dense_rank — the distribution-position
    window family (complements ntile/first_value/lead in
    window_ntile_first_last). Values are small exact rationals
    ((rank−1)/(n−1), rank/n), so rounding is engine-stable. Partitioned by
    event_type; ties broken on event_id for full determinism."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
    )


@register(
    "agg_winsorized_mean",
    oracle="""
    WITH cents AS (
        SELECT o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders),
    bounds AS (
        SELECT o_orderpriority,
               quantile_cont(c, 0.10) AS p10,
               quantile_cont(c, 0.90) AS p90
        FROM cents GROUP BY o_orderpriority)
    SELECT c.o_orderpriority,
           count(*) AS n_orders,
           round(avg(greatest(least(CAST(c.c AS DOUBLE), b.p90), b.p10))
                 / 100.0, 4) AS winsorized_mean
    FROM cents c JOIN bounds b USING (o_orderpriority)
    GROUP BY c.o_orderpriority
    """,
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10/90 winsorized mean of order value per priority — the
    outlier-robust location statistic a quality pipeline reports instead of
    the raw mean. Two-pass: per-group exact quantile bounds (broadcast back)
    then clamp-and-average, all in integer cents until the final divide.

    Scale: the bounds table is |groups| rows (broadcast); at 100 TB swap
    `percentile` for `percentile_approx` — identical call shape."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
    )
    bounds = cents.groupBy("o_orderpriority").agg(
        F.percentile("c", F.lit(0.10)).alias("p10"),
        F.percentile("c", F.lit(0.90)).alias("p90"),
    )
    clamped = F.greatest(
        F.least(F.col("c").cast("double"), F.col("p90")), F.col("p10")
    )
    return (
        cents.join(F.broadcast(bounds), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.avg(clamped) / 100.0, 4).alias("winsorized_mean"),
        )
    )

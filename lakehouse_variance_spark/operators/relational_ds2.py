"""Fourth batch of TPC-DS-shaped relational queries.

The reference executes the 99 TPC-DS queries verbatim
(`docker/trino-client/src/run_workload.py:38`); this batch re-creates the
remaining distinctive plan shapes on the driver's TPC-H-ish tables:

* q11/q4  — per-customer year-over-year growth compared across two sales
  channels (`docker/trino-client/queries/q11.sql:1-30`, the ``year_total``
  CTE self-joined four ways);
* q14     — "cross items" sold in every channel (INTERSECT), then a ROLLUP
  over their sales filtered by a global average-sales scalar
  (`queries/q14.sql:1-20`);
* q39     — per (warehouse, item, month) mean/stdev with a CV filter, then
  a self-join pairing adjacent months (`queries/q39.sql:1-25`);
* q54     — per-customer revenue quantized into fixed-width segments, then
  a segment histogram (`queries/q54.sql:40-56` ``segments`` CTE);
* q59     — day-of-week sales pivoted wide per period, self-joined one
  year apart, per-weekday ratios (`queries/q59.sql:1-30`);
* q65     — brands earning at most 10% of the average brand revenue within
  their nation (`queries/q65.sql:1-20`, the ``sb.ave`` threshold);
* q98     — item revenue share within its class via a windowed sum ratio
  (`queries/q98.sql:6-9`);
* argmax  — the max(struct(...)) single-aggregation alternative to the
  rank()-then-filter top-1 pattern of q36/q67 (scale rationale below);
* unpivot — the inverse reshape of ``agg_pivot_wide`` (wide month columns
  back to long rows) — Spark ``unpivot``/``stack``, DuckDB ``UNPIVOT``.

Determinism (same discipline as relational_ds.py): money/quantity
aggregates accumulate exact integer cents; every derived double is a fixed
chain of single IEEE ops on exact-int64→double conversions, so values are
bit-identical across engines and partition orders. Growth comparisons
cross-multiply in DOUBLE (one IEEE product per side) instead of dividing,
so no quotient rounding enters the predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_variance_spark.registry import register
from lakehouse_variance_spark.tables import load_table

# q11-shape: the two adjacent years compared.
YOY_FIRST, YOY_SECOND = 1996, 1997

# q39-shape: flag (supplier, month) cells whose quantity CV exceeds this.
CV_PAIR_THRESHOLD = 0.5

# q54-shape: histogram bucket width in cents ($5,000).
SEGMENT_CENTS = 500_000

# q14-shape: groups must out-sell this multiple of the global average row.
AVG_MULTIPLE = 50


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("bigint")


@register(
    "yoy_channel_growth_compare",
    oracle=f"""
    WITH yt AS (
        SELECT o.o_custkey,
               CAST(sum(CASE WHEN l.l_returnflag = 'N'
                              AND year(o.o_orderdate) = {YOY_FIRST}
                   THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS n_first_cents,
               CAST(sum(CASE WHEN l.l_returnflag = 'N'
                              AND year(o.o_orderdate) = {YOY_SECOND}
                   THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS n_second_cents,
               CAST(sum(CASE WHEN l.l_returnflag = 'A'
                              AND year(o.o_orderdate) = {YOY_FIRST}
                   THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS a_first_cents,
               CAST(sum(CASE WHEN l.l_returnflag = 'A'
                              AND year(o.o_orderdate) = {YOY_SECOND}
                   THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS a_second_cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE year(o.o_orderdate) IN ({YOY_FIRST}, {YOY_SECOND})
          AND l.l_returnflag IN ('N', 'A')
        GROUP BY o.o_custkey)
    SELECT o_custkey, n_first_cents, n_second_cents,
           a_first_cents, a_second_cents
    FROM yt
    WHERE n_first_cents > 0 AND a_first_cents > 0
      AND n_second_cents > 0 AND a_second_cents > 0
      AND CAST(n_second_cents AS DOUBLE) * CAST(a_first_cents AS DOUBLE)
        > CAST(a_second_cents AS DOUBLE) * CAST(n_first_cents AS DOUBLE)
    """,
)
def yoy_channel_growth_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q11-shaped cross-channel growth screen: customers whose
    'N'-channel sales grew faster year-over-year than their 'A'-channel
    sales (q11 finds customers whose web growth beats store growth via a
    four-way self-join of the ``year_total`` CTE,
    `docker/trino-client/queries/q11.sql:1-60`).

    Spark-first rewrite: the four year/channel totals come from ONE scan
    with conditional aggregation — one shuffle on o_custkey — instead of
    the verbatim four-instance self-join, which would scan and shuffle the
    fact table four times and re-join on customer three more times. The
    growth comparison cross-multiplies exact cent totals in DOUBLE (one
    IEEE product per side), so no division rounding enters the predicate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # year(col) IN (...) does not reach the parquet scan; the equivalent
    # explicit date range DOES push down (PushedFilters — plan-gated).
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= f"{YOY_FIRST}-01-01")
            & (F.col("o_orderdate") < f"{YOY_SECOND + 1}-01-01")
        )
        .select(
            "o_orderkey", "o_custkey", F.year("o_orderdate").alias("order_year")
        )
    )
    joined = li.filter(F.col("l_returnflag").isin("N", "A")).join(
        orders, orders.o_orderkey == li.l_orderkey
    )
    pc = _cents("l_extendedprice")

    def chan_year(flag: str, yr: int, name: str) -> F.Column:
        cond = (F.col("l_returnflag") == flag) & (F.col("order_year") == yr)
        return F.sum(F.when(cond, pc).otherwise(F.lit(0))).alias(name)

    yt = joined.groupBy("o_custkey").agg(
        chan_year("N", YOY_FIRST, "n_first_cents"),
        chan_year("N", YOY_SECOND, "n_second_cents"),
        chan_year("A", YOY_FIRST, "a_first_cents"),
        chan_year("A", YOY_SECOND, "a_second_cents"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # All four cells must be PRESENT (q11's inner joins demand a sales row
    # per channel-year; every sales row has positive cents, so presence ⟺
    # total > 0) — keeps this rewrite row-identical to the verbatim
    # four-instance self-join text (sql_text_year_total_selfjoin; tested).
    return yt.filter(
        (F.col("n_first_cents") > 0)
        & (F.col("a_first_cents") > 0)
        & (F.col("n_second_cents") > 0)
        & (F.col("a_second_cents") > 0)
        & (
            d("n_second_cents") * d("a_first_cents")
            > d("a_second_cents") * d("n_first_cents")
        )
    )


@register(
    "cross_channel_items_rollup",
    oracle=f"""
    WITH cross_items AS (
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
        INTERSECT
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
        INTERSECT
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
    avg_row AS (
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS avg_cents
        FROM lineitem),
    agg AS (
        SELECT p.p_brand, p.p_type,
               grouping(p.p_brand) AS g_brand,
               grouping(p.p_type) AS g_type,
               count(*) AS n_items,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sales_cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_partkey IN (SELECT l_partkey FROM cross_items)
        GROUP BY ROLLUP (p.p_brand, p.p_type))
    SELECT a.p_brand, a.p_type, a.g_brand, a.g_type, a.n_items, a.sales_cents
    FROM agg a, avg_row r
    WHERE CAST(a.sales_cents AS DOUBLE) > {AVG_MULTIPLE} * r.avg_cents
    """,
)
def cross_channel_items_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q14-shaped composite: parts sold in ALL THREE return-flag
    channels (q14's ``cross_items`` INTERSECT CTE,
    `docker/trino-client/queries/q14.sql:1-40`), rolled up over
    (brand, type) and kept only where the group out-sells {AVG_MULTIPLE}×
    the global average line value (q14's ``avg_sales`` scalar threshold).

    Spark-first rewrites, all load-bearing at scale (two rounds of 10x
    probing: the first draft scaled near-linearly; the second still paid
    6x because the fact shuffled TWICE — once to build the bitmask key
    set, once more for the semi-join back. This version shuffles the
    fact exactly ONCE):
    * everything the query needs from the fact — the three-way INTERSECT
      of part keys (q14's ``cross_items``), the per-part sales partials,
      AND the global-average numerator/denominator — comes out of a
      SINGLE groupBy(l_partkey) aggregating a channel BITMASK (``bit_or``
      of 1/2/4 per flag, keep mask=7) alongside count and cents sums.
      The verbatim form scans the fact four times (3 INTERSECT branches +
      the avg scalar) and the previous draft still re-shuffled it for a
      semi-join against the qualifying key set;
    * the global-average scalar re-aggregates the SAME per-part partials
      (sums of exact integer cents and counts are associative, so the
      avg is bit-identical to a direct fact scan), then cross-joins in
      as a 1-row broadcast — never a correlated rescan;
    * the ROLLUP runs on the (brand, type) PARTIAL AGGREGATE, not the
      fact: the Expand x3 touches ~150 rows instead of every line item.
    The threshold compare converts exact integers to DOUBLE with one
    division and one product — deterministic on both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pc = _cents("l_extendedprice")
    flag_bit = (
        F.when(F.col("l_returnflag") == "A", F.lit(1))
        .when(F.col("l_returnflag") == "N", F.lit(2))
        .when(F.col("l_returnflag") == "R", F.lit(4))
        .otherwise(F.lit(0))
    )
    per_part = li.groupBy("l_partkey").agg(
        F.bit_or(flag_bit).alias("flag_mask"),
        F.count(F.lit(1)).alias("pn"),
        F.sum(pc).alias("pc_sum"),
    )
    avg_row = per_part.agg(
        (
            F.sum("pc_sum").cast("double") / F.sum("pn").cast("double")
        ).alias("avg_cents")
    )
    partials = (
        per_part.filter(F.col("flag_mask") == 7)
        .join(F.broadcast(part), part.p_partkey == F.col("l_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.sum("pn").alias("pn"), F.sum("pc_sum").alias("pc_sum"))
    )
    agg = partials.rollup("p_brand", "p_type").agg(
        F.grouping("p_brand").cast("int").alias("g_brand"),
        F.grouping("p_type").cast("int").alias("g_type"),
        F.sum("pn").alias("n_items"),
        F.sum("pc_sum").alias("sales_cents"),
    )
    return agg.crossJoin(F.broadcast(avg_row)).filter(
        F.col("sales_cents").cast("double")
        > F.lit(float(AVG_MULTIPLE)) * F.col("avg_cents")
    ).select(
        "p_brand", "p_type", "g_brand", "g_type", "n_items", "sales_cents"
    )


@register(
    "stddev_pair_months",
    oracle=f"""
    WITH m AS (
        SELECT l_suppkey, month(l_shipdate) AS ship_month,
               count(*) AS n,
               CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                   AS s1,
               CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)
                        * CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
                   AS s2
        FROM lineitem
        WHERE year(l_shipdate) = {YOY_FIRST}
        GROUP BY l_suppkey, month(l_shipdate)),
    stats AS (
        SELECT l_suppkey, ship_month,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty_cents,
               sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                       / CAST(n AS DOUBLE))
                    / CAST(n - 1 AS DOUBLE)) AS std_qty_cents
        FROM m WHERE n > 1)
    SELECT a.l_suppkey,
           a.ship_month,
           a.mean_qty_cents AS mean1, a.std_qty_cents AS std1,
           b.mean_qty_cents AS mean2, b.std_qty_cents AS std2
    FROM stats a
    JOIN stats b
      ON b.l_suppkey = a.l_suppkey AND b.ship_month = a.ship_month + 1
    WHERE a.std_qty_cents > {CV_PAIR_THRESHOLD} * a.mean_qty_cents
      AND b.std_qty_cents > {CV_PAIR_THRESHOLD} * b.mean_qty_cents
    """,
)
def stddev_pair_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q39-shaped volatility pairing: per (supplier, month) demand
    mean/stdev for one year, keep cells whose CV exceeds
    {CV_PAIR_THRESHOLD}, and pair each flagged month with its flagged
    successor (q39 computes the same per (warehouse, item, month) and
    self-joins ``d_moy = d_moy + 1``,
    `docker/trino-client/queries/q39.sql:1-40`).

    Dispersion comes from exact integer moments (n, Σx, Σx²) in cents —
    partition-order-independent — and the self-join runs on the aggregate
    (|suppliers|×12 rows), never the fact table. One fact shuffle total.
    """
    # Explicit date range (not year()==) so the predicate reaches the scan.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= f"{YOY_FIRST}-01-01")
        & (F.col("l_shipdate") < f"{YOY_FIRST + 1}-01-01")
    )
    qc = _cents("l_quantity")
    m = (
        li.groupBy("l_suppkey", F.month("l_shipdate").alias("ship_month"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(qc).alias("s1"),
            F.sum(qc * qc).alias("s2"),
        )
        .filter(F.col("n") > 1)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    stats = m.select(
        "l_suppkey",
        "ship_month",
        (d("s1") / d("n")).alias("mean_qty_cents"),
        F.sqrt(
            (d("s2") - d("s1") * d("s1") / d("n"))
            / (F.col("n") - 1).cast("double")
        ).alias("std_qty_cents"),
    )
    flagged = stats.filter(
        F.col("std_qty_cents")
        > F.lit(CV_PAIR_THRESHOLD) * F.col("mean_qty_cents")
    )
    a, b = flagged.alias("a"), flagged.alias("b")
    return a.join(
        b,
        (F.col("b.l_suppkey") == F.col("a.l_suppkey"))
        & (F.col("b.ship_month") == F.col("a.ship_month") + 1),
    ).select(
        F.col("a.l_suppkey").alias("l_suppkey"),
        F.col("a.ship_month").alias("ship_month"),
        F.col("a.mean_qty_cents").alias("mean1"),
        F.col("a.std_qty_cents").alias("std1"),
        F.col("b.mean_qty_cents").alias("mean2"),
        F.col("b.std_qty_cents").alias("std2"),
    )


@register(
    "revenue_segment_histogram",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders GROUP BY o_custkey)
    SELECT CAST(floor(revenue_cents / {SEGMENT_CENTS}) AS BIGINT) AS segment,
           CAST(floor(revenue_cents / {SEGMENT_CENTS}) AS BIGINT)
               * {SEGMENT_CENTS} AS segment_base_cents,
           count(*) AS num_customers
    FROM per_cust
    GROUP BY 1, 2
    """,
)
def revenue_segment_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q54-shaped revenue segmentation: total revenue per customer,
    quantized into ${SEGMENT_CENTS}/100-wide segments, then a histogram of
    customers per segment (q54's ``CAST((revenue / 50) AS INT)`` segment
    CTE and final count, `docker/trino-client/queries/q54.sql:40-60`).

    All integer arithmetic end-to-end (cents → floor division → counts) —
    nothing to round. Two shuffles, both shrinking: fact → |customers|,
    |customers| → |segments|; AQE coalesces the tiny second exchange.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_cents("o_totalprice")).alias("revenue_cents")
    )
    seg = F.floor(F.col("revenue_cents") / SEGMENT_CENTS).cast("bigint")
    return (
        per_cust.select(seg.alias("segment"))
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("num_customers"))
        .select(
            "segment",
            (F.col("segment") * SEGMENT_CENTS).alias("segment_base_cents"),
            "num_customers",
        )
    )


@register(
    "monthly_dow_pivot_ratio",
    oracle=f"""
    WITH dows AS (
        SELECT year(l_shipdate) AS ship_year,
               month(l_shipdate) AS ship_month,
               isodow(l_shipdate) AS dow,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sales_cents
        FROM lineitem
        WHERE year(l_shipdate) IN ({YOY_FIRST}, {YOY_SECOND})
        GROUP BY 1, 2, 3),
    wide AS (
        SELECT ship_year, ship_month,
               CAST(sum(CASE WHEN dow = 1 THEN sales_cents ELSE 0 END)
                    AS BIGINT) AS mon_cents,
               CAST(sum(CASE WHEN dow = 2 THEN sales_cents ELSE 0 END)
                    AS BIGINT) AS tue_cents,
               CAST(sum(CASE WHEN dow = 3 THEN sales_cents ELSE 0 END)
                    AS BIGINT) AS wed_cents,
               CAST(sum(CASE WHEN dow = 6 THEN sales_cents ELSE 0 END)
                    AS BIGINT) AS sat_cents
        FROM dows GROUP BY ship_year, ship_month)
    SELECT c.ship_month,
           CAST(c.mon_cents AS DOUBLE) / CAST(NULLIF(p.mon_cents, 0)
               AS DOUBLE) AS mon_ratio,
           CAST(c.tue_cents AS DOUBLE) / CAST(NULLIF(p.tue_cents, 0)
               AS DOUBLE) AS tue_ratio,
           CAST(c.wed_cents AS DOUBLE) / CAST(NULLIF(p.wed_cents, 0)
               AS DOUBLE) AS wed_ratio,
           CAST(c.sat_cents AS DOUBLE) / CAST(NULLIF(p.sat_cents, 0)
               AS DOUBLE) AS sat_ratio
    FROM wide c
    JOIN wide p
      ON p.ship_month = c.ship_month
     AND c.ship_year = {YOY_SECOND} AND p.ship_year = {YOY_FIRST}
    """,
)
def monthly_dow_pivot_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q59-shaped weekday seasonality: pivot sales wide by
    day-of-week per (year, month), self-join the same month one year
    apart, and emit per-weekday growth ratios (q59 does exactly this per
    ``d_week_seq`` with seven ``sun_sales..sat_sales`` columns,
    `docker/trino-client/queries/q59.sql:1-44`).

    ISO weekday (Mon=1) is the cross-engine-stable day numbering — Spark's
    ``weekday()+1`` equals DuckDB's ``isodow()`` for every date, unlike
    locale-tinged ``dayofweek``. Ratios are single IEEE divisions of exact
    cent totals with NULLIF guarding empty weekdays. The pivot is
    conditional aggregation (one shuffle, |year×month| rows out); the
    year-pair self-join runs on that tiny aggregate.
    """
    # Explicit date range (not year() IN) so the predicate reaches the scan.
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= f"{YOY_FIRST}-01-01")
        & (F.col("l_shipdate") < f"{YOY_SECOND + 1}-01-01")
    )
    pc = _cents("l_extendedprice")
    dow = F.weekday("l_shipdate") + 1
    names = {1: "mon", 2: "tue", 3: "wed", 6: "sat"}
    wide = li.groupBy(
        F.year("l_shipdate").alias("ship_year"),
        F.month("l_shipdate").alias("ship_month"),
    ).agg(
        *[
            F.sum(F.when(dow == k, pc).otherwise(F.lit(0))).alias(
                f"{nm}_cents"
            )
            for k, nm in names.items()
        ]
    )
    cur = wide.filter(F.col("ship_year") == YOY_SECOND).alias("c")
    prev = wide.filter(F.col("ship_year") == YOY_FIRST).alias("p")
    ratio = lambda nm: (  # noqa: E731
        F.col(f"c.{nm}_cents").cast("double")
        / F.nullif(F.col(f"p.{nm}_cents"), F.lit(0)).cast("double")
    ).alias(f"{nm}_ratio")
    return cur.join(
        prev, F.col("p.ship_month") == F.col("c.ship_month")
    ).select(
        F.col("c.ship_month").alias("ship_month"),
        *[ratio(nm) for nm in names.values()],
    )


@register(
    "low_share_brand_per_nation",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, p.p_brand,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS brand_cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY n.n_name, p.p_brand),
    banded AS (
        SELECT n_name, p_brand, brand_cents,
               CAST(sum(brand_cents) OVER (PARTITION BY n_name) AS BIGINT)
                   AS nation_cents,
               count(*) OVER (PARTITION BY n_name) AS n_brands
        FROM rev)
    SELECT n_name, p_brand, brand_cents
    FROM banded
    WHERE CAST(brand_cents AS DOUBLE)
        <= 0.8 * (CAST(nation_cents AS DOUBLE) / CAST(n_brands AS DOUBLE))
    """,
)
def low_share_brand_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q65-shaped under-performer screen: brands whose revenue
    within their supplier's nation is at most 80% of the nation's average
    brand revenue (q65 keeps store/item pairs with
    ``revenue <= 0.1 * ave``, `docker/trino-client/queries/q65.sql:1-30`).

    The per-nation average is an exact window over the AGGREGATED
    (nation, brand) rows — |nations|×|brands| of them, never fact rows —
    as an integer window sum plus count, divided once in DOUBLE. Both
    dimensions broadcast; the fact table shuffles once for the groupBy.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(supplier), supplier.s_suppkey == li.l_suppkey)
        .join(F.broadcast(nation), nation.n_nationkey == supplier.s_nationkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("n_name", "p_brand")
        .agg(F.sum(_cents("l_extendedprice")).alias("brand_cents"))
    )
    w = Window.partitionBy("n_name")
    banded = rev.select(
        "n_name",
        "p_brand",
        "brand_cents",
        F.sum("brand_cents").over(w).alias("nation_cents"),
        F.count(F.lit(1)).over(w).alias("n_brands"),
    )
    return banded.filter(
        F.col("brand_cents").cast("double")
        <= F.lit(0.8)
        * (
            F.col("nation_cents").cast("double")
            / F.col("n_brands").cast("double")
        )
    ).select("n_name", "p_brand", "brand_cents")


@register(
    "window_class_revenue_share",
    oracle="""
    WITH item_rev AS (
        SELECT p.p_partkey, p.p_type,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS item_cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_partkey, p.p_type)
    SELECT p_partkey, p_type, item_cents,
           CAST(sum(item_cents) OVER (PARTITION BY p_type) AS BIGINT)
               AS class_cents,
           CAST(item_cents AS DOUBLE) * 100
               / CAST(sum(item_cents) OVER (PARTITION BY p_type) AS DOUBLE)
               AS revenue_ratio
    FROM item_rev
    """,
)
def window_class_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q98-shaped revenue share: each part's percentage of its
    class (p_type) revenue via a windowed sum ratio (q98's
    ``sum(...) * 100 / sum(sum(...)) OVER (PARTITION BY i_class)``,
    `docker/trino-client/queries/q98.sql:6-9`).

    The window runs over the AGGREGATED per-part rows (|parts|), not the
    fact table, and its partition key (p_type) re-uses a coarser grouping
    of the same shuffle. The ratio is (int→double × 100) / int→double —
    two IEEE ops, engine-stable.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    item_rev = (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("p_partkey", "p_type")
        .agg(F.sum(_cents("l_extendedprice")).alias("item_cents"))
    )
    w = Window.partitionBy("p_type")
    class_cents = F.sum("item_cents").over(w)
    return item_rev.select(
        "p_partkey",
        "p_type",
        "item_cents",
        class_cents.alias("class_cents"),
        (
            F.col("item_cents").cast("double")
            * 100
            / class_cents.cast("double")
        ).alias("revenue_ratio"),
    )


@register(
    "argmax_struct_top_type",
    oracle="""
    WITH rev AS (
        SELECT p.p_brand, p.p_type,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sales_cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand, p.p_type),
    ranked AS (
        SELECT p_brand, p_type, sales_cents,
               row_number() OVER (PARTITION BY p_brand
                                  ORDER BY sales_cents DESC, p_type DESC)
                   AS rn
        FROM rev)
    SELECT p_brand, p_type AS top_type, sales_cents AS top_sales_cents
    FROM ranked WHERE rn = 1
    """,
)
def argmax_struct_top_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand best-selling part type via the max-of-struct argmax
    pattern — the scale-friendly alternative to the rank()-then-filter
    top-1 idiom the reference's q36/q67/q70 use
    (`docker/trino-client/queries/q67.sql:14-16`).

    ``max(struct(sales_cents, p_type))`` is an ordinary aggregate:
    partial-aggregates map-side, merges in one shuffle, and never
    materializes a sorted window — at 100 TB the rank() form pays a second
    full shuffle plus a per-partition sort just to discard all but one row
    per group. Struct comparison is lexicographic, so (cents, type)
    ordering breaks revenue ties on the type string deterministically —
    mirrored by the oracle's ``ORDER BY sales_cents DESC, p_type DESC``.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.sum(_cents("l_extendedprice")).alias("sales_cents"))
    )
    best = rev.groupBy("p_brand").agg(
        F.max(F.struct("sales_cents", "p_type")).alias("best")
    )
    return best.select(
        "p_brand",
        F.col("best.p_type").alias("top_type"),
        F.col("best.sales_cents").alias("top_sales_cents"),
    )


@register(
    "agg_unpivot_long",
    oracle=f"""
    WITH wide AS (
        SELECT p.p_brand,
               CAST(sum(CASE WHEN month(o.o_orderdate) = 1
                   THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS jan_cents,
               CAST(sum(CASE WHEN month(o.o_orderdate) = 2
                   THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS feb_cents,
               CAST(sum(CASE WHEN month(o.o_orderdate) = 3
                   THEN CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS mar_cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE year(o.o_orderdate) = {YOY_FIRST}
        GROUP BY p.p_brand)
    SELECT p_brand, month_name, sales_cents
    FROM wide
    UNPIVOT (sales_cents FOR month_name
             IN (jan_cents AS 'jan', feb_cents AS 'feb', mar_cents AS 'mar'))
    """,
)
def agg_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape: pivot monthly sales wide per brand (the
    ``agg_pivot_wide`` shape), then UNPIVOT the month columns back into
    (brand, month_name, sales_cents) rows — Spark ``DataFrame.unpivot``
    (``Expand`` physical node) against DuckDB's native ``UNPIVOT``.

    Unpivot is a per-row flatMap (Expand) — no shuffle, no UDF — so the
    long form costs |rows|×|months| locally after the one aggregation
    shuffle. Integer cents end-to-end.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate") == YOY_FIRST
    )
    part = load_table(spark, sf_dir, "part")
    pc = _cents("l_extendedprice")
    months = {1: "jan", 2: "feb", 3: "mar"}
    wide = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("p_brand")
        .agg(
            *[
                F.sum(
                    F.when(F.month("o_orderdate") == k, pc).otherwise(
                        F.lit(0)
                    )
                ).alias(f"{nm}_cents")
                for k, nm in months.items()
            ]
        )
    )
    long = wide.unpivot(
        ids=["p_brand"],
        values=[f"{nm}_cents" for nm in months.values()],
        variableColumnName="month_name",
        valueColumnName="sales_cents",
    )
    return long.withColumn(
        "month_name", F.regexp_replace("month_name", "_cents$", "")
    )




@register(
    "repeat_purchase_pairs",
    oracle=f"""
    WITH cs AS (
        SELECT o.o_custkey, l.l_partkey, year(o.o_orderdate) AS sale_year,
               count(*) AS n_lines,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS spend_cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE year(o.o_orderdate) IN ({YOY_FIRST}, {YOY_SECOND})
        GROUP BY o.o_custkey, l.l_partkey, year(o.o_orderdate))
    SELECT c1.o_custkey, c1.l_partkey,
           c1.spend_cents AS first_spend_cents,
           c2.spend_cents AS second_spend_cents,
           c1.n_lines + c2.n_lines AS n_lines_total
    FROM cs c1
    JOIN cs c2
      ON c2.o_custkey = c1.o_custkey AND c2.l_partkey = c1.l_partkey
     AND c1.sale_year = {YOY_FIRST} AND c2.sale_year = {YOY_SECOND}
    """,
)
def repeat_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q64-shaped repeat-sale pairing: the same (customer, part)
    bought in two consecutive years, joining the two sale instances into
    one row (q64 builds per-(item, customer) sale aggregates and joins
    ``cs1.syear = 1999 AND cs2.syear = 2000`` on the item+customer key,
    `docker/trino-client/queries/q64.sql` final join).

    Spark-first rewrite (the 10x probe caught the literal
    aggregate-then-self-join form at 7.6x for 10x data): a per-(customer,
    part, year) aggregate barely shrinks the fact — almost every pair is
    unique — so Spark built that near-fact-sized aggregate TWICE and
    sort-merge-joined the copies. The conditional-aggregation form pays
    ONE shuffle on (custkey, partkey) and no join at all: each year's
    spend is a conditional sum, presence in both years is a pair of
    conditional counts (every sale row has positive cents, so presence ⟺
    count > 0 — the same argument as the q11 rewrite). Results are
    row-identical to the verbatim pair join the oracle runs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Explicit date range (not year() IN) so the predicate reaches the scan.
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= f"{YOY_FIRST}-01-01")
        & (F.col("o_orderdate") < f"{YOY_SECOND + 1}-01-01")
    )
    pc = _cents("l_extendedprice")
    yr = F.year("o_orderdate")
    in_year = lambda y, col: F.sum(  # noqa: E731
        F.when(yr == y, col).otherwise(F.lit(0))
    )
    cs = (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_custkey", "l_partkey")
        .agg(
            in_year(YOY_FIRST, F.lit(1)).alias("n1"),
            in_year(YOY_SECOND, F.lit(1)).alias("n2"),
            in_year(YOY_FIRST, pc).alias("first_spend_cents"),
            in_year(YOY_SECOND, pc).alias("second_spend_cents"),
        )
    )
    return cs.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "o_custkey",
        "l_partkey",
        "first_spend_cents",
        "second_spend_cents",
        (F.col("n1") + F.col("n2")).alias("n_lines_total"),
    )


@register(
    "join_seven_table_stress",
    oracle="""
    SELECT n.n_name, p.p_brand,
           count(*) AS n_lines,
           CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN part p     ON p.p_partkey = l.l_partkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderpriority LIKE '1%'
      AND p.p_size < 20
      AND s.s_acctbal > 0
    GROUP BY n.n_name, p.p_brand
    """,
)
def join_seven_table_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOB-style join-ordering stress: a seven-table star-with-snowflake
    join (fact → orders → customer → nation → region, plus supplier and
    part off the fact) with selective filters on four of the tables. The
    reference ships the JOB/IMDB dataset specifically to stress join
    ordering (`datasets/README.md:28-36`); this is the same discipline on
    the driver's schema.

    The ONLY fact-fact edge is lineitem⋈orders; every dimension chain
    must collapse to broadcast hash joins with the region filter applied
    to nation BEFORE the fact sees it (filter transitivity through the
    snowflake: region→nation→customer). Plan-gated: exactly one
    non-broadcast join, zero cartesians, and the selective predicates
    (priority prefix, part size, supplier balance) pushed to their scans.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").like("1%")
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    supplier = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") > 0
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < 20)
    return (
        li.join(orders, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(customer), customer.c_custkey == orders.o_custkey)
        .join(F.broadcast(nation), nation.n_nationkey == customer.c_nationkey)
        .join(F.broadcast(region), region.r_regionkey == nation.n_regionkey)
        .join(F.broadcast(supplier), supplier.s_suppkey == li.l_suppkey)
        .join(F.broadcast(part), part.p_partkey == li.l_partkey)
        .groupBy("n_name", "p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(_cents("l_extendedprice")).alias("revenue_cents"),
        )
    )


@register(
    "or_membership_existence_join",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS acctbal_cents
    FROM customer c
    WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
       OR c.c_custkey IN (SELECT o_custkey FROM orders
                          WHERE o_totalprice > 400000)
    GROUP BY c.c_mktsegment
    """,
)
def or_membership_existence_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q45-shaped disjunctive membership: keep a row when a LOCAL
    predicate holds OR the key appears in a subquery (q45's
    ``substr(zip) IN (...) OR i_item_id IN (SELECT ...)``,
    `docker/trino-client/queries/q45.sql:20-30`).

    The OR defeats the plain semi-join rewrite (a semi join would also
    drop rows that pass only the local arm), so Catalyst plans an
    EXISTENCE JOIN: a left join variant that emits a boolean ``exists``
    column consumed by the disjunction — one hash join, no fact
    duplication, no union-of-two-branches double scan (DuckDB's
    equivalent is its mark join). Plan-gated for ExistenceJoin.

    Scale: same cost envelope as a semi join — the subquery side reduces
    to distinct keys before the join, and the disjunction stays a row
    predicate. The UNION rewrite some engines fall back to would scan the
    customer table twice and pay a distinct to merge arms.
    """
    # Register only the two tables the text reads (register_sf_views loads
    # every table — it would fail on partial datasets like the 10x probe's
    # replica set, which excludes documents/embeddings). Re-pointing shared
    # names outside the register helpers invalidates the catalog-ownership
    # skip token (see synth_common.catalog_state_dirty).
    from lakehouse_variance_spark.plans import synth_common as synth

    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    synth.catalog_state_dirty(spark)
    return spark.sql(
        """
        SELECT c.c_mktsegment,
               count(*) AS n_customers,
               CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS acctbal_cents
        FROM customer c
        WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
           OR c.c_custkey IN (SELECT o_custkey FROM orders
                              WHERE o_totalprice > 400000)
        GROUP BY c.c_mktsegment
        """
    )


__all__ = [
    "yoy_channel_growth_compare",
    "cross_channel_items_rollup",
    "stddev_pair_months",
    "revenue_segment_histogram",
    "monthly_dow_pivot_ratio",
    "low_share_brand_per_nation",
    "window_class_revenue_share",
    "argmax_struct_top_type",
    "agg_unpivot_long",
    "repeat_purchase_pairs",
    "join_seven_table_stress",
    "or_membership_existence_join",
]

"""Fourth batch of TPC-DS-shaped relational queries.

The reference executes the 99 TPC-DS queries verbatim
(`docker/trino-client/src/run_workload.py:38`); the DataFrame rewrites kept here
run on the TPC-H-ish test tables and are either in the bench's
headline set or cover a pattern no TPC-DS text has:

* q11/q4  — per-customer year-over-year growth compared across two sales
  channels (`docker/trino-client/queries/q11.sql:1-30`, the ``year_total``
  CTE self-joined four ways);
* q14     — "cross items" sold in every channel (INTERSECT), then a ROLLUP
  over their sales filtered by a global average-sales scalar
  (`queries/q14.sql:1-20`);
* argmax  — the max(struct(...)) single-aggregation alternative to the
  rank()-then-filter top-1 pattern of q36/q67 (scale rationale below);
* unpivot — the inverse reshape of ``agg_pivot_wide`` (wide month columns
  back to long rows) — Spark ``unpivot``/``stack``, DuckDB ``UNPIVOT``.

Determinism (same discipline as relational_ds3.py): money/quantity
aggregates accumulate exact integer cents; every derived double is a fixed
chain of single IEEE ops on exact-int64→double conversions, so values are
bit-identical across engines and partition orders. Growth comparisons
cross-multiply in DOUBLE (one IEEE product per side) instead of dividing,
so no quotient rounding enters the predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_variance_spark.registry import register
from lakehouse_variance_spark.tables import load_table

# q11-shape: the two adjacent years compared.
YOY_FIRST, YOY_SECOND = 1996, 1997

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
    # four-instance self-join text (tests/test_plans_ds2.py checks it).
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


__all__ = [
    "yoy_channel_growth_compare",
    "cross_channel_items_rollup",
    "argmax_struct_top_type",
    "agg_unpivot_long",
    "join_seven_table_stress",
]

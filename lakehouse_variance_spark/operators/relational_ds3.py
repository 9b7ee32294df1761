"""Exact-cents TPC-DS-shaped relational queries.

The reference executes the 99 TPC-DS queries verbatim
(`docker/trino-client/src/run_workload.py:38`), and so does
``plans/tpcds_texts.py``. The DataFrame rewrites kept here run on the
TPC-H-ish test tables and are in the bench's headline set:

* q17     — three-way fact join with per-group dispersion statistics and a
  coefficient-of-variation filter (`docker/trino-client/queries/q17.sql`);
* q92     — "excess discount": lineitems whose discount exceeds 1.3x the
  per-part average discount within a date window, summed
  (`docker/trino-client/queries/q92.sql:1-20`, the correlated
  ``1.3 * avg(ws_ext_discount_amt)`` subquery);
* q25/q29 — returned-then-rebought: a fact self-join pairing each returned
  line with a later non-returned purchase of the same (customer, part)
  (`queries/q29.sql:1-30`, store_sales x store_returns x catalog_sales);
* q75     — year-over-year decline WITH returns netted out
  (`queries/q75.sql:1-40`, ``sales_cnt - coalesce(return_cnt, 0)``
  unioned across channels, prev/curr self-join on strict decline);
* q376    — the generated workload's multiplicative LEFT-join fan-out,
  with partial COUNT pushed below the joins.

Determinism (same discipline as relational_ds2.py): money/quantity
aggregates accumulate exact integer cents; discounts are 2-decimal so
integer basis points (``round(d*100)``) are exact; every threshold
predicate is a cross-multiplied integer comparison, never a float
quotient; the only doubles produced are fixed chains of single IEEE ops
on exact int64 values (exact below 2^53, engine-stable). Two gotchas
drive this design: round(avg()) is not engine-stable (Spark HALF_UPs the
shortest decimal rendering of the double, DuckDB rounds the binary value
— round(0.285, 2) differs), and bigint*bigint is not overflow-safe under
Spark's ANSI mode (throws where DuckDB silently widens to HUGEINT), so
products are kept inside exact-int ranges or cast to double before
multiplying.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_variance_spark.registry import register
from lakehouse_variance_spark.tables import load_table

# q17-shape: flag brands whose demand is erratic (CV above this).
CV_THRESHOLD = 0.55

# q92-shape: a line's discount must exceed this multiple of the per-part
# average discount (1.3x, compared as 10*d*n > 13*sum).
EXCESS_NUM, EXCESS_DEN = 13, 10

# q92-shape date window.
EXCESS_YEAR = 1996

# q75-shape: the two years compared; any strict net decline qualifies
# (a relative-decline threshold thins toward zero rows as per-brand volume
# grows and YoY ratios concentrate at 1 — strict decline keeps the
# selectivity scale-stable at ~half the brands).
DECLINE_PREV, DECLINE_CURR = 1996, 1997


def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("bigint")


@register(
    "join_stats_spread",
    oracle=f"""
    WITH m AS (
        SELECT p.p_brand,
               count(*) AS n_items,
               CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
                   AS sum_qty_cents,
               CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)
                        * CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
                   AS sumsq_qty_cents
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_size < 25 AND o.o_orderpriority LIKE '1%'
        GROUP BY p.p_brand),
    s AS (
        SELECT p_brand, n_items, sum_qty_cents,
               CAST(sum_qty_cents AS DOUBLE) / CAST(n_items AS DOUBLE)
                   AS mean_qty_cents,
               sqrt((CAST(sumsq_qty_cents AS DOUBLE)
                     - CAST(sum_qty_cents AS DOUBLE)
                       * CAST(sum_qty_cents AS DOUBLE)
                       / CAST(n_items AS DOUBLE))
                    / CAST(n_items - 1 AS DOUBLE)) AS std_qty_cents
        FROM m WHERE n_items > 1)
    SELECT p_brand, n_items, sum_qty_cents, mean_qty_cents, std_qty_cents
    FROM s
    WHERE std_qty_cents > {CV_THRESHOLD} * mean_qty_cents
    """,
)
def join_stats_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q17-shaped dispersion probe: join the fact table to two
    dimensions, aggregate per brand, and keep brands whose quantity
    coefficient of variation exceeds {CV_THRESHOLD} — erratic-demand
    detection. Dispersion is derived from exact integer moments (n, sum,
    sum-of-squares in cents), not a streaming stddev, so the value is
    partition-order-independent on both engines.

    Scale: partial aggregation reduces the fact scan before its single
    shuffle on p_brand; `part` joins broadcast (dimension-sized). The
    per-row cents square stays far below int64 even at SF 1000.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    qc = F.round(F.col("l_quantity") * 100).cast("bigint")
    m = (
        li.join(F.broadcast(part.filter(F.col("p_size") < 25)),
                part.p_partkey == li.l_partkey)
        .join(orders.filter(F.col("o_orderpriority").like("1%")),
              orders.o_orderkey == li.l_orderkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(qc).alias("sum_qty_cents"),
            F.sum(qc * qc).alias("sumsq_qty_cents"),
        )
        .filter(F.col("n_items") > 1)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = (d("sum_qty_cents") / d("n_items")).alias("mean_qty_cents")
    std = F.sqrt(
        (
            d("sumsq_qty_cents")
            - d("sum_qty_cents") * d("sum_qty_cents") / d("n_items")
        )
        / (F.col("n_items") - 1).cast("double")
    ).alias("std_qty_cents")
    s = m.select("p_brand", "n_items", "sum_qty_cents", mean, std)
    return s.filter(
        F.col("std_qty_cents") > F.lit(CV_THRESHOLD) * F.col("mean_qty_cents")
    )


@register(
    "excess_discount_by_month",
    oracle=f"""
    WITH d AS (
        SELECT month(l_shipdate) AS ship_month,
               CAST(round(l_discount * 100) AS BIGINT) AS d_bp,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
               l_partkey
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{EXCESS_YEAR}-01-01'
          AND l_shipdate < TIMESTAMP '{EXCESS_YEAR + 1}-01-01'),
    pp AS (
        SELECT l_partkey, count(*) AS n,
               CAST(sum(d_bp) AS BIGINT) AS sum_bp
        FROM d GROUP BY l_partkey)
    SELECT d.ship_month,
           count(*) AS n_excess,
           CAST(sum(d.price_cents) AS BIGINT) AS excess_cents
    FROM d JOIN pp ON pp.l_partkey = d.l_partkey
    WHERE {EXCESS_DEN} * d.d_bp * pp.n > {EXCESS_NUM} * pp.sum_bp
    GROUP BY d.ship_month
    """,
)
def excess_discount_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q92-shaped excess discount: lines within a one-year window
    whose discount exceeds 1.3x the average discount for the same part,
    summed per ship month (`docker/trino-client/queries/q92.sql:1-20`).

    Spark-first: the correlated ``1.3 * avg(...)`` subquery becomes a
    per-part aggregate BROADCAST back onto the fact — the per-part table
    has one row per part key, orders of magnitude smaller than the fact,
    so the fact itself is never shuffled (groupBy partial-aggregates
    map-side and only |parts| rows cross the wire; the join back is a
    broadcast hash join; the final per-month aggregate is 12 partials).
    At a scale where the part dimension itself outgrows broadcast, the
    same plan holds with the join demoted to shuffle-hash on l_partkey —
    swap ``F.broadcast(pp)`` for ``pp.hint("shuffle_hash")``.

    The 1.3x predicate is the exact integer cross-product
    ``10 * d_bp * n > 13 * sum_bp`` (discounts are 2-decimal, so basis
    points are exact) — no float quotient on either engine.
    """
    li = load_table(spark, sf_dir, "lineitem")
    d = li.filter(
        (F.col("l_shipdate") >= F.lit(f"{EXCESS_YEAR}-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(f"{EXCESS_YEAR + 1}-01-01").cast("timestamp"))
    ).select(
        F.month("l_shipdate").alias("ship_month"),
        F.round(F.col("l_discount") * 100).cast("bigint").alias("d_bp"),
        _cents("l_extendedprice").alias("price_cents"),
        "l_partkey",
    )
    pp = d.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n"), F.sum("d_bp").alias("sum_bp")
    )
    return (
        d.join(F.broadcast(pp), "l_partkey")
        .filter(
            F.lit(EXCESS_DEN) * F.col("d_bp") * F.col("n")
            > F.lit(EXCESS_NUM) * F.col("sum_bp")
        )
        .groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_excess"),
            F.sum("price_cents").alias("excess_cents"),
        )
    )


@register(
    "returned_rebuy_quantities",
    oracle="""
    WITH r AS (
        SELECT o.o_custkey, l.l_partkey, o.o_orderdate,
               CAST(round(l.l_quantity * 100) AS BIGINT) AS q
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'R'),
    n AS (
        SELECT o.o_custkey, l.l_partkey, o.o_orderdate,
               CAST(round(l.l_quantity * 100) AS BIGINT) AS q
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_returnflag = 'N')
    SELECT p.p_brand,
           count(*) AS n_pairs,
           CAST(sum(r.q) AS BIGINT) AS ret_qty_c,
           CAST(sum(n.q) AS BIGINT) AS rebuy_qty_c
    FROM r
    JOIN n ON n.o_custkey = r.o_custkey AND n.l_partkey = r.l_partkey
          AND n.o_orderdate > r.o_orderdate
    JOIN part p ON p.p_partkey = r.l_partkey
    GROUP BY p.p_brand
    """,
)
def returned_rebuy_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q25/q29-shaped returned-then-rebought pairing: every returned
    line joined to each LATER non-returned purchase of the same
    (customer, part), quantities aggregated per brand
    (`docker/trino-client/queries/q29.sql:1-30` — store_sales joined to
    store_returns joined to catalog_sales on (customer, item)).

    Spark-first: both fact branches equi-join orders on the order key
    (AQE picks broadcast vs shuffle per scale), then the pair join is an
    EQUI join on (custkey, partkey) with the later-date predicate left as
    a residual — Catalyst plans a sort-merge join on the composite key,
    never a nested loop. Join fan-out is bounded by per-(customer, part)
    purchase multiplicity, which is scale-invariant in a star schema, so
    output grows linearly with the fact. Quantities are exact integer
    centi-units; the brand roll-up joins the broadcast part dimension.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")

    def leg(flag: str, prefix: str) -> DataFrame:
        return (
            li.filter(F.col("l_returnflag") == flag)
            .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
            .select(
                F.col("o_custkey").alias(f"{prefix}_custkey"),
                F.col("l_partkey").alias(f"{prefix}_partkey"),
                F.col("o_orderdate").alias(f"{prefix}_date"),
                F.round(F.col("l_quantity") * 100)
                .cast("bigint")
                .alias(f"{prefix}_q"),
            )
        )

    r, n = leg("R", "r"), leg("N", "n")
    pairs = r.join(
        n,
        (F.col("n_custkey") == F.col("r_custkey"))
        & (F.col("n_partkey") == F.col("r_partkey"))
        & (F.col("n_date") > F.col("r_date")),
    )
    return (
        pairs.join(F.broadcast(part), part.p_partkey == F.col("r_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("r_q").alias("ret_qty_c"),
            F.sum("n_q").alias("rebuy_qty_c"),
        )
    )


@register(
    "yoy_decline_with_returns",
    oracle=f"""
    WITH net AS (
        SELECT p.p_brand,
               CAST(sum(CASE WHEN year(l.l_shipdate) = {DECLINE_PREV} THEN
                   CASE WHEN l.l_returnflag = 'R'
                        THEN -CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        ELSE CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   END ELSE 0 END) AS BIGINT) AS prev_net_c,
               CAST(sum(CASE WHEN year(l.l_shipdate) = {DECLINE_CURR} THEN
                   CASE WHEN l.l_returnflag = 'R'
                        THEN -CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        ELSE CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   END ELSE 0 END) AS BIGINT) AS curr_net_c
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE year(l.l_shipdate) IN ({DECLINE_PREV}, {DECLINE_CURR})
        GROUP BY p.p_brand)
    SELECT p_brand, prev_net_c, curr_net_c
    FROM net
    WHERE prev_net_c > 0 AND curr_net_c < prev_net_c
    """,
)
def yoy_decline_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS-q75-shaped year-over-year decline WITH returns netted out:
    per-brand net revenue (sales minus returned lines) for two adjacent
    years, keeping brands whose net revenue declined
    (`docker/trino-client/queries/q75.sql:1-40` — ``sales_cnt -
    coalesce(return_cnt, 0)`` per channel, prev/curr self-join on
    ``cd.sales_cnt < pd.sales_cnt`` — the same strict-decline predicate).

    Spark-first: q75's UNION-of-channels + self-join collapses to ONE
    fact scan with year-conditional signed integer sums (returns enter
    negatively — netting is associative over exact cents, so partial
    aggregation is unharmed); the decline predicate is an exact integer
    comparison. The year(...) IN predicate is a
    plain filter; at cluster scale a ship-year partition column turns it
    into partition pruning.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    pc = _cents("l_extendedprice")
    signed = F.when(F.col("l_returnflag") == "R", -pc).otherwise(pc)
    yr = F.year("l_shipdate")
    net = (
        li.filter(yr.isin(DECLINE_PREV, DECLINE_CURR))
        .join(F.broadcast(part), part.p_partkey == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.when(yr == DECLINE_PREV, signed).otherwise(F.lit(0))
            ).alias("prev_net_c"),
            F.sum(
                F.when(yr == DECLINE_CURR, signed).otherwise(F.lit(0))
            ).alias("curr_net_c"),
        )
    )
    return net.filter(
        (F.col("prev_net_c") > 0)
        & (F.col("curr_net_c") < F.col("prev_net_c"))
    ).select("p_brand", "prev_net_c", "curr_net_c")


# The naive q376-shaped text (the reference's generated TPC-DS workload,
# e.g. Baseline_TPCDS test q376): a tiny dimension LEFT-joined to THREE
# fact-sized returns tables on the SAME key. Its join fan-out is
# multiplicative — sum_k w_k*s_k*c_k = 1.0e11 intermediate rows at
# sf0.1 — and Trino survives it only because its optimizer pushes
# partial COUNT aggregation below the joins
# (push_partial_aggregation_through_join). Catalyst has no such rule,
# so the verbatim text brute-forces the explosion (and at sf0.1 hits
# the 300 s reference kill budget). This operator IS that missing
# rewrite, DataFrame-first.
_FANOUT_NAIVE_SQL = """
    SELECT d_year, CAST(count(*) AS BIGINT) AS agg_0
    FROM reason
    LEFT OUTER JOIN web_returns ON r_reason_sk = wr_reason_sk
    LEFT OUTER JOIN store_returns ON r_reason_sk = sr_reason_sk
    LEFT OUTER JOIN date_dim ON sr_returned_date_sk = d_date_sk
    LEFT OUTER JOIN catalog_returns ON r_reason_sk = cr_reason_sk
    GROUP BY d_year
"""


def _fanout_oracle() -> str:
    from lakehouse_variance_spark.plans.tpcds_schema import oracle_sql_for

    return oracle_sql_for(_FANOUT_NAIVE_SQL)


@register("fanout_count_pushdown", oracle=_fanout_oracle())
def fanout_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-COUNT pushdown through a multiplicative LEFT-join fan-out —
    the count-product rewrite of the q376-shaped generated workload text
    (its oracle IS the naive verbatim join text, so every hash match
    proves the rewrite).

    Per reason key k, the naive COUNT(*) explosion factors exactly:
    ``max(w_k,1) * s_{k,year} * max(c_k,1)`` where w/c are the per-key
    web/catalog return counts (a LEFT join with zero matches contributes
    one NULL row, hence max(..,1) via the coalesce-after-left-join) and
    ``s_{k,year}`` counts store returns per (key, return-year) — reasons
    with no store returns land in the NULL-year group with s=1, the same
    group the naive plan sends them to.

    Scale: three independent keyed partial counts (map-side combined,
    one reduce each at |keys| or |keys x years| cardinality), then all
    arithmetic happens on a |reason|-row table with broadcast joins.
    1.0e11 intermediate rows at sf0.1 become three shrinking aggregates
    + a 35-row product — the plan Trino's
    push_partial_aggregation_through_join produces, which Catalyst
    lacks; counts multiply as int64 (exact to 2^63; swap to
    DECIMAL(38,0) beyond ~1e6-row per-key counts).
    """
    from lakehouse_variance_spark.plans.tpcds_schema import (
        register_tpcds_views,
    )

    register_tpcds_views(spark, sf_dir)
    reason = spark.table("reason").select(
        F.col("r_reason_sk").alias("k")
    )
    wcnt = (
        spark.table("web_returns")
        .groupBy(F.col("wr_reason_sk").alias("k"))
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    scnt = (
        spark.table("store_returns")
        .join(
            spark.table("date_dim").select("d_date_sk", "d_year"),
            F.col("sr_returned_date_sk") == F.col("d_date_sk"),
            "left",
        )
        .groupBy(F.col("sr_reason_sk").alias("k"), "d_year")
        .agg(F.count("*").cast("bigint").alias("s"))
    )
    ccnt = (
        spark.table("catalog_returns")
        .groupBy(F.col("cr_reason_sk").alias("k"))
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    per_key = (
        reason.join(F.broadcast(wcnt), "k", "left")
        .join(F.broadcast(scnt), "k", "left")
        .join(F.broadcast(ccnt), "k", "left")
        .select(
            "d_year",
            (
                F.coalesce("w", F.lit(1))
                * F.coalesce("s", F.lit(1))
                * F.coalesce("c", F.lit(1))
            ).alias("rows_k"),
        )
    )
    return per_key.groupBy("d_year").agg(
        F.sum("rows_k").cast("bigint").alias("agg_0")
    )

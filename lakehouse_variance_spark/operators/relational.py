"""Relational query surface (SURVEY.md §2A).

Each query here is DataFrame code on the TPC-H-ish test tables that is
either in the bench's headline set or covers an operator the 99 verbatim
TPC-DS texts (``plans/tpcds_texts.py``) lack: exact and sketch
percentiles, HLL sketches, pivot, EXCEPT ALL, regex, JSON and VARIANT
access, ln/exp, array aggregation, multi-grain rollups and stratified
sampling. Catalyst supplies pushdown, column pruning, join selection, and
AQE; the queries only declare the logical plan.

Numeric aggregate columns are rounded identically on both the Spark and
oracle side so the order-insensitive value hash is stable under floating-point
re-association across partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from lakehouse_variance_spark.registry import register
from lakehouse_variance_spark.tables import load_table


# ---------------------------------------------------------------------------
# Aggregations (reference: hash group-by w/ sum/avg/min/max/count — q1.sql:3-8)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)            AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-shaped pricing summary: multi-agg hash group-by.

    Covers the dominant reference operator (hash aggregate with partial+final
    combine, reference q1.sql:3-8). Map-side partial aggregation keeps the
    shuffle at |groups| x |partitions| rows regardless of fact-table size.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.50), 4) AS p50_value,
           round(quantile_cont(value, 0.99), 4) AS p99_value,
           round(max(value), 4)                 AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (reference helpers.py:48-49,65-70 uses
    pandas quantile = linear interpolation; Spark `percentile` matches).
    At 100 TB prefer percentile_approx — same call shape, sketch-based."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50_value"),
        F.round(F.percentile("value", F.lit(0.99)), 4).alias("p99_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


@register(
    "agg_rollup_grouping",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag)  AS g_flag,
           grouping(l_linestatus)  AS g_status,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*)                AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP + grouping() (reference q22.sql:12, q36.sql:5-9 —
    11 of 99 queries). Spark expands rollup via Expand + single aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n_rows"
        )
    )


# ---------------------------------------------------------------------------
# Joins (reference q1.sql:10-17 — §2A Joins)
# ---------------------------------------------------------------------------


@register(
    "join_topk_revenue",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def join_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective dimension filter -> fact join -> agg -> top-k.

    Covers the dominant implicit inner equi-join form (reference q1.sql:10-17)
    plus ORDER BY + LIMIT top-k (84 of 99 queries end in LIMIT, q1.sql:19 —
    Spark plans TakeOrderedAndProject, no global sort). The filtered customer
    side is broadcast so the fact table never shuffles for the join.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(
            F.broadcast(orders.join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "join_multiway_region",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM region, nation, supplier, lineitem, orders, customer
    WHERE r_name = 'ASIA'
      AND n_regionkey = r_regionkey
      AND s_nationkey = n_nationkey
      AND l_suppkey = s_suppkey
      AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey
    GROUP BY n_name
    """,
)
def join_multiway_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped 6-table star join (reference star joins q1.sql:6-7;
    JOB dataset exists to stress join ordering, datasets/README.md:28-36).

    All dimension sides are broadcast (region=5, nation=25, supplier ~sf*100
    rows) — the only shuffle left is the lineitem<->orders equi-join, which
    AQE converts to broadcast too when the filtered orders side is small.
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dims = (
        supplier.join(
            F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        li.join(F.broadcast(dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "correlated_scalar_subquery",
    oracle="""
    SELECT o1.o_orderkey, o1.o_custkey, round(o1.o_totalprice, 2) AS o_totalprice
    FROM orders o1
    WHERE o1.o_totalprice > (
        SELECT 1.2 * avg(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o1.o_custkey)
    """,
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar aggregate subquery (reference q1.sql:12-14:
    ctr_total_return > (SELECT avg(...)*1.2 ... WHERE correlated)).

    Expressed as the decorrelated form Catalyst itself would produce:
    group-by on the correlation key + equi-join + residual comparison."""
    orders = load_table(spark, sf_dir, "orders")
    avg_per_cust = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        (F.avg("o_totalprice") * 1.2).alias("threshold")
    )
    return (
        orders.join(avg_per_cust, F.col("o_custkey") == F.col("k"))
        .filter(F.col("o_totalprice") > F.col("threshold"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
    )


# ---------------------------------------------------------------------------
# Window functions (reference q51.sql:8)
# ---------------------------------------------------------------------------


@register(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 3)
               AS running_value
    FROM events
    WHERE user_id < 50
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum with explicit ROWS frame (reference q51.sql:8,21,36,40; also
    the carbon prefix-sum, low-carbon-scheduling/src/carbon.py:70-75).

    The ORDER BY includes event_id as a tiebreaker so the frame is a total
    order — identical running sums on any engine."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 3).alias("running_value"),
    )


# ---------------------------------------------------------------------------
# Set operations (reference q2.sql:9; bag-semantics forms the 99 texts lack)
# ---------------------------------------------------------------------------


@register(
    "set_union_all",
    oracle="""
    SELECT status_class, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM (
        SELECT 'open'   AS status_class, o_totalprice FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT 'closed' AS status_class, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    )
    GROUP BY status_class
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of branch queries then re-aggregate (reference q2.sql:9 —
    18 of 99 queries). Spark's Union is a no-shuffle bag concat."""
    orders = load_table(spark, sf_dir, "orders")
    open_ = orders.filter(F.col("o_orderstatus") == "O").select(
        F.lit("open").alias("status_class"), "o_totalprice"
    )
    closed = orders.filter(F.col("o_orderstatus") == "F").select(
        F.lit("closed").alias("status_class"), "o_totalprice"
    )
    return (
        open_.unionAll(closed)
        .groupBy("status_class")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


# ---------------------------------------------------------------------------
# Scalar functions: strings, regex, metric transforms
# ---------------------------------------------------------------------------


@register(
    "string_functions",
    oracle="""
    SELECT c_custkey,
           upper(substr(c_name, 1, 8))        AS name_prefix,
           lower(c_mktsegment)                AS segment_lower,
           c_name || '/' || c_mktsegment      AS name_seg,
           length(c_name)                     AS name_len
    FROM customer
    WHERE c_custkey <= 100
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface: substr/upper/lower/concat/length (reference
    q8.sql substr-of-zip; 21 substr occurrences)."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 100)
    return cust.select(
        "c_custkey",
        F.upper(F.substring("c_name", 1, 8)).alias("name_prefix"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.length("c_name").cast("bigint").alias("name_len"),
    )


@register(
    "regex_json_extract",
    oracle="""
    SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k_value,
           count(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def regex_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex field extraction from a semi-structured string column
    (reference scrub.jq:1-44 regex redaction; JSON-path pulls at
    make_lakehouse_workload_logs.sh:91-95). The engine also supports
    get_json_object for true JSON-path access (tested in tests/)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.regexp_extract("props", r'"k": (\d+)', 1).cast("bigint").alias("k_value")
        )
        .groupBy("k_value")
        .agg(F.count("*").alias("n"))
    )


@register(
    "qerror_metric",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(qerr, 0.50), 4) AS p50_qerror,
           round(quantile_cont(qerr, 0.99), 4) AS p99_qerror,
           count(*) AS n
    FROM (
        SELECT o_orderpriority,
               greatest(o_totalprice, actual) /
                 greatest(least(o_totalprice, actual), 0.001) AS qerr
        FROM orders JOIN (
            SELECT l_orderkey, sum(l_extendedprice) AS actual
            FROM lineitem GROUP BY l_orderkey
        ) ON o_orderkey = l_orderkey)
    GROUP BY o_orderpriority
    """,
)
def qerror_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QError = max(y,yhat)/max(min(y,yhat), 1e-3), then P50/P99 — the
    reference's prediction-quality metric as pure column expressions
    (models/RF/train.ipynb cell 0 percentile_qerror; GNN/table3.ipynb)."""
    orders = load_table(spark, sf_dir, "orders")
    actual = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_extendedprice").alias("actual"))
    )
    qerr = F.greatest(F.col("o_totalprice"), F.col("actual")) / F.greatest(
        F.least(F.col("o_totalprice"), F.col("actual")), F.lit(0.001)
    )
    return (
        orders.join(actual, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_orderpriority", qerr.alias("qerr"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("qerr", F.lit(0.50)), 4).alias("p50_qerror"),
            F.round(F.percentile("qerr", F.lit(0.99)), 4).alias("p99_qerror"),
            F.count("*").alias("n"),
        )
    )


@register(
    "log_transform",
    oracle="""
    SELECT event_type,
           round(avg(ln(value)), 4) AS mean_log_value,
           round(exp(avg(ln(value))), 4) AS geo_mean_value
    FROM events
    WHERE value > 0
    GROUP BY event_type
    """,
)
def log_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ln/exp label transform (reference Runtime_log = ln(runtime),
    tpcds_Baseline_train.ndjson:1; inverse np.exp in train.ipynb)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    return ev.groupBy("event_type").agg(
        F.round(F.avg(F.log("value")), 4).alias("mean_log_value"),
        F.round(F.exp(F.avg(F.log("value"))), 4).alias("geo_mean_value"),
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS in_envelope
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct counting — the 100 TB form of the reference's
    12 count(DISTINCT) queries (q16.sql:2,22). Exact distinct needs a
    full shuffle of every distinct value; the sketch is a fixed-size
    mergeable state (map-side partial, tiny final merge), so cost is
    independent of cardinality.

    Oracle-checked via the bracketing-envelope pattern
    (agg_approx_percentiles' docstring has the full argument): the output
    carries the EXACT distinct count — which the DuckDB oracle reproduces
    — plus a boolean asserting the HLL++ estimate lands within 3x its
    configured 2% rsd.  The exact count here is the verification harness;
    the production path at scale is the sketch alone."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    return g.select(
        "l_returnflag",
        "n_parts",
        "n_rows",
        (
            F.abs(F.col("_approx") - F.col("n_parts"))
            <= F.lit(0.06) * F.col("n_parts")
        ).alias("in_envelope"),
    )


@register(
    "agg_hll_sketch_union",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(0 AS INT) AS is_union,
           TRUE AS in_envelope
    FROM lineitem
    GROUP BY l_returnflag
    UNION ALL
    SELECT 'ALL' AS l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(1 AS INT) AS is_union,
           TRUE AS in_envelope
    FROM lineitem
    """,
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct-count sketches (Apache DataSketches HLL,
    Spark 4 ``hll_sketch_agg``/``hll_union_agg``): per-returnflag part
    sketches PLUS their union estimate, without touching raw rows twice.

    This is the property ``approx_count_distinct`` alone lacks: its HLL++
    state is internal, so a rolled-up grain must rescan the facts. Sketch
    columns are first-class binary values — persist per-partition/day
    sketches once, then answer ANY coarser distinct-count grain by merging
    kilobyte-sized states (the same partial-then-merge contract as the
    integer-cents sums, applied to cardinality).

    Oracle-checked via the bracketing-envelope pattern (see
    agg_approx_percentiles): every row carries the EXACT distinct count —
    reproduced by the oracle — plus a boolean asserting the sketch
    estimate (the union row's estimate coming from MERGED per-flag sketch
    states, never a rescan) lands within 3x the lgK=12 rsd.  The exact
    counts are the verification harness; at scale only sketches persist."""
    li = load_table(spark, sf_dir, "lineitem")
    eps = F.lit(_HLL_EPS)
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey", F.lit(12)).alias("sketch"),
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts"),
        F.count("*").cast("bigint").alias("n_rows"),
    )
    all_exact = li.agg(
        F.countDistinct("l_partkey").cast("bigint").alias("n_parts")
    )
    flags = per_flag.select(
        "l_returnflag",
        "n_parts",
        "n_rows",
        F.lit(0).cast("int").alias("is_union"),
        (
            F.abs(F.hll_sketch_estimate("sketch") - F.col("n_parts"))
            <= eps * F.col("n_parts")
        ).alias("in_envelope"),
    )
    union = (
        per_flag.agg(
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.hll_sketch_estimate(
                F.hll_union_agg("sketch", F.lit(False))
            ).alias("_approx"),
        )
        .join(F.broadcast(all_exact))
        .select(
            F.lit("ALL").alias("l_returnflag"),
            "n_parts",
            "n_rows",
            F.lit(1).cast("int").alias("is_union"),
            (
                F.abs(F.col("_approx") - F.col("n_parts"))
                <= eps * F.col("n_parts")
            ).alias("in_envelope"),
        )
    )
    return flags.unionByName(union)


_HLL_EPS = 0.05  # 3x HLL lgK=12's 1.04/sqrt(4096) ≈ 1.6% relative std err


@register(
    "hll_intersect_estimate",
    oracle="""
    SELECT CAST(count(DISTINCT CASE WHEN l_returnflag = 'A'
                                    THEN l_partkey END) AS BIGINT) AS n_a,
           CAST(count(DISTINCT CASE WHEN l_returnflag = 'N'
                                    THEN l_partkey END) AS BIGINT) AS n_n,
           CAST(count(DISTINCT CASE WHEN l_returnflag IN ('A', 'N')
                                    THEN l_partkey END) AS BIGINT) AS n_union,
           CAST(count(DISTINCT CASE WHEN l_returnflag = 'A'
                                    THEN l_partkey END) AS BIGINT)
           + CAST(count(DISTINCT CASE WHEN l_returnflag = 'N'
                                      THEN l_partkey END) AS BIGINT)
           - CAST(count(DISTINCT CASE WHEN l_returnflag IN ('A', 'N')
                                      THEN l_partkey END) AS BIGINT)
               AS n_intersect,
           TRUE AS a_in_envelope,
           TRUE AS n_in_envelope,
           TRUE AS union_in_envelope,
           TRUE AS intersect_in_envelope
    FROM lineitem
    """,
)
def hll_intersect_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-overlap estimation from mergeable sketches: |A∩B| via
    inclusion-exclusion (|A| + |B| − |A∪B|) over DataSketches HLL states —
    the join-cardinality / audience-overlap estimator that answers
    "how many part keys do the A and N channels share?" from two
    kilobyte sketches instead of a distinct-shuffle of both key sets.

    At 100 TB the sketches are precomputed per partition/day and merged;
    this query builds them in one conditional-aggregation scan (each side
    sketches only its channel's keys via a CASE input — no second scan,
    no semi join).

    Oracle-checked via a BRACKETING ENVELOPE (raw HLL estimates are
    engine-specific and unhashable): the output carries the EXACT distinct
    counts (deterministic BIGINTs the DuckDB oracle reproduces) plus
    booleans asserting each HLL estimate sits within ``eps = 5%`` of its
    exact value — 3x the lgK=12 relative standard error, so a correct
    sketch passes w.h.p.  The inclusion-exclusion intersection inherits
    all three per-sketch errors, so its envelope is the SUM of the three
    absolute bounds.  The exact counts here are the verification harness
    (one conditional count-distinct scan); production use at scale is the
    sketch path alone."""
    li = load_table(spark, sf_dir, "lineitem")
    a_key = F.when(F.col("l_returnflag") == "A", F.col("l_partkey"))
    n_key = F.when(F.col("l_returnflag") == "N", F.col("l_partkey"))
    u_key = F.when(
        F.col("l_returnflag").isin("A", "N"), F.col("l_partkey")
    )
    agg = li.agg(
        F.hll_sketch_agg(a_key, F.lit(12)).alias("sk_a"),
        F.hll_sketch_agg(n_key, F.lit(12)).alias("sk_n"),
        F.countDistinct(a_key).cast("bigint").alias("n_a"),
        F.countDistinct(n_key).cast("bigint").alias("n_n"),
        F.countDistinct(u_key).cast("bigint").alias("n_union"),
    )
    est = agg.select(
        "n_a",
        "n_n",
        "n_union",
        F.hll_sketch_estimate("sk_a").alias("_ea"),
        F.hll_sketch_estimate("sk_n").alias("_en"),
        F.hll_sketch_estimate(F.hll_union("sk_a", "sk_n", False)).alias("_eu"),
    )

    def _ok(est_col: str, exact: Column, bound: Column, tag: str) -> Column:
        return (F.abs(F.col(est_col) - exact) <= bound).alias(tag)

    eps = F.lit(_HLL_EPS)
    n_int = (F.col("n_a") + F.col("n_n") - F.col("n_union")).alias("n_intersect")
    int_est = F.col("_ea") + F.col("_en") - F.col("_eu")
    int_bound = eps * (F.col("n_a") + F.col("n_n") + F.col("n_union"))
    return est.select(
        "n_a",
        "n_n",
        "n_union",
        n_int,
        _ok("_ea", F.col("n_a"), eps * F.col("n_a"), "a_in_envelope"),
        _ok("_en", F.col("n_n"), eps * F.col("n_n"), "n_in_envelope"),
        _ok("_eu", F.col("n_union"), eps * F.col("n_union"), "union_in_envelope"),
        (
            F.abs(int_est - (F.col("n_a") + F.col("n_n") - F.col("n_union")))
            <= int_bound
        ).alias("intersect_in_envelope"),
    )


@register(
    "window_fullouter_cumulative",
    oracle="""
    WITH open_d AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders WHERE o_orderstatus = 'O' GROUP BY 1, 2),
    filled_d AS (
        SELECT o_orderpriority AS prio, CAST(o_orderdate AS DATE) AS day,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders WHERE o_orderstatus = 'F' GROUP BY 1, 2),
    open_c AS (
        SELECT prio, day,
               sum(cents) OVER (PARTITION BY prio ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS open_cum_cents
        FROM open_d),
    filled_c AS (
        SELECT prio, day,
               sum(cents) OVER (PARTITION BY prio ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_cum_cents
        FROM filled_d)
    SELECT coalesce(o.prio, f.prio) AS prio,
           coalesce(o.day, f.day) AS day,
           o.open_cum_cents,
           f.filled_cum_cents
    FROM open_c o FULL OUTER JOIN filled_c f
        ON o.prio = f.prio AND o.day = f.day
    """,
)
def window_fullouter_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51 shape: two per-channel daily cumulative revenue series
    (here: open vs filled orders) FULL OUTER JOINed on (priority, day) — the
    one query in the reference set that needs a full outer join
    (``q51.sql``), plus the ROWS-frame running sum it feeds.

    Revenue accumulates as integer cents so the running sums are exact
    bigints — engine-stable at any partition count (see the verify skill's
    determinism note). Spark coalesces the USING-style join keys itself;
    each branch is one partial-agg + one window over the same (prio-ranged)
    sort, and the full outer join shuffles only the ~|days|x|priorities|
    aggregated rows, never the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def branch(status: str, out: str) -> DataFrame:
        daily = (
            orders.filter(F.col("o_orderstatus") == status)
            .groupBy(
                F.col("o_orderpriority").alias("prio"),
                F.col("o_orderdate").cast("date").alias("day"),
            )
            .agg(F.sum(cents).alias("cents"))
        )
        w = (
            W.partitionBy("prio")
            .orderBy("day")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        # Group at day granularity but emit TIMESTAMP: DuckDB DATE arrives
        # in pandas as datetime64, and Spark DateType as datetime.date —
        # same value, different canonical string. Timestamp on both sides
        # renders identically.
        return daily.select(
            "prio",
            F.col("day").cast("timestamp").alias("day"),
            F.sum("cents").over(w).alias(out),
        )

    open_c = branch("O", "open_cum_cents")
    filled_c = branch("F", "filled_cum_cents")
    return open_c.join(filled_c, ["prio", "day"], "full")


@register(
    "agg_pivot_wide",
    oracle="""
    SELECT o_orderpriority,
           round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2)
               AS open_total,
           round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)
               AS filled_total,
           round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2)
               AS pending_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrame ``pivot()`` relational operator (long→wide reshape) —
    the API form of the reference's pervasive sum(CASE WHEN) pivot idiom
    (q36.sql:9). Pivot values are listed EXPLICITLY: with them the plan is a
    single pass (no extra distinct-values job) and deterministic column
    order; absent cells stay NULL, matching ELSE-less CASE aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
        .withColumnsRenamed(
            {"O": "open_total", "F": "filled_total", "P": "pending_total"}
        )
    )


@register(
    "set_except_all",
    oracle="""
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'
    EXCEPT ALL
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag (multiset) semantics, complementing the
    distinct-semantics EXCEPT of tpcds_q87: each l_orderkey survives
    max(0, n_N - n_R) times. SURVEY §7 flags q87's EXCEPT semantics as a
    hard part; covering BOTH forms pins the engine's behavior against the
    oracle. Spark plans
    exceptAll as a count-tagged aggregate + generate, not a pairwise join."""
    li = load_table(spark, sf_dir, "lineitem")
    n_side = li.filter(F.col("l_returnflag") == "N").select("l_orderkey")
    r_side = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return n_side.exceptAll(r_side)


@register(
    "time_rollup_multigrain",
    oracle="""
    WITH ev AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS bucket,
               count(*) AS n_events, sum(cents) AS cents
        FROM ev GROUP BY 1)
    SELECT 'hour' AS grain, bucket, n_events, cents / 100.0 AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day', date_trunc('day', bucket),
           CAST(sum(n_events) AS BIGINT), sum(cents) / 100.0
    FROM hourly GROUP BY 2
    UNION ALL
    SELECT 'month', date_trunc('month', bucket),
           CAST(sum(n_events) AS BIGINT), sum(cents) / 100.0
    FROM hourly GROUP BY 2
    """,
)
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: the event stream
    aggregated at hour/day/month grains in one result. The day and month
    series RE-AGGREGATE the hourly partials instead of rescanning the fact
    table — the hierarchical-rollup pattern that makes multi-grain
    materialized views cheap at 100 TB (coarser grains cost |hourly| rows,
    not |events|). Totals are integer cents, so every grain is exact."""
    events = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    # One fact-table scan; coarser grains derive from this result.
    hourly = (
        events.groupBy(F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count("*").alias("n_events"), F.sum(cents).alias("cents"))
        .localCheckpoint()
    )

    def regrain(grain: str) -> DataFrame:
        return (
            hourly.groupBy(F.date_trunc(grain, "bucket").alias("bucket"))
            .agg(F.sum("n_events").alias("n_events"), F.sum("cents").alias("cents"))
            .select(
                F.lit(grain).alias("grain"),
                "bucket",
                "n_events",
                (F.col("cents") / 100.0).alias("sum_value"),
            )
        )

    hour_out = hourly.select(
        F.lit("hour").alias("grain"),
        "bucket",
        "n_events",
        (F.col("cents") / 100.0).alias("sum_value"),
    )
    return hour_out.unionByName(regrain("day")).unionByName(regrain("month"))


_PCTL_EPS = 0.001  # 10x percentile_approx(accuracy=10000)'s 1e-4 rank bound


@register(
    "agg_approx_percentiles",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               list(value ORDER BY value)
                   FILTER (WHERE value IS NOT NULL) AS vs,
               CAST(count(value) AS BIGINT) AS n
        FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           vs[greatest(1, CAST(floor((0.50 - {_PCTL_EPS}) * n) AS BIGINT))]
               AS p50_lo,
           vs[least(n, CAST(ceil((0.50 + {_PCTL_EPS}) * n) AS BIGINT) + 1)]
               AS p50_hi,
           TRUE AS p50_in_envelope,
           vs[greatest(1, CAST(floor((0.99 - {_PCTL_EPS}) * n) AS BIGINT))]
               AS p99_lo,
           vs[least(n, CAST(ceil((0.99 + {_PCTL_EPS}) * n) AS BIGINT) + 1)]
               AS p99_hi,
           TRUE AS p99_in_envelope
    FROM g
    """,
)
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles (Greenwald-Khanna) — the 100 TB form of
    agg_percentiles: exact interpolated percentiles need a full sort per
    group, the sketch is fixed-size mergeable state (map-side partial, tiny
    final merge).

    Oracle-checked via a BRACKETING ENVELOPE (the raw estimate is
    engine-specific and unhashable): the output carries the EXACT order
    statistics at ranks ``floor((q-eps)*n)`` / ``ceil((q+eps)*n)+1`` —
    deterministic raw parquet doubles — plus a boolean asserting the
    sketch estimate falls between them.  GK with accuracy=10000 guarantees
    rank error <= n/10000; eps = 1e-3 gives 10x slack (+1 rank for
    rank-definition off-by-one), so the boolean is TRUE whenever the
    sketch honors its published bound, and the DuckDB oracle emits the
    same exact bounds with TRUE literals — a hash match certifies both
    the bounds and the guarantee.  The per-group ``collect_list`` here is
    the verification harness, not the operator: it exists to compute the
    exact bracket and is sized by the gate's fixture groups; production
    use is the sketch columns alone (fixed-size mergeable state)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.sort_array(F.collect_list("value")).alias("vs"),
        F.count("value").cast("bigint").alias("n"),
        F.percentile_approx("value", F.lit(0.50), F.lit(10000)).alias("_p50"),
        F.percentile_approx("value", F.lit(0.99), F.lit(10000)).alias("_p99"),
    )

    def _k_lo(q: float) -> Column:
        return F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.lit(q - _PCTL_EPS) * F.col("n")).cast("bigint"),
        )

    def _k_hi(q: float) -> Column:
        return F.least(
            F.col("n"),
            F.ceil(F.lit(q + _PCTL_EPS) * F.col("n")).cast("bigint") + 1,
        )

    def _bracket(q: float, tag: str, est: str) -> list[Column]:
        lo = F.element_at("vs", _k_lo(q).cast("int")).alias(f"{tag}_lo")
        hi = F.element_at("vs", _k_hi(q).cast("int")).alias(f"{tag}_hi")
        ok = (
            (F.element_at("vs", _k_lo(q).cast("int")) <= F.col(est))
            & (F.col(est) <= F.element_at("vs", _k_hi(q).cast("int")))
        ).alias(f"{tag}_in_envelope")
        return [lo, hi, ok]

    return g.select(
        "event_type",
        "n",
        *_bracket(0.50, "p50", "_p50"),
        *_bracket(0.99, "p99", "_p99"),
    )


@register(
    "agg_collect_set_sorted",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',')
               AS statuses,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: collect_set + sort_array + array_join — the
    group-to-list operator family (small per-group domains only; at scale an
    unbounded collect_list is the anti-pattern — pre-aggregate or cap with
    slice). Emitted as a joined string: deterministic regardless of
    accumulation order, and scalar for the value-hash gate."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
    )


@register(
    "json_struct_parse",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT)    AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-ful JSON parsing: ``from_json`` with an explicit struct schema
    (complementing path-extraction get_json_object — reference
    make_lakehouse_workload_logs.sh:91-95 consumes nested docs both ways).
    Parsing once into a typed struct beats per-field path extraction when
    several fields are read: one parse, then free column pruning."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k INT"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("p.k").cast("bigint").alias("sum_k"),
        F.max("p.k").cast("int").alias("max_k"),
    )


@register(
    "json_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS INT) % 10 AS k_mod,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
               AS sum_k
    FROM events
    GROUP BY 1, 2
    """,
)
def json_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` ingests the raw JSON once into the binary variant
    encoding, ``variant_get`` extracts typed paths. Versus per-field
    ``get_json_object`` string re-parsing, the variant parses each
    document ONCE and path access is a binary probe — the engine-native
    answer for schema-on-read columns whose shape drifts (the trace
    documents of the reference's EP3 pipeline are exactly this shape).
    Grouped here by k mod 10 to force the extracted value through
    arithmetic, proving it lands as a real INT, not a string.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("pv", F.parse_json("props"))
    k = F.variant_get("pv", "$.k", "int")
    return v.groupBy(
        "event_type", (k % 10).alias("k_mod")
    ).agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
    )


# Keep all of src0, half of src1, a quarter of src2, a tenth of src3;
# every other source drops out of the mixture entirely.
SAMPLE_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
SAMPLE_SEED = 42


# Weyl-style multiplier for the sampling hash (Knuth's 2^32/phi). Products
# stay < 2^63 for any realistic doc_id, so the arithmetic is exact int64.
_SAMPLE_MULT = 2654435761
_SAMPLE_MOD = 10000


def _sample_bucket(id_col: Column) -> Column:
    return F.pmod(id_col * F.lit(_SAMPLE_MULT) + F.lit(SAMPLE_SEED), F.lit(_SAMPLE_MOD))


@register(
    "sample_stratified",
    oracle=f"""
    SELECT source,
           count(*) AS n_sampled,
           min(doc_id) AS first_doc_id
    FROM documents
    WHERE (doc_id * {_SAMPLE_MULT} + {SAMPLE_SEED}) % {_SAMPLE_MOD} <
          CASE source
              WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
              WHEN 'src2' THEN 2500  WHEN 'src3' THEN 1000
              ELSE 0 END
    GROUP BY source
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus downsampling by deterministic hash thresholding:
    keep a row iff hash(doc_id) mod 10000 < fraction·10000 — the
    source-rebalancing primitive of a training-data pipeline (upweight
    books/wiki, downweight crawl), with sources absent from the mixture
    dropping out entirely.

    Hash thresholding, NOT ``df.sampleBy``: Spark's Bernoulli samplers seed
    an RNG per PARTITION, so the surviving rows change whenever the input
    layout changes — re-running after a repartition or compaction yields a
    different corpus. The content-hash rule is a pure column expression
    (narrow map, no shuffle) whose verdict per row is reproducible across
    layouts, engines, and re-runs — which is also what makes it exactly
    oracle-checkable and what a 100 TB pipeline needs for resumable,
    auditable dataset builds."""
    docs = load_table(spark, sf_dir, "documents")
    threshold = F.when(F.lit(False), F.lit(0))
    for src, frac in SAMPLE_FRACTIONS.items():
        threshold = threshold.when(
            F.col("source") == src, F.lit(int(frac * _SAMPLE_MOD))
        )
    sampled = docs.filter(
        _sample_bucket(F.col("doc_id")) < threshold.otherwise(F.lit(0))
    )
    return sampled.groupBy("source").agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("first_doc_id"),
    )

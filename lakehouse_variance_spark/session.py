"""SparkSession factory.

The reference delegates execution to a 4-worker Trino cluster
(``clusters/AWS/YAML/cluster.yaml:36-53``); our engine is Spark itself. The
defaults here are the cluster-ready ones — AQE on (runtime re-planning,
partition coalescing, skew-join splitting), UTC session time zone (oracle
comparability), Arrow for any pandas exchange — with the shuffle-partition
count sized from the env so the same code runs on ``local[32]`` and on a
1000-executor cluster (where the submitter overrides via ``--conf``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def env_int(name: str, default: int, minimum: int = 0) -> int:
    """Integer setting from environment variable ``name`` (``default``
    when unset or empty); a value that is not an integer of at least
    ``minimum`` raises a ValueError naming the variable."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        raise ValueError(f"${name} must be an integer, got {raw!r}") from None
    if value < minimum:
        raise ValueError(f"${name} must be >= {minimum}, got {value}")
    return value


def host_driver_mem() -> str:
    """Default driver heap: half the host's physical RAM, leaving the rest
    to the Python workers, off-heap buffers and the OS (a heap past RAM on
    a swapless host gets the JVM killed instead of raising an OOM), capped
    at 24g — the size local benchmarking found keeps GC pauses short and
    uniform (a 90g heap made collections bimodal)."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, ram // 2 >> 30))}g"


# Cores this process may run on: its affinity mask, not the whole box.
DEFAULT_CPUS = env_int(
    "SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)), minimum=1
)


def build_session(
    app_name: str = "lakehouse_variance_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. Shuffle partitions default to the core
    count locally — at 100 TB scale the submitter should set this to
    ~2-3x total executor cores (AQE coalesces the excess back down).
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Read INT64 TIMESTAMP(NANOS) parquet columns (which Spark's reader
        # otherwise rejects) as raw nanosecond longs; tables.load_table
        # converts them back to timestamps losslessly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # On a cluster, executor memory comes from the submitter instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or host_driver_mem(),
        )
    )
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_or_create(spark: SparkSession | None = None) -> SparkSession:
    """Return the active session, building one with engine defaults if absent."""
    if spark is not None:
        return spark
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()

"""Query registry — the engine's declared operator inventory.

Every implemented operator/query from SURVEY.md §2 registers itself here with
(a) a Spark DataFrame builder ``(spark, sf_dir) -> DataFrame`` and (b) where
SQL-expressible, an equivalent ANSI-SQL oracle string for DuckDB. The driver's
correctness gate compares the two at sf=0.01 (row count + schema +
order-insensitive value hash), so builders alias every computed column to the
exact name used in the oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optional DuckDB oracle SQL) to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from lakehouse_variance_spark.analytics import traces  # noqa: F401
    from lakehouse_variance_spark.functions import durations  # noqa: F401
    from lakehouse_variance_spark.operators import (  # noqa: F401
        behavior,
        cleaning,
        dedup,
        graph,
        ingest,
        mixture,
        multimodal,
        mutation,
        pipeline,
        profiling,
        ranges,
        redaction,
        relational,
        relational_ds2,
        relational_ds3,
        relational_ext,
        similarity,
        temporal,
        textops,
        timeseries,
    )
    from lakehouse_variance_spark.ml import predictor  # noqa: F401
    from lakehouse_variance_spark.plans import (  # noqa: F401
        features,
        job_local_texts,
        job_workload_texts,
        runner,
        ssb_local_texts,
        ssb_texts,
        ssb_workload_texts,
        tpcds_texts,
        tpcds_workload_texts,
        tpch_texts,
    )
    from lakehouse_variance_spark.scheduling import queries  # noqa: F401
    from lakehouse_variance_spark.sources import layout, scrub  # noqa: F401
    from lakehouse_variance_spark.streaming import (  # noqa: F401
        cdc_stream,
        ingest_stream,
        logs,
        state_v2,
    )

"""Workload-runner CLI — the engine's equivalent of the reference's
`docker/trino-client/src/run_workload.py` entry point.

Runs a query battery (the built-in verbatim TPC-DS / TPC-H texts, or any
directory of `q*.sql` files) against a scale-factor directory, one or
more attempts, sequentially or as N concurrent streams, and writes the
reference's NDJSON workload-log records (`Workload_log_BASE_<n>.ndjson`
with `query_id / Runtime (s) / elapsed_s / execution_s / planning_s /
resource_waiting_s` — `traces/README.md:34-44`) that the trace-analytics
layer (`analytics/traces.py`) loads directly.

Examples:
    python scripts/run_workload.py --battery tpcds --attempts 2
    python scripts/run_workload.py --battery tpch --streams 4
    python scripts/run_workload.py --queries-dir my_sql/ --sf-dir /root/testdata/sf0.1
    python scripts/run_workload.py --battery ssb --timeout-s 300
    python scripts/run_workload.py \
        --workload-ndjson <ref>/models/Queries/Baseline_SSB/ssb_Baseline_test.ndjson \
        --workload-schema ssb --timeout-s 300
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_variance_spark.plans import runner
from lakehouse_variance_spark.session import build_session


def _battery(name: str) -> list[tuple[str, str]]:
    if name == "tpcds":
        from lakehouse_variance_spark.plans.tpcds_texts import TPCDS_TEXTS

        return sorted(TPCDS_TEXTS.items())
    if name == "tpch":
        from lakehouse_variance_spark.plans.tpch_texts import TPCH_TEXTS

        return sorted(TPCH_TEXTS.items())
    if name == "ssb":
        from lakehouse_variance_spark.plans.ssb_texts import SSB_TEXTS

        return sorted(SSB_TEXTS.items())
    if name == "ssb_wl":
        from lakehouse_variance_spark.plans.ssb_workload_texts import TEXTS

        return sorted(TEXTS.items())
    if name == "imdb_wl":
        from lakehouse_variance_spark.plans.job_workload_texts import TEXTS

        return sorted(TEXTS.items())
    if name == "tpcds_wl":
        from lakehouse_variance_spark.plans.tpcds_workload_texts import TEXTS

        return sorted(TEXTS.items())
    raise SystemExit(
        f"unknown battery {name!r} "
        f"(tpcds | tpch | ssb | ssb_wl | imdb_wl | tpcds_wl)"
    )


_BATTERY_SCHEMAS = ("tpcds", "tpch", "ssb", "ssb_wl", "imdb_wl", "tpcds_wl")


def _register(battery: str | None, spark, sf_dir: str) -> None:
    if battery in ("tpcds", "tpcds_wl"):
        from lakehouse_variance_spark.plans.tpcds_schema import (
            register_tpcds_views,
        )

        register_tpcds_views(spark, sf_dir)
    elif battery == "tpch":
        from lakehouse_variance_spark.plans.tpch_ext import (
            register_tpch_ext_views,
        )

        register_tpch_ext_views(spark, sf_dir)
    elif battery in ("ssb", "ssb_wl"):
        from lakehouse_variance_spark.plans.ssb_schema import (
            register_ssb_views,
        )

        register_ssb_views(spark, sf_dir)
    elif battery == "imdb_wl":
        from lakehouse_variance_spark.plans.job_schema import (
            register_job_views,
        )

        register_job_views(spark, sf_dir)
    else:  # plain q*.sql directory: the base testdata views
        runner.register_sf_views(spark, sf_dir)


def _load_ndjson_workload(
    path: str, schema: str, size_of=None
) -> list[tuple[str, str]]:
    """Load a FULL reference workload file (query_id + SQL per line,
    `models/Queries/Baseline_*/*.ndjson` layout), normalized once so the
    texts parse on Spark (`synth_common.normalize_workload_sql`).

    COUNT(*) multiplicative fan-out texts are replaced by their exact
    count-product form (`fanout_rewrite.rewrite_fanout_count` — the rule
    Trino applies as push-partial-aggregation-through-join and Catalyst
    lacks; proven hash-identical on every firing text by
    `workload_oracle_sweep.py`, where the DuckDB oracle keeps the naive
    text)."""
    import json as _json

    from lakehouse_variance_spark.plans import synth_common as synth
    from lakehouse_variance_spark.plans.fanout_rewrite import (
        rewrite_fanout_count,
    )

    rw_schema = {"imdb": "job"}.get(schema, schema)
    out = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            rec = _json.loads(line)
            sql = synth.normalize_workload_sql(rec["SQL"])
            sql = rewrite_fanout_count(sql, rw_schema, size_of) or sql
            out.append((rec["query_id"], sql))
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--battery", choices=_BATTERY_SCHEMAS)
    src.add_argument("--queries-dir", help="directory of q*.sql files")
    src.add_argument(
        "--workload-ndjson",
        help="full reference workload file (query_id+SQL NDJSON); pair "
        "with --workload-schema",
    )
    ap.add_argument(
        "--workload-schema",
        choices=("ssb", "imdb", "tpcds"),
        help="derived schema to register for --workload-ndjson",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--attempts", type=int, default=1)
    ap.add_argument("--streams", type=int, default=1)
    ap.add_argument("--log-dir", default="workload_logs")
    ap.add_argument(
        "--timeout-s",
        type=float,
        default=None,
        help="per-query kill budget (reference config.py:6 uses 300)",
    )
    ap.add_argument("--limit", type=int, default=None,
                    help="run only the first N queries")
    ap.add_argument("--resume", action="store_true",
                    help="skip query ids already in the attempt's log "
                    "with a non-sentinel runtime (failed entries retry)")
    ap.add_argument("--warmup", action="store_true",
                    help="run one UNRECORDED battery pass before attempt "
                    "1 so recorded attempts measure steady state (Janino "
                    "codegen + JVM JIT of each plan are paid once per "
                    "session while build_session's codegen cache holds the "
                    "battery's classes, so without this, attempt 1 pollutes "
                    "the 5-run variance study — VERDICT r8 item 5; each "
                    "log record's codegen_compiles shows what a query "
                    "still compiled)")
    ap.add_argument("--no-calibrate", action="store_true",
                    help="skip the host-speed calibration micro-probe")
    args = ap.parse_args()

    # Session + schema views come FIRST so the ndjson loader's fan-out
    # rewrite can consult table row counts (the scale-aware single-many
    # rule, fanout_rewrite.SINGLE_MANY_*).
    spark = build_session(app_name="lvs-run-workload")
    spark.sparkContext.setLogLevel("ERROR")
    battery_key = args.battery or (
        "ssb_wl" if args.workload_schema == "ssb"
        else "imdb_wl" if args.workload_schema == "imdb"
        else "tpcds_wl" if args.workload_schema == "tpcds" else None
    )
    _register(battery_key, spark, args.sf_dir)

    if args.workload_ndjson:
        if not args.workload_schema:
            raise SystemExit("--workload-ndjson requires --workload-schema")
        from lakehouse_variance_spark.plans.fanout_rewrite import (
            spark_size_of,
        )

        queries = _load_ndjson_workload(
            args.workload_ndjson, args.workload_schema, spark_size_of(spark)
        )
    elif args.battery:
        queries = _battery(args.battery)
    else:
        queries = runner.load_queries_from_directory(args.queries_dir)
    if args.limit:
        queries = queries[: args.limit]
    if not queries:
        raise SystemExit("no queries to run")
    if battery_key in ("ssb_wl", "imdb_wl", "tpcds_wl"):
        # generated workload texts double-quote every identifier
        spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")

    # Host-speed calibration (VERDICT r8 item 1): fixed micro-probe
    # timings recorded alongside every battery artifact so cross-round
    # runtime ratios can be normalized for hypervisor throttling from
    # committed JSON alone (SCALE.md drift log).
    calib: dict[str, float] = {}
    if not args.no_calibrate:
        from lakehouse_variance_spark.plans.calibrate import (
            calibration_probe,
        )

        calib = calibration_probe(spark)
        print(f"# calibration: {calib}", file=sys.stderr)
        if not runner._is_remote_url(args.log_dir):
            os.makedirs(args.log_dir, exist_ok=True)
            with open(os.path.join(args.log_dir, "calibration.json"),
                      "w") as fh:
                json.dump(calib, fh)

    if args.warmup:
        warm = runner.run_workload(
            spark, queries, log_dir=None, timeout_s=args.timeout_s
        )
        ok = sum(1 for r in warm if r["Runtime (s)"] >= 0)
        print(f"# warmup (unrecorded): {ok}/{len(warm)} ok",
              file=sys.stderr)

    all_records = []
    for attempt in range(1, args.attempts + 1):
        if args.streams > 1:
            # Per-stream logs are named Workload_log_BASE_<stream>; give
            # each attempt its own directory so attempts don't overwrite.
            log_dir = (
                args.log_dir
                if args.attempts == 1
                else os.path.join(args.log_dir, f"attempt_{attempt}")
            )
            records = runner.run_workload_concurrent(
                spark, queries, streams=args.streams, log_dir=log_dir
            )
        else:
            records = runner.run_workload(
                spark,
                queries,
                log_dir=args.log_dir,
                attempt=attempt,
                timeout_s=args.timeout_s,
                resume=args.resume,
            )
        all_records.extend(records)
        ok = sum(1 for r in records if r["Runtime (s)"] >= 0)
        print(
            f"# attempt {attempt}: {ok}/{len(records)} ok, "
            f"{sum(r['Runtime (s)'] for r in records if r['Runtime (s)'] >= 0):.1f}s",
            file=sys.stderr,
        )

    ok = [r for r in all_records if r["Runtime (s)"] >= 0]
    print(
        json.dumps(
            {
                "queries": len(queries),
                "records": len(all_records),
                "failed": len(all_records) - len(ok),
                "total_runtime_s": round(sum(r["Runtime (s)"] for r in ok), 3),
                "log_dir": args.log_dir,
                **calib,
            }
        )
    )


if __name__ == "__main__":
    main()

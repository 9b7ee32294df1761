"""Query runner + plan feature extraction (reference run_workload.py and the
GNN plan featurization).
"""

from __future__ import annotations

from lakehouse_variance_spark.analytics.traces import load_workload_logs
from lakehouse_variance_spark.plans import features, runner


def test_load_queries_sorted(tmp_path):
    (tmp_path / "q2.sql").write_text("SELECT 2")
    (tmp_path / "q1.sql").write_text("SELECT 1  \n")
    (tmp_path / "notes.txt").write_text("skip me")
    qs = runner.load_queries_from_directory(tmp_path)
    assert qs == [("q1", "SELECT 1"), ("q2", "SELECT 2")]


def test_run_workload_log_roundtrip(spark, tmp_path):
    queries = [
        ("q1", "SELECT 1 AS x"),
        ("q2", "SELECT * FROM does_not_exist"),  # -> sentinel record
    ]
    records = runner.run_workload(spark, queries, log_dir=tmp_path, attempt=1)
    assert records[0]["Runtime (s)"] > 0
    assert records[0]["planning_s"] > 0 and records[0]["execution_s"] > 0
    assert records[1]["Runtime (s)"] == runner.SENTINEL
    assert "error" in records[1]

    # The log round-trips through the trace analytics loader: the sentinel
    # becomes NULL (helpers.py:150-159 semantics).
    df = load_workload_logs(spark, str(tmp_path))
    rows = {r["query_id"]: r for r in df.collect()}
    assert rows["1"]["runtime_s"] > 0
    assert rows["2"]["runtime_s"] is None


def test_run_workload_logs_codegen_compiles(spark, tmp_path):
    """Each record counts the classes Janino compiled for its query: the
    first run of a new plan compiles, a repeat finds its code cached. The
    trace loader reads the field as one more column."""
    queries = [("q1", "SELECT id * 730917 AS x FROM range(50) WHERE id % 7 = 3")]
    first = runner.run_workload(spark, queries, log_dir=tmp_path, attempt=1)
    again = runner.run_workload(spark, queries, log_dir=tmp_path, attempt=2)
    assert first[0]["codegen_compiles"] > 0
    assert again[0]["codegen_compiles"] == 0
    df = load_workload_logs(spark, str(tmp_path))
    got = {r["run"]: r["codegen_compiles"] for r in df.collect()}
    assert got == {"Run 1": first[0]["codegen_compiles"], "Run 2": 0}


def test_run_query_timeout_watchdog_kills_hung_query(spark):
    """The per-query budget (reference config.py:6's 5-minute kill):
    a deliberately huge cross-product is cancelled by the job-group
    watchdog and yields the sentinel record within the budget, and a
    normal query under an armed watchdog is untouched."""
    import time

    slow = (
        "SELECT count(*) AS n FROM range(100000000) a, range(1000000) b "
        "WHERE a.id + b.id < 0"
    )
    t0 = time.perf_counter()
    rec = runner.run_query(spark, "slow", slow, timeout_s=2.0)
    wall = time.perf_counter() - t0
    assert rec["Runtime (s)"] == runner.SENTINEL
    assert "error" in rec
    assert wall < 30  # killed promptly, not run to completion

    fast = runner.run_query(
        spark, "fast", "SELECT count(*) AS n FROM range(10)", timeout_s=60.0
    )
    assert fast["Runtime (s)"] >= 0


def test_plan_features_shape(spark):
    df = spark.range(100).filter("id > 5").selectExpr("id * 2 AS d")
    feats = features.plan_feature_rows(df)
    assert feats, "no plan nodes extracted"
    ops = [f["operator"] for f in feats]
    assert feats[0]["node_id"] == 0 and feats[0]["depth"] == 0
    assert any("Range" in op for op in ops)
    for f in feats:
        assert f["est_rows"] >= 1
        assert f["tuple_width_bytes"] >= 1
        assert f["log1p_est_rows"] > 0


def test_plan_feature_envelope_laws(spark):
    """The r10 envelope oracle's premise: the fixture join+agg plan
    optimizes to the same 9-node tree at every SF (measured r10 at
    sf0.001/0.01/0.1), and the estimate-law booleans all hold."""
    from lakehouse_variance_spark.plans.features import (
        _FEATURE_ENVELOPE_NODES,
        plan_feature_extract,
    )

    rows = plan_feature_extract(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == len(_FEATURE_ENVELOPE_NODES) == 9
    for r, const in zip(sorted(rows, key=lambda r: r.node_id),
                        _FEATURE_ENVELOPE_NODES):
        assert (r.node_id, r.depth, r.operator, r.n_output_cols,
                r.tuple_width_bytes) == const
        assert r.est_rows_positive and r.log1p_consistent
        assert r.preorder_nonincreasing and r.fact_leaf_dominates


def test_capture_query_info_roundtrips_through_flattener(spark, tmp_path):
    """EP1→EP3 closure: run a query on OUR engine, scrape its query-info
    document (SQLAppStatusStore — the SQL-tab store), and feed that doc to
    the same flattener that processes the reference's Trino scrapes."""
    import json as _json

    import pytest

    from lakehouse_variance_spark.analytics.traces import flatten_query_info
    from lakehouse_variance_spark.plans.runner import run_query_with_info

    record, info = run_query_with_info(
        spark,
        "q42",
        "SELECT id % 7 AS g, count(*) AS n FROM range(100000) GROUP BY id % 7",
        info_dir=tmp_path,
    )
    assert record["Runtime (s)"] > 0
    assert info["state"] == "FINISHED"
    assert info["queryStats"]["elapsedTime"].endswith("ms")
    assert info["plan"] and "Physical Plan" in info["plan"]
    assert any(m["name"] == "number of output rows" for m in info["metrics"])
    saved = _json.loads((tmp_path / "q42.json").read_text())
    assert saved["queryId"] == "q42"

    docs = spark.createDataFrame([(_json.dumps(info),)], "doc string")
    row = flatten_query_info(docs).collect()[0]
    assert row["query_id"] == 42
    assert row["elapsed_s"] == pytest.approx(record["elapsed_s"], abs=0.01)
    assert row["planning_s"] >= 0.0


def test_observation_metrics_piggyback_on_single_pass(spark):
    from pyspark.sql import functions as F

    from lakehouse_variance_spark.plans.runner import run_with_observation
    from lakehouse_variance_spark.tables import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    n, got = run_with_observation(
        li.filter(F.col("l_quantity") > 10),
        {
            "n_rows": F.count(F.lit(1)),
            "sum_qty_cents": F.sum(
                F.round(F.col("l_quantity") * 100).cast("bigint")
            ),
            "n_null_ship": F.sum(
                F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)
            ),
        },
    )
    expect = li.filter(F.col("l_quantity") > 10).agg(
        F.count(F.lit(1)),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")),
    ).collect()[0]
    assert n == got["n_rows"] == expect[0]
    assert got["sum_qty_cents"] == expect[1]
    assert got["n_null_ship"] == 0


def test_concurrent_workload_streams_overlap_and_log(spark, tmp_path):
    """Three streams of real queries run concurrently in one session:
    every record completes (no sentinel), per-stream logs land in the
    multi-run layout the trace analytics load, and wall-clock is clearly
    below the serialized sum (the streams actually overlapped)."""
    import time as _time

    from lakehouse_variance_spark.analytics.traces import load_workload_logs
    from lakehouse_variance_spark.plans.runner import (
        register_sf_views,
        run_workload_concurrent,
    )
    from lakehouse_variance_spark.plans.tpch_texts import TPCH_TEXTS

    register_sf_views(spark, "/root/testdata/sf0.001")
    queries = [(n, TPCH_TEXTS[n]) for n in ("tpch_q1", "tpch_q5", "tpch_q14")]
    t0 = _time.perf_counter()
    records = run_workload_concurrent(
        spark, queries, streams=3, log_dir=str(tmp_path)
    )
    wall = _time.perf_counter() - t0
    assert len(records) == 9
    assert all(r["Runtime (s)"] != -1 for r in records)
    assert sorted({r["stream"] for r in records}) == [1, 2, 3]
    busy = sum(r["Runtime (s)"] for r in records)
    assert wall < 0.8 * busy, f"streams serialized: wall={wall:.2f} busy={busy:.2f}"
    # the logs load through the same path as the reference's 5-run traces
    loaded = load_workload_logs(spark, str(tmp_path))
    assert loaded.count() == 9


def test_calibration_probe_shape(spark):
    """The host-speed probe emits the two committed keys with sane
    positive timings (cross-round bench normalization, VERDICT r8)."""
    from lakehouse_variance_spark.plans.calibrate import calibration_probe

    calib = calibration_probe(spark)
    assert set(calib) == {"calib_1t_s", "calib_32t_s"}
    assert 0 < calib["calib_1t_s"] < 120
    assert 0 < calib["calib_32t_s"] < 120


def test_run_workload_cli_on_sql_directory(spark, tmp_path, monkeypatch, capsys):
    """The CLI wrapper end-to-end on a q*.sql directory: arg parsing, view
    registration, NDJSON log layout, and the summary JSON line."""
    import json
    import sys

    qdir = tmp_path / "sql"
    qdir.mkdir()
    (qdir / "q1.sql").write_text(
        "SELECT r_name, count(*) AS n FROM region GROUP BY r_name"
    )
    from pathlib import Path

    scripts_dir = str(Path(__file__).resolve().parents[1] / "scripts")
    monkeypatch.syspath_prepend(scripts_dir)
    import run_workload as cli

    monkeypatch.setattr(
        sys,
        "argv",
        [
            "run_workload.py",
            "--queries-dir",
            str(qdir),
            "--sf-dir",
            "/root/testdata/sf0.001",
            "--log-dir",
            str(tmp_path / "logs"),
            "--no-calibrate",
        ],
    )
    # Reuse the session-fixture Spark (build_session is a getOrCreate).
    cli.main()
    out = capsys.readouterr().out.strip().splitlines()[-1]
    summary = json.loads(out)
    assert summary["failed"] == 0 and summary["records"] == 1
    log = tmp_path / "logs" / "Workload_log_BASE_1.ndjson"
    rec = json.loads(log.read_text().splitlines()[0])
    assert rec["query_id"] == "q1" and rec["Runtime (s)"] >= 0
    assert set(rec) >= {
        "query_id", "Runtime (s)", "elapsed_s", "execution_s",
        "planning_s", "resource_waiting_s",
    }


def test_workload_log_uploads_to_hadoop_fs_uri(spark, tmp_path):
    """The object-store results seam (reference run_workload.py:19-24,
    73-80 uploads via fsspec to s3://..., abfss://..., gs://...): a
    Hadoop-FS URI log_dir goes through join_url + upload_file. file:// is
    the scheme the test environment can actually serve; the same
    FileSystem.get(uri) dispatch handles the cloud schemes when their
    connectors are on the cluster classpath."""
    import json as _json

    remote = f"file://{tmp_path}/Results/run1"
    recs = runner.run_workload(
        spark,
        [("q1", "SELECT 1 AS one"), ("q2", "SELECT 2 AS two")],
        log_dir=remote,
        attempt=3,
    )
    assert len(recs) == 2
    out = tmp_path / "Results" / "run1" / "Workload_log_BASE_3.ndjson"
    assert out.exists(), "upload did not land at the file:// URI"
    lines = [_json.loads(l) for l in out.read_text().splitlines()]
    assert [r["query_id"] for r in lines] == ["q1", "q2"]
    assert all(r["Runtime (s)"] >= 0 for r in lines)


def test_upload_file_unknown_scheme_raises(spark, tmp_path):
    """An unconfigured scheme must raise loudly (no silent no-op log
    loss), mirroring fsspec's unknown-protocol error."""
    import pytest as _pytest

    local = tmp_path / "x.ndjson"
    local.write_text("{}\n")
    with _pytest.raises(Exception, match="(?i)no filesystem|unknown|scheme"):
        runner.upload_file(spark, local, "bogus-scheme://bucket/x.ndjson")


def test_join_url_matches_reference_semantics():
    """join_url mirrors reference run_workload.py:14-18 exactly."""
    assert (
        runner.join_url("s3://b/Results/", "run1", "lakehouse_run_1", "q1.json")
        == "s3://b/Results/run1/lakehouse_run_1/q1.json"
    )
    assert runner.join_url("gs://b/Results") == "gs://b/Results"
    assert runner.join_url("file:///tmp/r/", "", "a/", "/b") == "file:///tmp/r/a/b"


def test_run_query_observes_rows_out_without_second_scan(spark):
    """Per-query output-row accounting rides the drain job as an observed
    metric (accumulator semantics — no second scan): rows_out matches the
    query's actual cardinality, and the sentinel path omits it."""
    rec = runner.run_query(spark, "obs", "SELECT id FROM range(1234)")
    assert rec["rows_out"] == 1234
    bad = runner.run_query(spark, "boom", "SELECT 1/0 AS x")
    assert bad["Runtime (s)"] == runner.SENTINEL and "rows_out" not in bad


def test_run_workload_streams_log_and_resumes(spark, tmp_path):
    """Bulk-run robustness: the local log is written one flushed line per
    completed query, and resume=True skips completed ids while retrying
    sentinel (failed) entries."""
    import json as _json

    qs = [("a", "SELECT 1 AS x"), ("b", "SELECT 1/0 AS x"), ("c", "SELECT 3 AS x")]
    runner.run_workload(spark, qs, log_dir=str(tmp_path), attempt=7)
    log = tmp_path / "Workload_log_BASE_7.ndjson"
    first = [_json.loads(l) for l in log.read_text().splitlines()]
    assert [r["query_id"] for r in first] == ["a", "b", "c"]
    assert first[1]["Runtime (s)"] == runner.SENTINEL

    # resume with b fixed: a and c skip, only b re-runs and appends
    fixed = [("a", "SELECT 1 AS x"), ("b", "SELECT 2 AS x"), ("c", "SELECT 3 AS x")]
    recs = runner.run_workload(
        spark, fixed, log_dir=str(tmp_path), attempt=7, resume=True
    )
    lines = [_json.loads(l) for l in log.read_text().splitlines()]
    assert [r["query_id"] for r in lines] == ["a", "b", "c", "b"]
    assert lines[-1]["Runtime (s)"] >= 0
    # Returned records dedupe by query_id keeping the LATEST (ADVICE r7:
    # the superseded sentinel would double-count in len()/sum() summaries);
    # the NDJSON log above keeps the full history including the sentinel.
    assert sum(1 for r in recs if r["query_id"] == "b") == 1
    b = next(r for r in recs if r["query_id"] == "b")
    assert b["Runtime (s)"] >= 0  # the retried record, not the sentinel
    assert len(recs) == 3

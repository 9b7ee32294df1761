"""The repository benchmark: closed loop, one client, one process.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Run from the repository root.  The benchmark generates its inputs under
``.perfbench_data/`` (once per checkout; the first run also materializes
the derived schemas), pins the deployment (``SPARK_GRAFT_CPUS`` = nproc,
the JVM heap, local dirs inside the checkout, the checkout on the
Python workers' path), sets the workload up and runs one untimed warm-up
pass (``setup_s`` is the time from process start to the first timed op,
less input generation), then measures whole passes of the workload's ops
for at least ``--seconds`` and at least the workload's minimum pass count.
Every timed op is checked against DuckDB after the window: the row count
it observed while it ran, and the op's values (headline: the warm-up run
of each query; writes: every version an op produced or read).  An op that
raised or failed the check counts in ``failed``.  The seed orders every
pass and draws the write-op parameters; the generated tables do not
depend on it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, the layer
closure check and the tracing overhead instead.  The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  A run
record (deployment, sizes, CPU probe, per-op samples, spans) is written to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "lakehouse_variance_spark"
DATA_SEED = 42
CLOSURE_TOL = 0.05  # build + plan + exec must cover op wall within 5%


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="4g",
                    help="SPARK_GRAFT_DRIVER_MEM, fixed below host RAM")
    return ap.parse_args(argv)


def pin_deployment(args, work: str) -> dict:
    """Fix every setting the program reads from the environment, before it
    is imported (session.py reads the core count at import)."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "SPARK_LOCAL_DIRS": local,
        # Python workers import the package (Arrow/pandas UDFs)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "TMPDIR": tmp,
        # the JVM that assembles the spark-submit command line
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    for v in ("SPARK_GRAFT_ONLY", "SPARK_GRAFT_FORCE_DRAIN", "SPARK_MASTER"):
        os.environ.pop(v, None)
    return {"nproc": cpus, **env}


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def cpu_probe() -> float:
    """Seconds for a fixed single-thread Python loop: the host's speed
    right now, recorded before and after the window."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i
    return time.perf_counter() - t0


def source_digest() -> str:
    h = hashlib.md5()
    for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def git_head() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def ensure_data() -> tuple[str, float]:
    """Generated base tables, built once per checkout and generator
    version; returns (dir, seconds spent building)."""
    import datagen

    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(datagen.__file__, "rb") as fh:
        tag = hashlib.md5(fh.read()).hexdigest()[:10]
    data = os.path.join(ROOT, ".perfbench_data", f"sf0.1-{tag}-s{DATA_SEED}")
    if os.path.isdir(data):
        return data, 0.0
    t0 = time.perf_counter()
    shutil.rmtree(data + ".tmp", ignore_errors=True)
    datagen.write_dataset(data, DATA_SEED)
    return data, time.perf_counter() - t0


def derived_bytes(data: str) -> int:
    """Bytes of the derived-schema caches built from ``data``."""
    from lakehouse_variance_spark.plans import ssb_schema, tpcds_schema
    from lakehouse_variance_spark.plans.synth_common import (
        cache_dir,
        defs_fingerprint,
    )

    from workloads import dir_bytes

    return sum(
        dir_bytes(cache_dir(os.path.join(ROOT, root), data, defs_fingerprint(defs)))
        for root, defs in ((".tpcds_cache", tpcds_schema.TPCDS_DEFS),
                           (".ssb_cache", ssb_schema.SSB_DEFS))
    )


def jvm_peak_rss_kb(spark) -> int:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - already down
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_window(wl, spark, seconds: float, rng, traced_mode: bool):
    """Whole passes until ``seconds`` have elapsed and the workload's
    minimum pass count is reached.  In traced mode passes alternate
    untraced / traced, in whole pairs, so host drift hits both sides
    alike.  Returns the op samples and per-pass walls."""
    from tracing import StatusCounts, Tracer, status_attrs

    tracer = Tracer(StatusCounts(spark)) if traced_mode else None
    need = 2 if traced_mode else wl.MIN_PASSES
    samples = []  # (pass, traced, op, wall, result-or-exception)
    pass_walls = []  # (traced, wall)
    t_start = time.perf_counter()
    p = 0
    while True:
        traced = traced_mode and p % 2 == 1
        t_pass = time.perf_counter()
        for op in wl.pass_ops(rng):
            t0 = time.perf_counter()
            try:
                if traced:
                    try:
                        with tracer.span("op", op=op, pass_=p) as span:
                            res = wl.run(spark, op, rng, tracer)
                    finally:
                        tracer.counts.untag()
                    wall = span["end"] - span["start"]
                    # counts are read after the op span closes
                    res.update(status_attrs(spark, tracer.counts, res))
                    span["attrs"].update(
                        (k, v) for k, v in res.items() if k != "rows")
                else:
                    res = wl.run(spark, op, rng, None)
                    wall = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 - counted as failed
                print(f"# {op}: {type(exc).__name__}: {str(exc)[:200]}")
                res, wall = exc, time.perf_counter() - t0
            samples.append((p, traced, op, wall, res))
        pass_walls.append((traced, time.perf_counter() - t_pass))
        p += 1
        elapsed = time.perf_counter() - t_start
        if elapsed >= seconds and p >= need and p % (1 + traced_mode) == 0:
            return samples, pass_walls, elapsed, tracer


def layer_metrics(wl, tracer, samples, pass_walls, extra) -> dict:
    """Per-layer figures from the traced passes: per-op means of the span
    and status-store values, per-pass sums for the op groups."""
    traced = [s for s in samples if s[1] and isinstance(s[4], dict)]
    n = max(1, len(traced))
    n_pass = max(1, sum(1 for t, _ in pass_walls if t))
    op_spans = [s for s in tracer.spans if s["name"] == "op"]

    def child_sum(*names: str) -> float:
        return sum(c["end"] - c["start"] for o in op_spans
                   for c in tracer.children(o["id"]) if c["name"] in names)

    def attr_mean(key: str) -> float:
        return sum(float(s[4].get(key, 0)) for s in traced) / n

    def kind_mean(*kinds: str) -> float:
        vals = [s[3] for s in traced if s[2] in kinds]
        return sum(vals) / len(vals) if vals else 0.0

    out = {
        "registry.build_s": child_sum("build") / n,
        "registry.build_jobs": attr_mean("build_jobs"),
        "spark.plan_s": child_sum("plan") / n,
        "spark.exec_s": child_sum("drain", "commit", "read") / n,
    }
    for key in ("jobs", "stages", "tasks", "driver_gap_s", "scan_rows",
                "scan_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "task_cpu_s", "gc_s", "python_rows",
                "python_bytes"):
        out[f"spark.{key}"] = attr_mean(key)

    # layer closure: the child spans must account for the op spans
    op_wall = sum(o["end"] - o["start"] for o in op_spans)
    covered = child_sum("build", "plan", "drain", "commit", "read")
    gap = 1.0 - covered / op_wall if op_wall else 0.0
    out["trace.closure_gap_share"] = gap
    out["trace.closure_ok"] = float(abs(gap) <= CLOSURE_TOL)
    # tracing overhead: summed op wall of traced against untraced passes
    # (the status-store reads between traced ops are not counted)
    op_walls: dict[tuple[int, bool], float] = {}
    for p, is_traced, _, wall, _ in samples:
        op_walls[p, is_traced] = op_walls.get((p, is_traced), 0.0) + wall
    tw = [w for (_, t), w in op_walls.items() if t]
    uw = [w for (_, t), w in op_walls.items() if not t]
    out["trace.overhead_share"] = statistics.median(tw) / statistics.median(uw) - 1.0

    # op groups: summed op wall per traced pass
    for s in traced:
        for key in wl.groups(s[2]):
            out[key] = out.get(key, 0.0) + s[3] / n_pass

    out["snapshots.append_s"] = kind_mean("append")
    out["snapshots.delete_s"] = kind_mean("delete_slice", "delete_scatter")
    out["snapshots.optimize_s"] = kind_mean("optimize")
    out["snapshots.read_s"] = kind_mean("read")
    out["snapshots.asof_s"] = kind_mean("read_asof")
    if "table_bytes" in extra:
        for key in ("manifest_bytes", "live_files", "noop_delete_ratio"):
            out[f"snapshots.{key}"] = float(extra[key])
        out["snapshots.bytes_written"] = extra["table_bytes"] / extra["versions"]
    return out


def declared_metrics() -> dict:
    """Metric names and units, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    return {kind: {m["name"]: m["unit"] for m in doc[kind]}
            for kind in ("end_to_end", "per_layer")}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} sources under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        return _main(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _main(args, work: str) -> int:
    declared = declared_metrics()
    deploy = pin_deployment(args, work)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    data, build_s = ensure_data()

    import metrics as m
    from workloads import WORKLOADS, dir_bytes

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # --- set-up: from process start to the first timed op, including the
    # imports, the JVM launch and the untimed warm-up pass
    from lakehouse_variance_spark import registry
    from lakehouse_variance_spark.session import build_session

    t0 = time.perf_counter()
    registry.load_all()
    parts = {"registry.load_all_s": time.perf_counter() - t0}
    wl = WORKLOADS[args.workload](data, work)
    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    parts["session.build_s"] = time.perf_counter() - t0
    parts.update(wl.setup(spark))
    t0 = time.perf_counter()
    wl.warm(spark)
    parts["warm_s"] = time.perf_counter() - t0
    # the first run in a checkout also generates the inputs: not set-up
    setup_s = time.perf_counter() - T_PROCESS - build_s
    phases = {"setup": setup_s}

    rng = random.Random(args.seed)
    probe_before = cpu_probe()
    samples, pass_walls, window_s, tracer = run_window(
        wl, spark, args.seconds, rng, bool(args.trace))
    probe_after = cpu_probe()
    phases["window"] = window_s

    # --- correctness gate, outside the window
    import duckdb

    from scripts.canon import register_views

    t0 = time.perf_counter()
    duck = duckdb.connect(config={
        "threads": deploy["nproc"], "memory_limit": "1GB",
        "temp_directory": os.path.join(work, "duck"),
    })
    register_views(duck, data)
    ok_ops = [s for s in samples if not isinstance(s[4], Exception)]
    raised = len(samples) - len(ok_ops)
    verdicts = wl.gate(spark, duck, [(s[2], s[4]) for s in ok_ops])
    gate_failed = verdicts.count(False)
    phases["gate"] = time.perf_counter() - t0
    extra = wl.finish(spark)
    peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                   + jvm_peak_rss_kb(spark)) / 1024.0
    duck.close()
    stop_spark(spark)
    phases["stop"] = time.perf_counter() - t0 - phases["gate"]

    attempted = len(samples)
    failed = raised + gate_failed
    error_rate = m.error_rate(attempted, raised, gate_failed)
    measured = [s for s in samples if not s[1]]
    figures = wl.figures(measured, extra)
    tail_pct = m.highest_tail_pct(wl.ops_per_pass * wl.MIN_PASSES)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "deployment": deploy, "driver_heap": args.driver_mem,
        "git_head": git_head(), "source_md5": source_digest(),
        "data_dir": os.path.relpath(data, ROOT), "data_build_s": build_s,
        "input_bytes": dir_bytes(data), "derived_bytes": derived_bytes(data),
        "cpu_probe_s": {"before": probe_before, "after": probe_after},
        "setup_parts": parts, "phases": phases,
        "passes": len(pass_walls), "pass_walls": pass_walls,
        "attempted": attempted, "raised": raised, "gate_failed": gate_failed,
        "error_rate": error_rate, "peak_rss_mb": peak_rss_mb,
        "workload_figures": figures, "workload_state": extra,
        "ops": [s[:4] for s in samples],
    }
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={deploy['nproc']} heap={args.driver_mem} "
          f"input={record['input_bytes']}B derived={record['derived_bytes']}B "
          f"cpu_probe={probe_before:.3f}/{probe_after:.3f}s")
    print(f"# {attempted} ops in {len(pass_walls)} passes, {window_s:.1f}s window; "
          f"phases "
          f"{ {k: round(v, 1) for k, v in phases.items()} }")
    print(f"# error_rate {error_rate:.4f} ratio ({raised} raised + {gate_failed} "
          f"failed the gate, of {attempted}); peak_rss_mb {peak_rss_mb:.0f} MB")

    if args.trace:
        values = {k: v for k, v in parts.items() if k != "warm_s"}
        values.update(layer_metrics(wl, tracer, samples, pass_walls, extra))
        values.update(figures)
        values["gate.error_rate"] = error_rate
        values["process.peak_rss_mb"] = peak_rss_mb
        kind = "per_layer"
        if not values["trace.closure_ok"]:
            print(f"# layer closure: child spans miss op wall by "
                  f"{values['trace.closure_gap_share']:.1%} (> {CLOSURE_TOL:.0%})")
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"{args.workload}-seed{args.seed}-spans.json"))
    else:
        lat = [s[3] for s in measured]
        values = {
            "setup_s": setup_s,
            "throughput_ops_s": len(measured) / window_s,
            "latency_p50_s": m.percentile(lat, 50),
            "latency_tail_s": m.tail_latency(lat, tail_pct),
        }
        kind = "end_to_end"
        units = {**declared["end_to_end"], **declared["per_layer"]}
        for k, v in {**values, **figures}.items():
            print(f"# {k} {v:.6g} {units[k]}")
        print(f"# latency_p50_s and latency_tail_s (p{tail_pct}) are Harrell-Davis "
              f"estimates over {len(lat)} op latencies")
    undeclared = set(values) - set(declared[kind])
    if undeclared:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    # a layer the workload never touches reads 0
    result = {name: {"value": values.get(name, 0.0), "unit": unit}
              for name, unit in declared[kind].items()}
    record[kind] = result
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, default=str)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

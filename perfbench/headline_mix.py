"""The ``headline`` workload's query mix, derived from a measured profile.

A warm pass of all 99 ``bench.HEADLINE_QUERIES`` takes longer than one
benchmark run may, so the workload runs a weighted subset (``MIX``: query
-> repeats per pass).  The subset is chosen from a measured profile of the
99, so that a pass spends its time across registering modules, and across
query build, Catalyst planning and execution, in the shares the 99 do.

    python3 perfbench/headline_mix.py profile   # measure the 99 (~10 min)
    python3 perfbench/headline_mix.py select    # derive the mix, compare it

``profile`` runs the 99 under the benchmark's deployment: one untimed
first pass, then rounds of one untraced run (noop drain, the op's wall)
and one traced run (build / plan / exec spans) per query, and writes
``headline_profile.json``.  ``select`` prints the mix the profile gives
and the shares of the 99 next to the mix's.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PROFILE = os.path.join(HERE, "headline_profile.json")
PREFIX = "lakehouse_variance_spark."

# Derived by ``select`` from headline_profile.json, which prints how the
# mix compares with the 99.
MIX: dict[str, int] = {
    "ann_lsh_topk": 1,
    "bpe_first_merge_pairs": 1,
    "dedup_shingle_jaccard": 1,
    "mv_incremental_refresh": 1,
    "pack_bins_ffd": 1,
    "search_hybrid_rrf": 1,
    "tpcds_q4": 1,
    "tpch_q17": 1,
    "window_fullouter_cumulative": 1,
    "window_trailing_7d_sum": 1,
    "yoy_channel_growth_compare": 1,
    "yoy_decline_with_returns": 1,
}

MAX_DISTINCT = 12
PASS_S = (5.0, 6.0)  # warm seconds one pass of the mix may take
FIRST_RUN_S = 8.0  # first (cold) runs of the distinct queries, summed
MAX_REPEAT = 2
ORACLE_LIMIT_S = 20.0  # an op's oracle must finish within this to be gated
SPLIT = ("build_s", "plan_s", "exec_s")


def module_key(op: str) -> str:
    """The per-layer metric an op's wall counts toward."""
    from lakehouse_variance_spark import registry

    return f"ops.{registry.QUERIES[op].__module__.removeprefix(PREFIX)}.wall_s"


def has_fact_prune(op: str) -> bool:
    """Whether a verbatim TPC-DS text runs with a sales-fact prune."""
    from lakehouse_variance_spark.plans import tpcds_texts

    return op in tpcds_texts._FACT_PRUNES


# ---------------------------------------------------------------------------
# selection (pure; runs on the profile alone)
# ---------------------------------------------------------------------------


def shares(profile: dict, counts: dict[str, float]) -> tuple[dict, dict]:
    """(time share per module, time share per build/plan/exec phase) of a
    pass that runs each query ``counts[q]`` times."""
    by_module: dict[str, float] = {}
    split = dict.fromkeys(SPLIT, 0.0)
    for q, k in counts.items():
        rec = profile[q]
        by_module[rec["module"]] = by_module.get(rec["module"], 0.0) + k * rec["warm_s"]
        for phase in SPLIT:
            split[phase] += k * rec[phase]
    total = sum(by_module.values()) or 1.0
    traced = sum(split.values()) or 1.0
    return ({m: v / total for m, v in by_module.items()},
            {p: v / traced for p, v in split.items()})


def distance(target: tuple[dict, dict], got: tuple[dict, dict]) -> tuple[float, float]:
    """(total variation distance between module shares, largest phase
    share difference)."""
    mods = set(target[0]) | set(got[0])
    tvd = sum(abs(target[0].get(m, 0.0) - got[0].get(m, 0.0)) for m in mods) / 2
    return tvd, max(abs(target[1][p] - got[1][p]) for p in SPLIT)


def op_times(profile: dict, counts: dict[str, int]) -> list[float]:
    return [profile[q]["warm_s"] for q, k in counts.items() for _ in range(k)]


def select(profile: dict) -> dict[str, int]:
    """Deterministic search for the mix closest to the 99: twice the
    module-share distance, plus twice the largest phase-share gap, plus
    the relative gaps of the mean and median op time.  A greedy start adds
    one run at a time; local moves (one run more or less, one query
    swapped for another) then improve it until none does.  The pass must
    take ``PASS_S`` seconds warm, its distinct queries must fit
    ``MAX_DISTINCT`` and ``FIRST_RUN_S``, and a query whose oracle is too
    slow to gate every run is never picked (it still counts in the 99's
    shares)."""
    usable = sorted(q for q, r in profile.items()
                    if r["ok"] and r.get("oracle_s") is not None)
    target = shares(profile, dict.fromkeys(profile, 1))
    times = op_times(profile, dict.fromkeys(profile, 1))
    mean, median = statistics.mean(times), statistics.median(times)

    def score(c: dict[str, int]) -> float:
        tvd, split = distance(target, shares(profile, c))
        t = op_times(profile, c)
        return (2.0 * tvd + 2.0 * split + abs(statistics.mean(t) / mean - 1)
                + abs(statistics.median(t) / median - 1))

    def fits(c: dict[str, int]) -> bool:
        return (len(c) <= MAX_DISTINCT and max(c.values()) <= MAX_REPEAT
                and sum(op_times(profile, c)) <= PASS_S[1]
                and sum(profile[q]["first_s"] for q in c) <= FIRST_RUN_S)

    def best_of(moves, floor: float):
        best = None
        for c in moves:
            if c and fits(c) and (s := score(c)) < floor - 1e-12:
                if best is None or s < best[0]:
                    best = (s, c)
        return best

    counts: dict[str, int] = {}
    while sum(op_times(profile, counts)) < PASS_S[0]:
        step = best_of(({**counts, q: counts.get(q, 0) + 1} for q in usable),
                       float("inf"))
        if step is None:
            break
        counts = step[1]

    def moves(c: dict[str, int]):
        for q in usable:
            yield {**c, q: c.get(q, 0) + 1}
            if q in c:
                yield {r: k - (r == q) for r, k in c.items() if k - (r == q)}
                for r in usable:
                    if r not in c:
                        yield {**{x: k for x, k in c.items() if x != q}, r: c[q]}

    while (step := best_of((m for m in moves(counts)
                            if sum(op_times(profile, m)) >= PASS_S[0]),
                           score(counts))) is not None:
        counts = step[1]
    return dict(sorted(counts.items()))


def report(profile: dict, mix: dict[str, int]) -> str:
    """The 99's shares next to the mix's, per module and per phase."""
    target = shares(profile, dict.fromkeys(profile, 1))
    got = shares(profile, mix)
    tvd, split = distance(target, got)
    n99 = len(profile)
    t99, tmix = op_times(profile, dict.fromkeys(profile, 1)), op_times(profile, mix)
    layer = {q: {**r, "module": r["module"].split(".")[0]} for q, r in profile.items()}
    layer_tvd = distance(shares(layer, dict.fromkeys(layer, 1)), shares(layer, mix))[0]
    lines = [
        f"99 queries: warm pass {sum(r['warm_s'] for r in profile.values()):.1f} s, "
        f"{statistics.mean(r['warm_s'] for r in profile.values()):.3f} s/op",
        f"mix: {len(mix)} queries, {sum(mix.values())} ops/pass, warm pass "
        f"{sum(k * profile[q]['warm_s'] for q, k in mix.items()):.1f} s, "
        f"{sum(k * profile[q]['warm_s'] for q, k in mix.items()) / sum(mix.values()):.3f}"
        f" s/op, first runs {sum(profile[q]['first_s'] for q in mix):.1f} s",
        f"module-share distance (TVD) {tvd:.3f}; top-level package distance "
        f"{layer_tvd:.3f}; largest phase-share gap {split:.3f}",
        f"op time mean / median: 99 {statistics.mean(t99):.3f} / "
        f"{statistics.median(t99):.3f} s, mix {statistics.mean(tmix):.3f} / "
        f"{statistics.median(tmix):.3f} s",
        "phase            99     mix",
    ]
    for p in SPLIT:
        lines.append(f"{p:<14} {target[1][p]:6.3f} {got[1][p]:7.3f}")
    lines.append("module                                       99     mix  (queries: 99 / mix)")
    for m in sorted(target[0], key=lambda m: -target[0][m]):
        n_mix = sum(1 for q in mix if profile[q]["module"] == m)
        n_all = sum(1 for r in profile.values() if r["module"] == m)
        lines.append(f"{m:<42} {target[0][m]:6.3f} {got[0].get(m, 0.0):7.3f}"
                     f"  ({n_all} / {n_mix})")
    failed = [q for q, r in profile.items() if not r["ok"]]
    slow = [q for q, r in profile.items() if r.get("oracle_s", 0.0) is None]
    lines.append(f"{n99} profiled, {len(failed)} failed: {failed}; oracle over "
                 f"{ORACLE_LIMIT_S:g} s, so never picked: {slow}")
    return "\n".join(lines)


# ---------------------------------------------------------------------------
# profiling (drives Spark)
# ---------------------------------------------------------------------------


def profile_99(rounds: int = 2) -> dict:
    """Measure every headline query under the benchmark's deployment."""
    import time

    import run as runner

    sys.path.insert(0, runner.ROOT)
    work = os.path.join(runner.ROOT, ".perfbench_work", f"profile-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    runner.pin_deployment(runner.parse_args(
        ["--workload", "headline", "--seed", "0", "--seconds", "0"]), work)
    data, _ = runner.ensure_data()

    import bench
    from lakehouse_variance_spark import registry
    from lakehouse_variance_spark.session import build_session

    from tracing import StatusCounts, Tracer
    from workloads import Headline, observed_rows, run_query

    registry.load_all()
    spark = build_session(app_name="perfbench-profile",
                          extra_conf=runner.session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    for _, register in Headline.FAMILIES:
        register(spark, data)
    tracer = Tracer(StatusCounts(spark))
    out: dict[str, dict] = {}
    for q in bench.HEADLINE_QUERIES:
        t0 = time.perf_counter()
        try:
            rows = observed_rows(run_query(spark, data, q, None)["rows"])
            ok = True
        except Exception as exc:  # noqa: BLE001 - recorded, never selected
            print(f"# {q}: {type(exc).__name__}: {str(exc)[:200]}", file=sys.stderr)
            rows, ok = None, False
        out[q] = {"module": registry.QUERIES[q].__module__.removeprefix(PREFIX),
                  "first_s": time.perf_counter() - t0, "rows": rows, "ok": ok,
                  "warm": [], **{p: [] for p in SPLIT}}
    for _ in range(rounds):
        for q in bench.HEADLINE_QUERIES:
            rec = out[q]
            if not rec["ok"]:
                continue
            t0 = time.perf_counter()
            run_query(spark, data, q, None)
            rec["warm"].append(time.perf_counter() - t0)
            with tracer.span("op") as span:
                run_query(spark, data, q, tracer)
            tracer.counts.untag()
            kids = {c["name"]: c["end"] - c["start"]
                    for c in tracer.children(span["id"])}
            rec["build_s"].append(kids["build"])
            rec["plan_s"].append(kids["plan"])
            rec["exec_s"].append(kids["drain"])
        print(f"# round done: {sum(r['warm'][-1] for r in out.values() if r['ok']):.1f} s",
              file=sys.stderr)
    runner.stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)
    for rec in out.values():
        rec["warm_s"] = statistics.median(rec.pop("warm")) if rec["ok"] else 0.0
        for p in SPLIT:
            rec[p] = statistics.median(rec[p]) if rec["ok"] else 0.0
    return out


def time_oracles(profile: dict, data: str, limit_s: float | None = None) -> None:
    """Time every query's DuckDB oracle on the generated tables; an oracle
    still running after ``limit_s`` is interrupted and marked as too slow
    for the per-run correctness gate (``oracle_s`` is ``None``)."""
    import threading
    import time

    import duckdb

    from lakehouse_variance_spark import registry
    from scripts.canon import register_views

    duck = duckdb.connect(config={"threads": os.cpu_count() or 1,
                                  "memory_limit": "1GB"})
    register_views(duck, data)
    for q, rec in profile.items():
        timer = threading.Timer(limit_s or ORACLE_LIMIT_S, duck.interrupt)
        timer.start()
        t0 = time.perf_counter()
        try:
            duck.sql(registry.ORACLES[q]).df()
            rec["oracle_s"] = time.perf_counter() - t0
        except duckdb.Error:
            rec["oracle_s"] = None
        finally:
            timer.cancel()
    duck.close()


def main(argv: list[str]) -> int:
    sys.path.insert(0, HERE)
    if argv[:1] == ["profile"]:
        prof = profile_99()
        import run as runner

        time_oracles(prof, runner.ensure_data()[0])
        with open(PROFILE, "w") as fh:
            json.dump(prof, fh, indent=1, sort_keys=True)
        print(report(prof, select(prof)))
        return 0
    if argv[:1] == ["select"]:
        with open(PROFILE) as fh:
            prof = json.load(fh)
        mix = select(prof)
        print(json.dumps(mix, indent=4))
        print(report(prof, mix))
        if MIX and MIX != mix:
            print("# the profile gives a different mix than MIX", file=sys.stderr)
            return 1
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

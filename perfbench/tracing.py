"""Spans and Spark status-store counts for the traced run.

Spans are recorded around the benchmark's own calls into each layer (the
registry query function, Catalyst planning, the drain, the snapshot calls); the
program itself is not instrumented.  Counts come from Spark's own stores:
job, stage and task metrics from the core ``AppStatusStore`` and SQL
metrics through ``plans.runner.capture_query_info``.  Everything stays in
memory until ``Tracer.dump`` writes it when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from metrics import union_seconds

from lakehouse_variance_spark.plans.runner import capture_query_info

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")


def _metric_value(text: str) -> float:
    """Numeric value of a formatted SQL metric.  Per-task metrics render as
    ``total (min, med, max ...)\\n<total> (...)``; the total comes first on
    the second line."""
    line = text.split("\n")[-1]
    m = _SIZE.match(line.strip())
    if m:
        return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    m = re.match(r"[\d.,]+", line.strip())
    return float(m.group(0).replace(",", "")) if m else 0.0


def python_metrics(spark) -> tuple[float, float]:
    """(rows, bytes) exchanged with Python workers by the most recent SQL
    execution.  The ``PythonSQLMetrics`` of one operator are consecutive
    accumulators: data sent, data returned, the worker timings, then its
    output-row count."""
    doc = capture_query_info(
        spark,
        "trace",
        {"elapsed_s": 0.0, "execution_s": 0.0, "planning_s": 0.0,
         "resource_waiting_s": 0.0},
    )
    rows = nbytes = 0.0
    in_python = False
    for m in doc["metrics"]:
        name = m["name"]
        if name in ("data sent to Python workers",
                    "data returned from Python workers"):
            nbytes += _metric_value(m["value"])
            in_python = True
        elif in_python and name == "number of output rows":
            rows += _metric_value(m["value"])
            in_python = False
    return rows, nbytes


class StatusCounts:
    """Job, stage and task counts of the Spark jobs an op started.  Jobs
    are tagged with a fresh job group per phase, so reading them back
    costs nothing inside the op's span."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        self._n = 0

    def tag(self, label: str) -> str:
        """Put the jobs started from now on in a new group; returns it."""
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self._sc.setJobGroup(group, label)
        return group

    def untag(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def collect(self, job_ids: list[int]) -> dict:
        """Summed task metrics of the given jobs' stages, plus the wall
        time their stages covered (for ``spark.driver_gap_s``)."""
        out = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0, "scan_rows": 0,
            "scan_bytes": 0, "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "task_cpu_s": 0.0,
            "gc_s": 0.0, "stage_intervals": [],
        }
        seen_stages: set[int] = set()
        for jid in job_ids:
            try:
                job = self._store.job(jid)
            except Exception:  # evicted from the store
                continue
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["scan_rows"] += st.inputRecords()
                out["scan_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                sub, done = st.submissionTime(), st.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["stage_intervals"].append(
                        (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                    )
        return out


def status_attrs(spark, counts: StatusCounts, res: dict) -> dict:
    """Counts for one traced op from what ``run`` returned: the jobs of
    its build and exec groups, and the part of its exec ``window`` that no
    stage covered: time spent outside any stage."""
    c = counts.collect(counts.jobs(res["exec_group"]))
    if "build_group" in res:
        c["build_jobs"] = len(counts.jobs(res["build_group"]))
    lo, hi = res["window"]
    clipped = [
        (max(s, lo), min(e, hi)) for s, e in c.pop("stage_intervals")
        if e > lo and s < hi
    ]
    c["driver_gap_s"] = max(0.0, (hi - lo) - union_seconds(clipped))
    c["python_rows"], c["python_bytes"] = python_metrics(spark)
    return c


class Tracer:
    """In-memory span recorder.  A span is (id, name, parent, start, end,
    attrs); times are ``time.time()`` seconds so they line up with the
    status store's wall-clock stage times.  ``counts`` reads the Spark
    jobs the traced ops start."""

    def __init__(self, counts: StatusCounts):
        self.counts = counts
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)

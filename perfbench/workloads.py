"""The benchmark's workloads, driven only through the program's public calls.

Each workload offers the same steps to the runner:

* ``setup(spark)`` — everything a client pays before its first query
  (view registration or table creation); returns per-layer timings;
* ``warm(spark)`` — one untimed pass before the window;
* ``pass_ops(rng)`` — one pass of the workload's ops in seeded order;
* ``run(spark, op, rng, trace)`` — one op; ``trace`` is ``None`` on
  measured runs, so they pay for nothing but the op itself and the
  observation of its row count; traced, it also returns the job groups of
  the op's Spark jobs and its exec interval;
* ``gate(spark, duck, timed)`` — after the window, the correctness
  verdict per timed op;
* ``finish(spark)`` / ``figures(samples, state)`` — state after the
  window, and the workload's own end-to-end figures;
* ``groups(op)`` — the per-layer op groups an op's wall counts toward.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from lakehouse_variance_spark import registry
from lakehouse_variance_spark.plans import ssb_schema, tpcds_schema
from lakehouse_variance_spark.plans.runner import register_sf_views
from lakehouse_variance_spark.sources import snapshots
from lakehouse_variance_spark.tables import load_table
from scripts.canon import canon_hash

import headline_mix
from metrics import bytes_per_user_byte, percentile


def drain(df) -> None:
    """Run the whole plan and discard the rows (Spark's ``noop`` sink)."""
    df.write.format("noop").mode("overwrite").save()


def observe_rows(df):
    """``df`` with its row count observed while it runs: the gate checks
    the count of every timed execution after the window."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def observed_rows(obs, wait_s: float = 5.0) -> int | None:
    """The row count an observation saw, or ``None`` if its query never
    reported one (the listener bus delivers it asynchronously)."""
    future = obs._jo.future()
    deadline = time.perf_counter() + wait_s
    while not future.isCompleted():
        if time.perf_counter() > deadline:
            return None
        time.sleep(0.01)
    return int(obs.get["rows"])


def _traced(trace, name: str, fn):
    """Run ``fn`` inside a child span when tracing, plainly otherwise."""
    if trace is None:
        return fn()
    with trace.span(name):
        return fn()


def run_query(spark, data_dir: str, op: str, trace) -> dict:
    """One registry query, built and drained, with its row count observed.

    Untraced (``trace`` is ``None``) the query is drained through ``noop``,
    as a client would.  Traced, the build, Catalyst planning and execution
    are separate spans: ``executedPlan()`` plans the query, and
    ``Dataset.collect`` on the JVM side runs that same planned query inside
    its own SQL execution (rows stay in the JVM), so the query is planned
    once.  Traced, the result also names the job groups of the build and
    the execution and the execution's wall interval."""
    fn = registry.QUERIES[op]
    if trace is None:
        df, obs = observe_rows(fn(spark, data_dir))
        drain(df)
        return {"rows": obs}
    build_group = trace.counts.tag("build")
    df, obs = _traced(trace, "build", lambda: observe_rows(fn(spark, data_dir)))
    exec_group = trace.counts.tag("exec")
    _traced(trace, "plan", df._jdf.queryExecution().executedPlan)
    t0 = time.time()
    _traced(trace, "drain", df._jdf.collect)
    return {"rows": obs, "build_group": build_group, "exec_group": exec_group,
            "window": (t0, time.time())}


# ---------------------------------------------------------------------------
# headline: a measured mix of bench.HEADLINE_QUERIES
# ---------------------------------------------------------------------------


class Headline:
    """A weighted mix of the ``bench.py`` headline queries over the
    generated sf0.1 tables, drained through ``noop``.

    A warm pass of all 99 headline queries takes longer than a whole
    benchmark run may, so a pass runs ``MIX``: queries and repeat counts
    that ``headline_mix.py`` derived from a measured profile of the 99
    (``headline_profile.json``) so that the pass's time shares per
    registering module and its build / plan / exec split match the 99's.
    The mix is identical in every run; the seed only orders it.
    """

    name = "headline"
    MIX = headline_mix.MIX
    MIN_PASSES = 2
    ops_per_pass = sum(MIX.values())
    # view families the ops read; registered during setup
    FAMILIES = (
        ("base", register_sf_views),
        ("tpcds", tpcds_schema.register_tpcds_views),
        ("ssb", ssb_schema.register_ssb_views),
    )

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        missing = [n for n in self.MIX if n not in registry.QUERIES]
        if missing:
            raise KeyError(f"ops not in the registry: {missing}")
        self.first: dict[str, object] = {}

    def groups(self, op: str) -> list[str]:
        """Per-layer op groups ``op``'s wall counts toward."""
        out = [headline_mix.module_key(op)]
        if op.startswith("tpcds_q"):
            out.append("tpcds.prune_group_s" if headline_mix.has_fact_prune(op)
                       else "tpcds.control_group_s")
        return out

    def setup(self, spark) -> dict[str, float]:
        out = {}
        for family, register in self.FAMILIES:
            t0 = time.perf_counter()
            register(spark, self.data_dir)
            out[f"plans.materialize.{family}_s"] = time.perf_counter() - t0
        out["plans.materialize_s"] = sum(out.values())
        return out

    def warm(self, spark) -> None:
        """One untimed run of every op; its result is kept for the gate."""
        for op in self.MIX:
            try:
                self.first[op] = registry.QUERIES[op](spark, self.data_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 - the gate counts it
                print(f"# warm {op}: {type(exc).__name__}: {str(exc)[:200]}")
                self.first[op] = None

    def pass_ops(self, rng) -> list[str]:
        ops = [op for op, k in self.MIX.items() for _ in range(k)]
        rng.shuffle(ops)
        return ops

    def run(self, spark, op: str, rng, trace) -> dict:
        return run_query(spark, self.data_dir, op, trace)

    def expected(self, duck, op: str) -> tuple[int, str] | None:
        """(rows, value hash) of ``op``'s DuckDB oracle on the generated
        tables, cached next to them per oracle text; ``None`` without an
        oracle."""
        oracle = registry.ORACLES.get(op)
        if oracle is None:
            return None
        key = hashlib.md5(f"{op}\n{oracle}".encode()).hexdigest()
        path = os.path.join(f"{self.data_dir}-oracles", f"{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return tuple(json.load(fh))
        want = duck.sql(oracle).df()
        out = (len(want), canon_hash(want))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(out, fh)
        os.replace(path + ".tmp", path)
        return out

    def check(self, duck, op: str) -> tuple[bool, int | None]:
        """Compare the warm-up run's rows and value hash with the oracle's;
        returns (verdict, expected row count).  Without an oracle only the
        row count is checked, against the warm-up run's."""
        got = self.first[op]
        if got is None:
            return False, None
        want = self.expected(duck, op)
        if want is None:
            return True, len(got)
        return len(got) == want[0] and canon_hash(got) == want[1], want[0]

    def gate(self, spark, duck, timed: list[tuple[str, object]]) -> list[bool]:
        """A timed execution passes when the row count it observed while
        it ran equals the oracle's and the op's warm-up result matched the
        oracle's rows and value hash."""
        checks = {op: self.check(duck, op) for op in self.MIX}
        out = []
        for op, res in timed:
            ok, want_rows = checks[op]
            out.append(ok and observed_rows(res["rows"]) == want_rows)
        return out

    def finish(self, spark) -> dict:
        return {}

    def figures(self, samples, state: dict) -> dict:
        return {}


# ---------------------------------------------------------------------------
# lakehouse_writes: a seeded commit / read mix over one versioned table
# ---------------------------------------------------------------------------

SLICE_ORDERS = 2_500  # orders per appended slice (~10k lineitem rows)
N_SLICES = 150_000 // SLICE_ORDERS
INIT_SLICES = 4
SNAPSHOT_VIEW = "perfbench_snapshot"
# An order-insensitive digest of table versions in a lineitem-shaped
# relation ``t`` with a ``version`` column: exact integer sums per (flag,
# status, line number) group, identical on Spark and DuckDB, compared with
# canon_hash like every other result.
DIGEST_SQL = """
SELECT version, l_returnflag, l_linestatus, l_linenumber, count(*) AS n,
  CAST(sum(l_orderkey) AS BIGINT) AS sum_orderkey,
  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey,
  CAST(sum(l_suppkey) AS BIGINT) AS sum_suppkey,
  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
  CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc,
  CAST(sum(CAST(round(l_tax * 100) AS BIGINT)) AS BIGINT) AS sum_tax,
  CAST(sum(year(l_shipdate) * 10000 + month(l_shipdate) * 100
           + day(l_shipdate)) AS BIGINT) AS sum_shipday
FROM {t}
GROUP BY version, l_returnflag, l_linestatus, l_linenumber
"""


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class LakehouseWrites:
    """Appends, copy-on-write deletes, compaction and current / time-travel
    reads over one table through ``sources.snapshots``.

    A pass is a fixed multiset of ops in seeded order: two appends of the
    next lineitem slices, a delete of the oldest live slice, a scattered
    delete (``l_returnflag = 'R' AND l_linenumber = k``, k drawn from the
    seed, so it touches every file), an ``optimize_snapshot``, two reads
    of the current version and one of an earlier version.  The table
    grows by about one slice per pass.  Every version an op produced or
    read is checked afterwards against DuckDB applying the same sequence
    to the generated lineitem file, and every timed read must have
    observed the row count of the version it read.
    """

    name = "lakehouse_writes"
    PASS = ("append", "append", "delete_slice", "delete_scatter", "optimize",
            "read", "read", "read_asof")
    COMMITS = ("append", "delete_slice", "delete_scatter", "optimize")
    MIN_PASSES = 4
    ops_per_pass = len(PASS)

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.table = ""
        self.want_rows: dict[int, int] = {}

    # -- model of the table: per live slice, the scattered deletes applied
    # since it was appended; one frozen copy per version
    def _reset(self, table: str) -> None:
        self.table = table
        self.next_slice = 0
        self.live: list[tuple[int, tuple[str, ...]]] = []
        self.models: dict[int, tuple] = {}
        self.head = 0
        self.appended: list[int] = []
        self.noop_deletes = 0
        self.deletes = 0

    def _slice_bounds(self, s: int) -> tuple[int, int]:
        return s * SLICE_ORDERS, (s + 1) * SLICE_ORDERS - 1

    def _slice_df(self, spark, s: int):
        lo, hi = self._slice_bounds(s)
        return load_table(spark, self.data_dir, "lineitem").where(
            f"l_orderkey BETWEEN {lo} AND {hi}"
        )

    def _commit(self, version: int) -> int:
        if version != self.head:
            self.models[version] = tuple(self.live)
            self.head = version
        return version

    def _append(self, spark, trace=None) -> int:
        if self.next_slice >= N_SLICES:
            raise RuntimeError("lineitem slices exhausted")
        s = self.next_slice
        df = self._slice_df(spark, s)
        v = _traced(trace, "commit", lambda: snapshots.write_snapshot(
            df, self.table, "append"))
        self.next_slice += 1
        self.live.append((s, ()))
        self.appended.append(s)
        return self._commit(v)

    def setup(self, spark) -> dict[str, float]:
        t0 = time.perf_counter()
        self._reset(os.path.join(self.work_dir, "table"))
        for _ in range(INIT_SLICES):
            self._append(spark)
        return {"snapshots.create_s": time.perf_counter() - t0}

    def _measure_slices(self) -> list[int]:
        """In-memory (Arrow) bytes of each slice: the user data a commit of
        that slice carries."""
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.data_dir, "lineitem.parquet"))
        ids = t["l_orderkey"].to_numpy() // SLICE_ORDERS
        return [t.filter(ids == s).nbytes for s in range(N_SLICES)]

    def warm(self, spark) -> None:
        import random

        rng = random.Random(0)
        for op in self.pass_ops(rng):
            self.run(spark, op, rng, None)

    def groups(self, op: str) -> list[str]:
        return []

    def pass_ops(self, rng) -> list[str]:
        ops = list(self.PASS)
        rng.shuffle(ops)
        return ops

    def run(self, spark, op: str, rng, trace) -> dict:
        """Run one op; returns the version it produced or read (plus the
        status counts when traced)."""
        if trace is not None:
            exec_group = trace.counts.tag("exec")
        t0 = time.time()
        if op == "append":
            v = self._append(spark, trace)
        elif op in ("delete_slice", "delete_scatter"):
            if op == "delete_slice":
                s = self.live[0][0]
                lo, hi = self._slice_bounds(s)
                pred = f"l_orderkey BETWEEN {lo} AND {hi}"
            else:
                k = rng.randint(1, 7)
                pred = f"l_returnflag = 'R' AND l_linenumber = {k}"
            before = self.head
            v = _traced(trace, "commit", lambda: snapshots.delete_from_snapshot(
                spark, self.table, pred))
            self.deletes += 1
            self.noop_deletes += v == before
            if op == "delete_slice":
                self.live.pop(0)
            else:
                self.live = [(s, preds + (pred,)) for s, preds in self.live]
            self._commit(v)
        elif op == "optimize":
            v = self._commit(_traced(trace, "commit", lambda:
                                     snapshots.optimize_snapshot(spark, self.table)))
        elif op in ("read", "read_asof"):
            v = self.head if op == "read" else rng.choice(sorted(self.models)[-9:-1])

            def read():
                df, obs = observe_rows(snapshots.read_snapshot(spark, self.table, v))
                drain(df)
                return obs

            obs = _traced(trace, "read", read)
        else:
            raise ValueError(op)
        out = {"version": v}
        if op in ("read", "read_asof"):
            out["rows"] = obs
        if trace is not None:
            out.update(exec_group=exec_group, window=(t0, time.time()))
        return out

    def expected_sql(self, version: int) -> str:
        """DuckDB: the rows ``version`` must hold, from the generated
        lineitem file and the model of the commits so far."""
        conds = []
        for s, preds in self.models[version]:
            lo, hi = self._slice_bounds(s)
            c = f"(l_orderkey BETWEEN {lo} AND {hi}"
            for p in preds:
                c += f" AND NOT coalesce({p}, false)"
            conds.append(c + ")")
        src = os.path.join(self.data_dir, "lineitem.parquet")
        return (f"SELECT {version} AS version, * FROM read_parquet('{src}') "
                f"WHERE {' OR '.join(conds) or 'false'}")

    def check_versions(self, spark, duck, versions: list[int]) -> dict[int, bool]:
        """One digest job per engine over all ``versions``, compared per
        version with canon_hash; also keeps each version's expected row
        count in ``want_rows``."""
        from functools import reduce

        from pyspark.sql import functions as F

        try:
            df = reduce(lambda a, b: a.unionByName(b), (
                snapshots.read_snapshot(spark, self.table, v)
                .withColumn("version", F.lit(v)) for v in versions))
            df.createOrReplaceTempView(SNAPSHOT_VIEW)
            got = spark.sql(DIGEST_SQL.format(t=SNAPSHOT_VIEW)).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed check is a result
            print(f"# gate: {type(exc).__name__}: {str(exc)[:200]}")
            if len(versions) == 1:
                return {versions[0]: False}
            out = {}
            for v in versions:  # find which versions fail to read
                out.update(self.check_versions(spark, duck, [v]))
            return out
        rel = "(" + " UNION ALL ".join(self.expected_sql(v) for v in versions) + ")"
        want = duck.sql(DIGEST_SQL.format(t=rel)).df()
        out = {}
        for v in versions:
            g = got[got.version == v].drop(columns="version")
            w = want[want.version == v].drop(columns="version")
            self.want_rows[v] = int(w["n"].sum())
            out[v] = len(g) > 0 and len(g) == len(w) and canon_hash(
                g.reset_index(drop=True)) == canon_hash(w.reset_index(drop=True))
        return out

    def gate(self, spark, duck, timed: list[tuple[str, object]]) -> list[bool]:
        """Check every version a timed op produced or read, then give each
        op the verdict of its version; a timed read also passes only if
        the row count it observed while it ran is the version's."""
        versions = sorted({res["version"] for _, res in timed})
        verdict = self.check_versions(spark, duck, versions) if versions else {}
        return [verdict[res["version"]] and (
            "rows" not in res
            or observed_rows(res["rows"]) == self.want_rows.get(res["version"]))
            for _, res in timed]

    def finish(self, spark) -> dict:
        """Table-level figures after the window."""
        log = snapshots.history(self.table)
        slice_bytes = self._measure_slices()
        return {
            "table_bytes": dir_bytes(self.table),
            "user_bytes": sum(slice_bytes[s] for s in self.appended),
            "manifest_bytes": dir_bytes(os.path.join(self.table, "_versions")),
            "live_files": next(h["n_files"] for h in log if h["version"] == self.head),
            "versions": len(log),
            "noop_delete_ratio": self.noop_deletes / max(1, self.deletes),
        }

    def figures(self, samples, state: dict) -> dict:
        """This workload's own end-to-end figures: commit and read medians
        over the untraced ``samples`` and storage amplification."""
        commits = [s[3] for s in samples if s[2] in self.COMMITS]
        reads = [s[3] for s in samples if s[2] in ("read", "read_asof")]
        return {
            "writes.commit_p50_s": percentile(commits, 50),
            "writes.read_p50_s": percentile(reads, 50),
            "writes.bytes_per_user_byte": bytes_per_user_byte(
                state["table_bytes"], state["user_bytes"]),
        }


WORKLOADS = {w.name: w for w in (Headline, LakehouseWrites)}

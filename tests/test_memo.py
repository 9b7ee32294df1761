"""Per-session state (memo.py): every memo is the session's own, follows
the files it was computed from, and dies with its session."""

from __future__ import annotations

import gc
import os
import shutil
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lakehouse_variance_spark import registry
from lakehouse_variance_spark.memo import memo, session_state
from lakehouse_variance_spark.tables import TABLE_NAMES, load_table
from tests.conftest import SF_DIR

registry.load_all()


class _Session:
    """Stand-in for a SparkSession: memo.py needs only an object."""


class _Handle:
    def __init__(self, session):
        self.session = session  # like a DataFrame's back-reference


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _rewrite(path: str, table: pa.Table) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


@pytest.fixture
def sf_copy(tmp_path):
    """A writable copy of the tier-1 dataset."""
    out = tmp_path / "sf"
    out.mkdir()
    for t in TABLE_NAMES:
        shutil.copyfile(
            os.path.join(SF_DIR, f"{t}.parquet"), out / f"{t}.parquet"
        )
    return str(out)


def test_memo_recomputes_on_stamp_change_only(tmp_path):
    s = _Session()
    path = tmp_path / "f"
    path.write_text("a")
    calls = []

    def compute():
        calls.append(1)
        return path.read_text()

    assert memo(s, "k", compute, (str(path),)) == "a"
    assert memo(s, "k", compute, (str(path),)) == "a"
    assert len(calls) == 1
    path.write_text("bb")  # size changes even if mtime_ns would not
    assert memo(s, "k", compute, (str(path),)) == "bb"
    assert len(calls) == 2


def test_memo_stores_nothing_when_compute_raises():
    s = _Session()

    def boom():
        raise RuntimeError("no value")

    with pytest.raises(RuntimeError):
        memo(s, "k", boom)
    assert "k" not in session_state(s)
    assert memo(s, "k", lambda: 7) == 7


def test_session_state_is_per_session_and_dies_with_it():
    a, b = _Session(), _Session()
    memo(a, "k", lambda: _Handle(a))
    assert "k" not in session_state(b)
    # The memoized value points back at its session, as every DataFrame
    # does; the state must still not keep the session alive.
    ref = weakref.ref(a)
    del a
    gc.collect()
    assert ref() is None


def test_new_session_runs_text_queries_after_first_registered(spark):
    """A second session's register helpers must not trust the first
    session's catalog token: temp views are per session."""
    names = ("tpcds_q3", "sql_text_cube")
    want = {n: _rows(registry.QUERIES[n](spark, SF_DIR)) for n in names}
    other = spark.newSession()
    for n in reversed(names):
        assert _rows(registry.QUERIES[n](other, SF_DIR)) == want[n], n
    # ...and the first session's own views are untouched by the second's.
    n = names[-1]
    assert _rows(registry.QUERIES[n](spark, SF_DIR)) == want[n]


def test_load_table_binds_to_its_own_session(spark):
    other = spark.newSession()
    other.conf.set("spark.sql.session.timeZone", "America/New_York")
    a = load_table(spark, SF_DIR, "nation")
    b = load_table(other, SF_DIR, "nation")
    assert a.sparkSession is spark
    assert b.sparkSession is other
    assert load_table(other, SF_DIR, "nation") is b
    # The load path pins UTC on every session it serves, new ones included.
    assert other.conf.get("spark.sql.session.timeZone") == "UTC"


def test_base_rewrite_refreshes_table_handle_and_stream_schema(spark, sf_copy):
    from lakehouse_variance_spark.streaming.logs import streaming_events

    nation = os.path.join(sf_copy, "nation.parquet")
    events = os.path.join(sf_copy, "events.parquet")
    before = load_table(spark, sf_copy, "nation")
    assert before.count() == 25
    assert "extra" not in streaming_events(spark, sf_copy).columns

    _rewrite(nation, pq.read_table(nation).slice(0, 10))
    ev = pq.read_table(events)
    _rewrite(events, ev.append_column("extra", pa.array([1] * ev.num_rows)))

    after = load_table(spark, sf_copy, "nation")
    assert after is not before
    assert after.count() == 10
    assert "extra" in streaming_events(spark, sf_copy).columns


def test_derived_family_follows_base_rewrite(
    spark, sf_copy, tmp_path, monkeypatch
):
    """A derived cache is keyed by its base files' stamps: rebuilding a
    base table at the same path re-derives the family, and the fan-out
    rewrite's row counts follow the new data."""
    from lakehouse_variance_spark.plans import fanout_rewrite, ssb_schema

    monkeypatch.setattr(ssb_schema, "_CACHE_ROOT", str(tmp_path / "ssb"))
    seen = []

    def spy(text, schema, size_of):
        seen.append(size_of("customer"))
        return None

    monkeypatch.setattr(fanout_rewrite, "rewrite_fanout_count", spy)

    def derived_and_counted() -> tuple[int, int]:
        ssb_schema.register_ssb_views(spark, sf_copy)
        rows = spark.table("customer").count()
        fanout_rewrite.sized_rewrite("SELECT 1", "ssb", spark)
        return rows, seen[-1]

    base = os.path.join(sf_copy, "customer.parquet")
    full = pq.read_table(base).num_rows
    assert derived_and_counted() == (full, full)
    _rewrite(base, pq.read_table(base).slice(0, full // 2))
    assert derived_and_counted() == (full // 2, full // 2)


def test_rebuilt_family_drops_the_trees_it_supersedes(spark, sf_copy, tmp_path):
    """Publishing a derived tree deletes the older trees of the same
    sf_dir; trees of another sf_dir, and trees whose _DONE names no
    sf_dir, stay."""
    from lakehouse_variance_spark.plans import synth_common as synth

    cache_root = tmp_path / "cache"
    other_sf = tmp_path / "other_sf"
    shutil.copytree(sf_copy, other_sf)
    legacy = cache_root / "legacy"
    legacy.mkdir(parents=True)
    (legacy / "_DONE").write_text("0123456789ab\n")

    def register(sf_dir) -> None:
        synth.materialize_and_register(
            spark, str(sf_dir), {"tiny_nation": "SELECT n_nationkey FROM nation"},
            ("nation",), str(cache_root), build_sql=lambda sql: sql,
        )

    def trees_of(sf_dir) -> list[str]:
        return sorted(
            d.name for d in cache_root.iterdir()
            if (d / "_DONE").read_text().splitlines()[1:] == [str(sf_dir)]
        )

    register(sf_copy)
    register(other_sf)
    first = trees_of(sf_copy)
    assert len(first) == 1 and len(trees_of(other_sf)) == 1
    nation = os.path.join(sf_copy, "nation.parquet")
    _rewrite(nation, pq.read_table(nation).slice(0, 10))
    register(sf_copy)
    assert spark.table("tiny_nation").count() == 10
    rebuilt = trees_of(sf_copy)
    assert len(rebuilt) == 1 and rebuilt != first
    assert len(trees_of(other_sf)) == 1
    assert legacy.is_dir()

"""Snapshot/time-travel laws: append/overwrite visibility, rollback,
schema evolution, commit-log integrity, expire semantics, and
metadata-only planning (the manifest schema; job ceilings)."""

from __future__ import annotations

from pathlib import Path

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from lakehouse_variance_spark.sources.snapshots import (
    current_version,
    expire_snapshots,
    history,
    read_snapshot,
    rollback,
    write_snapshot,
)
from lakehouse_variance_spark.tables import load_table
from tests.conftest import SF_DIR


def _orders(spark):
    return load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


def test_time_travel_append_overwrite_rollback(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    orders = _orders(spark)
    first = orders.filter(F.col("o_orderkey") % 3 == 0)
    second = orders.filter(F.col("o_orderkey") % 3 == 1)
    third = orders.filter(F.col("o_orderkey") % 3 == 2)

    v1 = write_snapshot(first, tbl, mode="append")
    v2 = write_snapshot(second, tbl, mode="append")
    v3 = write_snapshot(third, tbl, mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)

    n1, n2, n3 = first.count(), second.count(), third.count()
    assert read_snapshot(spark, tbl, 1).count() == n1
    assert read_snapshot(spark, tbl, 2).count() == n1 + n2  # append unions
    assert read_snapshot(spark, tbl, 3).count() == n3  # overwrite replaces
    assert read_snapshot(spark, tbl).count() == n3  # latest by default

    v4 = rollback(tbl, 2)
    assert v4 == 4
    assert read_snapshot(spark, tbl).count() == n1 + n2
    # rolled-PAST version still readable — history is never rewritten
    assert read_snapshot(spark, tbl, 3).count() == n3

    ops = [h["operation"] for h in history(tbl)]
    assert ops == ["append", "append", "overwrite", "rollback->2"]


def test_snapshot_schema_evolution_merges(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    base = _orders(spark).limit(100)
    write_snapshot(base, tbl, mode="append")
    evolved = base.withColumn("channel", F.lit("web"))
    write_snapshot(evolved, tbl, mode="append")

    latest = read_snapshot(spark, tbl)
    assert "channel" in latest.columns
    # old files surface NULL for the new column; new files carry it
    counts = dict(
        latest.groupBy(F.col("channel").isNull().alias("is_old"))
        .count()
        .collect()
    )
    assert counts == {True: 100, False: 100}
    # a v1 reader still sees the ORIGINAL shape
    assert "channel" not in read_snapshot(spark, tbl, 1).columns


def test_snapshot_concurrent_commit_detected(spark, tmp_path):
    # Two writers that both read parent=1 race for v2: the second publish
    # must fail loudly instead of silently clobbering the first.
    tbl = str(tmp_path / "tbl")
    write_snapshot(_orders(spark).limit(10), tbl)
    from lakehouse_variance_spark.sources import snapshots as S

    def manifest(cid):
        return {
            "version": 2,
            "parent": 1,
            "operation": "append",
            "commit_id": cid,
            "schema": {"type": "struct", "fields": []},
            "files": [],
        }

    S._commit(tbl, manifest("winner"))
    with pytest.raises(RuntimeError, match="concurrent commit"):
        S._commit(tbl, manifest("loser"))
    # the winner's manifest is untouched
    import json

    assert (
        json.loads(S._manifest_path(tbl, 2).read_text())["commit_id"]
        == "winner"
    )


def _lone_checksums(table_dir) -> list[str]:
    """The ``.<name>.crc`` files under a table's data dir whose data file
    is gone."""
    data = Path(table_dir) / "data"
    return sorted(
        str(c) for c in data.rglob(".*.crc")
        if not c.with_name(c.name[1:-len(".crc")]).exists()
    )


def test_expire_snapshots_keeps_live_files(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    orders = _orders(spark)
    write_snapshot(orders.limit(50), tbl, mode="append")
    write_snapshot(orders.limit(60), tbl, mode="overwrite")
    write_snapshot(orders.limit(70), tbl, mode="overwrite")

    deleted = expire_snapshots(tbl, keep_last=2)
    assert deleted, "v1's files were only referenced by v1"
    assert _lone_checksums(tbl) == []
    # live versions unaffected
    assert read_snapshot(spark, tbl, 2).count() == 60
    assert read_snapshot(spark, tbl, 3).count() == 70
    # expired version now raises (tombstoned, not silently empty)
    with pytest.raises(Exception):
        read_snapshot(spark, tbl, 1).count()


def test_streaming_snapshot_sink_exactly_once(spark, tmp_path):
    # Each micro-batch commits one snapshot version; a replayed batch_id
    # (Structured Streaming's at-least-once foreachBatch contract) is
    # recognized and skipped, so totals never double-count.
    from lakehouse_variance_spark.sources.snapshots import (
        committed_stream_batches,
        snapshot_batch_writer,
    )
    from lakehouse_variance_spark.streaming.logs import streaming_events

    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    stream = streaming_events(spark, SF_DIR).select(
        "event_id", "event_type", "value"
    )
    writer = snapshot_batch_writer(tbl)
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert read_snapshot(spark, tbl).count() == total
    batches = committed_stream_batches(tbl)
    assert batches, "no stream batches committed"

    # replay the LAST batch verbatim — must be a no-op
    v_before = current_version(tbl)
    replay_id = max(batches)
    batch_df = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    writer(batch_df, replay_id)
    assert current_version(tbl) == v_before
    assert read_snapshot(spark, tbl).count() == total

    # a genuinely NEW batch still lands
    writer(batch_df.limit(5), replay_id + 1)
    assert read_snapshot(spark, tbl).count() == total + 5


def test_branch_commits_do_not_move_main(spark, tmp_path):
    """Iceberg ref semantics: a branch fork takes commits without
    mainline readers seeing them; main keeps advancing independently."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    v1 = write_snapshot(orders.limit(10), t, mode="overwrite")
    snap.create_branch(t, "dev")
    vb = snap.commit_to_branch(orders.limit(5), t, "dev", mode="append")
    assert vb == v1 + 1
    # mainline read (no version) still sees only v1's 10 rows
    assert read_snapshot(spark, t).count() == 10
    # branch read sees 15
    assert snap.read_ref(spark, t, "dev").count() == 15
    # a mainline commit after the branch commit: parent must be v1, not vb
    v3 = write_snapshot(orders.limit(3), t, mode="append")
    assert read_snapshot(spark, t).count() == 13
    assert snap.list_refs(t)["branches"]["main"] == v3
    assert snap.read_ref(spark, t, "dev").count() == 15  # branch untouched


def test_tags_pin_versions_and_never_move(spark, tmp_path):
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    v1 = write_snapshot(orders.limit(4), t, mode="overwrite")
    snap.create_tag(t, "audit-2026q1")
    write_snapshot(orders.limit(6), t, mode="append")
    assert snap.read_ref(spark, t, "audit-2026q1").count() == 4
    with pytest.raises(ValueError):
        snap.create_tag(t, "audit-2026q1")  # tags are immutable
    with pytest.raises(ValueError):
        snap.commit_to_branch(orders.limit(1), t, "audit-2026q1")
    assert snap.resolve_ref(t, "audit-2026q1") == v1


def test_expire_keeps_ref_targets_alive(spark, tmp_path):
    """Tagged/branched snapshots survive expiry even when old enough to
    be expired by the keep_last window."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.limit(2), t, mode="overwrite")
    snap.create_tag(t, "keepme")  # pins v1
    for k in (3, 4, 5, 6):
        write_snapshot(orders.limit(k), t, mode="overwrite")
    expire_snapshots(t, keep_last=1)
    # v1 is far outside keep_last=1, but the tag keeps its files alive
    assert snap.read_ref(spark, t, "keepme").count() == 2
    # an untagged expired version's files are gone
    with pytest.raises(Exception):
        read_snapshot(spark, t, 2).count()


def test_expire_retention_is_per_ref_not_global(spark, tmp_path):
    """Branch commits occupy global version numbers; the keep window must
    walk each ref's parent chain, or branch spam would evict MAIN's
    recent history from a global last-N window."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.limit(2), t, mode="overwrite")  # v1 (main)
    write_snapshot(orders.limit(3), t, mode="overwrite")  # v2 (main head)
    snap.create_branch(t, "dev")
    for k in (4, 5, 6, 7):  # v3..v6 — all on dev, filling a global window
        snap.commit_to_branch(orders.limit(k), t, "dev", mode="overwrite")
    expire_snapshots(t, keep_last=2)
    # main's lineage (v2 head + v1 parent) survives: under the old GLOBAL
    # last-2 window (v5, v6) both would have been physically expired.
    assert read_snapshot(spark, t, 2).count() == 3
    assert read_snapshot(spark, t, 1).count() == 2
    # dev keeps its last two ancestors (v6, v5); v3 is expired
    assert snap.read_ref(spark, t, "dev").count() == 7
    with pytest.raises(Exception):
        read_snapshot(spark, t, 3).count()


def test_delete_from_snapshot_merge_on_read(spark, tmp_path):
    """A safe-set DELETE writes no data file: it records a pending delete
    over the files its stats cannot rule out, every read applies it, and
    time travel still sees the old rows."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.filter("o_orderkey % 2 = 0").repartition(2), t,
                   mode="overwrite")
    write_snapshot(orders.filter("o_orderkey % 2 = 1").repartition(2), t,
                   mode="append")
    before = snap._read_manifest(t, current_version(t))["files"]
    n_before = read_snapshot(spark, t).count()
    n_odd = read_snapshot(spark, t).filter("o_orderkey % 2 = 1").count()
    v = snap.delete_from_snapshot(spark, t, "o_orderkey % 2 = 1")
    after = snap._read_manifest(t, v)
    # no file written or removed: the bounds of o_orderkey % 2 are
    # unknown, so every file is covered by the one pending entry
    assert after["files"] == before
    assert [d["files"] for d in after["deletes"]] == [before]
    assert read_snapshot(spark, t).count() == n_before - n_odd
    assert read_snapshot(spark, t).filter("o_orderkey % 2 = 1").count() == 0
    # time travel: pre-delete version still has the odd rows
    assert read_snapshot(spark, t, v - 1).filter(
        "o_orderkey % 2 = 1"
    ).count() == n_odd
    # no-op delete (the stats bound o_orderkey below) returns the same version
    assert snap.delete_from_snapshot(spark, t, "o_orderkey < 0") == v
    assert current_version(t) == v


def test_delete_from_snapshot_copy_on_write(spark, tmp_path):
    """A DELETE outside the safe set rewrites only the files containing
    matches; untouched files carry over by reference, and time travel
    still sees the old rows."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    # two commits -> two file groups; the predicate only touches commit 2
    write_snapshot(orders.filter("o_orderkey % 2 = 0").repartition(2), t,
                   mode="overwrite")
    write_snapshot(orders.filter("o_orderkey % 2 = 1").repartition(2), t,
                   mode="append")
    # LIKE is outside the safe set; every TPC-H priority holds a '-'
    pred = "o_orderkey % 2 = 1 AND o_orderpriority LIKE '%-%'"
    before = snap._read_manifest(t, current_version(t))["files"]
    n_before = read_snapshot(spark, t).count()
    n_odd = read_snapshot(spark, t).filter("o_orderkey % 2 = 1").count()
    assert read_snapshot(spark, t).filter(pred).count() == n_odd
    v = snap.delete_from_snapshot(spark, t, pred)
    after = snap._read_manifest(t, v)["files"]
    # even files (commit 1) carried over by reference
    assert set(f for f in before if "/c1-" in f) <= set(after)
    # odd files rewritten away
    assert not any("/c2-" in f for f in after)
    assert read_snapshot(spark, t).count() == n_before - n_odd
    assert read_snapshot(spark, t).filter("o_orderkey % 2 = 1").count() == 0
    # time travel: pre-delete version still has the odd rows
    assert read_snapshot(spark, t, v - 1).filter(
        "o_orderkey % 2 = 1"
    ).count() == n_odd
    # no-op delete returns the same version
    assert snap.delete_from_snapshot(spark, t, "o_orderkey < 0") == v


def test_optimize_snapshot_compacts_files(spark, tmp_path):
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    for i in range(4):
        write_snapshot(orders.filter(f"o_orderkey % 4 = {i}").repartition(3),
                       t, mode="append")
    v0 = current_version(t)
    files0 = snap._read_manifest(t, v0)["files"]
    n0 = read_snapshot(spark, t).count()
    v = snap.optimize_snapshot(spark, t)
    files1 = snap._read_manifest(t, v)["files"]
    assert len(files1) < len(files0)
    after = read_snapshot(spark, t)
    assert after.count() == n0
    # content parity via an order-insensitive EXACT aggregate (double sums
    # re-associate across partitionings; integer cents do not)
    cents = F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
    a = read_snapshot(spark, t, v0).agg(cents).collect()[0][0]
    b = after.agg(cents).collect()[0][0]
    assert a == b


def test_remove_orphan_files_only_touches_unreferenced(spark, tmp_path):
    """A crashed commit leaves data files with no manifest: orphan cleanup
    removes exactly those and every committed version still reads."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.limit(5), t, mode="overwrite")
    write_snapshot(orders.limit(7), t, mode="append")
    # simulate a crashed commit: files written, manifest never published
    orphan_dir = f"{t}/data/c99-deadbeef"
    orders.limit(3).write.parquet(orphan_dir)
    # the grace window protects in-flight commits: fresh orphans survive
    assert snap.remove_orphan_files(t) == []
    deleted = snap.remove_orphan_files(t, older_than_seconds=0)
    assert deleted and all("c99-deadbeef" in f for f in deleted)
    assert _lone_checksums(t) == []
    assert read_snapshot(spark, t).count() == 12
    assert read_snapshot(spark, t, 1).count() == 5
    # second run is a no-op
    assert snap.remove_orphan_files(t, older_than_seconds=0) == []


def test_metadata_tables_and_incremental_read(spark, tmp_path):
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.limit(10), t, mode="append")
    write_snapshot(orders.limit(20), t, mode="append")
    write_snapshot(orders.limit(5), t, mode="append")

    files = snap.files_table(spark, t)
    total_rows = files.agg({"record_count": "sum"}).collect()[0][0]
    assert total_rows == 35
    assert files.filter("file_size_bytes <= 0").count() == 0

    hist = snap.history_table(spark, t)
    assert [r.version for r in hist.orderBy("version").collect()] == [1, 2, 3]

    # incremental: exactly v2+v3's appends
    delta = snap.read_version_changes(spark, t, 1, 3)
    assert delta.count() == 25
    # crossing an overwrite refuses
    write_snapshot(orders.limit(3), t, mode="overwrite")
    with pytest.raises(ValueError, match="non-append"):
        snap.read_version_changes(spark, t, 2, 4)


def test_write_audit_publish_flow(spark, tmp_path):
    """WAP: stage commits on an audit branch, validate, fast-forward main.
    Publishing atomically exposes every staged commit; a diverged main
    refuses the fast-forward."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.limit(10), t, mode="overwrite")
    snap.create_branch(t, "audit")
    snap.commit_to_branch(orders.limit(5), t, "audit", mode="append")
    snap.commit_to_branch(orders.limit(2), t, "audit", mode="append")
    # audit step: validate the staged data before anyone sees it
    staged = snap.read_ref(spark, t, "audit")
    assert staged.count() == 17
    assert read_snapshot(spark, t).count() == 10  # main still clean
    v = snap.publish_branch(t, "audit")
    assert read_snapshot(spark, t).count() == 17
    assert snap.list_refs(t)["branches"]["main"] == v
    # diverged main -> publish refuses
    snap.create_branch(t, "audit2")
    snap.commit_to_branch(orders.limit(1), t, "audit2", mode="append")
    write_snapshot(orders.limit(3), t, mode="append")  # main moves on
    with pytest.raises(ValueError, match="fast-forward"):
        snap.publish_branch(t, "audit2")
    with pytest.raises(ValueError, match="tag"):
        snap.create_tag(t, "pin")
        snap.publish_branch(t, "pin")


def test_delete_keeps_null_predicate_rows(spark):
    """SQL DELETE three-valued logic: rows where the predicate evaluates
    NULL must survive (NOT NULL is NULL, not TRUE)."""
    import tempfile

    from lakehouse_variance_spark.sources import snapshots as snap

    with tempfile.TemporaryDirectory() as d:
        t = f"{d}/t"
        df = spark.createDataFrame(
            [(1, 5), (2, None), (3, 7)], "id long, c long"
        )
        write_snapshot(df, t, mode="overwrite")
        snap.delete_from_snapshot(spark, t, "c = 5")
        left = {r.id for r in read_snapshot(spark, t).collect()}
        assert left == {2, 3}  # the NULL row survives


def test_incremental_read_walks_main_lineage_not_global_sequence(spark, tmp_path):
    """Branch commits interleave in the global version sequence; the
    incremental read must validate along the parent chain so (a) a branch
    overwrite between two main appends doesn't block the read and (b) a
    cross-lineage range is refused outright."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.limit(4), t, mode="append")  # v1 main
    snap.create_branch(t, "dev")
    snap.commit_to_branch(orders.limit(2), t, "dev", mode="overwrite")  # v2 branch
    write_snapshot(orders.limit(6), t, mode="append")  # v3 main (parent v1)
    # main lineage v1 -> v3 is pure append despite the interleaved branch
    # overwrite at v2
    assert snap.read_version_changes(spark, t, 1, 3).count() == 6
    # branch -> main crosses lineages: refused, not silently mis-diffed
    with pytest.raises(ValueError, match="not an ancestor"):
        snap.read_version_changes(spark, t, 2, 3)


def test_branch_isolation_on_pre_refs_table(spark, tmp_path):
    """A table whose commits predate the refs file must still isolate
    branch commits: creating the first ref seeds main at the current
    head."""
    import json as _json

    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    write_snapshot(orders.limit(8), t, mode="overwrite")
    # simulate a pre-refs table: drop the refs file entirely
    snap._refs_path(t).unlink()
    snap.create_branch(t, "dev")
    snap.commit_to_branch(orders.limit(3), t, "dev", mode="append")
    # mainline readers still see only v1
    assert read_snapshot(spark, t).count() == 8
    assert snap.read_ref(spark, t, "dev").count() == 11
    assert _json.loads(snap._refs_path(t).read_text())["branches"]["main"] == 1


def test_delete_with_predicate_on_evolved_column(spark, tmp_path):
    """DELETE over a column added by schema evolution: old files lack the
    column, which must read as NULL (surviving) rather than failing to
    resolve in the survivors rewrite."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    base = spark.createDataFrame([(1, 10), (2, 20)], "id long, a long")
    write_snapshot(base, t, mode="overwrite")
    evolved = spark.createDataFrame(
        [(3, 30, "x"), (4, 40, "y")], "id long, a long, c string"
    )
    write_snapshot(evolved, t, mode="append")
    snap.delete_from_snapshot(spark, t, "c = 'x'")
    left = {r.id for r in read_snapshot(spark, t).collect()}
    assert left == {1, 2, 4}  # old rows (c NULL) survive; only id=3 deleted


def _nullable(t):
    if isinstance(t, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in t.fields
        ])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _within(inner, outer) -> bool:
    """Every field of struct ``inner`` is in ``outer`` with the same type,
    nested structs compared field by field."""
    types = {f.name: f.dataType for f in outer.fields}
    return all(
        f.name in types and (
            _within(f.dataType, types[f.name])
            if isinstance(f.dataType, StructType)
            and isinstance(types[f.name], StructType)
            else f.dataType == types[f.name]
        )
        for f in inner.fields
    )


def _assert_schema_parity(spark, t, v) -> bool:
    """The manifest's schema must be what parquet's mergeSchema would
    infer over the files that version lists. The one exception is a
    delete that writes no file: it keeps its parent's schema, and since
    it can drop the only file that carried a field, the files it keeps
    may infer a part of that schema. Returns whether they do."""
    from lakehouse_variance_spark.sources import snapshots as snap

    manifest = snap._read_manifest(t, v)
    files = manifest["files"]
    got = _nullable(read_snapshot(spark, t, v).schema)
    inferred = _nullable(
        spark.read.option("mergeSchema", "true").parquet(*files).schema
    )
    if got == inferred:
        return False
    parent = manifest["parent"]
    assert manifest["operation"].startswith("delete-where"), f"v{v}"
    assert set(files) <= set(snap._read_manifest(t, parent)["files"]), f"v{v}"
    assert got == _nullable(read_snapshot(spark, t, parent).schema), f"v{v}"
    assert _within(inferred, got), f"v{v}"
    return True


def _commit_every_path(spark, tmp_path) -> list[tuple[str, list[int]]]:
    """Tables built through every commit path, with the versions each
    holds: appends that add, omit and reorder columns (and widen a nested
    struct, an array and a map), overwrite, a merge-on-read and a
    copy-on-write delete, optimize, rollback, a branch commit and both
    streaming sinks."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    mk = spark.createDataFrame
    versions = [
        write_snapshot(
            mk([(1, 10, (1,), [1], {"k": 1}), (2, 20, (2,), None, None)],
               "id long, a long, s struct<x:int>, arr array<int>, "
               "m map<string,int>"),
            t, mode="overwrite"),
        write_snapshot(  # adds a column and a nested field; its array and
            # map hold no nulls, so their element nullability must widen
            mk([(3, 30, (3, "p"), "x")],
               "id long, a long, s struct<x:int,y:string>, c string")
            .withColumn("arr", F.array(F.lit(3)))
            .withColumn("m", F.create_map(F.lit("k"), F.lit(3))), t),
        write_snapshot(mk([(4, "y")], "id long, c string"), t),  # omits a, s
        write_snapshot(mk([("z", 50, 5)], "c string, a long, id long"), t),
    ]
    versions.append(snap.delete_from_snapshot(spark, t, "c = 'x'"))
    versions.append(snap.delete_from_snapshot(spark, t, "c LIKE 'y%'"))
    versions.append(snap.optimize_snapshot(spark, t))
    versions.append(rollback(t, versions[2]))
    snap.create_branch(t, "dev")
    versions.append(snap.commit_to_branch(
        mk([(6, 1.5)], "id long, d double"), t, "dev"))
    versions.append(write_snapshot(mk([(7, "w")], "k int, v string"), t,
                                   mode="overwrite"))
    assert len(set(versions)) == len(versions) == current_version(t)
    assert read_snapshot(spark, t, versions[3]).columns == [
        "id", "a", "s", "arr", "m", "c"]

    s = str(tmp_path / "s")
    batch = snap.snapshot_batch_writer(s)
    batch(mk([(1, "a")], "id long, v string"), 0)
    batch(mk([(2, "b", 2.0)], "id long, v string, w double"), 1)
    merge = snap.snapshot_merge_writer(
        s, lambda b, state: b.unionByName(state, allowMissingColumns=True))
    merge(mk([(3, True)], "id long, flag boolean"), 2)
    return [(t, versions), (s, list(range(1, current_version(s) + 1)))]


def test_manifest_schema_matches_merge_inference_on_every_commit(
    spark, tmp_path
):
    """Every commit path records the schema a mergeSchema read of its
    files would infer, except a delete that writes no file. Here that is
    the merge-on-read ``c = 'x'`` delete, which drops the one file that
    carries ``s.y``, and the copy-on-write ``LIKE`` delete after it,
    whose rewrite has no surviving rows. Both keep the parent's schema."""
    tables = _commit_every_path(spark, tmp_path)
    narrowed = [
        (t, v) for t, versions in tables for v in versions
        if _assert_schema_parity(spark, t, v)
    ]
    t, versions = tables[0]
    assert narrowed == [(t, versions[4]), (t, versions[5])]


def test_manifest_stats_match_footers_on_every_commit(spark, tmp_path):
    """Every commit path records, per listed file, the row count, size and
    per-column [min, max, null count] of the data the file holds, and
    None exactly for the columns whose type carries no usable bound."""
    import datetime
    import os

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from lakehouse_variance_spark.sources import snapshots as snap

    bounded = (pa.types.is_integer, pa.types.is_floating, pa.types.is_string,
               pa.types.is_date32, pa.types.is_boolean)
    checked = 0
    for t, versions in _commit_every_path(spark, tmp_path):
        for v in versions:
            manifest = snap._read_manifest(t, v)
            assert set(manifest["file_stats"]) == set(manifest["files"]), f"v{v}"
            for f in manifest["files"]:
                got = manifest["file_stats"][f]
                data = pq.read_table(f)
                assert got["rows"] == data.num_rows, f
                assert got["bytes"] == os.path.getsize(f), f
                assert sorted(got["columns"]) == sorted(data.column_names), f
                for name, col in zip(data.column_names, data.columns):
                    want = None
                    if any(ok(col.type) for ok in bounded):
                        mm = pc.min_max(col).as_py()
                        lo, hi = mm["min"], mm["max"]
                        if isinstance(lo, datetime.date):
                            lo, hi = lo.isoformat(), hi.isoformat()
                        want = [lo, hi, col.null_count]
                    assert got["columns"][name] == want, (f, name)
                    checked += 1
    assert checked > 40


def test_stats_decide_delete_on_date_bounds(spark, tmp_path):
    """A date conjunct is decided from the manifest's bounds: a literal
    past every bound is a no-op, and a cut between two files drops the
    one before it whole and keeps the other untouched."""
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    for start in ("1999-12-01", "2000-06-01"):
        write_snapshot(spark.sql(
            f"SELECT id, date_add(DATE'{start}', CAST(id AS INT)) AS d "
            "FROM range(10)").coalesce(1), t)
    v = current_version(t)
    assert snap.delete_from_snapshot(spark, t, "d > DATE'2001-01-01'") == v
    cut = snap.delete_from_snapshot(spark, t, "d < DATE'2000-01-01'")
    manifest = snap._read_manifest(t, cut)
    assert manifest["deletes"] == []
    assert manifest["files"] == snap._read_manifest(t, v)["files"][1:]
    assert read_snapshot(spark, t).count() == 10


def _jobs_launched(spark, fn):
    """Spark jobs ``fn`` starts, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"ceiling-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job ceiling")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_planning_job_ceilings(spark, tmp_path, monkeypatch):
    """Planning is metadata-only: building a read starts no job (no
    schema inference), a safe-set DELETE and a no-op the stats prove
    start none, a copy-on-write DELETE finds its files in one scan plus
    the rewrite, and OPTIMIZE bin-packs in one job. OPTIMIZE and
    files_table size from the manifest: no footer but OPTIMIZE's own new
    files' is opened."""
    import pyarrow.parquet as pq

    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    orders = _orders(spark)
    for i in range(3):
        write_snapshot(orders.filter(f"o_orderkey % 3 = {i}").repartition(2), t)
    assert _jobs_launched(spark, lambda: read_snapshot(spark, t)) == 0
    assert _jobs_launched(spark, lambda: read_snapshot(spark, t, 1)) == 0
    n = read_snapshot(spark, t).count()
    n_del = read_snapshot(spark, t).filter("o_orderkey % 3 = 1").count()
    assert _jobs_launched(
        spark, lambda: snap.delete_from_snapshot(spark, t, "o_orderkey % 3 = 1")
    ) == 0
    v = current_version(t)
    got = []
    assert _jobs_launched(
        spark,
        lambda: got.append(snap.delete_from_snapshot(spark, t, "o_orderkey < 0")),
    ) == 0
    assert got == [v] and current_version(t) == v
    n_like = read_snapshot(spark, t).filter(
        "o_orderpriority LIKE '1-%' AND o_orderkey % 3 = 0").count()
    assert _jobs_launched(
        spark,
        lambda: snap.delete_from_snapshot(
            spark, t, "o_orderpriority LIKE '1-%' AND o_orderkey % 3 = 0"),
    ) <= 2

    opened = []
    real = pq.ParquetFile

    def recording(path, *args, **kwargs):
        opened.append(str(path))
        return real(path, *args, **kwargs)

    def refuse(*args, **kwargs):
        raise AssertionError("footer read")

    monkeypatch.setattr(pq, "read_metadata", refuse)
    monkeypatch.setattr(pq, "ParquetFile", recording)
    assert _jobs_launched(spark, lambda: snap.optimize_snapshot(spark, t)) == 1
    new_files = snap._read_manifest(t, current_version(t))["files"]
    assert sorted(opened) == sorted(new_files)
    opened.clear()
    files = snap.files_table(spark, t).collect()
    assert opened == []
    assert sum(r.record_count for r in files) == n - n_del - n_like
    assert read_snapshot(spark, t).count() == n - n_del - n_like


def test_append_type_conflict_publishes_nothing(spark, tmp_path):
    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1, 10)], "id long, a long"), t)
    bad = spark.createDataFrame([(2, "ten")], "id long, a string")
    with pytest.raises(ValueError, match="'a'"):
        write_snapshot(bad, t)
    snap.create_branch(t, "dev")
    with pytest.raises(ValueError, match="'a'"):
        snap.commit_to_branch(bad, t, "dev")
    assert current_version(t) == 1
    assert not list((tmp_path / "t" / "data").glob("c2-*"))
    assert read_snapshot(spark, t).collect() == [(1, 10)]


def test_manifest_without_schema_is_refused(spark, tmp_path):
    import json

    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    write_snapshot(spark.createDataFrame([(1,)], "id long"), t)
    path = snap._manifest_path(t, 1)
    manifest = json.loads(path.read_text())
    del manifest["schema"]
    path.write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match="'schema'"):
        read_snapshot(spark, t)


def test_manifest_without_stats_or_deletes_is_refused(spark, tmp_path):
    """A manifest written before per-file stats and pending deletes is
    refused by reads and by every commit, before any file is written."""
    import json

    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    df = spark.createDataFrame([(1,)], "id long")
    write_snapshot(df, t)
    path = snap._manifest_path(t, 1)
    manifest = json.loads(path.read_text())
    del manifest["file_stats"], manifest["deletes"]
    path.write_text(json.dumps(manifest))
    with pytest.raises(ValueError, match="'deletes'"):
        read_snapshot(spark, t)
    for op in (
        lambda: write_snapshot(df, t),
        lambda: snap.delete_from_snapshot(spark, t, "id = 1"),
        lambda: snap.optimize_snapshot(spark, t),
        lambda: snap.files_table(spark, t),
        lambda: snap.rollback(t, 1),
    ):
        with pytest.raises(ValueError, match="'file_stats'"):
            op()
    assert current_version(t) == 1
    assert len(list((tmp_path / "t" / "data").iterdir())) == 1


_MODEL_TYPES = {"id": "long", "k": "int", "s": "string", "e": "string"}


def _model_rows(rng, ids, cols):
    return [
        {
            "id": i,
            "k": rng.choice([0, 1, 2, 3, 4, None]),
            "s": rng.choice(["a", "b", "c", "cx", None]),
            **({"e": rng.choice(["x", "y", None])} if "e" in cols else {}),
        }
        for i in ids
    ]


def _model_frame(spark, rows, cols):
    return spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        ", ".join(f"{c} {_MODEL_TYPES[c]}" for c in cols),
    )


def _on(col, f):
    """A comparison on one column of a model row, NULL when it is NULL
    (a column the row predates reads as NULL)."""
    return lambda r: None if r.get(col) is None else f(r[col])


@pytest.mark.parametrize("seed", [0, 1])
def test_merge_on_read_matches_row_model(spark, tmp_path, seed):
    """Seeded appends (one adds a column), safe-set and copy-on-write
    deletes, OPTIMIZE, rollback, and a branch commit plus publish; after
    every commit each version's rows equal an in-memory model's. Covers
    rows whose predicate is NULL (they survive), a delete on the evolved
    column, a whole-file delete, copy-on-write over files with a pending
    delete, and a bad column (raises, publishes nothing)."""
    import random

    from lakehouse_variance_spark.sources import snapshots as snap

    rng = random.Random(seed)
    t = str(tmp_path / "t")
    model: dict[int, list[dict]] = {}
    cols: dict[int, list[str]] = {}

    def check_all():
        for v in sorted(model):
            df = read_snapshot(spark, t, v)
            assert df.columns == cols[v], f"v{v}"
            got = sorted((tuple(r) for r in df.collect()), key=repr)
            want = sorted(
                (tuple(row.get(c) for c in cols[v]) for row in model[v]),
                key=repr,
            )
            assert got == want, f"v{v}"

    def commit(v, rows, columns):
        assert v not in model
        model[v], cols[v] = rows, columns
        check_all()

    def delete(sql, matches, merge_on_read):
        head = snap._main_head(t)
        parent_files = set(snap._read_manifest(t, head)["files"])
        v = snap.delete_from_snapshot(spark, t, sql)
        assert v != head, sql
        files = set(snap._read_manifest(t, v)["files"])
        assert (files <= parent_files) == merge_on_read, sql
        commit(v, [r for r in model[head] if matches(r) is not True], cols[head])
        return v

    base = ["id", "k", "s"]
    rows = _model_rows(rng, range(40), base)
    commit(write_snapshot(_model_frame(spark, rows, base).repartition(2), t,
                          mode="overwrite"), rows, base)
    block = _model_rows(rng, range(1000, 1020), base)  # one file: id 1000-1019
    commit(write_snapshot(_model_frame(spark, block, base).coalesce(1), t),
           model[1] + block, base)
    a = rng.choice([1, 2, 3])
    delete(f"k = {a}", _on("k", lambda k: k == a), True)
    c = rng.choice(["a", "b"])
    delete(f"s = '{c}'", _on("s", lambda s: s == c), True)
    whole = delete("id >= 1000 AND id < 1020", lambda r: 1000 <= r["id"] < 1020,
                   True)
    assert not any("/c2-" in f for f in snap._read_manifest(t, whole)["files"])

    evolved = base + ["e"]
    more = _model_rows(rng, range(2000, 2030), evolved)
    head = snap._main_head(t)
    after_evolve = write_snapshot(_model_frame(spark, more, evolved).repartition(2), t)
    commit(after_evolve, model[head] + more, evolved)
    delete("e = 'x'", _on("e", lambda e: e == "x"), True)
    # the first files predate e: it is NULL in every row of them
    delete("k IN (0, 4) AND e IS NULL",
           lambda r: _on("k", lambda k: k in (0, 4))(r) and r.get("e") is None,
           True)
    # copy-on-write over files that carry pending deletes
    delete("s LIKE 'c%'", _on("s", lambda s: s.startswith("c")), False)
    m = rng.choice([0, 1, 2])
    delete(f"id % 3 = {m} AND k IS NOT NULL",
           lambda r: r["id"] % 3 == m and r["k"] is not None, True)
    head = snap._main_head(t)
    opt = snap.optimize_snapshot(spark, t)
    assert snap._read_manifest(t, opt)["deletes"] == []
    commit(opt, model[head], cols[head])
    delete("s IS NULL OR k = 4",
           lambda r: r["s"] is None or _on("k", lambda k: k == 4)(r), True)

    back = rollback(t, after_evolve)
    commit(back, model[after_evolve], evolved)
    snap.create_branch(t, "dev")
    staged = _model_rows(rng, range(3000, 3010), evolved)
    dev = snap.commit_to_branch(_model_frame(spark, staged, evolved), t, "dev")
    commit(dev, model[back] + staged, evolved)
    assert snap.publish_branch(t, "dev") == dev
    delete("k <=> 0 OR upper(s) = 'B'",
           lambda r: r["k"] == 0 or _on("s", lambda s: s.upper() == "B")(r),
           False)

    # OPTIMIZE packs the rows into one file and deleting every row drops
    # it: the table has no file left, a copy-on-write DELETE on it is a
    # no-op, a bad column still raises, and OPTIMIZE still commits
    head = snap._main_head(t)
    commit(snap.optimize_snapshot(spark, t), model[head], cols[head])
    gone = delete("id >= 0", lambda r: True, True)
    assert snap._read_manifest(t, gone)["files"] == []
    assert snap.delete_from_snapshot(spark, t, "s LIKE 'c%'") == gone
    with pytest.raises(Exception, match="nope"):
        snap.delete_from_snapshot(spark, t, "nope = 1")
    assert current_version(t) == gone and snap._main_head(t) == gone
    commit(snap.optimize_snapshot(spark, t), [], cols[gone])


def test_commit_drops_empty_data_files(spark, tmp_path):
    """Spark's first write task writes a file even when it has no rows
    (here: a slice whose keys all sit in later partitions). The commit
    deletes such a file instead of listing it, so no scan opens it; an
    overwrite with no rows at all leaves an empty table."""
    import os

    from lakehouse_variance_spark.sources import snapshots as snap

    t = str(tmp_path / "t")
    rows = spark.range(0, 40, 1, 4)
    snap.write_snapshot(rows.where("id < 10"), t, "append")
    v = snap.write_snapshot(rows.where("id >= 10"), t, "append")
    manifest = snap._read_manifest(t, v)
    assert [s["rows"] for s in manifest["file_stats"].values()].count(0) == 0
    assert sorted(s["rows"] for s in manifest["file_stats"].values()) == [
        10, 10, 10, 10
    ]
    on_disk = [
        os.path.join(d, f)
        for d, _, names in os.walk(os.path.join(t, "data"))
        for f in names
        if f.endswith(".parquet")
    ]
    assert sorted(on_disk) == sorted(manifest["files"])
    assert _lone_checksums(t) == []
    assert read_snapshot(spark, t).count() == 40

    v = snap.write_snapshot(rows.where("id < 0"), t, "overwrite")
    assert snap._read_manifest(t, v)["files"] == []
    empty = read_snapshot(spark, t)
    assert empty.columns == ["id"] and empty.count() == 0

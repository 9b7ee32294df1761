"""Versioned table snapshots — manifest-based time travel over parquet.

The reference stores everything in Iceberg, whose core contract is:
a table IS a chain of immutable snapshots, each listing its data files in
a manifest; readers pin a snapshot, writers commit a new one atomically
(`import_tables.py:14-19` registers tables by metadata file for exactly
this reason). The Iceberg runtime jar is not available here, so this
module provides the same contract natively on any Hadoop-visible
filesystem:

* data files are immutable — every commit writes NEW parquet files under
  ``data/c{n}/`` and never touches existing ones;
* a commit is one manifest file ``_versions/v{n}.json`` listing exactly
  the files visible at that version (append = parent files + new files,
  overwrite = new files only, rollback = an old version's file list under
  a new version number — history is never rewritten);
* the manifest write is atomic (temp file + ``os.replace``), and the
  version number doubles as the optimistic-concurrency token: two racing
  writers produce the same target name and the loser's replace is
  detectable by re-reading — the multi-writer story a real deployment
  delegates to a catalog's compare-and-swap, noted here, not faked.

Readers never LIST the data directory (an object-store LIST over millions
of files is the scalability killer manifests exist to avoid): they read
one small JSON and pass the explicit file list to the parquet source.
Planning is metadata-only, as in Iceberg: each manifest records the
table's read ``schema`` (Spark's JSON form) at that version, and every
read hands it to the parquet source, so no footer is opened to infer a
schema. An append merges the parent's schema with the new data's by field
name (the parent's order first, new columns after; a conflicting type
fails the commit), so older files read the added columns as NULL and
readers of an old version see the old shape.

Named refs (Iceberg's branch/tag contract, spec v2 "refs" map): a TAG is
an immutable name → version pin (audit/WAP publish points); a BRANCH is a
mutable head that `commit_to_branch` advances independently of main —
version numbers stay one global monotonic sequence (Iceberg snapshot ids
are likewise global; branches are just named heads into the same history).
``main`` itself is a branch ref, maintained by every mainline commit, so
a branch commit NEVER changes what mainline readers see. Refs live in one
small JSON beside the manifests, updated with the same temp+replace
atomicity; `expire_snapshots` keeps every ref target alive.

Per-file stats (Iceberg's manifest entry fields): ``file_stats`` maps each
listed path to its row count, byte size and, per top-level column, ``[min,
max, null_count]`` — ``None`` ("unknown") when the footer cannot bound it
(decimal, timestamp and nested columns, or a missing footer statistic).
The commit that writes a file reads its footer once with pyarrow; later
commits copy the entry. A column a file predates is absent from its entry
and reads as all NULL. OPTIMIZE and ``files_table`` read counts from here
and open no footer.

Merge-on-read DELETE (Iceberg v2's row-level delete): a manifest's
``deletes`` lists pending ``{"where": <predicate SQL>, "files": [...]}``
entries; a row of a covered file is gone when ``where`` is TRUE for it.
Every scan goes through :func:`_live_scan`, which applies them in the
one parquet scan. An eligible DELETE runs no Spark job: from the stats
it leaves a file that cannot match untouched, drops a file whose every
row matches (none NULL) from the manifest, and covers the rest. The
stats decide per conjunct of the predicate — a column IS [NOT] NULL or
compared with a literal; any other conjunct may be anything. OPTIMIZE
folds the pending deletes in. A manifest without ``file_stats`` and
``deletes`` (written before they existed) is refused, as one without
``schema`` is. Eligible means the optimized predicate
uses only the SAFE SET — table columns, non-timestamp literals, AND / OR
/ NOT, ``= <=> < <= > >=``, IN, IS [NOT] NULL, ``%`` / ``pmod`` by a
nonzero literal, and casts ``Cast.canUpCast`` allows that touch no
timestamp — so it is deterministic, reads nothing outside the row and
cannot raise under ANSI mode, and its recorded SQL (the optimized form,
with implicit casts explicit) re-evaluates to the same rows at any later
read in any session. Every other predicate (subqueries, UDFs,
non-deterministic or time-zone-dependent functions, narrowing casts such
as ``CAST(string_col AS BIGINT)``) takes the copy-on-write path:
rewrite the files that hold matching live rows.

Carry-over: append, branch commit and stream-append keep the parent's
stats and deletes; overwrite, stream-merge and OPTIMIZE start with none
pending; rollback copies the target version's; copy-on-write drops the
entries of the files it rewrote.
"""

from __future__ import annotations

import datetime
import json
import os
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    MapType,
    StructField,
    StructType,
)


def _versions_dir(table_dir: str) -> Path:
    return Path(table_dir) / "_versions"


def _manifest_path(table_dir: str, version: int) -> Path:
    return _versions_dir(table_dir) / f"v{version}.json"


def current_version(table_dir: str) -> int:
    """Latest committed version, or 0 when the table does not exist."""
    vdir = _versions_dir(table_dir)
    if not vdir.exists():
        return 0
    versions = [
        int(p.stem[1:]) for p in vdir.glob("v*.json") if p.stem[1:].isdigit()
    ]
    return max(versions, default=0)


def _read_manifest(table_dir: str, version: int) -> dict:
    path = _manifest_path(table_dir, version)
    if not path.exists():
        raise FileNotFoundError(
            f"snapshot v{version} does not exist at {table_dir}"
        )
    return json.loads(path.read_text())


def _field(manifest: dict, name: str):
    """A field every current manifest carries; a table written before the
    field existed is refused (rewrite it)."""
    if name not in manifest:
        raise ValueError(
            f"snapshot v{manifest['version']} manifest has no {name!r} field"
        )
    return manifest[name]


def _table_schema(manifest: dict) -> StructType:
    """The read schema a manifest records (the one every read plans with)."""
    return StructType.fromJson(_field(manifest, "schema"))


def _scan(spark: SparkSession, manifest: dict, files: list[str]) -> DataFrame:
    """Parquet scan of ``files`` under the manifest's schema: no footer is
    read at planning time, and files written before a column was added
    read it as NULL. No files (every one deleted whole) is an empty
    table."""
    if not files:
        return spark.createDataFrame([], _table_schema(manifest))
    return spark.read.schema(_table_schema(manifest)).parquet(*files)


def _live_scan(
    spark: SparkSession, manifest: dict, files: list[str]
) -> DataFrame:
    """The scan every reader uses: ``files`` under the manifest's schema,
    minus the rows its pending deletes remove from them. One parquet scan
    with one conjunct per pending entry that covers any of ``files`` — a
    row survives unless ``where`` is TRUE and its file is covered (a
    NULL ``where`` keeps the row, as SQL DELETE does). The conjuncts go
    to Spark as one SQL string: one py4j call and one analysis, where
    Column literals cost a round trip per file name."""
    df = _scan(spark, manifest, files)
    names = {os.path.basename(f) for f in files}
    keep = []
    for d in _field(manifest, "deletes"):
        hit = sorted(names.intersection(map(os.path.basename, d["files"])))
        if hit:
            quoted = ", ".join(
                "'" + n.replace("\\", "\\\\").replace("'", "\\'") + "'" for n in hit
            )
            keep.append(
                f"NOT coalesce(({d['where']}) AND _metadata.file_name IN ({quoted}), false)"
            )
    return df.filter(" AND ".join(keep)) if keep else df


def _stat_type(t) -> bool:
    """Arrow types whose footer min/max the manifest records."""
    import pyarrow as pa

    return (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_string(t)
        or pa.types.is_date32(t)
        or pa.types.is_boolean(t)
    )


def _column_stats(meta, i: int) -> list | None:
    """``[min, max, null_count]`` of leaf column ``i`` over all row groups,
    or None when some row group holding values has no bound."""
    lo = hi = None
    nulls = 0
    for g in range(meta.num_row_groups):
        group = meta.row_group(g)
        s = group.column(i).statistics
        if s is None or not s.has_null_count:
            return None
        nulls += s.null_count
        if s.null_count == group.num_rows:
            continue
        if not s.has_min_max:
            return None
        lo = s.min if lo is None else min(lo, s.min)
        hi = s.max if hi is None else max(hi, s.max)
    if isinstance(lo, datetime.date):
        lo, hi = lo.isoformat(), hi.isoformat()
    return [lo, hi, nulls]


def _footer_stats(path: str) -> dict:
    """A data file's manifest entry, read from its parquet footer."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    meta = pf.metadata
    leaves = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
    columns = {}
    for field in pf.schema_arrow:
        i = leaves.get(field.name)
        ok = i is not None and _stat_type(field.type)
        columns[field.name] = _column_stats(meta, i) if ok else None
    return {
        "rows": meta.num_rows,
        "bytes": os.path.getsize(path),
        "columns": columns,
    }


def _merge_type(table: DataType, new: DataType, column: str) -> DataType:
    """Spark's parquet schema-merge rule, applied once at commit time:
    structs merge by field name (the table's order, then new fields),
    arrays and maps merge their element types, nullability widens, and
    any other pair must be the same type."""
    if isinstance(table, StructType) and isinstance(new, StructType):
        added = {f.name: f for f in new.fields}
        fields = []
        for f in table.fields:
            g = added.pop(f.name, None)
            if g is not None:
                name = f"{column}.{f.name}" if column else f.name
                f = StructField(
                    f.name,
                    _merge_type(f.dataType, g.dataType, name),
                    f.nullable or g.nullable,
                    f.metadata,
                )
            fields.append(f)
        return StructType(fields + list(added.values()))
    if isinstance(table, ArrayType) and isinstance(new, ArrayType):
        return ArrayType(
            _merge_type(table.elementType, new.elementType, f"{column}[]"),
            table.containsNull or new.containsNull,
        )
    if isinstance(table, MapType) and isinstance(new, MapType):
        return MapType(
            _merge_type(table.keyType, new.keyType, f"{column}.key"),
            _merge_type(table.valueType, new.valueType, f"{column}.value"),
            table.valueContainsNull or new.valueContainsNull,
        )
    if table != new:
        raise ValueError(
            f"column {column!r}: table type {table.simpleString()} conflicts "
            f"with {new.simpleString()}"
        )
    return table


def _commit(table_dir: str, manifest: dict) -> int:
    """Atomic manifest publish: temp file + os.replace, then verify the
    committed content is OURS (optimistic-concurrency check — a racing
    writer of the same version would have clobbered one of us)."""
    vdir = _versions_dir(table_dir)
    vdir.mkdir(parents=True, exist_ok=True)
    target = _manifest_path(table_dir, manifest["version"])
    if target.exists():
        raise RuntimeError(
            f"concurrent commit: v{manifest['version']} already exists"
        )
    tmp = vdir / f".tmp-{uuid.uuid4().hex}.json"
    tmp.write_text(json.dumps(manifest, sort_keys=True, separators=(",", ":")))
    os.replace(tmp, target)
    committed = json.loads(target.read_text())
    if committed.get("commit_id") != manifest["commit_id"]:
        raise RuntimeError(
            f"lost commit race on v{manifest['version']}"
        )
    return manifest["version"]


def _refs_path(table_dir: str) -> Path:
    return _versions_dir(table_dir) / "refs.json"


def _read_refs(table_dir: str) -> dict:
    path = _refs_path(table_dir)
    if not path.exists():
        return {"branches": {}, "tags": {}}
    return json.loads(path.read_text())


def _write_refs(table_dir: str, refs: dict) -> None:
    vdir = _versions_dir(table_dir)
    vdir.mkdir(parents=True, exist_ok=True)
    tmp = vdir / f".tmp-refs-{uuid.uuid4().hex}.json"
    tmp.write_text(json.dumps(refs, indent=1, sort_keys=True))
    os.replace(tmp, _refs_path(table_dir))


def _main_head(table_dir: str) -> int:
    """Mainline head: the ``main`` branch ref when present, else the
    latest version (pre-refs tables stay fully compatible)."""
    head = _read_refs(table_dir)["branches"].get("main")
    return head if head is not None else current_version(table_dir)


def _advance_branch(table_dir: str, branch: str, version: int) -> None:
    refs = _read_refs(table_dir)
    refs["branches"][branch] = version
    _write_refs(table_dir, refs)
    # Optimistic lost-race check, mirroring the manifest _commit contract:
    # refs updates are read-modify-write of one file, so a concurrent
    # committer holding a STALE read can clobber this advance — leaving
    # the branch's readers behind a committed version. Re-reading after
    # os.replace catches the clobber when it lands before the re-read; a
    # NEWER version observed here is monotonic progress (a later commit
    # already superseded ours), not a loss, so only a missing or OLDER
    # value raises. This is best-effort detection on a single-writer-per-
    # branch design, not a lock — a stale clobber landing after the
    # re-read window still wins, which full protection would need a
    # compare-and-swap (or refs sequence numbers) to close.
    seen = _read_refs(table_dir)["branches"].get(branch)
    if seen is None or seen < version:
        raise RuntimeError(
            f"lost refs race advancing branch {branch!r} to v{version}: "
            f"refs.json now shows {seen!r} (clobbered by a stale "
            "concurrent ref update)"
        )


def resolve_ref(table_dir: str, name: str) -> int:
    """Version a tag or branch points at (tags win on name collision,
    matching Iceberg's refs map being a single namespace — collisions are
    rejected at create time anyway)."""
    refs = _read_refs(table_dir)
    if name in refs["tags"]:
        return refs["tags"][name]
    if name in refs["branches"]:
        return refs["branches"][name]
    raise KeyError(f"no tag or branch named {name!r} at {table_dir}")


def _seed_main(table_dir: str, refs: dict) -> None:
    """Pin ``main`` at the current head the first time any ref is created
    on a pre-refs table. Without this, a later branch commit would raise
    current_version() and the _main_head fallback would hand mainline
    readers the branch head — breaking branch isolation."""
    if "main" not in refs["branches"]:
        head = current_version(table_dir)
        if head > 0:
            refs["branches"]["main"] = head


def create_tag(table_dir: str, name: str, version: int | None = None) -> int:
    """Pin an immutable name to a version (default: mainline head).
    Re-tagging is an error — tags never move (Iceberg tag semantics)."""
    refs = _read_refs(table_dir)
    if name in refs["tags"] or name in refs["branches"]:
        raise ValueError(f"ref {name!r} already exists")
    v = version if version is not None else _main_head(table_dir)
    _read_manifest(table_dir, v)  # must exist
    _seed_main(table_dir, refs)
    refs["tags"][name] = v
    _write_refs(table_dir, refs)
    return v


def create_branch(table_dir: str, name: str, version: int | None = None) -> int:
    """Fork a mutable head at a version (default: mainline head)."""
    refs = _read_refs(table_dir)
    if name in refs["tags"] or name in refs["branches"]:
        raise ValueError(f"ref {name!r} already exists")
    v = version if version is not None else _main_head(table_dir)
    _read_manifest(table_dir, v)  # must exist
    _seed_main(table_dir, refs)
    refs["branches"][name] = v
    _write_refs(table_dir, refs)
    return v


def list_refs(table_dir: str) -> dict:
    """{"branches": {name: version}, "tags": {name: version}} snapshot."""
    return _read_refs(table_dir)


def read_ref(spark: SparkSession, table_dir: str, name: str) -> DataFrame:
    """Read the table as of a named tag or branch head."""
    return read_snapshot(spark, table_dir, resolve_ref(table_dir, name))


def _carry(manifest: dict) -> dict:
    """What a commit keeps of ``manifest``: its files, their stats and its
    pending deletes."""
    return {
        "files": manifest["files"],
        "file_stats": _field(manifest, "file_stats"),
        "deletes": _field(manifest, "deletes"),
    }


_NOTHING = {"files": [], "file_stats": {}, "deletes": []}


def _unlink_data(path: str | Path) -> None:
    """Delete a data file and the ``.<name>.crc`` checksum that Hadoop's
    local writer leaves beside it."""
    p = Path(path)
    p.unlink()
    p.with_name(f".{p.name}.crc").unlink(missing_ok=True)


def _publish(
    table_dir: str,
    *,
    parent: int,
    operation: str,
    schema: dict,
    base: dict,
    new: DataFrame | None = None,
    ref: str = "main",
    extra: dict | None = None,
) -> int:
    """Shared commit body: write ``new``'s rows (when given) under a fresh
    commit dir, read their footer stats and delete the files with no rows,
    publish a manifest listing ``base``'s files, stats and pending deletes
    plus the new files, and advance ``ref``. Every commit path funnels
    through here so fixes land once. Pending deletes name files by base
    name, so a name may appear once per manifest."""
    version = current_version(table_dir) + 1
    commit_id = uuid.uuid4().hex
    files = list(base["files"])
    stats = {f: base["file_stats"][f] for f in files}
    if new is not None:
        data_dir = Path(table_dir) / "data" / f"c{version}-{commit_id[:8]}"
        new.write.mode("error").parquet(str(data_dir))
        for f in sorted(str(p) for p in data_dir.glob("*.parquet") if p.is_file()):
            fs = _footer_stats(f)
            if fs["rows"]:
                files.append(f)
                stats[f] = fs
            else:  # an empty write task's file: unlisted, so no scan opens it
                _unlink_data(f)
    names = [os.path.basename(f) for f in files]
    if len(set(names)) != len(names):
        raise RuntimeError(f"v{version}: a data file name repeats in the manifest")
    manifest = {
        "version": version,
        "parent": parent,
        "operation": operation,
        "commit_id": commit_id,
        "schema": schema,
        "files": files,
        "file_stats": stats,
        "deletes": base["deletes"],
    }
    if extra:
        manifest.update(extra)
    v = _commit(table_dir, manifest)
    _advance_branch(table_dir, ref, v)
    return v


def _commit_dataframe(
    df: DataFrame,
    table_dir: str,
    *,
    parent: int,
    operation: str,
    mode: str,
    ref: str,
    extra: dict | None = None,
) -> int:
    """Commit ``df``'s rows: an append keeps the parent's files, stats and
    pending deletes, an overwrite starts from nothing. The manifest's
    schema is ``df``'s for an overwrite, and the parent's merged with
    ``df``'s for an append; a type conflict raises before any file is
    written."""
    schema, base = df.schema, _NOTHING
    if mode == "append" and parent > 0:
        parent_manifest = _read_manifest(table_dir, parent)
        schema = _merge_type(_table_schema(parent_manifest), schema, "")
        base = _carry(parent_manifest)
    return _publish(
        table_dir,
        parent=parent,
        operation=operation,
        schema=schema.jsonValue(),
        base=base,
        new=df,
        ref=ref,
        extra=extra,
    )


def commit_to_branch(
    df: DataFrame, table_dir: str, branch: str, mode: str = "append"
) -> int:
    """Commit ``df`` on a branch: parent is the BRANCH head (not main),
    and only the branch ref advances — mainline readers are untouched.
    The version number still comes from the global sequence, so branch
    and main commits interleave in one history (audit stays linear)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    parent = resolve_ref(table_dir, branch)
    if branch not in _read_refs(table_dir)["branches"]:
        raise ValueError(f"{branch!r} is a tag — tags are immutable")
    return _commit_dataframe(
        df,
        table_dir,
        parent=parent,
        operation=f"{mode}@{branch}",
        mode=mode,
        ref=branch,
    )


def write_snapshot(
    df: DataFrame, table_dir: str, mode: str = "append"
) -> int:
    """Commit ``df`` as a new table version; returns the version number.

    ``append`` makes the new files visible alongside the parent version's;
    ``overwrite`` replaces the visible set (old files stay on disk for
    time travel — physical removal is `expire_snapshots`' job, mirroring
    Iceberg's separation of logical delete from physical cleanup).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    return _commit_dataframe(
        df,
        table_dir,
        parent=_main_head(table_dir),
        operation=mode,
        mode=mode,
        ref="main",
    )


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (latest when None) — one manifest
    read plus an explicit-file-list parquet scan under the schema the
    manifest records, with the version's pending deletes applied.
    Planning opens no data file and the data directory is never listed;
    columns added in later commits read as NULL for older files."""
    v = version if version is not None else _main_head(table_dir)
    manifest = _read_manifest(table_dir, v)
    return _live_scan(spark, manifest, manifest["files"])


def rollback(table_dir: str, to_version: int) -> int:
    """Commit a NEW version whose visible rows are ``to_version``'s (its
    files, their stats and its pending deletes) — history stays intact
    (the rolled-back versions remain readable)."""
    old = _read_manifest(table_dir, to_version)
    return _publish(
        table_dir,
        parent=_main_head(table_dir),
        operation=f"rollback->{to_version}",
        schema=_table_schema(old).jsonValue(),
        base=_carry(old),
    )


def history(table_dir: str) -> list[dict]:
    """Commit log, oldest first: (version, parent, operation, n_files)."""
    out = []
    for v in range(1, current_version(table_dir) + 1):
        m = _read_manifest(table_dir, v)
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "operation": m["operation"],
                "n_files": len(m["files"]),
            }
        )
    return out


def expire_snapshots(table_dir: str, keep_last: int = 2) -> list[str]:
    """Physically delete data files referenced ONLY by expired versions;
    returns the deleted paths. Retention is PER REF: the ``keep_last``
    most recent ancestors along each ref head's parent chain (plus the
    global head) survive — Iceberg's ref-level retention — so heavy
    branch activity cannot evict main's recent history. The manifests
    themselves stay as tombstones so the commit log remains contiguous —
    reading an expired version raises on the missing files, matching
    Iceberg's expire-snapshots semantics."""
    latest = current_version(table_dir)
    # The keep window is PER REF: keep_last ancestors along each ref's
    # parent chain (plus the global head), the way Iceberg's ref-level
    # retention works. A global last-N window would let heavy branch
    # activity fill the window with branch heads' lineage and physically
    # expire main's recent history far sooner than keep_last suggests.
    refs = _read_refs(table_dir)
    heads = {latest}
    heads.update(refs["branches"].values())
    heads.update(refs["tags"].values())
    keep: set[int] = set()
    for head in heads:
        v, n = head, 0
        while v > 0 and n < keep_last:
            keep.add(v)
            n += 1
            v = _read_manifest(table_dir, v)["parent"]
    live: set[str] = set()
    for v in keep:
        live.update(_read_manifest(table_dir, v)["files"])
    doomed: set[str] = set()
    for v in range(1, latest + 1):
        if v not in keep:
            doomed.update(_read_manifest(table_dir, v)["files"])
    deleted = []
    for f in sorted(doomed - live):
        p = Path(f)
        if p.exists():
            _unlink_data(p)
            deleted.append(f)
    return deleted


def _stream_hwm(table_dir: str, head: int) -> int:
    """Highest stream batch_id committed on the lineage ending at ``head``
    (-1 when none). Walks the parent chain only until the first manifest
    carrying a high-water mark — typically the previous micro-batch commit
    — so the cost per batch is O(non-stream commits since the last stream
    commit), not O(all versions). Pre-HWM manifests (older tables) fall
    back to their own stream_batch_id and keep walking."""
    hwm = -1
    v = head
    while v > 0:
        m = _read_manifest(table_dir, v)
        if "stream_batch_hwm" in m:
            return max(hwm, int(m["stream_batch_hwm"]))
        if "stream_batch_id" in m:
            hwm = max(hwm, int(m["stream_batch_id"]))
        v = m["parent"]
    return hwm


def committed_stream_batches(table_dir: str) -> set[int]:
    """Stream batch_ids already committed to this table (for the
    exactly-once streaming sink's replay check)."""
    out = set()
    for v in range(1, current_version(table_dir) + 1):
        b = _read_manifest(table_dir, v).get("stream_batch_id")
        if b is not None:
            out.add(int(b))
    return out


def snapshot_merge_writer(table_dir: str, merge_fn):
    """``foreachBatch`` function MERGING each micro-batch into the table,
    exactly-once: every batch commits one OVERWRITE snapshot holding
    ``merge_fn(batch_df, current_state)`` (``current_state`` is None for
    the first commit). The same high-water-mark replay guard as
    :func:`snapshot_batch_writer` applies BEFORE ``merge_fn`` is built —
    essential for merges, since re-merging a batch against the
    post-commit state would double-apply it (the additive counters in a
    CDC collapse, for instance, would double-count).

    This is the transactional streaming-MERGE sink Iceberg/Delta expose
    as ``foreachBatch`` + ``MERGE INTO``, on the native snapshot layer:
    each micro-batch is an atomic, time-travelable version, and a crash
    between sink write and checkpoint commit leaves only unreferenced
    files (invisible; reclaimed by expire_snapshots)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        parent = _main_head(table_dir)
        hwm = _stream_hwm(table_dir, parent)
        if int(batch_id) <= hwm:
            return  # replayed batch — already merged, skip
        state = (
            read_snapshot(batch_df.sparkSession, table_dir)
            if parent > 0
            else None
        )
        _commit_dataframe(
            merge_fn(batch_df, state),
            table_dir,
            parent=parent,
            operation="stream-merge",
            mode="overwrite",
            ref="main",
            extra={
                "stream_batch_id": int(batch_id),
                "stream_batch_hwm": max(int(batch_id), hwm),
            },
        )

    return write_batch


def snapshot_batch_writer(table_dir: str):
    """``foreachBatch`` function committing each micro-batch as ONE
    appended snapshot version, exactly-once.

    Structured Streaming guarantees at-least-once delivery to foreachBatch:
    after a crash between sink write and checkpoint commit, the SAME
    batch_id replays. The manifest records the stream batch_id, so a
    replayed batch is recognized and skipped — the committed table never
    double-counts, and every micro-batch is an atomic, time-travelable
    version (the transactional-table streaming sink Iceberg/Delta provide,
    on the native snapshot layer). A batch whose data files were written
    but whose manifest never committed leaves only unreferenced files —
    invisible to readers, reclaimed by expire_snapshots.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Replay detection via the HIGH-WATER MARK carried in the parent
        # chain: Structured Streaming batch ids are monotonic and only the
        # last uncommitted batch replays, so one manifest read answers the
        # check — scanning every manifest (committed_stream_batches) is
        # O(versions) per batch, O(n²) over a stream's life.
        parent = _main_head(table_dir)
        hwm = _stream_hwm(table_dir, parent)
        if int(batch_id) <= hwm:
            return  # replayed batch — already visible, skip
        _commit_dataframe(
            batch_df,
            table_dir,
            parent=parent,
            operation="stream-append",
            mode="append",
            ref="main",
            extra={
                "stream_batch_id": int(batch_id),
                "stream_batch_hwm": max(int(batch_id), hwm),
            },
        )

    return write_batch


_COMPARE = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}
_BOOLEAN = {"And", "Or", "Not", "In", "InSet", "IsNull", "IsNotNull",
            "EqualNullSafe", *_COMPARE}
_INTEGRAL = {"byte", "short", "integer", "long"}
# Column types whose recorded bounds decide a delete. Float bounds are
# recorded but unused: parquet leaves NaN out of them, and Spark orders
# NaN above every number.
_BOUNDED = _INTEGRAL | {"string", "date", "boolean"}
_ANY = {True, False, None}


def catalyst_tree(nodes: list[dict]) -> tuple:
    """Catalyst's pre-order JSON node list as ``(kind, node, children)``."""
    it = iter(nodes)

    def build():
        n = next(it)
        kind = n["class"].rsplit(".", 1)[-1]
        return kind, n, [build() for _ in range(n["num-children"])]

    return build()


def _safe_type(expr: tuple, columns: set[str], can_up_cast) -> object:
    """The data type ``expr`` yields when every node of it is in the safe
    set (see the module docstring), else None."""
    kind, node, kids = expr
    types = [_safe_type(k, columns, can_up_cast) for k in kids]
    if None in types:
        return None
    if kind == "AttributeReference":
        return node["dataType"] if node["name"] in columns else None
    if kind == "Literal":
        t = node["dataType"]
        return t if isinstance(t, str) and not t.startswith("timestamp") else None
    if kind in _BOOLEAN:
        return "boolean"
    if kind in ("Remainder", "Pmod"):
        by_kind, by, _ = kids[1]
        nonzero = by_kind == "Literal" and float(by["value"] or 0) != 0
        return types[0] if nonzero else None
    if kind == "Cast":
        src, dst = types[0], node["dataType"]
        atomic = all(
            isinstance(t, str) and not t.startswith("timestamp")
            for t in (src, dst)
        )
        return dst if atomic and can_up_cast(src, dst) else None
    return None


def _column(expr: tuple, stats: dict) -> tuple | None:
    """``(lo, hi, may_null, all_null)`` of a column reference over the
    rows of the file ``stats`` describes; ``lo``/``hi`` None when
    unbounded. None for any other expression."""
    kind, node, _ = expr
    if kind != "AttributeReference":
        return None
    # a column the file predates is NULL in every row
    c = stats["columns"].get(node["name"], [None, None, stats["rows"]])
    if c is None:
        return (None, None, True, False)
    lo, hi, nulls = c
    if nulls == stats["rows"]:
        return (None, None, True, True)
    if node["dataType"] not in _BOUNDED:
        lo = hi = None
    elif node["dataType"] == "date":
        lo, hi = datetime.date.fromisoformat(lo), datetime.date.fromisoformat(hi)
    return (lo, hi, nulls > 0, False)


def _literal(expr: tuple):
    """A non-NULL literal's value in the form column bounds take, else
    None."""
    kind, node, _ = expr
    v, t = node.get("value"), node.get("dataType")
    if kind != "Literal" or v is None:
        return None
    if t in _INTEGRAL:
        return int(v)
    if t == "date":
        return datetime.date.fromisoformat(v)
    if t == "boolean":
        return v == "true"
    return v if t == "string" else None


def _conjunct(expr: tuple, stats: dict) -> set:
    """The truth values (None is SQL NULL) one conjunct can take over the
    rows of a file: a column IS [NOT] NULL, or compared with a literal on
    its right. Any other conjunct may take any."""
    kind, _, kids = expr
    if kind in ("IsNull", "IsNotNull"):
        col = _column(kids[0], stats)
        if col is None:
            return _ANY
        isnull = {True} if col[3] else {True, False} if col[2] else {False}
        return isnull if kind == "IsNull" else {not x for x in isnull}
    if kind not in _COMPARE:
        return _ANY
    op, col, lit = _COMPARE[kind], _column(kids[0], stats), _literal(kids[1])
    if col is None or lit is None:
        return _ANY
    lo, hi, may_null, all_null = col
    if all_null:
        return {None}
    out = {None} if may_null else set()
    if lo is None:
        return out | {True, False}
    true, false = {
        "=": (lo <= lit <= hi, not lo == hi == lit),
        "<": (lo < lit, hi >= lit),
        "<=": (lo <= lit, hi > lit),
        ">": (hi > lit, lo <= lit),
        ">=": (hi >= lit, lo < lit),
    }[op]
    return out | {v for v, can in ((True, true), (False, false)) if can}


def conjuncts(cond: tuple) -> list[tuple]:
    kind, _, kids = cond
    return [c for k in kids for c in conjuncts(k)] if kind == "And" else [cond]


def _delete_action(cond: tuple | None, stats: dict) -> str:
    """What an eligible DELETE does to one file: ``keep`` it when some
    conjunct of ``cond`` is never TRUE on its rows, ``drop`` it when every
    conjunct is TRUE on every row, else ``cover`` it with a pending entry.
    ``cond`` None is TRUE."""
    if stats["rows"] == 0:
        return "keep"
    try:
        truths = [_conjunct(c, stats) for c in conjuncts(cond)] if cond else []
    except (TypeError, ValueError):  # bounds that do not compare
        return "cover"
    if any(True not in t for t in truths):
        return "keep"
    return "drop" if all(t == {True} for t in truths) else "cover"


def _uncover(deletes: list[dict], gone) -> list[dict]:
    """Pending deletes with the files in ``gone`` taken out of coverage."""
    out = []
    for d in deletes:
        files = [f for f in d["files"] if f not in gone]
        if files:
            out.append({**d, "files": files})
    return out


def delete_from_snapshot(
    spark: SparkSession, table_dir: str, predicate: str
) -> int:
    """Row-level DELETE. The predicate is resolved against the table (a
    bad column raises, publishing nothing) and optimized on the driver.

    When the optimized predicate stays in the safe set, the DELETE is
    merge-on-read and runs no Spark job: each live file is kept, dropped
    or covered by one new pending entry, decided from its manifest stats
    (see the module docstring). When no file can match — or the optimizer
    proves the predicate never TRUE — it is a no-op returning the parent.

    Otherwise it is copy-on-write: rewrite ONLY the data files that hold
    matching live rows (Iceberg's copy-on-write granularity). File
    selection is one scan with the predicate pushed down: the matching
    rows' ``_metadata.file_path`` values are gathered by an ``observe``
    (a set, so task retries cannot add duplicates) while the scan drains
    to the ``noop`` sink. Untouched files carry over by reference; the
    rewritten files hold the touched files' surviving rows, with their
    pending deletes applied. A predicate that matches no live row
    returns the parent.

    Either way old versions still see the pre-delete data (time travel is
    unaffected; physical reclaim stays expire_snapshots' job)."""
    from pyspark.errors import AnalysisException

    from lakehouse_variance_spark.memo import memo

    parent = _main_head(table_dir)
    manifest = _read_manifest(table_dir, parent)
    files = manifest["files"]
    schema = _table_schema(manifest)
    # Plan over an empty RDD of the table's schema: the same resolution
    # as the file scan, without building a file index. A predicate it
    # cannot resolve (a bad column, or one on the scan's _metadata) goes
    # to the copy-on-write scan, which raises for the bad column.
    relation = memo(
        spark,
        ("snapshots.schema_relation", json.dumps(manifest["schema"], sort_keys=True)),
        lambda: spark.createDataFrame(spark.sparkContext.emptyRDD(), schema),
    )
    try:
        plan = relation.filter(predicate)._jdf.queryExecution().optimizedPlan()
    except AnalysisException:
        return _delete_copy_on_write(spark, table_dir, parent, manifest, predicate)
    kind = plan.getClass().getSimpleName()
    if kind == "LocalRelation":
        return parent  # the predicate folded to FALSE or NULL
    cond, where = None, "true"  # a bare relation: it folded to TRUE
    if kind == "Filter":
        cond = catalyst_tree(json.loads(plan.condition().toJSON()))
        where = plan.condition().sql()
    jvm = spark.sparkContext._jvm
    to_type = jvm.org.apache.spark.sql.types.DataType.fromJson

    def can_up_cast(src, dst) -> bool:
        return jvm.org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(
            to_type(json.dumps(src)), to_type(json.dumps(dst))
        )

    if kind not in ("Filter", "LogicalRDD") or (
        cond is not None
        and _safe_type(cond, set(schema.fieldNames()), can_up_cast) is None
    ):
        return _delete_copy_on_write(spark, table_dir, parent, manifest, predicate)
    stats = _field(manifest, "file_stats")
    actions = {f: _delete_action(cond, stats[f]) for f in files}
    drop = {f for f in files if actions[f] == "drop"}
    cover = [f for f in files if actions[f] == "cover"]
    if not drop and not cover:
        return parent  # the stats prove no file can match
    deletes = _uncover(manifest["deletes"], drop)
    if cover:
        deletes.append({"where": where, "files": cover})
    return _publish(
        table_dir,
        parent=parent,
        operation=f"delete-where({predicate})",
        schema=manifest["schema"],
        base={
            "files": [f for f in files if f not in drop],
            "file_stats": stats,
            "deletes": deletes,
        },
    )


def _delete_copy_on_write(
    spark: SparkSession,
    table_dir: str,
    parent: int,
    manifest: dict,
    predicate: str,
) -> int:
    """The copy-on-write DELETE ``delete_from_snapshot`` describes."""
    from urllib.parse import unquote, urlparse

    from pyspark.sql import Observation

    if not manifest["files"]:
        # every file was deleted whole: nothing to match, and an empty
        # table has no _metadata column to select. Analysing the filter
        # still raises for a bad column.
        _scan(spark, manifest, []).filter(predicate)
        return parent
    obs = Observation()
    (
        _live_scan(spark, manifest, manifest["files"])
        .filter(predicate)
        .select("_metadata.file_path")
        .observe(obs, F.collect_set("file_path").alias("files"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # file_path is a URI (file:///...); manifests store plain paths
    touched_paths = {
        unquote(urlparse(t).path) if "://" in t or t.startswith("file:") else t
        for t in obs.get["files"]
    }
    keep_files = [
        f for f in manifest["files"] if f not in touched_paths
    ]
    if len(keep_files) == len(manifest["files"]):
        if touched_paths:
            # Rows matched but no manifest file resolved: the URI
            # normalization above failed (relative table_dir, scheme+
            # authority URI, ...). Returning parent here would silently
            # keep the matching rows alive after a DELETE — fail instead.
            raise RuntimeError(
                "delete_from_snapshot matched rows in files "
                f"{sorted(touched_paths)[:3]}... but none map to manifest "
                "paths — file-path normalization mismatch, refusing a "
                "silent no-op DELETE"
            )
        return parent  # predicate matched no rows — delete is a no-op
    # DELETE semantics remove rows where the predicate is TRUE; rows where
    # it evaluates NULL must SURVIVE. A bare NOT(pred) filter drops them
    # (NOT NULL is NULL → filtered out) — coalesce to FALSE first.
    # The survivors scan uses the TABLE's schema: a touched file from
    # before a schema evolution lacks later-added columns, which read as
    # NULL instead of failing to resolve in the predicate.
    survivors = _live_scan(spark, manifest, sorted(touched_paths)).filter(
        f"NOT coalesce({predicate}, false)"
    )
    return _publish(
        table_dir,
        parent=parent,
        operation=f"delete-where({predicate})",
        schema=manifest["schema"],
        base={
            "files": keep_files,
            "file_stats": _field(manifest, "file_stats"),
            "deletes": _uncover(manifest["deletes"], touched_paths),
        },
        new=survivors,
    )


def optimize_snapshot(spark: SparkSession, table_dir: str) -> int:
    """Small-file compaction as a table-service commit (OPTIMIZE): rewrite
    the current version's live rows — pending deletes folded in — as
    right-sized files, and publish ONE new version listing only them,
    with no deletes pending. The output count comes from the manifest's
    row counts (no footer is opened; rows that pending deletes remove
    still count), and the rows are bin-packed with
    ``coalesce``: one job, no shuffle, and the input order kept, so each
    output file holds a narrow key range. Readers of old versions keep
    the original files; expire_snapshots reclaims them once out of
    retention."""
    parent = _main_head(table_dir)
    manifest = _read_manifest(table_dir, parent)
    files = manifest["files"]
    n_rows = sum(s["rows"] for s in _field(manifest, "file_stats").values())
    # ~128 MB-equivalent sizing downscaled to fixture volumes: one output
    # file per 64k rows, minimum 1 (the production knob is bytes-based via
    # spark.sql.files.maxRecordsPerFile / target-file-size).
    n_out = max(1, n_rows // 65536)
    return _publish(
        table_dir,
        parent=parent,
        operation=f"optimize({len(files)} files)",
        schema=manifest["schema"],
        base=_NOTHING,
        new=_live_scan(spark, manifest, files).coalesce(n_out),
    )


def remove_orphan_files(
    table_dir: str, older_than_seconds: float = 24 * 3600
) -> list[str]:
    """Delete data files referenced by NO manifest — the leftovers of
    commits that wrote files but crashed before publishing (Iceberg's
    remove_orphan_files maintenance action). This is the ONE maintenance
    path that must LIST the data directory, which is why it is a
    scheduled action, never part of a read.

    ``older_than_seconds`` protects IN-FLIGHT commits: a writer that has
    written its files but not yet published its manifest looks exactly
    like an orphan, so only files older than the grace window are
    reclaimed (Iceberg defaults its equivalent to 3 days for the same
    race)."""
    import time

    referenced: set[str] = set()
    for v in range(1, current_version(table_dir) + 1):
        referenced.update(_read_manifest(table_dir, v)["files"])
    cutoff = time.time() - older_than_seconds
    data_root = Path(table_dir) / "data"
    deleted = []
    if data_root.exists():
        for p in sorted(data_root.rglob("*.parquet")):
            if str(p) not in referenced and p.stat().st_mtime <= cutoff:
                _unlink_data(p)
                deleted.append(str(p))
    return deleted


def files_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Iceberg's ``table.files`` metadata table: one row per data file
    visible at the current mainline version, with size and row count from
    the manifest's stats (no data file or footer is opened)."""
    v = _main_head(table_dir)
    rows = [
        (f, st["rows"], st["bytes"])
        for f, st in _field(_read_manifest(table_dir, v), "file_stats").items()
    ]
    return spark.createDataFrame(
        rows, "file_path string, record_count bigint, file_size_bytes bigint"
    )


def history_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """Iceberg's ``table.history``/``table.snapshots`` metadata table: the
    commit log as a DataFrame (version, parent, operation, file count)."""
    rows = [
        (h["version"], h["parent"], h["operation"], h["n_files"])
        for h in history(table_dir)
    ]
    return spark.createDataFrame(
        rows, "version int, parent int, operation string, n_files int"
    )


def read_version_changes(
    spark: SparkSession, table_dir: str, from_version: int, to_version: int
) -> DataFrame:
    """Incremental read: rows APPENDED between two versions — the files
    listed by ``to_version`` but not by ``from_version`` (Iceberg's
    incremental append scan / Delta's change-data read for append-only
    commits). Downstream jobs consume exactly the delta instead of
    rescanning the table; with the streaming sink's one-version-per-batch
    commits this is replayable micro-batch lineage. Validation walks the
    PARENT CHAIN from ``to_version`` down to ``from_version`` (not the
    global version sequence — interleaved branch commits occupy versions
    in between without being on this lineage): every commit on the chain
    must be an append, and ``from_version`` must be an ancestor, or the
    file diff would conflate removals with appends — Iceberg's
    incremental scan refuses the same way."""
    if to_version <= from_version:
        raise ValueError("to_version must be after from_version")
    v = to_version
    while v > from_version:
        m = _read_manifest(table_dir, v)
        op = m["operation"]
        if not (op in ("append", "stream-append") or op.startswith("append@")):
            raise ValueError(
                f"incremental read crosses non-append commit v{v} ({op})"
            )
        v = m["parent"]
    if v != from_version:
        raise ValueError(
            f"v{from_version} is not an ancestor of v{to_version} — the "
            "versions are on different lineages (branch vs main)"
        )
    old = set(_read_manifest(table_dir, from_version)["files"])
    manifest = _read_manifest(table_dir, to_version)
    new_files = [f for f in manifest["files"] if f not in old]
    if not new_files:
        raise ValueError("no appended files in range")
    return _live_scan(spark, manifest, new_files)


def publish_branch(table_dir: str, branch: str) -> int:
    """Write-audit-publish's publish step: fast-forward ``main`` to the
    branch head. Valid only when main's current head is an ancestor of the
    branch head along the parent chain (i.e. main has NOT advanced since
    the branch forked) — the same fast-forward-only rule as Iceberg's WAP
    cherry-pick for clean histories. On success main readers atomically
    see every audited branch commit; the branch ref remains for further
    staging."""
    head = resolve_ref(table_dir, branch)
    refs = _read_refs(table_dir)
    if branch not in refs["branches"]:
        raise ValueError(f"{branch!r} is a tag — cannot publish a tag")
    main = _main_head(table_dir)
    v = head
    while v > 0 and v != main:
        v = _read_manifest(table_dir, v)["parent"]
    if v != main:
        raise ValueError(
            f"cannot fast-forward: main (v{main}) is not an ancestor of "
            f"{branch!r} (v{head}) — rebase the branch or merge manually"
        )
    _advance_branch(table_dir, "main", head)
    return head

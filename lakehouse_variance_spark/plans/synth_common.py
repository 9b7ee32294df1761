"""Shared machinery for derived synthetic schemas (tpcds_schema, tpch_ext).

Both modules define tables as self-contained SQL over the driver's base
tables and need the same four pieces, previously duplicated:

* base-table re-pointing (``FROM customer`` → ``FROM customer_base``) so
  a derived table may shadow a base table's name;
* a defs fingerprint keying the parquet cache (schema edits regenerate);
* the DuckDB WITH-prelude merge (prefix a query text with the schema
  definition CTEs, folding the query's own WITH-list when present);
* the Spark-side materialize-once-then-register-views flow.
"""

from __future__ import annotations

import functools
import hashlib
import os
import re as _re
import shutil
import sys
from collections.abc import Callable

from pyspark.sql import SparkSession

from lakehouse_variance_spark.memo import memo, session_state, stamp
from lakehouse_variance_spark.tables import TABLE_NAMES


def sql_quoted_idents(spark: SparkSession, text: str):
    """spark.sql() for ANSI texts whose identifiers are double-quoted
    (the reference's generated SSB/IMDB workloads quote every column).

    Spark parses double quotes as string literals unless
    ``spark.sql.ansi.doubleQuotedIdentifiers`` is on; the flag is flipped
    only around the PARSE (parsing happens eagerly inside spark.sql) and
    restored, so other query texts in the session — where ``"..."`` may
    be a string literal — keep their meaning."""
    key = "spark.sql.ansi.doubleQuotedIdentifiers"
    old = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        return spark.sql(text)
    finally:
        spark.conf.set(key, old)


def normalize_workload_sql(sql: str) -> str:
    """Mechanical dialect normalization for the reference's generated
    workload texts (`models/Queries/Baseline_*/*.ndjson`), applied ONCE
    at embed time so the SAME normalized string runs on both engines:

    * ``CAST(x AS varchar)`` -> ``CAST(x AS string)`` — Spark requires a
      length for VARCHAR; both engines accept STRING;
    * ``sum(expr)`` -> ``CAST(sum(expr) AS BIGINT)`` — DuckDB widens
      BIGINT sums to HUGEINT (rendered as float by pandas) while Spark
      returns int64; the cast pins both to int64.  Generated sum args
      never nest parentheses (verified over all 3,951 texts).
    """
    sql = _re.sub(r"(?i)\bAS\s+varchar\s*\)", "AS string)", sql)
    sql = _re.sub(
        r"(?i)\bsum\(([^()]*)\)", r"CAST(sum(\1) AS BIGINT)", sql
    )
    return sql.strip().rstrip(";")


def repoint(sql: str, base: str) -> str:
    """FROM/JOIN <base> → FROM/JOIN <base>_base (word-boundary safe; defs
    only reference base tables in FROM/JOIN clauses)."""
    return _re.sub(
        rf"\b(FROM|JOIN)\s+{base}\b(?!_base)", rf"\1 {base}_base", sql
    )


def repoint_all(sql: str, bases: tuple[str, ...]) -> str:
    for base in bases:
        sql = repoint(sql, base)
    return sql


def defs_fingerprint(defs: dict[str, str]) -> str:
    return _fingerprint(tuple(defs.items()))


@functools.lru_cache(maxsize=32)
def _fingerprint(items: tuple[tuple[str, str], ...]) -> str:
    # Pure in the defs text; cached because every register call keys its
    # fast path on it and hashing ~60 KB of TPC-DS defs costs ~0.1 ms.
    blob = "\n".join(f"{k}:{v}" for k, v in items)
    return hashlib.md5(blob.encode()).hexdigest()[:12]


def wrap_with_prelude(prelude: str, query_text: str) -> str:
    """Prefix a query text with a WITH-prelude, merging WITH-lists when
    the query itself starts with WITH."""
    body = query_text.strip()
    m = _re.match(r"(?is)^with\b", body)
    if m:
        body = body[m.end():].lstrip()
        return f"WITH {prelude},\n{body}"
    return f"WITH {prelude}\n{body}"


def cache_dir(cache_root: str, sf_dir: str, fingerprint: str) -> str:
    """Content-addressed cache dir of one derived family: keyed on the
    sf_dir, the defs fingerprint and every base table's (mtime_ns, size),
    so a dataset rebuilt at the same path builds a fresh cache instead of
    serving tables derived from the old data."""
    stamps = [stamp(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLE_NAMES]
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{fingerprint}|{stamps}".encode()
    ).hexdigest()[:16]
    return os.path.join(cache_root, key)


# Catalog-ownership token per session: WHICH view family currently owns the
# shared names (tpcds/ssb/tpch_ext shadow base `customer` etc.) and WHICH
# DataFrame handles back them. `createOrReplaceTempView` costs a py4j round
# trip + plan wrap PER VIEW, and re-registering 10-34 unchanged views on
# every text-query invocation was a pure per-query constant (guide §1.2:
# don't redo work whose inputs didn't change). A register helper skips when
# the session's token already equals its own; ANY code that re-points a
# shared name outside the helpers must call `catalog_state_dirty` so the
# next helper call does the full re-registration. The token lives in the
# session's own state (memo.py): temp views are per session, so is it.


def catalog_state_get(spark: SparkSession):
    return session_state(spark).get("catalog")


def catalog_state_set(spark: SparkSession, token: tuple) -> None:
    session_state(spark)["catalog"] = token


def catalog_state_dirty(spark: SparkSession) -> None:
    """Invalidate the skip token (a shared view name was re-pointed
    outside the register helpers)."""
    session_state(spark).pop("catalog", None)


def catalog_memo(spark: SparkSession, key, compute: Callable[[], object]):
    """Memoize a value computed from the registered views, keyed by the
    catalog token that names the handles behind them: re-registered or
    rebuilt views get a new token and so a fresh value. With no token
    (names re-pointed outside the helpers) nothing is memoized."""
    token = catalog_state_get(spark)
    if token is None:
        return compute()
    return memo(spark, (token, key), compute)


def materialize_and_register(
    spark: SparkSession,
    sf_dir: str,
    defs: dict[str, str],
    bases: tuple[str, ...],
    cache_root: str,
    *,
    build_sql: Callable[[str], str],
    register_during_build: bool = False,
) -> None:
    """Materialize every def into the content-addressed parquet cache
    (once per sf_dir, defs version and base-file stamps; see cache_dir),
    then register all defs as temp views.

    ``build_sql`` maps a def's SQL to the statement actually executed
    during the build (e.g. prefixing a digits CTE). When defs reference
    EARLIER defs by name (tpcds returns → sales), pass
    ``register_during_build=True`` so each table's view is visible to the
    next build statement."""
    from lakehouse_variance_spark.plans.runner import register_sf_views

    out = cache_dir(cache_root, sf_dir, defs_fingerprint(defs))
    done = os.path.join(out, "_DONE")
    # Fast path: this family's cache dir already owns the catalog names —
    # nothing to do. The dir is content-addressed and never rewritten in
    # place, and its handles are memoized once per session below, so the
    # dir alone names the handles behind the views.
    token = ("defs", out)
    if catalog_state_get(spark) == token:
        return
    register_sf_views(spark, sf_dir)
    if not os.path.exists(done):
        # Concurrency-safe build: write into a pid-suffixed temp dir and
        # os.rename it into place, so the cache dir only ever appears
        # fully built — two sessions racing here each build privately and
        # exactly one rename wins (the loser's tree is discarded); readers
        # never observe a half-written or overwritten-in-place cache.
        tmp = f"{out}.build-{os.getpid()}"
        for base in bases:
            spark.table(base).createOrReplaceTempView(f"{base}_base")
        os.makedirs(tmp, exist_ok=True)
        # Whole-stage codegen is DISABLED for the build statements only.
        # The digit-product `_seq` derivations are cross-join fan-outs
        # (part × seq(131) × seq(5) → 1.31e9 rows at the 100× probe), and
        # Spark's generated BroadcastNestedLoopJoin code buffers each
        # emitted row (UnsafeRow.copy into the WSCG row buffer) without
        # yielding inside the build-side loops — measured to exhaust ANY
        # heap (OOM at 80g) on the doubly-nested fan-out, while the
        # interpreted iterator path streams the same 1.31B-row build in
        # 18s inside a 12g heap.  Query EXECUTION keeps codegen; only the
        # one-time generator writes run interpreted.
        prev_wscg = spark.conf.get("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        try:
            for name, sql in defs.items():
                df = spark.sql(build_sql(repoint_all(sql, bases)))
                df.write.mode("overwrite").parquet(os.path.join(tmp, name))
                if register_during_build:
                    spark.read.parquet(
                        os.path.join(tmp, name)
                    ).createOrReplaceTempView(name)
        finally:
            spark.conf.set("spark.sql.codegen.wholeStage", prev_wscg)
        # _DONE names the sf_dir the tree was derived from, so a later
        # build for the same sf_dir can find and drop the trees it
        # supersedes (the key is a hash, which cannot be read back).
        with open(os.path.join(tmp, "_DONE"), "w") as fh:
            fh.write(f"{defs_fingerprint(defs)}\n{os.path.abspath(sf_dir)}\n")
        try:
            os.rename(tmp, out)
        except OSError:
            if os.path.exists(done):  # a concurrent builder won the race
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                raise
        else:
            _drop_superseded(cache_root, out, sf_dir)
    for name in defs:
        path = os.path.join(out, name)
        df = memo(spark, ("derived", path), lambda: spark.read.parquet(path))
        df.createOrReplaceTempView(name)
    catalog_state_set(spark, token)


def _drop_superseded(cache_root: str, keep: str, sf_dir: str) -> None:
    """Delete every other published tree under ``cache_root`` derived from
    ``sf_dir``: each is keyed by base-file stamps or defs that no longer
    hold, so registration cannot select it again. Trees of other sf_dirs
    stay, and so do trees whose ``_DONE`` predates the sf_dir line; those
    are reported."""
    sf_abs = os.path.abspath(sf_dir)
    legacy = 0
    with os.scandir(cache_root) as entries:
        trees = [e.path for e in entries
                 # skip this tree and pid-suffixed builds in progress
                 if e.is_dir() and e.path != keep and "." not in e.name]
    for tree in trees:
        try:
            with open(os.path.join(tree, "_DONE")) as fh:
                lines = fh.read().splitlines()
        except OSError:
            continue
        if len(lines) < 2:
            legacy += 1
        elif lines[1] == sf_abs:
            shutil.rmtree(tree, ignore_errors=True)
    if legacy:
        print(f"# {cache_root}: {legacy} cache tree(s) without an sf_dir "
              "line in _DONE left in place", file=sys.stderr)

"""Per-session state: one dict per SparkSession, and stamped memos in it.

Everything the engine computes once and reuses within a session (table
handles, footer schemas, row counts, prune key sets, the catalog-ownership
token) lives in that session's own dict, under a key that names what the
value was computed from:

* a base file: its path, with the file's ``(st_mtime_ns, st_size)`` stamp
  checked on every call (``paths=``), so a rewrite recomputes;
* a derived-family table: its content-addressed cache dir, which is never
  rewritten in place and so needs no stamp;
* a value computed from registered views: the catalog token naming the
  handles behind those views (``synth_common.catalog_memo``).

The dict hangs off the session object itself. A module-level
``WeakKeyDictionary`` would never release it: the memoized DataFrames
reference their session, so the dict's strong hold on the value keeps the
weak key alive. As an attribute, the state dies with its session, and a
``spark.newSession()`` (own temp views, own SQLConf) starts empty.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import SparkSession

_ATTR = "_lvs_session_state"


def session_state(spark: SparkSession) -> dict:
    """This session's own state dict (created empty on first use)."""
    state = spark.__dict__.get(_ATTR)
    if state is None:
        state = spark.__dict__[_ATTR] = {}
    return state


def stamp(path: str) -> tuple[int, int] | None:
    """``(st_mtime_ns, st_size)`` of ``path`` from one stat, or None when it
    does not exist. A directory is stamped by its own entry, not walked."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def memo(
    spark: SparkSession,
    key: Any,
    compute: Callable[[], Any],
    paths: Iterable[str] = (),
) -> Any:
    """``compute()`` once per session and ``key``, recomputed when any of
    ``paths`` changes stamp. Nothing is stored when ``compute`` raises."""
    state = session_state(spark)
    stamps = tuple(map(stamp, paths))
    hit = state.get(key)
    if hit is not None and hit[0] == stamps:
        return hit[1]
    value = compute()
    state[key] = (stamps, value)
    return value

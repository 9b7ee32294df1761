"""Session defaults: derived from the host, overridable from the env, and
a bad env value fails with a message that names the variable. The session
keeps its generated code compiled across queries."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from lakehouse_variance_spark import registry
from lakehouse_variance_spark.session import (
    codegen_compiles,
    env_int,
    host_driver_mem,
)
from tests.conftest import SF_DIR


def test_env_int_parses_and_names_bad_values(monkeypatch):
    name = "SPARK_GRAFT_PRUNE_MAX_KEYS"
    monkeypatch.delenv(name, raising=False)
    assert env_int(name, 4096) == 4096
    monkeypatch.setenv(name, "")
    assert env_int(name, 4096) == 4096
    monkeypatch.setenv(name, " 12 ")
    assert env_int(name, 4096) == 12
    for bad in ("lots", "1.5", "-1"):
        monkeypatch.setenv(name, bad)
        with pytest.raises(ValueError, match=name):
            env_int(name, 4096)


def _import_in_child(module: str, code: str, env: dict):
    """Import ``module`` in a fresh interpreter (settings are read at
    import), then run ``code``."""
    return subprocess.run(
        [sys.executable, "-c", f"import {module}\n{code}"],
        env=env, capture_output=True, text=True, timeout=120,
    )


def test_defaults_come_from_the_host():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = _import_in_child(
        "lakehouse_variance_spark.session",
        "print(lakehouse_variance_spark.session.DEFAULT_CPUS)", env,
    )
    assert int(out.stdout) == len(os.sched_getaffinity(0))
    mem = host_driver_mem()
    assert mem.endswith("g")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 1 <= int(mem[:-1]) <= 24
    assert int(mem[:-1]) << 30 < ram


@pytest.mark.parametrize(
    "module, var",
    [
        ("lakehouse_variance_spark.session", "SPARK_GRAFT_CPUS"),
        ("lakehouse_variance_spark.plans.tpcds_texts",
         "SPARK_GRAFT_PRUNE_MIN_BYTES"),
        ("lakehouse_variance_spark.plans.tpcds_texts",
         "SPARK_GRAFT_PRUNE_MAX_KEYS"),
    ],
)
def test_bad_env_value_fails_import_naming_it(module, var):
    out = _import_in_child(module, "", {**os.environ, var: "many"})
    assert out.returncode != 0
    assert f"ValueError: ${var} must be an integer" in out.stderr


# The benchmark's headline mix: a cycle of queries whose generated classes
# (267 in a cold JVM at sf0.001) far outnumber Spark's default
# 100-entry codegen cache.
CODEGEN_CYCLE = (
    "ann_lsh_topk",
    "bpe_first_merge_pairs",
    "dedup_shingle_jaccard",
    "mv_incremental_refresh",
    "pack_bins_ffd",
    "search_hybrid_rrf",
    "tpcds_q4",
    "tpch_q17",
    "window_fullouter_cumulative",
    "window_trailing_7d_sum",
    "yoy_channel_growth_compare",
    "yoy_decline_with_returns",
)
MAX_SECOND_PASS_COMPILES = len(CODEGEN_CYCLE)  # one class per query


def test_generated_code_stays_compiled_across_queries(spark):
    """A second pass over the cycle reuses the first pass's classes; with
    Spark's default cache it recompiled 360 of them (7 here)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "10000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    registry.load_all()

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for name in CODEGEN_CYCLE:
            df = registry.QUERIES[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    one_pass()
    assert one_pass() <= MAX_SECOND_PASS_COMPILES

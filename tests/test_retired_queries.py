"""The retirement ledger in COVERAGE.md stays true.

Queries that only re-expressed a TPC-DS (or TPC-H) shape whose verbatim
text is registered were deleted; COVERAGE.md lists each with the queries
that cover it, and each kept non-headline query with the pattern it alone
covers. A retired name that comes back, a cover that loses its oracle, or a
benched name that disappears fails here."""

from __future__ import annotations

import os
import re

import bench
from lakehouse_variance_spark import registry
from perfbench import headline_mix

registry.load_all()

COVERAGE = os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")


def _ledger(title: str) -> list[tuple[str, list[str]]]:
    """(name, names in the second column) for each row of a COVERAGE.md
    section's table."""
    text = open(COVERAGE, encoding="utf-8").read()
    section = text.split(f"\n## {title}\n", 1)[1].split("\n## ", 1)[0]
    rows = []
    for line in section.splitlines():
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if len(cells) >= 2 and cells[0].startswith("`"):
            rows.append((cells[0].strip("`"), re.findall(r"`([a-z0-9_]+)`", cells[1])))
    return rows


RETIRED = _ledger("Retired re-expressions")
KEPT = _ledger("Kept DataFrame queries")


def test_ledger_covers_the_whole_scope_once():
    names = [n for n, _ in RETIRED] + [n for n, _ in KEPT]
    assert len(names) == len(set(names))
    assert (len(RETIRED), len(KEPT)) == (55, 24)


def test_retired_queries_stay_retired_and_covered():
    for name, covers in RETIRED:
        assert name not in registry.QUERIES, f"{name} is registered again"
        assert covers, f"{name} names no covering query"
        for q in covers:
            assert q in registry.QUERIES and q in registry.ORACLES, (name, q)


def test_kept_queries_are_registered_with_oracles():
    for name, _ in KEPT:
        assert name in registry.QUERIES and name in registry.ORACLES, name
        assert name not in bench.HEADLINE_QUERIES, name


def test_headline_queries_stay_registered():
    assert len(bench.HEADLINE_QUERIES) == 99
    assert set(bench.HEADLINE_QUERIES) <= set(registry.QUERIES)


def test_mix_ops_keep_their_modules():
    # perfbench names each op's time after its registering module, so a
    # moved query renames an ops.<module>.wall_s metric.
    assert {op: headline_mix.module_key(op) for op in headline_mix.MIX} == {
        "ann_lsh_topk": "ops.operators.similarity.wall_s",
        "bpe_first_merge_pairs": "ops.operators.redaction.wall_s",
        "dedup_shingle_jaccard": "ops.operators.dedup.wall_s",
        "mv_incremental_refresh": "ops.operators.mutation.wall_s",
        "pack_bins_ffd": "ops.operators.mixture.wall_s",
        "search_hybrid_rrf": "ops.operators.cleaning.wall_s",
        "tpcds_q4": "ops.plans.tpcds_texts.wall_s",
        "tpch_q17": "ops.plans.tpch_texts.wall_s",
        "window_fullouter_cumulative": "ops.operators.relational.wall_s",
        "window_trailing_7d_sum": "ops.operators.relational_ext.wall_s",
        "yoy_channel_growth_compare": "ops.operators.relational_ds2.wall_s",
        "yoy_decline_with_returns": "ops.operators.relational_ds3.wall_s",
    }

"""Global plan-invariant sweep: EVERY registered query's physical plan is
checked for the two anti-patterns that silently destroy cluster-scale
performance — cartesian products and row-at-a-time Python evaluation.

The per-query gates in test_plan_quality.py / test_plans_ds*.py pin
specific plan SHAPES; this sweep is the backstop that a newly registered
query can't regress below the floor without failing CI.
"""

from __future__ import annotations

from lakehouse_variance_spark import registry
from tests.conftest import SF_DIR as SF_DIR_SMALL

registry.load_all()

# Known, documented exceptions:
# - udtf_chunk_documents exists to demonstrate the SQL-callable Python
#   UDTF surface (LATERAL table functions); Spark evaluates UDTFs via
#   BatchEvalPython by design. The Arrow-vectorized equivalent of the same
#   computation is text_chunk_dedup / mapInArrow operators.
ROW_PYTHON_ALLOWED = {"udtf_chunk_documents"}

# BroadcastNestedLoopJoin is allowed ONLY where the broadcast side is a
# 1-row (or few-row constant) scalar — e.g. joining a global average back
# to every row (the TPC-H q14 / TPC-DS q1-correlated-average shape), where
# the "nested loop" is a constant probe, not an all-pairs scan. Anything
# joining two data-scaled relations through BNLJ is an O(n*m) scale killer
# and must be rewritten as an equi-join over candidates.
# Each allowlisted name below is audited: the BNLJ build side is a
# no-grouping-key aggregate (exactly one row), a fixed constant-size query
# set, or a literal frame — never a data-scaled relation.
BNLJ_ALLOWED: set[str] = {
    # 1-row global-aggregate broadcasts joined back to every row:
    "trace_workload_summary",       # across_runs x across_queries, 1 row each
    "trace_variance_decomposition", # per_run x grand total (1 row)
    "trace_config_delta",           # variant x base summary (1 row)
    "data_mixture_weights",         # per_src x corpus total (1 row)
    "select_dsir_importance",       # bucket ratios x instance totals (1 row)
    "text_bigram_pmi",              # bigrams x token total (1 row)
    "text_doc_rarity_score",        # docs x n_total (1 row)
    "vocab_source_keywords",        # cells x corpus-count n_tab (1 row)
    "sample_weighted_systematic",   # prefix rows x total-chars agg (1 row)
    "text_bm25_topk",               # tf x corpus stats (1 row) + idf (3 rows)
    "search_hybrid_rrf",            # composes text_bm25_topk verbatim, so it
                                    # inherits the SAME audited 1-row corpus-
                                    # stat BNLJs; the RRF fusion join itself
                                    # is an equi SortMergeJoin on doc_id
                                    # (shape-gated in test_plan_quality.py)
    "cross_channel_items_rollup",   # rollup x grand total (1 row)
    "agg_hll_sketch_union",         # union sketch (1 row) x exact ALL (1 row)
    # Verbatim TPC-DS texts whose FROM-lists cross-join no-grouping-key
    # scalar aggregates (each side is exactly one row by construction):
    "tpcds_q28",                    # B1..B6, six 1-row bucket aggregates
    "tpcds_q61",                    # promotional_sales (1) x all_sales (1)
    "tpcds_q77",                    # cs x cr, cr is a global-agg (1 row)
    "tpcds_q88",                    # s1..s8, eight 1-row counts
    "tpcds_q90",                    # amt (1 row) x pmt (1 row)
    "sql_text_recursive_calendar",  # literal recursive-CTE calendar frame
    # Constant-size query-set broadcasts (N_QUERY_VECS=5 fixed, not data-
    # scaled) probing the corpus in one pass:
    "embed_cosine_topk",
    "ann_ivf_topk",  # recall-envelope harness (r9): same 5-query-vec
                     # brute-force bracket + 1-row scalar crossJoin as
                     # ann_lsh_topk; production join is the cluster-id
                     # equi-join in _ivf_topk_pairs
    "ann_pq_topk",   # recall-envelope harness (r9): ditto; production
                     # path is the Arrow ADC scan in _pq_topk_pairs
    "ann_lsh_topk",  # recall-envelope harness: 5-query-vec brute-force
                     # bracket + 1-row mean-recall scalar crossJoin; the
                     # production candidate join is the (t, b) equi-join
                     # (see operators/similarity.py:ann_lsh_topk docstring)
    # Documented exact all-pairs correctness BASELINE; the scale paths are
    # ann_lsh_topk / ann_ivf_topk / dedup_embedding's cluster-pruned join:
    "embed_cosine_pairs",
    # Equivalence-envelope harnesses (r9): exact-Jaccard bracket rows x
    # 1-row subset/recall scalar crossJoin; the production operators are
    # _minhash_lsh_pairs / _simhash_pairs (banded equi-joins, law-tested
    # in test_dedup.py):
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_semantic_clusters",  # same envelope shape over the (already
                                # BNLJ-allowlisted) embed_cosine_pairs
                                # bracket; production _semdedup_pairs is
                                # the cluster equi-join, plan-gated in
                                # test_similarity.py
}


def test_no_cartesian_or_row_python_anywhere(spark):
    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(registry.QUERIES.items()):
        plan = fn(spark, SF_DIR_SMALL)._jdf.queryExecution().executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan and name not in ROW_PYTHON_ALLOWED:
            flags.append("BatchEvalPython")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            flags.append("BroadcastNestedLoopJoin")
        if flags:
            offenders[name] = flags
    assert not offenders, f"plan anti-patterns: {offenders}"

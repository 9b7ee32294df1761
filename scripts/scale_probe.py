"""Scale-stability probe: do the relational headline queries scale ~linearly
from sf0.1 to a 10x dataset on the same hardware?

Builds a synthetic "sf1" under .scratch_sf1/ (gitignored): ten key-shifted
replicas of the fact/dimension tables (every join/group key offset per
replica so key cardinality scales with data volume and join outputs scale
linearly — naive duplication would explode self-joins quadratically).
nation/region stay fixed (they are fixed-size in TPC-H too); documents/
embeddings are excluded — text/vector operators have their own corpus
scaling semantics.

Usage: python scripts/scale_probe.py   # prints per-query sf0.1 vs 10x + ratio
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from lakehouse_variance_spark import registry
from lakehouse_variance_spark.session import build_session

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scratch_sf1")
REPLICAS = 10
SHIFT = 10_000_000_000  # far above any key in the source data

# key columns to offset per replica (replica i adds i*SHIFT)
KEY_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
# Fixed-size dims copy as-is; embeddings copy unchanged (vector replicas
# would need orthogonal perturbations to keep near-dup structure honest).
COPY_AS_IS = ["region", "nation", "embeddings"]

# documents replicate TEXTUALLY DISTINCT: every word in replica i gets an
# _i suffix (doc_id key-shifted too), so within-replica duplicate/shingle
# structure is preserved exactly while cross-replica shingle matches are
# impossible — a 10x corpus with a CONSTANT dup rate, the honest scaling
# (naive text duplication would grow near-dup join outputs 100x).
CORPUS_REPLICATE = ["documents"]

PROBE_QUERIES = [
    "q1_pricing_summary",
    "join_topk_revenue",
    "join_multiway_region",
    "agg_rollup_grouping",
    "union_channels_rollup",
    "daygap_bucket_counts",
    "correlated_scalar_subquery",
    "window_running_sum",
    "window_fullouter_cumulative",
    "window_range_frame",
    "asof_join_latest_click",
    "set_intersect_all",
    "union_return_ratio_ranked",
    "scalar_counts_crossjoin",
    # round-3 fourth TPC-DS batch
    "yoy_channel_growth_compare",
    # round-3 fifth TPC-DS batch
    "excess_discount_by_month",
    "returned_rebuy_quantities",
    "yoy_decline_with_returns",
    # verbatim TPC-H + recursive calendar
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q13",
    "tpch_q15",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q22",
    # round-4 additions
    "event_transition_counts",
    "ts_ohlc_bars",
    "trace_runtime_trend",
    "window_trailing_7d_sum",
    # corpus operators over the word-suffixed 10x document replicas
    "text_token_stats",
    "text_filter_pipeline",
    "text_quality_score",
    "text_fingerprint",
    "dedup_exact",
    "dedup_shingle_jaccard",
    "dedup_minhash_lsh",
    "text_bigram_pmi",
    "bpe_first_merge_pairs",
    "text_pii_redact",
    "text_chunk_dedup",
    "contamination_ngram",
    "vocab_cms_topk",
    "sql_text_recursive_calendar",
    "cross_channel_items_rollup",
    "argmax_struct_top_type",
    "agg_unpivot_long",
    "join_seven_table_stress",
    "cohort_retention_matrix",
    "funnel_3step_users",
    "window_time_weighted_avg",
    # round-5: streaming family (micro-batch pipelines over the key-shifted
    # 10x events replicas; fixed per-batch machinery should amortize, so
    # healthy ratios sit well under 10)
    "session_window_agg",
    "stream_event_window",
    "stream_sliding_window",
    "stream_static_join_dim",
    "stream_dedup_exactly_once",
    "batch_sessionize",
    # round-5: multimodal family (Arrow-batched decode/sample/resize over
    # the 10x suffixed document replicas)
    "multimodal_metadata",
    "media_frame_sample",
    "media_feature_extract",
    "media_resize",
    # round-5: ingestion tier (URL-alias collapse, batch-vs-seen gate,
    # shuffle+shard, Gini — all single-shuffle shapes; ratios should track
    # data volume, not blow up)
    "dedup_url_canonical",
    "dedup_incremental",
    "corpus_shuffle_shard",
    "corpus_gini_by_source",
    # round-5: verbatim TPC-DS texts over the synthetic schema DERIVED from
    # the key-shifted replicas (facts scale 10x, dimensions stay fixed —
    # the real TPC-DS scaling shape). One per heavy plan family.
    "tpcds_q1",
    "tpcds_q4",
    "tpcds_q51",
    "tpcds_q64",
    "tpcds_q67",
    "tpcds_q78",
    "tpcds_q95",
    "tpcds_q98",
    # round-6: new corpus-selection ops (bigram-LM scoring, DSIR buckets,
    # curriculum windows, distributed-prefix global budget) + a generated
    # TPC-DS workload text
    "text_bigram_lm_fluency",
    "select_dsir_importance",
    "curriculum_training_order",
    "token_budget_select_global",
    "tpcds_wl_321",
    "fanout_count_pushdown",
    # round-10: scheduling + trace families (VERDICT r9 #7 — the last
    # registered families without a probe row). The scheduler folds are
    # driver-side over bounded inputs BY DESIGN (SURVEY §2A UDF table), so
    # healthy ratios are ~flat; the CI-series build and slot-explode joins
    # underneath them scale with events volume.
    "carbon_upsample_prefix",
    "fifo_schedule_carbon",
    "greedy_lowcarbon_schedule",
    "scrub_trace_redaction",
]


def build_dataset(spark, dst: str = DST, n_replicas: int = REPLICAS) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in COPY_AS_IS:
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        df.coalesce(1).write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    for name, keys in KEY_SHIFTS.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        replicas = []
        for i in range(n_replicas):
            r = df
            for k in keys:
                r = r.withColumn(k, F.col(k) + F.lit(i * SHIFT))
            replicas.append(r)
        out = replicas[0]
        for r in replicas[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")
    for name in CORPUS_REPLICATE:
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        replicas = []
        for i in range(n_replicas):
            r = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * SHIFT))
            if i > 0:  # replica 0 keeps the original text verbatim
                r = r.withColumn(
                    "text",
                    F.regexp_replace(F.col("text"), r"(\S+)", f"$1_{i}"),
                )
            replicas.append(r)
        out = replicas[0]
        for r in replicas[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--battery",
        choices=("default", "tpcds", "ssb"),
        default="default",
        help="default = the cross-tier headline list; tpcds = all 99 "
        "verbatim texts; ssb = the 13 flights",
    )
    ap.add_argument(
        "--factor",
        type=int,
        default=10,
        help="scale multiplier vs sf0.1 (10 -> .scratch_sf1; 100 -> "
        ".scratch_sf10) — extends the scaling curve past 10x where the "
        "battery's worst ratios live",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated registered query names (overrides --battery)",
    )
    args = ap.parse_args()
    queries = PROBE_QUERIES
    if args.battery == "tpcds":
        queries = [f"tpcds_q{i}" for i in range(1, 100)]
    elif args.battery == "ssb":
        queries = [
            f"ssb_q{f}_{s}"
            for f, ns in ((1, 3), (2, 3), (3, 4), (4, 3))
            for s in range(1, ns + 1)
        ]

    if args.queries:
        queries = args.queries.split(",")

    dst = DST if args.factor == 10 else os.path.join(
        os.path.dirname(DST), f".scratch_sf{args.factor // 10}"
    )
    n_replicas = args.factor

    registry.load_all()
    spark = build_session(app_name="scale-probe")
    # Completion sentinel, written AFTER the last table: checking for
    # lineitem.parquet alone would treat an interrupted build (lineitem
    # written, events/documents missing or partial) as complete forever.
    sentinel = os.path.join(dst, "_BUILD_COMPLETE")
    if not os.path.exists(sentinel):
        t0 = time.perf_counter()
        build_dataset(spark, dst, n_replicas)
        with open(sentinel, "w", encoding="utf-8") as f:
            f.write("ok\n")
        print(f"# built {args.factor}x dataset in "
              f"{time.perf_counter()-t0:.1f}s", file=sys.stderr)
    rows = spark.read.parquet(f"{dst}/lineitem.parquet").count()
    print(f"# lineitem rows at {args.factor}x: {rows}", file=sys.stderr)

    print(f"{'query':35s} {'sf0.1':>8s} {args.factor:>6d}x {'ratio':>6s}")
    total_small = total_big = 0.0
    import gc

    # The registered dedup_minhash_lsh is the r9 equivalence ENVELOPE
    # (production LSH + the exact-Jaccard bracket); the scaling question
    # is about the PRODUCTION path, so probe that directly — the exact
    # join's own scaling is already measured via dedup_shingle_jaccard.
    from lakehouse_variance_spark.operators.dedup import _minhash_lsh_pairs

    overrides = {"dedup_minhash_lsh": _minhash_lsh_pairs}

    for name in queries:
        fn = overrides.get(name) or registry.QUERIES[name]
        # Release the previous query's localCheckpoint RDD blocks before
        # timing: checkpointed intermediates free on Python GC, and letting
        # dozens pile up skews later measurements (a 3.9s query read 14.8s
        # late in a 69-query session before this collect).
        gc.collect()
        fn(spark, SRC).count()  # warm codegen
        t0 = time.perf_counter(); fn(spark, SRC).count()
        small = time.perf_counter() - t0
        fn(spark, dst).count()  # warm
        t0 = time.perf_counter(); fn(spark, dst).count()
        big = time.perf_counter() - t0
        total_small += small; total_big += big
        print(f"{name:35s} {small:8.3f} {big:8.3f} {big/small:6.2f}")
    print(f"{'TOTAL':35s} {total_small:8.3f} {total_big:8.3f} "
          f"{total_big/total_small:6.2f}")


if __name__ == "__main__":
    main()

"""Frozen driver-sampling priority order, committed (not computed
at runtime): queries never sampled by any driver CORRECTNESS round
so far, in CONTRACT-priority order (verbatim tpcds_q1..q99 first,
then tpch_q*, then never-fired survey-row ops, then generated
workload texts — VERDICT r9 #1), with one ALREADY-certified query
interleaved per nine fresh ones (deterministic rotation) so the
external driver retains regression-detection power over certified
entries (ADVICE r7). Regenerate with
``scripts/gen_sampling_order.py`` after each round and commit the
diff — ``__spark_entry__.queries()`` consumes this constant so its
ordering is deterministic and environment-independent (it never
reads grader artifacts). Rotation exists to GROW the external
evidence trail (the full oracle gate runs every round in
scripts/driver_sim.py regardless, so nothing escapes re-checking).
"""

SAMPLING_PRIORITY: tuple[str, ...] = (
    'event_transition_counts',
    'stream_ewma_anomaly',
    'stream_sliding_window',
    'plan_feature_extract',
    'scheduler_experiment_summary',
    'ssb_wl_101',
    'ssb_wl_103',
    'ssb_wl_115',
    'ssb_wl_117',
    'greedy_lowcarbon_schedule',
    'ssb_wl_127',
    'ssb_wl_129',
    'ssb_wl_137',
    'ssb_wl_151',
    'ssb_wl_163',
    'ssb_wl_167',
    'ssb_wl_169',
    'ssb_wl_185',
    'ssb_wl_197',
    'hll_intersect_estimate',
    'ssb_wl_35',
    'ssb_wl_37',
    'ssb_wl_47',
    'ssb_wl_73',
    'ssb_wl_85',
    'ssb_wl_89',
    'ssb_wl_93',
    'tpcds_wl_1',
    'tpcds_wl_1021',
    'imdb_lwl_127',
    'tpcds_wl_1041',
    'tpcds_wl_1201',
    'tpcds_wl_1221',
    'tpcds_wl_1341',
    'tpcds_wl_1401',
    'tpcds_wl_1461',
    'tpcds_wl_1541',
    'tpcds_wl_1761',
    'tpcds_wl_181',
    'imdb_lwl_262',
    'tpcds_wl_2021',
    'tpcds_wl_2101',
    'tpcds_wl_2201',
    'tpcds_wl_2261',
    'tpcds_wl_2281',
    'tpcds_wl_2601',
    'tpcds_wl_2621',
    'tpcds_wl_2741',
    'tpcds_wl_2761',
    'imdb_lwl_271',
    'tpcds_wl_281',
    'tpcds_wl_2921',
    'tpcds_wl_321',
    'tpcds_wl_381',
    'tpcds_wl_421',
    'tpcds_wl_521',
    'tpcds_wl_601',
    'tpcds_wl_81',
    'tpcds_wl_861',
    'imdb_lwl_280',
    'tpcds_wl_961',
)

"""Unit test for the applyInPandasWithState update function's cross-batch
state semantics: the max-gap tracker must carry the last-seen timestamp
across micro-batches (the availableNow end-to-end run only ever sees one
batch, so the boundary case needs a direct test)."""

from __future__ import annotations

import os

import pandas as pd

from lakehouse_variance_spark.streaming.logs import _user_stats_fn


class FakeState:
    def __init__(self):
        self.exists = False
        self._value = None

    @property
    def get(self):
        return self._value

    def update(self, value):
        self._value = value
        self.exists = True


def _batch(ts_seconds, values):
    return pd.DataFrame(
        {
            "ts": pd.to_datetime(ts_seconds, unit="s"),
            "value": values,
        }
    )


def test_gap_spans_micro_batches():
    state = FakeState()
    # Batch 1: events at t=0s and t=10s (gap 10s within the batch).
    out1 = list(_user_stats_fn((7,), iter([_batch([0, 10], [1.0, 2.0])]), state))
    assert out1[0].iloc[0].to_dict() == {
        "user_id": 7,
        "n_events": 2,
        "total_value": 3.0,
        "max_gap_us": 10_000_000,
    }
    # Batch 2: one event at t=70s — the 60s gap exists ONLY across the
    # batch boundary and must come from the stored last timestamp.
    out2 = list(_user_stats_fn((7,), iter([_batch([70], [0.5])]), state))
    assert out2[0].iloc[0].to_dict() == {
        "user_id": 7,
        "n_events": 3,
        "total_value": 3.5,
        "max_gap_us": 60_000_000,
    }


def test_out_of_order_within_batch_sorted_before_gaps():
    state = FakeState()
    out = list(
        _user_stats_fn((1,), iter([_batch([30, 0, 35], [1.0, 1.0, 1.0])]), state)
    )
    # Sorted order 0,30,35 -> max gap 30s, not the raw-order 30s->0s jump.
    assert out[0].iloc[0]["max_gap_us"] == 30_000_000


def test_stream_file_sink_with_checkpoint(spark, tmp_path):
    """End-to-end streaming to a DURABLE sink: availableNow file stream →
    windowed aggregation → json file sink with a checkpoint directory (the
    production layout; the memory sink used by the registry queries is
    test-only). The written files must equal the batch aggregation."""
    from lakehouse_variance_spark.streaming.logs import streaming_events
    from lakehouse_variance_spark.tables import load_table
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    events = streaming_events(spark, SF_DIR)
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        agg.writeStream.format("json")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.json(out).withColumn(
        "window_start", F.to_timestamp("window_start")
    )
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    # Append mode only emits windows the watermark has closed; the trailing
    # window(s) are withheld when the stream drains. So: every emitted row
    # must equal its batch counterpart, and all windows closed by the final
    # watermark (max_ts - 1h delay - 1h window) must have been emitted.
    n_got = got.count()
    assert n_got > 0
    agreed = got.join(batch, ["window_start", "event_type", "n"]).count()
    assert agreed == n_got, "emitted rows diverge from batch aggregation"
    max_ts = load_table(spark, SF_DIR, "events").agg(F.max("ts")).collect()[0][0]
    closed = batch.filter(
        F.col("window_start")
        < F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    ).count()
    assert n_got >= closed, "watermark-closed windows missing from the sink"


def test_run_to_parquet_restores_conf_and_scopes_scratch(spark):
    """run_to_parquet must (a) run the stream at the state-store partition
    sizing but restore the session's shuffle-partition conf afterwards,
    (b) place every sink dir under the single process-scoped scratch root
    (the ADVICE-r10 /tmp leak: per-invocation dirs were never cleaned),
    and (c) return a batch DataFrame equal to the stream's output."""
    import os

    from pyspark.sql import functions as F

    from lakehouse_variance_spark import scratch
    from lakehouse_variance_spark.streaming.logs import (
        run_to_parquet,
        streaming_events,
    )
    from tests.conftest import SF_DIR

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    stream = streaming_events(spark, SF_DIR).filter(
        F.col("event_type") == "click"
    )
    out = run_to_parquet(stream)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    root = scratch._ROOT
    assert root is not None and os.path.isdir(root)
    # The returned DataFrame scans files under the shared scratch root.
    files = out.inputFiles()
    assert files and all(root in f for f in files)
    # A second invocation reuses the SAME root (no new top-level dirs).
    out2 = run_to_parquet(stream)
    assert scratch._ROOT == root
    assert out.count() == out2.count() > 0


def test_foreach_batch_sink_idempotent_on_replay(spark, tmp_path):
    """A replayed micro-batch (same batch_id, as after a failure between
    sink write and checkpoint commit) must overwrite, not append — the
    exactly-once contract of the idempotent foreachBatch sink."""
    from lakehouse_variance_spark.streaming.logs import (
        idempotent_parquet_sink,
        run_to_idempotent_sink,
        streaming_events,
    )

    sf_dir = "/root/testdata/sf0.001"
    dst = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    events = streaming_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type"
    )
    run_to_idempotent_sink(events, dst, ckpt)

    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    first = spark.read.parquet(dst)
    assert first.count() == expected

    # Simulate the at-least-once replay: rerun batch 0's writer with the
    # same batch_id and payload.
    batch0_pdf = (
        spark.read.parquet(os.path.join(dst, "batch_id=0"))
        .select("event_id", "user_id", "event_type")
        .toPandas()
    )  # snapshot driver-side before overwriting the directory it came from
    idempotent_parquet_sink(dst)(spark.createDataFrame(batch0_pdf), 0)

    after = spark.read.parquet(dst)
    assert after.count() == expected  # no duplicates


def test_stream_ewma_matches_batch_replay(spark):
    # The streaming EWMA must equal a batch replay of the IDENTICAL
    # recurrence over each user's (ts, event_id)-ordered values — same
    # float ops in the same order, so equality is exact, not approximate.
    from tests.conftest import SF_DIR

    from lakehouse_variance_spark.streaming.logs import (
        _ewma_stream_updates,
        ewma_update,
    )

    got = {
        r.user_id: (r.n_events, r.ewma, r.ewvar, r.n_anomalies)
        for r in _ewma_stream_updates(spark, SF_DIR).collect()
    }
    pdf = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["ts", "event_id"])
    )
    assert set(got) == set(pdf.user_id.unique())
    anomalies_total = 0
    for user, g in pdf.groupby("user_id"):
        expect = ewma_update(0, 0.0, 0.0, 0, g["value"].to_numpy())
        assert got[user] == expect, f"user {user}"
        anomalies_total += expect[3]
    assert anomalies_total > 0  # the detector actually fires on the data


def test_transition_counts_batch_semantics(spark):
    """The batch twin's transitions: per user, sum over prev equals
    sum over curr +/- 1 (a path visits interior nodes as both)."""
    from lakehouse_variance_spark import registry

    registry.load_all()
    df = registry.QUERIES["event_transition_counts"](spark, "/root/testdata/sf0.001")
    pdf = df.toPandas()
    assert len(pdf) > 0 and (pdf["n"] > 0).all()
    # per user: total transitions == events_with_ts - 1
    import pyspark.sql.functions as F

    from lakehouse_variance_spark.tables import load_table

    events = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
    )
    got = pdf.groupby("user_id")["n"].sum()
    for uid, total in got.items():
        assert total == events[uid] - 1


def test_transform_with_state_matches_batch_twin(spark):
    """Spark 4 typed-state operator equals the lag()+groupBy batch twin.
    Skips where google.protobuf (the transformWithState Python state
    channel) is not installed — the operator is environment-gated."""
    import pytest

    from lakehouse_variance_spark.streaming import state_v2

    if not state_v2.TWS_AVAILABLE:
        pytest.skip(
            "google.protobuf not installed; transformWithState gated off "
            "(env re-verified r11: import google.protobuf raises)"
        )
    stream = state_v2.stream_event_transitions(spark, "/root/testdata/sf0.001")
    batch = state_v2.event_transition_counts(spark, "/root/testdata/sf0.001")
    key = ["user_id", "prev_type", "curr_type"]
    s = stream.toPandas().sort_values(key).reset_index(drop=True)
    b = batch.toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(s[key + ["n"]], b[key + ["n"]], check_dtype=False)


def test_ewma_correct_when_groups_span_arrow_chunks(spark):
    """Groups larger than arrow.maxRecordsPerBatch arrive as multiple
    unordered chunks; the recurrence must still process the group in
    global (ts, event_id) order (regression: per-chunk sorting)."""
    from lakehouse_variance_spark import registry
    from lakehouse_variance_spark.streaming.logs import ewma_update
    from lakehouse_variance_spark.tables import load_table

    registry.load_all()
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        from lakehouse_variance_spark.streaming.logs import (
            _ewma_stream_updates,
        )

        out = {
            r.user_id: (r.n_events, r.ewma, r.ewvar, r.n_anomalies)
            for r in _ewma_stream_updates(
                spark, "/root/testdata/sf0.001"
            ).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    rows = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    per_user: dict = {}
    for r in sorted(rows, key=lambda r: (r.ts is None, r.ts, r.event_id)):
        per_user.setdefault(r.user_id, []).append(r.value)
    assert len(out) > 0
    for uid, vals in per_user.items():
        expect = ewma_update(0, 0.0, 0.0, 0, vals)
        assert out[uid] == expect, f"user {uid} diverged"


def test_stream_hwm_survives_interleaved_batch_commits(spark, tmp_path):
    """Replay detection via the parent-chain high-water mark must see
    through non-stream commits interleaved between micro-batches."""
    from lakehouse_variance_spark.sources.snapshots import (
        read_snapshot,
        snapshot_batch_writer,
        write_snapshot,
    )
    from lakehouse_variance_spark.tables import load_table

    t = str(tmp_path / "t")
    df = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey"
    )
    writer = snapshot_batch_writer(t)
    writer(df.limit(5), 0)
    write_snapshot(df.limit(3), t, mode="append")  # batch-unrelated commit
    writer(df.limit(7), 1)
    n = read_snapshot(spark, t).count()
    assert n == 15
    writer(df.limit(7), 1)  # replay across the interleaved commit: no-op
    writer(df.limit(7), 0)  # stale replay: no-op
    assert read_snapshot(spark, t).count() == n
    writer(df.limit(2), 2)  # genuinely new batch lands
    assert read_snapshot(spark, t).count() == n + 2


def test_stream_state_partitions_derive_from_source_volume(spark, monkeypatch):
    """The state-store count default derives from source volume (ceil of
    bytes/256MB clamped to [2, 4096]); $SPARK_GRAFT_STREAM_PARTITIONS
    always wins (the deployment's state-horizon knob)."""
    from lakehouse_variance_spark.memo import session_state
    from lakehouse_variance_spark.streaming import logs as slogs

    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    state = session_state(spark)
    key = "stream_source_bytes"
    old = state.get(key)
    try:
        for src_bytes, want in (
            (0, 2),                      # no source recorded: floor
            (2 << 20, 2),                # bench-scale events.parquet: floor
            (1 << 30, 4),                # 1 GB -> 4 stores of 256 MB
            (1 << 50, 4096),             # petabyte source: capped
        ):
            state[key] = src_bytes
            assert slogs._stream_state_partitions(spark) == want, src_bytes
        monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "7")
        assert slogs._stream_state_partitions(spark) == 7
    finally:
        if old is None:
            state.pop(key, None)
        else:
            state[key] = old


def test_streaming_events_records_source_bytes(spark):
    from tests.conftest import SF_DIR
    from lakehouse_variance_spark.memo import session_state
    from lakehouse_variance_spark.streaming import logs as slogs

    slogs.streaming_events(spark, SF_DIR)
    assert session_state(spark).get("stream_source_bytes", 0) > 0

"""Streaming semantics tests (SURVEY.md §5.2): deterministic file replay
with availableNow; batch/stream parity; watermark late-data drop; custom
stateful operator parity with batch."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from dbkit_spark.sources import read_table, read_table_stream
from dbkit_spark.streaming.runner import run_available_now
from dbkit_spark.streaming.state import user_running_stats
from dbkit_spark.streaming.windows import tumbling_agg


def test_stream_equals_batch_tumbling(spark, sf_dir):
    batch = tumbling_agg(
        read_table(spark, sf_dir, "events"), "ts", "5 minutes", ["event_type"],
        {"n": F.count("*")},
    )
    stream = tumbling_agg(
        read_table_stream(spark, sf_dir, "events"), "ts", "5 minutes", ["event_type"],
        {"n": F.count("*")},
    )
    got = run_available_now(stream, output_mode="complete")
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in got.collect()}
    assert b == s and len(b) > 0


def test_stateful_operator_matches_batch(spark, sf_dir):
    events = read_table(spark, sf_dir, "events")
    expected = {
        (r.user_id, r.n_events, round(r.total_value, 6), r.max_value)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    got_df = run_available_now(
        user_running_stats(read_table_stream(spark, sf_dir, "events")),
        output_mode="update",
    )
    # update mode with one input file => one final row per user
    got = {
        (r.user_id, r.n_events, r.total_value, r.max_value) for r in got_df.collect()
    }
    # float sums: compare totals rounded (operator rounds to 6dp)
    expected_r = {(u, n, t, m) for (u, n, t, m) in expected}
    assert {(u, n) for (u, n, *_rest) in got} == {(u, n) for (u, n, *_r) in expected_r}
    exp_by_user = {u: (n, t, m) for (u, n, t, m) in expected_r}
    for u, n, t, m in got:
        en, et, em = exp_by_user[u]
        assert n == en and abs(t - et) < 1e-5 and m == em


def test_watermark_drops_late_data(spark, tmp_path):
    """Two-file replay: watermark advanced by file 1 drops file 2's late
    events in append mode (deterministic late-data semantics)."""
    import time

    d = tmp_path / "stream_in"
    d.mkdir()
    on_time = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:00:00", "2024-01-01 12:00:00"]), "v": [1.0, 2.0]}
    )
    filler = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 12:01:00"]), "v": [3.0]}
    )
    late = pd.DataFrame(
        {"ts": pd.to_datetime(["2024-01-01 10:01:00"]), "v": [100.0]}  # 2h late
    )
    # watermark computed from batch N applies from batch N+1, so the late
    # row must arrive two files after the on-time data
    spark.createDataFrame(on_time).coalesce(1).write.parquet(str(d / "f1"))
    time.sleep(1.1)  # file-source ordering is by modification time
    spark.createDataFrame(filler).coalesce(1).write.parquet(str(d / "f2"))
    time.sleep(1.1)
    spark.createDataFrame(late).coalesce(1).write.parquet(str(d / "f3"))

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d / "*"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.sum("v").alias("total"))
        .select(F.col("window.start").alias("ws"), "total")
    )
    got = run_available_now(agg, output_mode="append")
    totals = {(r.ws.isoformat(), r.total) for r in got.collect()}
    # the 10:00 window emitted with only the on-time value; the late 100.0
    # arrived after the watermark (11:50, active from the f2 batch) and was
    # dropped
    assert ("2024-01-01T10:00:00", 1.0) in totals
    assert all(t not in (100.0, 101.0) for _, t in totals)


def test_tws_plan_construction(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 stateful surface): the
    streaming plan builds with the declared output schema regardless of
    whether the protobuf state-protocol runtime is present."""
    from dbkit_spark.streaming.state import user_running_stats_tws

    df = user_running_stats_tws(read_table_stream(spark, sf_dir, "events"))
    assert df.isStreaming
    assert df.schema.simpleString() == (
        "struct<user_id:bigint,n_events:bigint,"
        "total_value:double,max_value:double>"
    )


def test_tws_matches_batch_and_legacy_api(spark, sf_dir):
    """Parity gate mirroring q38's: the TWS operator must produce the
    same per-user final rows as the batch aggregate AND as the legacy
    applyInPandasWithState operator. Skips (honestly) where the
    google.protobuf runtime TWS executes through is not installed."""
    import pytest

    from dbkit_spark.streaming.state import (
        tws_runtime_available,
        user_running_stats_tws,
    )

    if not tws_runtime_available():
        pytest.skip(
            "transformWithStateInPandas state-protocol worker requires "
            "google.protobuf, not installed in this container"
        )
    events = read_table(spark, sf_dir, "events")
    expected = {
        (r.user_id, r.n_events, round(r.total_value, 6), r.max_value)
        for r in events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    got_df = run_available_now(
        user_running_stats_tws(read_table_stream(spark, sf_dir, "events")),
        output_mode="update",
    )
    got = {
        (r.user_id, r.n_events, r.total_value, r.max_value)
        for r in got_df.collect()
    }
    exp_by_user = {u: (n, t, m) for (u, n, t, m) in expected}
    assert {(u, n) for (u, n, *_r) in got} == {
        (u, n) for (u, n, *_r) in expected
    }
    for u, n, t, m in got:
        en, et, em = exp_by_user[u]
        assert n == en and abs(t - et) < 1e-5 and m == em

"""Event-time and streaming queries over the events table (SURVEY.md §2.9).

q34-q36 run the window builders in *batch* mode with exact DuckDB oracles
(epoch arithmetic reproduces Spark's epoch-aligned windows, TZ-free).
q37 replays the SAME tumbling aggregation through Structured Streaming
(file source → availableNow → memory sink) and must match the same oracle —
batch/stream parity is the correctness claim.
q38 is a custom stateful streaming operator (applyInPandasWithState):
rows-only for the driver; exact-value parity with batch is pytest-checked.

Placement rule row 1: every query that references a ``streaming.*``
module lands here (stream-static and stream-stream joins, streaming
dedup, heavy hitters, quality gates).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..operators.aggregate import dec, stable_sum, stable_sum_sql
from ..operators.iterate import checkpoint_and_release, held
from ..sources import read_table, read_table_stream
from ..streaming.runner import replay_stream, run_available_now
from ..streaming.windows import session_agg, sliding_agg, tumbling_agg
from ._sql import _Q256_ORACLE, _T, _q383_oracle, _q406_oracle, _shard_sql


_EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"


def _bin_sql(sec: int, offset: int = 0) -> str:
    """Spark-compatible epoch-aligned window start, TZ-free."""
    expr = f"CAST(floor((epoch(ts) - {offset}) / {sec}) * {sec} + {offset} AS BIGINT)"
    return f"{_EPOCH} + to_seconds({expr})"


def _click_view_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The watermarked click⋈view interval join over the events stream
    (q66 and its outer/chained family): each click ``(c_user, c_ts,
    c_id)`` meets the same user's views ``(v_user, v_ts, v_id)`` in the
    5 minutes up to it, both sides watermarked 10 minutes."""
    df = read_table_stream(spark, sf_dir, "events")
    clicks = df.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"),
    )
    views = df.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
    )
    cond = (
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("interval 5 minutes"))
        & (F.col("v_ts") <= F.col("c_ts"))
    )
    return clicks.withWatermark("c_ts", "10 minutes").join(
        views.withWatermark("v_ts", "10 minutes"), cond, how
    )


# --- B5: tumbling window aggregation (batch) -------------------------------
@register(
    "q34_tumbling_window",
    oracle=f"""
    SELECT {_bin_sql(300)} AS window_start,
           {_bin_sql(300)} + to_seconds(300) AS window_end,
           event_type,
           COUNT(*) AS n,
           {stable_sum_sql("value")} AS total_value
    FROM events
    GROUP BY window_start, window_end, event_type
    """,
    notes="5-minute tumbling windows, epoch-aligned like F.window",
)
def q34_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split=False: partial agg on (window, type) reduces events before
    # the one exchange; the split's extra shuffle measured net-negative
    events = read_table(spark, sf_dir, "events", split=False)
    return tumbling_agg(
        events,
        "ts",
        "5 minutes",
        ["event_type"],
        {"n": F.count("*"), "total_value": stable_sum("value")},
    )


# --- sliding windows -------------------------------------------------------
@register(
    "q35_sliding_window",
    oracle=f"""
    WITH slid AS (
      SELECT e.*, {_EPOCH} + to_seconds(
               CAST((floor((epoch(ts) - o.off) / 600) * 600 + o.off) AS BIGINT)
             ) AS window_start
      FROM events e, (VALUES (0), (300)) AS o(off)
      WHERE epoch(ts) >= CAST(floor((epoch(ts) - o.off) / 600) * 600 + o.off AS BIGINT)
        AND epoch(ts) < CAST(floor((epoch(ts) - o.off) / 600) * 600 + o.off AS BIGINT) + 600
    )
    SELECT window_start, window_start + to_seconds(600) AS window_end,
           event_type, COUNT(*) AS n
    FROM slid
    GROUP BY window_start, window_end, event_type
    """,
    notes="10-min windows sliding by 5 min: each event in exactly 2 windows",
)
def q35_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return sliding_agg(
        events, "ts", "10 minutes", "5 minutes", ["event_type"], {"n": F.count("*")}
    )


# --- session windows -------------------------------------------------------
@register(
    "q36_session_window",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    notes="session_window(gap=30m) == gaps-and-islands; new session at "
    "inter-event gap >= 30m, end = last event + gap (Spark semantics)",
)
def q36_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return session_agg(
        events, "ts", "30 minutes", ["user_id"], {"n_events": F.count("*")}
    )


# --- streaming replay of q34 (batch/stream parity) -------------------------
@register(
    "q37_stream_tumbling_replay",
    oracle=f"""
    SELECT {_bin_sql(300)} AS window_start,
           {_bin_sql(300)} + to_seconds(300) AS window_end,
           event_type,
           COUNT(*) AS n,
           {stable_sum_sql("value")} AS total_value
    FROM events
    GROUP BY window_start, window_end, event_type
    """,
    notes="SAME oracle as q34, computed via readStream + availableNow + "
    "memory sink: structured-streaming replay must equal batch",
)
def q37_stream_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_table_stream(spark, sf_dir, "events")
    agg = tumbling_agg(
        stream,
        "ts",
        "5 minutes",
        ["event_type"],
        {"n": F.count("*"), "total_value": stable_sum("value")},
    )
    return run_available_now(agg, output_mode="complete")


# --- custom stateful streaming operator ------------------------------------
@register(
    "q38_stateful_user_stats",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 6) AS total_value,
           max(value) AS max_value
    FROM events GROUP BY user_id
    """,
    notes="applyInPandasWithState custom operator. Converted from "
    "rows-only in round 11 (VERDICT r10 item 4): in update mode over "
    "the single-micro-batch events fixture (the q353 single-file "
    "assumption, guarded by tests/test_round10.py's scale-dir "
    "enumeration) the memory sink holds exactly one final row per "
    "user, so the batch GROUP BY is a full SQL oracle — the "
    "streaming-vs-batch parity previously only pytest-asserted in "
    "tests/test_streaming.py is now driver-replayed; 6dp rounding on "
    "total_value on both legs absorbs pandas-vs-sequential summation "
    "ulp",
)
def q38_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.state import user_running_stats

    stream = read_table_stream(spark, sf_dir, "events")
    return run_available_now(user_running_stats(stream), output_mode="update")


# --- grouped-map pandas (§2.10) --------------------------------------------
@register(
    "q94_grouped_zscore",
    oracle="""
    SELECT event_id, event_type,
           round(CASE WHEN sd = 0 THEN 0.0 ELSE (value - m) / sd END, 6) AS z
    FROM (SELECT event_id, event_type, value,
                 avg(value) OVER (PARTITION BY event_type) AS m,
                 stddev_pop(value) OVER (PARTITION BY event_type) AS sd
          FROM events)
    """,
    notes="grouped-map applyInPandas (operators/grouped.grouped_zscore): "
    "per-group z-score where each whole group lands in one Python worker; "
    "the oracle is the JVM-side window rewrite of the same statistic — "
    "which is also the recommended plan when groups are huge or keys are "
    "few (grouped-map caps parallelism at group count); round-6 "
    "canonicalization per SURVEY §7.4",
)
def q94_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.grouped import grouped_zscore

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return grouped_zscore(events, ["event_type"], "value").select(
        "event_id", "event_type", F.round("z", 6).alias("z")
    )


# --- batch sessionization --------------------------------------------------
@register(
    "q95_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, value, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 86400
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id, value, ts,
             CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_num
      FROM flagged
    )
    SELECT user_id, session_num, COUNT(*) AS n_events,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
           CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s,
           {stable_sum_sql("value")} AS total_value
    FROM sess GROUP BY user_id, session_num
    """,
    notes="gap-based batch sessionization (operators/window.sessionize), "
    "the batch twin of q36's streaming session window: 24 h inactivity gap "
    "splits each user's stream; lag-flag + running-sum share ONE shuffle "
    "(identical window specs collapse to one exchange), then session-level "
    "aggregates; second-resolution gap arithmetic mirrored exactly in SQL; "
    "event_id tiebreak makes per-user order total",
)
def q95_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.window import sessionize

    events = read_table(spark, sf_dir, "events")
    sess = sessionize(events, "user_id", "ts", 86400, "event_id")
    return sess.groupBy("user_id", "session_num").agg(
        F.count("*").alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("start_s"),
        F.unix_timestamp(F.max("ts")).alias("end_s"),
        stable_sum("value").alias("total_value"),
    )


# --- time-range rolling window ---------------------------------------------
@register(
    "q97_trailing_window_1h",
    oracle=f"""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    notes="event-time RANGE frame (§2.5): per-user trailing-1h count/sum — "
    "the time-windowed twin of q25's numeric RANGE frame. Both engines "
    "order by the SAME integer epoch-seconds key so frame membership is "
    "identical (an interval frame over raw ns-vs-us timestamps could "
    "disagree at boundaries); same-second peers share frames by RANGE "
    "semantics; decimal-stabilized window sum",
)
def q97_trailing_window_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_1h"),
        F.sum(dec("value", 6)).over(w).cast("double").alias("sum_1h"),
    )


# --- streaming dedup within watermark --------------------------------------
@register(
    "q100_stream_dedup",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {stable_sum_sql("value")} AS total_value
    FROM events GROUP BY event_type
    """,
    notes="dropDuplicatesWithinWatermark (§2.9): the event stream is "
    "unioned with a second replay of itself — every row arrives twice, in "
    "different micro-batches — and streaming dedup state must collapse the "
    "duplicates so per-type counts equal the single-copy batch oracle; "
    "dedup runs in the stream (append mode), the final rollup is batch "
    "over the sink table",
)
def q100_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1 = read_table_stream(spark, sf_dir, "events")
    s2 = read_table_stream(spark, sf_dir, "events")
    deduped = (
        s1.unionByName(s2)
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", "value")
    )
    sink = run_available_now(deduped, output_mode="append")
    return sink.groupBy("event_type").agg(
        F.count("*").alias("n"), stable_sum("value").alias("total_value")
    )


@register(
    "q63_stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events,
           {stable_sum_sql("e.value")} AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    notes="stream-static join (§2.9): file-source event stream joined to the "
    "static customer dim (broadcast), windowless global agg, complete mode; "
    "must equal the batch-join oracle",
)
def q63_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_table_stream(spark, sf_dir, "events")
    static_dim = F.broadcast(
        read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    )
    joined = stream.join(static_dim, stream["user_id"] == static_dim["c_custkey"])
    agg = joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_events"),
        stable_sum("value").alias("total_value"),
    )
    return run_available_now(agg, output_mode="complete")


@register(
    "q66_stream_stream_join",
    oracle="""
    SELECT c.event_id AS c_id, v.event_id AS v_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts
    """,
    notes="stream-stream interval join (§2.9): both sides watermarked, "
    "5-minute lookback; inner matches emit eagerly so availableNow replay "
    "equals the batch interval-join oracle",
)
def q66_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_view_join(spark, sf_dir, "inner").select("c_id", "v_id")
    return run_available_now(joined, output_mode="append")


@register(
    "q128_stream_stream_left_outer",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type='click'),
         v AS (SELECT * FROM events WHERE event_type='view'),
         wm AS (SELECT make_timestamp(
                  least((SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM c),
                        (SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM v)) * 1000
                  - 600000000) AS w)
    SELECT c.event_id AS c_id, v.event_id AS v_id
    FROM c JOIN v ON c.user_id = v.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts
    UNION ALL
    SELECT c.event_id AS c_id, NULL AS v_id
    FROM c, wm WHERE NOT EXISTS (
        SELECT 1 FROM v WHERE v.user_id = c.user_id
          AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts)
      AND c.ts < wm.w
    """,
    notes="stream-stream LEFT OUTER interval join with watermark state "
    "eviction (§2.9, completing q66's inner case): matched pairs emit "
    "eagerly; an unmatched click emits null-extended only once the "
    "watermark passes its join window. The oracle encodes Spark's exact "
    "eviction rule: the global watermark is the MIN of the per-side "
    "watermarks (each side's max observed event time, millisecond-"
    "truncated as Spark's EventTimeStats tracks it, minus the 10-minute "
    "delay), and a click emits nulls iff c_ts < that watermark — clicks "
    "inside the final delay window are withheld forever in a bounded "
    "replay, exactly as a real deployment withholds them until more "
    "data arrives",
)
def q128_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_view_join(spark, sf_dir, "left_outer").select("c_id", "v_id")
    return run_available_now(joined, output_mode="append")


@register(
    "q146_stream_stream_full_outer",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type='click'),
         v AS (SELECT * FROM events WHERE event_type='view'),
         wm AS (SELECT make_timestamp(
                  least((SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM c),
                        (SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM v)) * 1000
                  - 600000000) AS w)
    SELECT c.event_id AS c_id, v.event_id AS v_id
    FROM c JOIN v ON c.user_id = v.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts
    UNION ALL
    SELECT c.event_id AS c_id, NULL AS v_id
    FROM c, wm WHERE NOT EXISTS (
        SELECT 1 FROM v WHERE v.user_id = c.user_id
          AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts)
      AND c.ts < wm.w
    UNION ALL
    SELECT NULL AS c_id, v.event_id AS v_id
    FROM v, wm WHERE NOT EXISTS (
        SELECT 1 FROM c WHERE c.user_id = v.user_id
          AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts)
      AND v.ts < wm.w - INTERVAL 5 MINUTE
    """,
    notes="stream-stream FULL OUTER interval join (section 2.9, completing "
    "the q66/q128 family): matched pairs emit eagerly, and each side "
    "emits null-extended once the min-of-sides watermark passes its "
    "FULL join window — clicks at c_ts < wm (their view-time window "
    "ends at c_ts), but views only at v_ts < wm - 5 min, because a "
    "view at v_ts can still match future clicks up to c_ts = v_ts + "
    "5 min and Spark keeps it buffered until the watermark clears that "
    "upper bound (probe-verified in tests/test_streaming_extended.py::"
    "test_outer_eviction_rule_dense_fixture with unmatched views "
    "placed inside [wm-5m, wm)); rows inside the final delay window "
    "are withheld in a bounded replay, exactly as in production until "
    "more data arrives",
)
def q146_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_view_join(spark, sf_dir, "full_outer").select("c_id", "v_id")
    return run_available_now(joined, output_mode="append")


@register(
    "q152_stream_stream_right_outer",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type='click'),
         v AS (SELECT * FROM events WHERE event_type='view'),
         wm AS (SELECT make_timestamp(
                  least((SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM c),
                        (SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM v)) * 1000
                  - 600000000) AS w)
    SELECT c.event_id AS c_id, v.event_id AS v_id
    FROM c JOIN v ON c.user_id = v.user_id
     AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts
    UNION ALL
    SELECT NULL AS c_id, v.event_id AS v_id
    FROM v, wm WHERE NOT EXISTS (
        SELECT 1 FROM c WHERE c.user_id = v.user_id
          AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts)
      AND v.ts < wm.w - INTERVAL 5 MINUTE
    """,
    notes="stream-stream RIGHT OUTER interval join (completing the "
    "q66/q128/q146 outer family): matched pairs emit eagerly; unmatched "
    "views emit null-extended only at v_ts < watermark - 5 min — the "
    "buffered view side is held until the watermark clears its FULL "
    "click-time window (upper bound v_ts + 5 min), probe-verified "
    "against Spark with unmatched views inside [wm-5m, wm); clicks "
    "never null-extend",
)
def q152_stream_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_view_join(spark, sf_dir, "right_outer").select("c_id", "v_id")
    return run_available_now(joined, output_mode="append")


# --- foreachBatch incremental upsert (§2.9 output surface) -------------------
@register(
    "q107_stream_incremental_upsert",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
           MAX(ts) AS last_ts,
           arg_max(event_type,
                   lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
                   lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_type
    FROM events GROUP BY user_id
    """,
    notes="foreachBatch incremental upsert "
    "(streaming/foreach_batch.run_incremental_upsert): events split into "
    "4 parquet files streamed one-file-per-trigger, each micro-batch "
    "merged into a versioned parquet state table (union + re-agg, no "
    "join); decimal-carried sums + key-carrying max_by make the final "
    "state bit-equal to the batch aggregate of the whole history "
    "regardless of batch boundaries; the 'latest' tiebreak is a "
    "zero-padded (epoch_us, event_id) string key, total-ordered and "
    "portable to the DuckDB oracle",
)
def q107_stream_incremental_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.foreach_batch import run_incremental_upsert

    def sort_key(ts, event_id):
        return F.concat(
            F.lpad(F.unix_micros(ts).cast("string"), 20, "0"),
            F.lpad(event_id.cast("string"), 12, "0"),
        )

    def partial(df: DataFrame) -> DataFrame:
        k = sort_key(F.col("ts"), F.col("event_id"))
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec("value", 6)).cast("decimal(38,6)").alias("__total_dec"),
            F.max("ts").alias("last_ts"),
            F.max(k).alias("__last_key"),
            F.max_by("event_type", k).alias("last_type"),
        )

    def merge(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.sum("n_events").alias("n_events"),
            F.sum("__total_dec").cast("decimal(38,6)").alias("__total_dec"),
            F.max("last_ts").alias("last_ts"),
            F.max("__last_key").alias("__last_key"),
            F.max_by("last_type", "__last_key").alias("last_type"),
        )

    events = read_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(prefix="dbkit_q107_") as work:
        in_dir = f"{work}/input"
        events.repartition(4).write.mode("overwrite").parquet(in_dir)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        state = run_incremental_upsert(stream, partial, merge, f"{work}/state")
        # the state table lives under ``work``: materialize before removal
        return checkpoint_and_release(
            state.select(
                "user_id",
                "n_events",
                F.col("__total_dec").cast("double").alias("total_value"),
                "last_ts",
                "last_type",
            )
        )


# --- streaming replay of q36's session windows (batch/stream parity) --------
@register(
    "q115_stream_session_replay",
    oracle="""
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    notes="session_window in STREAMING mode (§2.9): q36's gaps-and-islands "
    "oracle replayed via readStream + availableNow + complete-mode "
    "memory sink — streaming session merging must produce the identical "
    "session set as the batch operator",
)
def q115_stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_table_stream(spark, sf_dir, "events")
    agg = session_agg(
        stream, "ts", "30 minutes", ["user_id"], {"n_events": F.count("*")}
    )
    return run_available_now(agg, output_mode="complete")


# --- chained stateful streaming: join then windowed agg ----------------------
@register(
    "q187_stream_join_then_window",
    oracle="""
    WITH c AS (SELECT * FROM events WHERE event_type='click'),
         v AS (SELECT * FROM events WHERE event_type='view'),
         wm AS (SELECT make_timestamp(
                  least((SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM c),
                        (SELECT CAST(floor(epoch_ms(max(ts))) AS BIGINT) FROM v)) * 1000
                  - 600000000) AS w),
         matches AS (
           SELECT c.ts AS c_ts
           FROM c JOIN v ON c.user_id = v.user_id
            AND v.ts BETWEEN c.ts - INTERVAL 5 MINUTE AND c.ts
         ),
         agg AS (
           SELECT make_timestamp(
                    CAST(floor(epoch(c_ts) / 3600) AS BIGINT) * 3600000000)
                    AS window_start,
                  COUNT(*) AS n_matches
           FROM matches GROUP BY window_start
         )
    SELECT window_start, n_matches
    FROM agg, wm
    WHERE window_start + INTERVAL 1 HOUR <= wm.w
    ORDER BY window_start
    """,
    notes="CHAINED STATEFUL streaming (the Spark-4 multiple-stateful-"
    "operator capability, §2.9: stream-stream interval join FEEDING a "
    "downstream tumbling window aggregate in ONE streaming query, "
    "append mode — historically this required two jobs with an "
    "intermediate sink): q66's click⋈view 5-minute-lookback join flows "
    "into an hourly match-count window; the join's event-time column "
    "carries its watermark through, and the window agg emits exactly "
    "the windows whose end the min-of-sides watermark has passed. The "
    "oracle replays both state machines: the interval join (matches "
    "emit eagerly) and the append-mode emission rule window_end <= "
    "final watermark (= min(max c_ts, max v_ts) - 10 min delay)",
)
def q187_stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_view_join(spark, sf_dir, "inner").select("c_ts")
    agg = (
        joined.groupBy(F.window("c_ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_matches"))
        .select(F.col("w.start").alias("window_start"), "n_matches")
    )
    return run_available_now(agg, output_mode="append").orderBy("window_start")


def q202_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.heavy_hitters import heavy_hitters_batch

    ev = read_table(spark, sf_dir, "events")
    return heavy_hitters_batch(ev, "user_id", capacity=16, n_shards=4).orderBy(
        "shard", "key"
    )


_Q202_ORACLE = f"""
    WITH sharded AS (
      SELECT {_shard_sql("CAST(user_id AS VARCHAR)", ":hh", 4)} AS shard,
             CAST(user_id AS VARCHAR) AS key
      FROM events
    ),
    counts AS (
      SELECT shard, key, COUNT(*) AS cnt FROM sharded GROUP BY shard, key
    ),
    ranked AS (
      SELECT shard, key, cnt,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY cnt DESC, key) AS rn,
             CAST(SUM(cnt) OVER (PARTITION BY shard) AS BIGINT) AS n_shard
      FROM counts
    ),
    subs AS (
      SELECT shard, COALESCE(MAX(CASE WHEN rn = 17 THEN cnt END), 0) AS sub
      FROM ranked GROUP BY shard
    )
    SELECT r.shard, r.key, CAST(r.cnt - s.sub AS BIGINT) AS est,
           CAST(s.sub AS BIGINT) AS err, r.n_shard
    FROM ranked r JOIN subs s ON r.shard = s.shard
    WHERE r.cnt - s.sub > 0
    ORDER BY r.shard, r.key
"""

_Q202_NOTES = (
    "approximate HEAVY HITTERS, batch twin of the bounded-state stream "
    "(streaming/heavy_hitters — sharded mergeable Misra-Gries: state "
    "O(n_shards x capacity) forever, est <= true <= est + err, "
    "err <= n_shard/capacity): the order-independent merge-then-trim "
    "kernel makes the one-batch summary fully SQL-expressible — the "
    "oracle reproduces shard assignment by the engine-wide md5 rule, "
    "subtracts the (capacity+1)-th largest count per shard, and keeps "
    "the positive remainders. Single-batch streaming replay is "
    "bit-identical (pinned in tests/test_streaming_extended.py); "
    "multi-batch replays agree within err"
)


def q207_heavy_hitters_stream_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..streaming.heavy_hitters import heavy_hitters_stream

    stream = read_table_stream(spark, sf_dir, "events")
    return run_available_now(
        heavy_hitters_stream(stream, "user_id", capacity=16, n_shards=4),
        output_mode="update",
    ).orderBy("shard", "key")


_Q207_NOTES = (
    "STREAMING heavy hitters replay (streaming/heavy_hitters."
    "heavy_hitters_stream over applyInPandasWithState, availableNow "
    "file replay — the q37 determinism discipline): the events fixture "
    "is one file, so the replay is one micro-batch, and the "
    "order-independent merge-then-trim kernel makes the streaming "
    "summary BIT-IDENTICAL to q202's batch twin — hence a full SQL "
    "oracle for a stateful streaming operator (same oracle as q202). "
    "Multi-batch replays stay within the est/err bound "
    "(tests/test_streaming_extended.py); state is O(n_shards x "
    "capacity) regardless of stream length"
)


def q215_streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ingest_dedup import run_dedup_ingest

    stream = read_table_stream(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory(prefix="dbkit_ingest_") as state:
        corpus = run_dedup_ingest(stream, state, threshold=0.5)
        # the corpus is read from ``state``: materialize before removal
        ids = checkpoint_and_release(corpus.select("doc_id"))
    return ids.orderBy("doc_id")


def _q215_oracle() -> str:
    from .llm import _REACH_CTES

    return f"""
    WITH RECURSIVE {_REACH_CTES}
    SELECT doc_id FROM documents
    WHERE doc_id IN (SELECT id FROM reach GROUP BY id HAVING MIN(r) = id)
    ORDER BY doc_id
"""


_Q215_NOTES = (
    "STREAMING DEDUP INGEST end-to-end (streaming/ingest_dedup."
    "run_dedup_ingest — the production corpus-building loop: each "
    "micro-batch is admitted only where it near-dups nothing already "
    "admitted; first-arrival wins across batches, min-id within one; "
    "state = append-only docs/shingles/bands parquet tables, work per "
    "batch ∝ batch via the persisted band index). The documents "
    "fixture replays as ONE micro-batch, where the admitted set "
    "provably equals batch dedup_survivors — hence the q88-style "
    "recursive-reachability oracle; multi-batch first-arrival parity, "
    "index integrity, and content-idempotence are pinned in "
    "tests/test_streaming_extended.py"
)


register("q202_heavy_hitters_mg", _Q202_ORACLE, _Q202_NOTES)(q202_heavy_hitters_mg)


register("q207_heavy_hitters_stream_replay", _Q202_ORACLE, _Q207_NOTES)(
    q207_heavy_hitters_stream_replay
)


register("q215_streaming_dedup_ingest", _q215_oracle(), _Q215_NOTES)(
    q215_streaming_dedup_ingest
)


def q273_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q256's exact CUSUM configuration driven through the STREAMING
    runtime: the capped per-key series is standardized batch-side (the
    reference yardstick), split into two ORDERED parquet chunks, and
    replayed file-by-file through the stateful stream — so the oracle
    is the SAME recursive SQL as q256, now pinning cross-micro-batch
    state carry under the driver's hash compare."""
    from pyspark.sql import Window

    from ..streaming.cusum import streaming_cusum

    dec = "decimal(38,9)"
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    capped = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 60)
        .select("user_id", "event_id", "value")
    )
    xd = F.round(F.col("value").cast("double"), 9)
    stats = (
        capped.select(
            "user_id",
            xd.cast(dec).alias("x"),
            F.round(xd * xd, 9).cast(dec).alias("xx"),
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("xx").alias("sxx"),
        )
        .select(
            "user_id",
            (F.col("sx").cast("double") / F.col("n")).alias("mu"),
            F.sqrt(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double")
                    * F.col("sx").cast("double")
                    / F.col("n")
                )
                / F.col("n")
            ).alias("sigma"),
        )
    )
    z = capped.join(F.broadcast(stats), "user_id").select(
        "user_id",
        "event_id",
        (
            (F.col("value").cast("double") - F.col("mu")) / F.col("sigma")
        ).alias("z"),
    )
    # Replay-fixture synthesis stays DISTRIBUTED (VERDICT r8 item 4): the
    # split point is a metadata-sized exact median from approxQuantile
    # (relativeError=0 → deterministic), and each chunk is written by
    # Spark — nothing data-sized ever lands on the driver. streaming_cusum
    # sorts within each micro-batch, so only the file-level event_id split
    # (all ≤ cut before all > cut) carries the ordering contract; the
    # single-file-per-chunk layout IS the two-batch replay fixture.
    with held(z):
        cut = z.stat.approxQuantile("event_id", [0.5], 0.0)[0]
        with replay_stream(
            (z.filter(F.col("event_id") <= cut), z.filter(F.col("event_id") > cut))
        ) as zstream:
            out = run_available_now(
                streaming_cusum(zstream, "user_id", "event_id", k=0.25, h=2.0),
                output_mode="update",
            )
    return out.orderBy("user_id", "event_id")


_Q273_NOTES = (
    "STREAMING CUSUM (streaming/cusum.streaming_cusum — the stateful-"
    "stream twin of q256, SURVEY 2.9 batch/stream parity family): "
    "per-key (s+, s-) state in applyInPandasWithState carried across "
    "micro-batches (two-file ordered availableNow replay, "
    "maxFilesPerTrigger=1 so the state REALLY crosses a batch "
    "boundary); standardization is a batch-side reference yardstick "
    "joined stream-static. The oracle is q256's WITH RECURSIVE SQL "
    "verbatim — a hash-green streaming query, possible because every "
    "recursion step is raw IEEE arithmetic on identical inputs"
)


register("q273_streaming_cusum", _Q256_ORACLE, _Q273_NOTES)(q273_streaming_cusum)


def q294_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q283's exact funnel configuration driven through the STREAMING
    runtime: funnel-step events split into two per-key-ordered parquet
    chunks (each user's first event in chunk 0) and replayed
    file-by-file through the stateful stream; the final state per key
    (max n_seen) must reproduce the batch fold — the oracle is q283's
    nested-MIN SQL with the anchor kept in epoch micros."""
    from pyspark.sql import Window

    from ..streaming.funnel import streaming_funnel

    steps = ["view", "click", "purchase"]
    ev = read_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(steps)
    )
    # Replay-fixture synthesis stays DISTRIBUTED (VERDICT r8 item 4): the
    # per-user first-event flag is a window function, the two chunks are
    # Spark-written — nothing data-sized lands on the driver. The funnel
    # fold is tie-insensitive (nested MINs over timestamps), so any
    # deterministic tiebreak for the chunk-0 seed row is valid.
    base = (
        ev.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
            "event_type",
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy("ts", "event_type")
            ),
        )
    )
    with held(base), replay_stream(
        (
            base.filter(F.col("_rn") == 1).drop("_rn"),
            base.filter(F.col("_rn") > 1).drop("_rn"),
        )
    ) as stream:
        out = run_available_now(
            streaming_funnel(stream, "user_id", "ts", "event_type", steps, 7200),
            output_mode="update",
        )
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("user_id", "funnel_level", "anchor_us")
        .orderBy("user_id")
    )


_Q294_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    keys AS (SELECT DISTINCT user_id FROM ev),
    s1 AS (
      SELECT user_id, MIN(us) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.us) AS t2
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click'
        AND e.us > s1.t1 AND e.us <= s1.t1 + 7200000000
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.us) AS t3
      FROM ev e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.us > s2.t2 AND e.us <= s1.t1 + 7200000000
      GROUP BY 1
    )
    SELECT k.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1
                ELSE 0 END AS funnel_level,
           t1 AS anchor_us
    FROM keys k
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    ORDER BY k.user_id
"""

_Q294_NOTES = (
    "STREAMING WINDOW FUNNEL (streaming/funnel.streaming_funnel — the "
    "stateful-stream twin of q283, SURVEY 2.9 batch/stream parity "
    "family): per-key (level, anchor, last-step, n_seen) state in "
    "applyInPandasWithState carried across micro-batches; the per-key "
    "replay split puts each user's FIRST event alone in chunk 0 so "
    "every multi-step conversion MUST advance across a batch boundary "
    "(the strongest possible state-carry exercise). Oracle = q283's "
    "nested-MIN first-touch SQL with the anchor in epoch micros — a "
    "hash-green streaming query"
)


register("q294_streaming_funnel", _Q294_ORACLE, _Q294_NOTES)(q294_streaming_funnel)


# --- q353: streaming dedup within watermark -------------------------------------


def q353_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark over the events replay —
    the BOUNDED-STATE streaming dedup (plain dropDuplicates on a stream
    keeps every key forever; the watermark variant evicts dedup state
    once a key's event time passes the watermark, which is the only form
    that survives an unbounded stream). Duplicate keys are synthesized
    (event_id DIV 3 — three events per key); the projected payload is a
    pure function of the key so ANY survivor yields identical output
    rows and the batch oracle is a plain DISTINCT."""
    s = read_table_stream(spark, sf_dir, "events")
    keyed = (
        s.select(
            "ts",
            F.expr("event_id DIV 3").alias("k"),
            ((F.expr("event_id DIV 3") * F.lit(2654435761)) % 97).alias("v"),
        )
        .withWatermark("ts", "10 minutes")
    )
    dd = keyed.dropDuplicatesWithinWatermark(["k"])
    out = run_available_now(dd, output_mode="append")
    return out.select("k", "v").orderBy("k")


_Q353_ORACLE = """
    SELECT DISTINCT event_id // 3 AS k,
           (event_id // 3 * 2654435761) % 97 AS v
    FROM events ORDER BY k
"""

_Q353_NOTES = (
    "STREAMING DEDUP WITHIN WATERMARK (dropDuplicatesWithinWatermark "
    "over the deterministic file-replay harness — the bounded-state "
    "form of streaming dedup: state for a key is EVICTED once event "
    "time passes the watermark, the only dedup that survives an "
    "unbounded stream; completes the streaming-state family next to "
    "q38/q63/q107 and the custom ingest-dedup): duplicate keys "
    "synthesized 3-per-key, payload a pure function of the key so any "
    "survivor is identical and the batch oracle is plain DISTINCT — "
    "the streaming/batch parity discipline of SURVEY 5.2"
)

register("q353_stream_dedup_watermark", _Q353_ORACLE, _Q353_NOTES)(
    q353_stream_dedup_watermark
)


# --- q398: streaming ingest quality gate -------------------------------------------


def q398_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule set AT INGEST (streaming form of q383): the
    documents table streams through gopher_quality_filters — a pure
    map-only projection, so it composes into the readStream path
    unchanged (append mode, no state) — and the availableNow replay
    must equal the batch run row-for-row."""
    from ..llm.quality import gopher_quality_filters

    stream = read_table_stream(spark, sf_dir, "documents")
    gated = gopher_quality_filters(stream)
    return run_available_now(gated, output_mode="append").orderBy("doc_id")


_Q398_NOTES = (
    "STREAMING INGEST QUALITY GATE (q383's Gopher rule set composed "
    "into the readStream path — the shape a live crawl pipeline runs: "
    "gate documents AT INGEST, before they ever land in the corpus): "
    "gopher_quality_filters is a pure map-only projection, so it is "
    "streaming-safe by construction (append mode, no state, no "
    "watermark) and the availableNow replay equals the batch run "
    "row-for-row — q398 shares q383's oracle verbatim (the q37/q34 "
    "streaming-parity convention). Proves the curation layer's "
    "map-only operators all lift to Structured Streaming unchanged"
)

register("q398_stream_quality_gate", _q383_oracle(), _Q398_NOTES)(
    q398_stream_quality_gate
)


# --- q414: streaming PII gate --------------------------------------------------------


def q414_stream_pii_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub AT INGEST (streaming form of q406): the documents
    table streams through pii_scrub — pure map-only, so it composes
    into the readStream path unchanged (append mode, no state) and the
    availableNow replay equals the batch run row-for-row (the q398
    convention; shares q406's oracle verbatim)."""
    from ..llm.pii import pii_scrub

    stream = read_table_stream(spark, sf_dir, "documents")
    gated = pii_scrub(stream)
    return run_available_now(gated, output_mode="append").orderBy("doc_id")


_Q414_NOTES = (
    "STREAMING PII GATE (q406's scrub composed into the readStream "
    "path — scrub documents AT INGEST, before they land in the "
    "corpus): pii_scrub is a pure map-only projection, streaming-safe "
    "by construction (append mode, no state, no watermark); "
    "availableNow replay equals the batch run row-for-row — q414 "
    "shares q406's oracle verbatim (the q398/q37 streaming-parity "
    "convention). With q398 this pins the rule that ALL map-only "
    "curation operators lift to Structured Streaming unchanged"
)

register("q414_stream_pii_gate", _q406_oracle(), _Q414_NOTES)(q414_stream_pii_gate)


# --- q449: streaming eval gate -----------------------------------------------


def q449_stream_eval_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-F1 eval gate AT INGEST (llm/texteval.truncation_eval_gate
    composed into the readStream path): the map-only HOF form of
    token-F1 scores each doc's deterministic candidate rewrite as it
    streams in; availableNow replay == batch run row-for-row (the
    q398/q414 convention) — extending the map-only-lifts-to-streaming
    rule to the EVALUATION family."""
    from ..llm.texteval import truncation_eval_gate

    stream = read_table_stream(spark, sf_dir, "documents")
    gated = truncation_eval_gate(stream)
    return run_available_now(gated, output_mode="append").orderBy("doc_id")


def _q449_oracle() -> str:
    cand = (
        "list_concat(list_slice(t, 1, k), "
        "list_slice(t, 1, least(3, len(t))))"
    )
    ov = (
        "COALESCE(list_sum(list_transform(list_distinct(cand), tok -> "
        "least(len(list_filter(cand, x -> x = tok)), "
        "len(list_filter(t, x -> x = tok))))), 0)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_T.format(c='text')} AS t FROM documents),
    kd AS (
      SELECT doc_id, t,
             greatest(CAST(ceil(len(t) * ((doc_id % 5) + 1) / 6.0)
                           AS INTEGER), 1) AS k
      FROM toks),
    cd AS (SELECT doc_id, t, k, {cand} AS cand FROM kd),
    scored AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(k AS BIGINT) AS k_kept,
             round(CASE WHEN len(cand) = 0 AND len(t) = 0 THEN 1.0
                        ELSE 2.0 * ({ov}) / (len(cand) + len(t)) END, 6)
               AS f1
      FROM cd)
    SELECT doc_id, n_tokens, k_kept, f1, f1 >= 0.6 AS passes
    FROM scored ORDER BY doc_id
    """


_Q449_NOTES = (
    "STREAMING EVAL GATE (llm/texteval.truncation_eval_gate over "
    "token_f1_inline — token-F1 as a PURE MAP-ONLY projection via "
    "array HOFs, O(u*n) per row, documented as the streaming/per-row "
    "form while the batch path keeps the explode/join token_f1): "
    "composes into readStream unchanged (append mode, no state); "
    "availableNow replay equals the batch run row-for-row — with "
    "q398 (quality) and q414 (PII) this extends the map-only-lifts "
    "rule to the evaluation family; candidate = doc-varying "
    "truncation + duplicated lead tokens so multiset clipping is "
    "exercised (a pure subset would collapse min to |cand|)"
)

register("q449_stream_eval_gate", _q449_oracle(), _Q449_NOTES)(q449_stream_eval_gate)

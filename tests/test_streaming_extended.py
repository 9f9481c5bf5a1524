"""Remaining §2.9 streaming semantics: stream-stream join, streaming
dedup within watermark, exactly-once file sink via checkpoint recovery.
All deterministic: file sources + availableNow, never wall-clock."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from dbkit_spark.sources import read_table, read_table_stream
from dbkit_spark.sources.writers import write_orc
from dbkit_spark.sources.readers import read_orc
from dbkit_spark.streaming.runner import run_available_now


def test_stream_stream_interval_join(spark, sf_dir):
    """clicks ⋈ views on user_id within a 5-minute lookback, both sides
    streaming with watermarks. Inner stream-stream matches are emitted
    eagerly (watermarks bound state, not output), so availableNow replay
    must equal the batch interval join."""
    def sides(df):
        clicks = (
            df.filter(F.col("event_type") == "click")
            .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                    F.col("event_id").alias("c_id"))
        )
        views = (
            df.filter(F.col("event_type") == "view")
            .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
                    F.col("event_id").alias("v_id"))
        )
        return clicks, views

    cond = (
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("interval 5 minutes"))
        & (F.col("v_ts") <= F.col("c_ts"))
    )

    sc, sv = sides(read_table_stream(spark, sf_dir, "events"))
    stream_joined = (
        sc.withWatermark("c_ts", "10 minutes")
        .join(sv.withWatermark("v_ts", "10 minutes"), cond)
        .select("c_id", "v_id")
    )
    got = run_available_now(stream_joined, output_mode="append")

    bc, bv = sides(read_table(spark, sf_dir, "events"))
    want = bc.join(bv, cond).select("c_id", "v_id")
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(w) > 0


def test_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """Duplicate events arriving in separate micro-batches are dropped by
    dropDuplicatesWithinWatermark state (delay covers the whole replay)."""
    events = read_table(spark, sf_dir, "events").limit(200)
    src = str(tmp_path / "dup_src")
    # same rows twice -> two files -> two micro-batches (maxFilesPerTrigger=1)
    events.coalesce(1).write.mode("overwrite").parquet(src)
    events.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    got = run_available_now(stream, output_mode="append")
    assert got.count() == events.count()


def test_file_sink_checkpoint_exactly_once(spark, sf_dir, tmp_path):
    """Restarting a file-sink query on the same checkpoint must not
    re-emit processed data (exactly-once across restarts)."""
    events = read_table(spark, sf_dir, "events")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            read_table_stream(spark, sf_dir, "events")
            .select("event_id", "ts", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    run_once()  # no new input: must be a no-op, not a duplicate write
    sunk = spark.read.parquet(out)
    assert sunk.count() == events.count()


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    nation = read_table(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_orc_{uuid.uuid4().hex[:6]}")
    write_orc(nation, path)
    back = read_orc(spark, path, nation.schema)
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def test_update_output_mode(spark, sf_dir, tmp_path):
    """update mode emits only keys changed in each micro-batch. Replaying
    the events in 2 batches (2 files), the union of update emissions,
    keeping each key's LAST emission, must equal the complete-mode result."""
    events = read_table(spark, sf_dir, "events")
    src = str(tmp_path / "upd_src")
    half = events.count() // 2
    e = events.orderBy("event_id")
    e.limit(half).coalesce(1).write.mode("overwrite").parquet(src)
    e.offset(half).coalesce(1).write.mode("append").parquet(src)

    agg_of = lambda df: df.groupBy("event_type").agg(F.count("*").alias("n"))

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    import uuid as _uuid

    name = f"upd_{_uuid.uuid4().hex[:8]}"
    q = (
        agg_of(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    updates = spark.table(name)
    # last emission per key == final counts (memory sink appends updates
    # in batch order; max(n) works because counts only grow)
    final = updates.groupBy("event_type").agg(F.max("n").alias("n"))
    want = {(r.event_type, r.n) for r in agg_of(events).collect()}
    got = {(r.event_type, r.n) for r in final.collect()}
    assert got == want


def test_incremental_upsert_batch_boundary_invariance(spark, sf_dir, tmp_path):
    """foreach_batch.run_incremental_upsert: the final state must be
    IDENTICAL whether the history arrives as 1 micro-batch or 4 — the
    merge-invariant (partials re-aggregate exactly) is the whole contract.
    Decimal carry makes even the float sums bit-equal."""
    from dbkit_spark.operators.aggregate import dec
    from dbkit_spark.streaming.foreach_batch import run_incremental_upsert

    events = read_table(spark, sf_dir, "events")

    def partial(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value", 6)).cast("decimal(38,6)").alias("total"),
            F.max("ts").alias("last_ts"),
        )

    def merge(df):
        return df.groupBy("user_id").agg(
            F.sum("n").alias("n"),
            F.sum("total").cast("decimal(38,6)").alias("total"),
            F.max("last_ts").alias("last_ts"),
        )

    results = {}
    for nfiles in (1, 4):
        in_dir = str(tmp_path / f"in{nfiles}")
        events.repartition(nfiles).write.parquet(in_dir)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        state = run_incremental_upsert(
            stream, partial, merge, str(tmp_path / f"state{nfiles}")
        )
        results[nfiles] = sorted(tuple(r) for r in state.collect())

    assert results[1] == results[4]
    batch = sorted(tuple(r) for r in merge(partial(events)).collect())
    assert results[4] == batch


def test_incremental_upsert_prunes_stale_versions(spark, sf_dir, tmp_path):
    """State directory must not grow with stream lifetime: only the last
    keep_versions survive."""
    import os

    from dbkit_spark.streaming.foreach_batch import run_incremental_upsert

    events = read_table(spark, sf_dir, "events").limit(200)
    in_dir = str(tmp_path / "in")
    events.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    state_dir = str(tmp_path / "state")
    run_incremental_upsert(
        stream,
        lambda df: df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")),
        lambda df: df.groupBy("user_id").agg(F.sum("n").alias("n")),
        state_dir,
        keep_versions=2,
    )
    versions = [d for d in os.listdir(state_dir) if d.startswith("v")]
    assert len(versions) <= 2


def test_outer_eviction_rule_dense_fixture(spark, tmp_path):
    """Pin Spark's asymmetric outer-join eviction rule on a fixture dense
    enough to distinguish the two sides (the sf fixtures have ~0 unmatched
    views inside the 5-minute band, so they can't).

    Condition: v_ts BETWEEN c_ts - 5m AND c_ts, both watermarks 10m,
    wm = min-of-sides max event time - 10m = t+90. A click's view-time
    window ends at c_ts, so unmatched clicks null-extend at c_ts < wm.
    A view can still match FUTURE clicks up to c_ts = v_ts + 5m, so Spark
    buffers it until the watermark clears that upper bound: unmatched
    views null-extend only at v_ts < wm - 5m. The q146/q152 oracles
    encode exactly this rule; this fixture places an unmatched view at
    t+87 — inside [wm-5m, wm) — which must be withheld."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pd.Timestamp("2024-01-01")
    rows = [
        # matched anchors pinning both sides' max event time to t+100
        (1, 100, 1, "click"), (2, 98, 1, "view"),
        (3, 100, 2, "view"), (4, 100, 2, "click"),
        # unmatched views: below wm-5m / inside [wm-5m, wm) / above wm
        (10, 80, 3, "view"), (11, 87, 4, "view"), (12, 95, 5, "view"),
        # unmatched clicks: below wm / below wm / above wm
        (20, 80, 6, "click"), (21, 87, 7, "click"), (22, 95, 8, "click"),
    ]
    df = pd.DataFrame(
        [(eid, base + pd.Timedelta(minutes=m), uid, et, 0.0, "{}")
         for eid, m, uid, et in rows],
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    tbl = pa.Table.from_pandas(df, preserve_index=False)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"), "ts", tbl["ts"].cast(pa.timestamp("us"))
    )
    fixture = tmp_path / "dense_events"
    fixture.mkdir()
    pq.write_table(tbl, str(fixture / "events.parquet"))

    dfs = read_table_stream(spark, str(fixture), "events")
    clicks = dfs.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_id"))
    views = dfs.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"))
    cond = (
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("interval 5 minutes"))
        & (F.col("v_ts") <= F.col("c_ts"))
    )
    joined = (
        clicks.withWatermark("c_ts", "10 minutes")
        .join(views.withWatermark("v_ts", "10 minutes"), cond, "full_outer")
        .select("c_id", "v_id")
    )
    got = {(r.c_id, r.v_id) for r in run_available_now(joined, "append").collect()}
    assert got == {
        (1, 2), (4, 3),          # matches emit eagerly
        (20, None), (21, None),  # clicks < wm null-extend (incl. t+87)
        (None, 10),              # view t+80 < wm-5m null-extends
        # view t+87 withheld (inside [wm-5m, wm)); t+95 clicks/views withheld
    }


def test_dynamic_gap_session_stream_equals_batch(spark):
    """q181's dynamic-gap session windows replayed through readStream +
    availableNow (complete mode) must produce the identical session set
    as the batch operator — the batch==stream contract for per-event
    gap expressions (q115's discipline, generalized to dynamic gaps)."""
    from dbkit_spark.catalog import load_all

    sf = "/root/testdata/sf0.001"
    batch = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in load_all()["q181_dynamic_session_gap"].fn(spark, sf).collect()
    }

    stream = read_table_stream(spark, sf, "events")
    gap = (
        F.when(F.col("event_type") == "click", F.lit("300 seconds"))
        .when(F.col("event_type") == "view", F.lit("600 seconds"))
        .otherwise(F.lit("900 seconds"))
    )
    agg = (
        stream.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )
    streamed = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in run_available_now(agg, output_mode="complete").collect()
    }
    assert streamed == batch and len(batch) > 0


def test_heavy_hitters_kernel_bound_accounting():
    """The shared Misra–Gries merge+trim kernel on hand-checked values:
    trim subtracts the (capacity+1)-th largest count from everyone,
    keeps positives, and reports the subtraction as the error increment."""
    from dbkit_spark.streaming.heavy_hitters import mg_merge_trim

    s, err = mg_merge_trim({}, {"a": 5, "b": 3, "c": 1, "d": 1}, capacity=2)
    assert s == {"a": 4, "b": 2} and err == 1
    # merging an existing summary accumulates before trimming
    s2, err2 = mg_merge_trim({"a": 4, "b": 2}, {"c": 7, "b": 1}, capacity=2)
    # merged {a:4,b:3,c:7}; 3rd largest = 3 -> {c:4, a:1}, err inc 3
    assert s2 == {"c": 4, "a": 1} and err2 == 3
    # under capacity: no trim, no error
    s3, err3 = mg_merge_trim({}, {"x": 2}, capacity=2)
    assert s3 == {"x": 2} and err3 == 0


def test_heavy_hitters_stream_bounds_and_parity(spark, sf_dir, tmp_path):
    """Streaming sharded MG heavy hitters: (1) single-batch availableNow
    replay is bit-identical to the batch twin (order-independent kernel);
    (2) against exact ground truth (q96's territory) every estimate
    satisfies est <= true <= est + err and every key with true count
    > n_shard/capacity is present; (3) a two-file (two micro-batch)
    replay keeps state bounded at capacity per shard and still honors
    the bounds."""
    from dbkit_spark.streaming.heavy_hitters import (
        heavy_hitters_batch,
        heavy_hitters_stream,
        topk_from_summaries,
    )

    CAP, SHARDS = 16, 4
    ev = read_table(spark, sf_dir, "events")
    batch = heavy_hitters_batch(ev, "user_id", capacity=CAP, n_shards=SHARDS)
    batch_rows = {tuple(r) for r in batch.collect()}

    # (1) parity: events.parquet is one file -> one micro-batch
    stream = read_table_stream(spark, sf_dir, "events")
    got = run_available_now(
        heavy_hitters_stream(stream, "user_id", capacity=CAP, n_shards=SHARDS),
        output_mode="update",
    )
    assert {tuple(r) for r in got.collect()} == batch_rows

    # (2) bounds vs exact truth
    true = {
        str(r.user_id): r.n
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    # recompute shard assignment by the documented portable md5 rule
    keyed = F.concat(F.col("user_id").cast("string"), F.lit(":hh"))
    shard_of = {
        str(r.user_id): r.shard
        for r in ev.select(
            "user_id",
            (
                F.conv(F.substring(F.md5(keyed), 1, 6), 16, 10).cast("long")
                % SHARDS
            ).alias("shard"),
        ).distinct().collect()
    }
    per_shard_n: dict[int, int] = {}
    for k, n in true.items():
        per_shard_n[shard_of[k]] = per_shard_n.get(shard_of[k], 0) + n
    summary = {r.key: r for r in batch.collect()}
    for key, r in summary.items():
        assert r.est <= true[key] <= r.est + r.err, key
        assert r.err <= per_shard_n[r.shard] / CAP, key
        assert r.n_shard == per_shard_n[r.shard]
    for key, n in true.items():
        if n > per_shard_n[shard_of[key]] / CAP:
            assert key in summary, (key, n)
    # top-k cut is metadata-sized and ordered by est
    top = topk_from_summaries(batch, 5).collect()
    assert len(top) == 5
    assert [r.est for r in top] == sorted((r.est for r in top), reverse=True)

    # (3) two micro-batches: state stays bounded, bounds still hold
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(tmp_path / "s" / "f1.parquet")
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(tmp_path / "s" / "f2.parquet")
    )
    two = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "s" / "*"))
    )
    emitted = run_available_now(
        heavy_hitters_stream(two, "user_id", capacity=CAP, n_shards=SHARDS),
        output_mode="update",
    ).collect()
    # keep the LAST emission per shard (n_shard is monotone per shard)
    latest_n = {}
    for r in emitted:
        latest_n[r.shard] = max(latest_n.get(r.shard, 0), r.n_shard)
    final = [r for r in emitted if r.n_shard == latest_n[r.shard]]
    per_shard_keys: dict[int, int] = {}
    for r in final:
        per_shard_keys[r.shard] = per_shard_keys.get(r.shard, 0) + 1
        assert r.est <= true[r.key] <= r.est + r.err, r.key
    assert all(c <= CAP for c in per_shard_keys.values())
    assert {r.shard for r in final} == set(per_shard_n)
    for s, n in latest_n.items():
        assert n == per_shard_n[s]


def test_heavy_hitters_null_keys_excluded(spark):
    """NULL keys must not leak into summaries OR the n_shard error-bound
    denominator (pandas value_counts drops them from counts, so counting
    them in n would silently loosen the bound)."""
    from dbkit_spark.streaming.heavy_hitters import heavy_hitters_batch

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",), (None,)], "k string"
    )
    rows = heavy_hitters_batch(df, "k", capacity=8, n_shards=2).collect()
    assert {r.key for r in rows} == {"a", "b"}
    assert sum(r.n_shard for r in {r.shard: r for r in rows}.values()) == 3


def test_dedup_ingest_stream_parity_and_consistency(spark, sf_dir, tmp_path):
    """Streaming dedup ingest: (1) the streamed corpus (2 micro-batches)
    equals a driver-sequential replay of ingest_batch over the same
    files in the same order; (2) first-arrival-wins across batches — an
    earlier-arriving doc survives its later near-dup even when the
    later one has the smaller id; (3) the final corpus contains no
    near-dup pair at the ingest threshold; (4) re-running the whole
    stream over the built corpus admits nothing."""
    from dbkit_spark.llm.dedup import minhash_near_dup_pairs
    from dbkit_spark.sources import read_table, read_table_stream
    from dbkit_spark.streaming.ingest_dedup import (
        ingest_batch,
        run_dedup_ingest,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    half = docs.count() // 2
    d = docs.orderBy("doc_id")
    d.limit(half).coalesce(1).write.mode("overwrite").parquet(src)
    d.offset(half).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    streamed = run_dedup_ingest(
        stream, str(tmp_path / "state_stream"), threshold=0.5
    )
    got = sorted(r.doc_id for r in streamed.collect())

    # reference: sequential driver replay over the same two files in
    # file order (the same order the file source delivers them)
    import os

    # the file source delivers oldest-first (modification time), not by name
    files = sorted(
        (f"{src}/{f}" for f in os.listdir(src) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    ref_state = str(tmp_path / "state_ref")
    for f in files:
        ingest_batch(spark, spark.read.parquet(f), ref_state, 0.5)
    want = sorted(
        r.doc_id
        for r in spark.read.parquet(ref_state + "/docs").collect()
    )
    assert got == want and got

    # (3) no direct near-dup pair survives in the corpus
    assert minhash_near_dup_pairs(streamed, threshold=0.5).count() == 0

    # (4) idempotence on the ADMITTED corpus: same ids are a no-op, and
    # the same CONTENT under fresh ids is rejected as near-dup. (Note
    # "re-ingest every original doc → 0" is NOT an invariant: a doc
    # rejected as a transitive in-batch cluster member may genuinely
    # near-dup nothing that was admitted.)
    n_same = ingest_batch(spark, streamed, str(tmp_path / "state_stream"), 0.5)
    assert n_same == 0
    shifted = streamed.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    n_shift = ingest_batch(spark, shifted, str(tmp_path / "state_stream"), 0.5)
    assert n_shift == 0

    # restart safety: a REPLAYED first batch (at-least-once foreachBatch)
    # re-checks the existing state and appends nothing
    n_replay = ingest_batch(
        spark, spark.read.parquet(files[0]), str(tmp_path / "state_ref"), 0.5
    )
    assert n_replay == 0

    # (2) first-arrival beats min-id across batches
    first_state = str(tmp_path / "state_order")
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    ingest_batch(
        spark,
        spark.createDataFrame([(100, shared)], "doc_id long, text string"),
        first_state,
        0.5,
    )
    n = ingest_batch(
        spark,
        spark.createDataFrame(
            [(5, shared + " nu")], "doc_id long, text string"
        ),
        first_state,
        0.5,
    )
    assert n == 0  # id 5 < 100, but 100 arrived first and wins


def test_dedup_ingest_of_an_empty_stream_is_an_empty_corpus(spark, tmp_path):
    """A stream that never delivers a file admits nothing: the ingest
    returns an empty corpus with the stream's columns instead of reading
    a ``docs`` table that was never written."""
    from dbkit_spark.streaming.ingest_dedup import run_dedup_ingest

    src = tmp_path / "empty"
    src.mkdir()
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    corpus = run_dedup_ingest(stream, str(tmp_path / "state"), threshold=0.5)
    assert corpus.columns == ["doc_id", "text"]
    assert corpus.count() == 0


def test_dedup_ingest_releases_its_caches(spark, tmp_path):
    """Every frame an ingest batch persists, including the band table its
    in-batch candidate search persists, is released when the batch
    returns: two batches (the second checked against the corpus) leave
    the session's cache count where it started."""
    from dbkit_spark.streaming.ingest_dedup import ingest_batch

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.cachedData().size()
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu".split()
    state = str(tmp_path / "state")
    for ids in ((1, 2), (3, 4)):
        rows = [(i, " ".join(w + str(i) for w in words)) for i in ids]
        ingest_batch(spark, spark.createDataFrame(rows, "doc_id long, text string"), state)
    assert cache_manager.cachedData().size() == before


def test_dedup_ingest_rejects_incompatible_band_key_state(spark, tmp_path):
    """A state whose band index holds string band keys (the format before
    band keys became 64-bit longs) fails with an error that names the
    state, the found type and the expected one, before any join."""
    import pytest

    from dbkit_spark.streaming.ingest_dedup import ingest_batch

    state = str(tmp_path / "state")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    ingest_batch(
        spark, spark.createDataFrame([(1, text)], "doc_id long, text string"), state
    )
    rows = (
        spark.read.parquet(f"{state}/bands")
        .select("doc_id", F.lower(F.hex("band_key")).alias("band_key"))
        .collect()
    )
    assert rows
    spark.createDataFrame(rows, "doc_id long, band_key string").write.mode(
        "overwrite"
    ).parquet(f"{state}/bands")
    batch = spark.createDataFrame([(2, text + " nu")], "doc_id long, text string")
    with pytest.raises(ValueError, match="band_key") as err:
        ingest_batch(spark, batch, state)
    assert state in str(err.value)
    assert "found string, expected bigint" in str(err.value)


def test_dedup_ingest_rejects_incompatible_shingle_state(spark, tmp_path):
    """The state check covers every state table, not only the band index:
    a shingle store whose shingle sets were written as strings fails
    with the state dir, table, column and both types."""
    import pytest

    from dbkit_spark.streaming.ingest_dedup import ingest_batch

    state = str(tmp_path / "state")
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    ingest_batch(
        spark, spark.createDataFrame([(1, text)], "doc_id long, text string"), state
    )
    rows = (
        spark.read.parquet(f"{state}/shingles")
        .select("doc_id", F.concat_ws(" ", "shingles").alias("shingles"))
        .collect()
    )
    spark.createDataFrame(rows, "doc_id long, shingles string").write.mode(
        "overwrite"
    ).parquet(f"{state}/shingles")
    batch = spark.createDataFrame([(2, text + " nu")], "doc_id long, text string")
    with pytest.raises(ValueError) as err:
        ingest_batch(spark, batch, state)
    assert state in str(err.value)
    assert "shingles.shingles found string, expected array<string>" in str(err.value)


def test_queries_remove_their_temp_dirs(spark, sf_dir):
    """The queries that stage files in a temp directory (the upsert
    input and state, the ingest state, the replay chunks, the XML
    round-trip) materialize their result, then remove the directory: a
    run leaves the temp root's entries of those prefixes as it found
    them, and the returned frame still reads."""
    import os
    import tempfile

    from dbkit_spark.catalog import load_all

    prefixes = ("dbkit_q107_", "dbkit_ingest_", "dbkit_replay_", "q325_xml_")

    def staged() -> set[str]:
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith(prefixes)}

    catalog = load_all()
    before = staged()
    for name in (
        "q107_stream_incremental_upsert",
        "q215_streaming_dedup_ingest",
        "q273_streaming_cusum",
        "q294_streaming_funnel",
        "q325_xml_source",
    ):
        assert catalog[name].fn(spark, sf_dir).count() > 0, name
        assert staged() == before, name

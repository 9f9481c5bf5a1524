"""Round-11 tests: the concurrency-safe fixture guard (ADVICE r10) and
round-11 operator additions."""

from __future__ import annotations

import os
import threading
import time

import pytest


def test_fixture_once_builds_once_under_race(tmp_path):
    """N racing threads, one stale fixture: exactly ONE build runs, all
    callers return only after the marker is published, and the marker
    carries the stamp."""
    from dbkit_spark.queries._fixtures import MARKER, fixture_once

    path = str(tmp_path / "fx")
    builds = []

    def build():
        builds.append(threading.get_ident())
        time.sleep(0.3)  # widen the window a racer would interleave into
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "data"), "w") as fh:
            fh.write("payload")

    results = []

    def call():
        results.append(fixture_once(path, "s1", build))

    threads = [threading.Thread(target=call) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(builds) == 1
    assert results == [path] * 8
    with open(os.path.join(path, MARKER)) as fh:
        assert fh.read() == "s1"
    # fresh fast path: no rebuild
    fixture_once(path, "s1", build)
    assert len(builds) == 1
    # stamp change (regenerated testdata): rebuild exactly once more
    fixture_once(path, "s2", build)
    assert len(builds) == 2


def test_fixture_once_crash_leaves_no_fresh_marker(tmp_path):
    """A builder that dies mid-build must leave the fixture
    unambiguously incomplete: the stale marker is deleted BEFORE the
    build and the new one written only after it returns — a crash can
    never produce a fresh-looking half-written fixture. The lock left
    behind by the dead builder is broken by the next caller once its
    mtime exceeds the timeout."""
    from dbkit_spark.queries._fixtures import MARKER, fixture_once

    path = str(tmp_path / "fx")
    os.makedirs(path)
    with open(os.path.join(path, MARKER), "w") as fh:
        fh.write("old")

    with pytest.raises(RuntimeError, match="boom"):
        fixture_once(path, "new", lambda: (_ for _ in ()).throw(RuntimeError("boom")))
    assert not os.path.exists(os.path.join(path, MARKER))

    # abandoned-lock recovery: a stale lock (owner died) is broken
    with open(path + ".lock", "w") as fh:
        fh.write("999999")
    old = time.time() - 9999
    os.utime(path + ".lock", (old, old))
    done = []
    fixture_once(path, "new", lambda: done.append(1), timeout=1.0)
    assert done == [1]
    assert not os.path.exists(path + ".lock")


# --- round-11 operators (q363-q366) -----------------------------------------

import math
import random

from pyspark.sql import functions as F


def test_minhash_tune_scurve_and_pick(spark):
    """Hand-computed S-curve pins: P(cand|s) = 1-(1-s^r)^b, s* =
    (1/b)^(1/r); at a 16-hash budget and target 0.5 the recommended
    config must be (b=8, r=2) — the shipped NUM_BANDS/BAND_ROWS
    defaults, whose s* = 0.354^... closest to 0.5 among divisors."""
    import pytest as _pytest

    from dbkit_spark.llm.dedup import minhash_tune

    sims = spark.createDataFrame(
        [(0.2,), (0.5,), (0.8,), (0.9,), (0.3,)], "jaccard double"
    )
    rows = {(r["b"], r["r"]): r for r in minhash_tune(sims, "jaccard", 16, 0.5).collect()}
    assert set(rows) == {(1, 16), (2, 8), (4, 4), (8, 2), (16, 1)}
    r82 = rows[(8, 2)]
    # s* = (1/8)^(1/2)
    assert abs(r82["s_star"] - (1 / 8) ** 0.5) < 1e-6
    # exp_recall over {0.5, 0.8, 0.9}: mean of 1-(1-s^2)^8
    exp = sum(1 - (1 - s * s) ** 8 for s in (0.5, 0.8, 0.9)) / 3
    assert abs(r82["exp_recall"] - exp) < 1e-5
    exp_w = sum(1 - (1 - s * s) ** 8 for s in (0.2, 0.3)) / 2
    assert abs(r82["exp_waste"] - exp_w) < 1e-5
    assert (r82["n_pos"], r82["n_neg"]) == (3, 2)
    assert r82["pick_rank"] == 1  # the shipped defaults win at 0.5
    with _pytest.raises(ValueError, match="target"):
        minhash_tune(sims, "jaccard", 16, 1.5)
    with _pytest.raises(ValueError, match="n_hashes"):
        minhash_tune(sims, "jaccard", 1, 0.5)


def test_tdigest_merge_incremental_equals_monolithic(spark):
    """Merge-only maintenance: per-batch digests unioned and merged
    must (a) conserve weight exactly, (b) be bit-deterministic under
    repartitioning, (c) read out within the monolithic build's rank
    envelope, and (d) merge associatively (merging merged digests)."""
    from dbkit_spark.operators.sketch import (
        tdigest_build,
        tdigest_merge,
        tdigest_quantiles,
    )

    rng = random.Random(5)
    rows = [("g", math.exp(rng.gauss(0, 1.2))) for _ in range(6000)]
    df = spark.createDataFrame(rows, "g string, v double")
    thirds = [
        spark.createDataFrame(rows[i::3], "g string, v double") for i in range(3)
    ]
    digests = [tdigest_build(t, "v", ["g"]) for t in thirds]
    u = digests[0].unionByName(digests[1]).unionByName(digests[2])
    merged = tdigest_merge(u, ["g"])
    got = sorted(tuple(r) for r in merged.collect())
    again = sorted(tuple(r) for r in tdigest_merge(u.repartition(7), ["g"]).collect())
    assert got == again
    assert sum(r[3] for r in got) == len(rows)
    assert len(got) <= 200
    # associativity: merge(merge(d0, d1), d2) == merge(d0, d1, d2)
    m01 = tdigest_merge(digests[0].unionByName(digests[1]), ["g"])
    two_step = tdigest_merge(m01.unionByName(digests[2]), ["g"])
    # both are valid digests of the same data: compare READOUTS, which
    # must agree within the accuracy envelope (merge error second-order)
    vs = sorted(v for _g, v in rows)

    def _rank(x: float) -> float:
        import bisect

        return bisect.bisect_left(vs, x) / len(vs)

    for d in (merged, two_step):
        for r in tdigest_quantiles(d, ["g"], [0.05, 0.5, 0.95, 0.99]).collect():
            assert abs(_rank(r["est"]) - r["p"]) <= 0.02, (r["p"], r["est"])


def test_components_delta_equals_full_randomized(spark):
    """Delta merge == full recompute on random graphs and random
    splits, including delta edges that introduce never-seen nodes and
    self-pairs (singletons)."""
    from dbkit_spark.llm.cluster import (
        connected_components,
        connected_components_delta,
    )

    for seed in (3, 8):
        rng = random.Random(seed)
        all_edges = sorted(
            {tuple(sorted(rng.sample(range(1, 25), 2))) for _ in range(22)}
        )
        # delta gets ~1/3 of edges, plus brand-new nodes and a self-pair
        cut = max(1, len(all_edges) // 3)
        rng.shuffle(all_edges)
        prior_e, delta_e = all_edges[cut:], all_edges[:cut]
        delta_e += [(2, 101), (101, 102), (200, 200)]
        full = sorted(
            tuple(r)
            for r in connected_components(
                spark.createDataFrame(
                    sorted(prior_e + delta_e), "doc_a long, doc_b long"
                ),
                max_iter=25,
            ).collect()
        )
        prior_df = spark.createDataFrame(sorted(prior_e), "doc_a long, doc_b long")
        prior = connected_components(prior_df, max_iter=25)
        got = sorted(
            tuple(r)
            for r in connected_components_delta(
                prior,
                spark.createDataFrame(sorted(delta_e), "doc_a long, doc_b long"),
            ).collect()
        )
        # full CC only covers nodes in edges; delta covers prior ids +
        # delta endpoints — identical node sets here by construction
        assert got == full, seed
        assert (200, 200) in got  # self-pair singleton survives


def test_pq_adc_identity_ceiling_and_determinism(spark):
    """ADC over codebooks that reconstruct the corpus EXACTLY (every
    subvector is a centroid) must rank by true squared L2 — recall@k
    = 1 for every query; and the whole eval is deterministic under
    repartitioning."""
    import numpy as np

    from dbkit_spark.llm.similarity import pq_adc_topk, pq_encode, pq_recall_at_k

    rng = random.Random(11)
    dim, m, kc = 8, 4, 4
    sub = dim // m
    books = [
        [[rng.uniform(-1, 1) for _ in range(sub)] for _ in range(kc)]
        for _ in range(m)
    ]
    # corpus vectors assembled FROM the codebooks: exact reconstruction
    rows = []
    for i in range(40):
        v = []
        for j in range(m):
            v.extend(books[j][rng.randrange(kc)])
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # float32 storage: retrain the "books" as the float32-rounded values
    books32 = [
        [[float(np.float32(x)) for x in c] for c in b] for b in books
    ]
    out = pq_recall_at_k(
        emb.filter(F.col("vec_id") < 3), emb, books32, k=5
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r["recall"] == 1.0 and r["n_hit"] == 5
    codes = pq_encode(emb, books32)
    a = sorted(
        tuple(r)
        for r in pq_adc_topk(
            emb.filter(F.col("vec_id") < 3), codes, books32, k=5
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in pq_adc_topk(
            emb.filter(F.col("vec_id") < 3),
            codes.repartition(9),
            books32,
            k=5,
        ).collect()
    )
    assert a == b and len(a) == 15
    assert all(0 <= r[2] for r in a)  # squared distances non-negative


def test_minhash_tune_predicts_pair_quality_recall(spark, sf_dir):
    """The tuner's analytic exp_recall at the SHIPPED config (b=8, r=2)
    must track the EMPIRICAL banding recall q357's pair_quality
    measures on the same corpus — prediction and measurement close the
    loop the round-10 verdict asked for. MinHash is a random projection
    of the shingle sets, so agreement is statistical: assert within
    0.2 absolute (the fixture has tens of >=0.5 pairs; the analytic
    mean is the expectation of the empirical rate)."""
    from dbkit_spark.llm.dedup import (
        minhash_near_dup_pairs,
        minhash_tune,
        ngram_jaccard_pairs,
    )
    from dbkit_spark.operators.mlmetrics import pair_quality
    from dbkit_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    exact_all = ngram_jaccard_pairs(docs, threshold=0.0)
    predicted = minhash_tune(exact_all, "jaccard", 16, 0.5)
    p82 = {
        (r["b"], r["r"]): r["exp_recall"] for r in predicted.collect()
    }[(8, 2)]
    truth = exact_all.filter(F.col("jaccard") >= 0.5)
    lsh = minhash_near_dup_pairs(docs, threshold=0.5)
    got = pair_quality(lsh, truth).collect()[0]
    assert got["n_true"] > 0
    assert abs(got["recall"] - p82) <= 0.2, (got["recall"], p82)


def test_cuped_variance_reduction_law(spark):
    """On synthetic units where Y = X + arm-lift + noise (X strongly
    predictive), CUPED must (a) cut the within-arm variance by roughly
    corr(X,Y)^2, (b) preserve the between-arm lift (the adjustment is
    assignment-independent), and (c) with a useless covariate leave
    means essentially untouched."""
    from dbkit_spark.operators.mlmetrics import cuped_lift

    rng = random.Random(13)
    rows = []
    for u in range(2000):
        x = rng.gauss(100, 20)
        arm = "A" if u % 2 == 0 else "B"
        lift = 5.0 if arm == "B" else 0.0
        rows.append((arm, round(x + lift + rng.gauss(0, 4), 6), round(x, 6)))
    df = spark.createDataFrame(rows, "variant string, post double, pre double")
    got = {r["variant"]: r for r in cuped_lift(df, "variant", "post", "pre").collect()}
    a, b = got["A"], got["B"]
    # (a) variance collapses: noise var ~16 vs raw var ~400+16
    for r in (a, b):
        assert r["var_cuped"] < 0.15 * r["var_raw"], (r["var_cuped"], r["var_raw"])
        assert r["var_reduction"] > 0.85
    # (b) lift preserved within noise-shrunk tolerance
    raw_lift = b["mean_raw"] - a["mean_raw"]
    adj_lift = b["mean_cuped"] - a["mean_cuped"]
    assert abs(adj_lift - 5.0) < 0.5
    assert abs(adj_lift - raw_lift) < 1.5
    # theta ~ 1 (Y = X + ...)
    assert abs(a["theta"] - 1.0) < 0.1 and a["theta"] == b["theta"]
    # (c) useless covariate: theta ~ 0, means ~ unchanged
    junk = df.withColumn("pre", F.lit(1.0))
    g2 = {r["variant"]: r for r in cuped_lift(junk, "variant", "post", "pre").collect()}
    for arm_k in ("A", "B"):
        assert abs(g2[arm_k]["mean_cuped"] - g2[arm_k]["mean_raw"]) < 1e-6


def test_holt_tracks_ramp_where_ewma_lags(spark):
    """On a pure linear ramp y_t = 2t: Holt's trend converges to the
    true slope 2 and the one-step forecast converges to the NEXT point,
    while level-only EWMA settles into a constant lag — the reason the
    operator exists. Init pins: l1 = y1, b1 = 0."""
    import pytest as _pytest

    from dbkit_spark.operators.timeseries import ewma, holt_smooth

    rows = [(1, float(2 * t), t) for t in range(1, 61)]
    df = spark.createDataFrame(rows, "user_id long, value double, tsec long").select(
        "user_id", "value", F.col("tsec").cast("timestamp").alias("ts")
    )
    out = {
        int(r["value"]) // 2: r
        for r in holt_smooth(df, "ts", ["user_id"], "value").collect()
    }
    assert out[1]["level"] == 2.0 and out[1]["trend"] == 0.0
    tail = out[60]
    assert abs(tail["trend"] - 2.0) < 0.05
    # forecast at t=60 predicts y_61 = 122
    assert abs(tail["forecast"] - 122.0) < 0.6
    # EWMA at the same point lags by ~ (1-a)/a * slope = 2*0.8/0.2 = 8
    ew = {r["value"]: r for r in ewma(df, "ts", ["user_id"], "value", 0.2).collect()}
    assert ew[120.0]["ewma"] < 114.0  # stuck ~8 behind the ramp
    with _pytest.raises(ValueError, match="beta"):
        holt_smooth(df, "ts", ["user_id"], "value", beta=1.5)


def test_linear_attribution_conserves_revenue(spark):
    """Credit conservation: the channel-credited revenue totals must
    equal the raw purchase revenue (up to the 6dp per-credit rounding x
    n_credits), and a purchase with three equal-window touches splits
    exactly 1/3 each; a touchless purchase credits 'direct' in full."""
    from dbkit_spark.catalog import load_all

    fn = load_all()["q369_linear_attribution"].fn  # landed at r12
    sf = "/root/testdata/sf0.001"
    out = {r["channel"]: r for r in fn(spark, sf).collect()}
    from dbkit_spark.sources import read_table

    total = (
        read_table(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.sum(F.col("value").cast("decimal(38,2)")))
        .collect()[0][0]
    )
    credited = sum(float(r["revenue"]) for r in out.values())
    n_credits = sum(r["n_credits"] for r in out.values())
    # per-credit rounding error bounded by 5e-7 each
    assert abs(credited - float(total)) <= 5e-7 * n_credits + 1e-6
    assert set(out) <= {"click", "view", "direct"}


def test_linear_attribution_hand_case(spark):
    from pyspark.sql import functions as SF

    from dbkit_spark.catalog import load_all

    assert "q369_linear_attribution" in load_all()
    # hand case goes through the same plan shape via a local frame
    from dbkit_spark.operators.aggregate import dec
    from pyspark.sql import Window

    rows = [
        (1, 10, "purchase", 90.0, 100),   # 3 touches in window
        (2, 10, "click", 0.0, 95),
        (3, 10, "view", 0.0, 90),
        (4, 10, "click", 0.0, 99),
        (5, 20, "purchase", 50.0, 100),   # touchless -> direct
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, tsec long"
    ).select("event_id", "user_id", "event_type", "value",
             SF.col("tsec").cast("timestamp").alias("ts"))
    p = ev.filter(SF.col("event_type") == "purchase").select(
        SF.col("event_id").alias("pid"), "user_id", "ts", "value")
    t = ev.filter(SF.col("event_type").isin(["click", "view"])).select(
        SF.col("user_id").alias("t_user"), SF.col("ts").alias("t_ts"),
        SF.col("event_type").alias("channel"))
    j = p.join(t, (SF.col("t_user") == SF.col("user_id"))
               & (SF.col("t_ts") <= SF.col("ts"))
               & (SF.col("t_ts") >= SF.col("ts") - SF.expr("INTERVAL 7 DAYS")), "left")
    w = Window.partitionBy("pid")
    c = j.select(SF.coalesce("channel", SF.lit("direct")).alias("channel"),
                 SF.round(SF.col("value") / SF.count("*").over(w).cast("double"), 6)
                 .alias("credit"))
    got = {r["channel"]: (r["n"], float(r["rev"])) for r in c.groupBy("channel").agg(
        SF.count("*").alias("n"), SF.sum(dec("credit", 6)).cast("double").alias("rev")
    ).collect()}
    assert got["click"] == (2, 60.0)   # 2 x 30
    assert got["view"] == (1, 30.0)
    assert got["direct"] == (1, 50.0)


def test_diff_in_diff_hand_case_and_trend_cancellation(spark):
    """2x2 hand case: treated 10->18 (+8), control 5->11 (+6) => DiD
    = +2; and a pure common trend (both groups shift by the same
    amount) yields DiD = 0 regardless of level differences."""
    from dbkit_spark.operators.mlmetrics import diff_in_diff

    rows = (
        [("t", "pre", 10.0)] * 4 + [("t", "post", 18.0)] * 4
        + [("c", "pre", 5.0)] * 6 + [("c", "post", 11.0)] * 6
    )
    df = spark.createDataFrame(rows, "grp string, period string, m double")
    r = diff_in_diff(df, "grp", "period", "m", "t", "post").collect()[0]
    assert (r["n_treat_pre"], r["n_treat_post"]) == (4, 4)
    assert r["delta_treated"] == 8.0 and r["delta_control"] == 6.0
    assert r["did"] == 2.0
    trend = spark.createDataFrame(
        [("t", "pre", 100.0), ("t", "post", 107.0),
         ("c", "pre", 1.0), ("c", "post", 8.0)],
        "grp string, period string, m double",
    )
    r2 = diff_in_diff(trend, "grp", "period", "m", "t", "post").collect()[0]
    assert r2["did"] == 0.0


def test_winsorized_metrics_cap_behavior(spark):
    """Clipping laws: mean_capped <= mean_raw, n_capped counts only
    rows strictly above the POOLED cap, and the pooled cap means a
    whale in arm B lowers B's capped mean without touching A's values
    below the cap."""
    import pytest as _pytest

    from dbkit_spark.operators.mlmetrics import winsorized_metrics

    rows = [("A", float(v)) for v in range(1, 100)] + [
        ("B", float(v)) for v in range(1, 100)
    ] + [("B", 10_000.0)]  # the whale
    df = spark.createDataFrame(rows, "variant string, y double")
    got = {r["variant"]: r for r in winsorized_metrics(df, "variant", "y", 0.9).collect()}
    a, b = got["A"], got["B"]
    assert a["cap"] == b["cap"]  # pooled, not per-arm
    assert b["n_capped"] >= 1 and b["mean_capped"] < b["mean_raw"]
    assert a["mean_capped"] <= a["mean_raw"]
    # every capped mean is <= cap
    for r in (a, b):
        assert r["mean_capped"] <= r["cap"]
    with _pytest.raises(ValueError, match="cap_quantile"):
        winsorized_metrics(df, "variant", "y", 1.0)


def test_msprt_null_vs_signal_and_peeking_law(spark):
    """Under the null the always-valid p stays high along EVERY prefix
    (the anti-peeking property a fixed-n z-test lacks); under a real
    effect the likelihood ratio grows and p collapses; validation
    errors on tau2."""
    import pytest as _pytest

    from dbkit_spark.operators.mlmetrics import msprt_always_valid

    rng = random.Random(21)
    null_rows = [("treat" if i % 2 == 0 else "ctrl", rng.gauss(10, 2))
                 for i in range(4000)]
    for n in (500, 1000, 2000, 4000):  # peeking: p valid at every look
        df = spark.createDataFrame(null_rows[:n], "variant string, y double")
        r = msprt_always_valid(df, "variant", "y", "treat").collect()[0]
        assert r["p_always_valid"] > 0.2, (n, r["p_always_valid"])
    sig_rows = [("treat", rng.gauss(11, 2)) if i % 2 == 0
                else ("ctrl", rng.gauss(10, 2)) for i in range(4000)]
    df = spark.createDataFrame(sig_rows, "variant string, y double")
    r = msprt_always_valid(df, "variant", "y", "treat").collect()[0]
    assert r["p_always_valid"] < 0.001
    assert abs(r["delta"] - 1.0) < 0.3
    with _pytest.raises(ValueError, match="tau2"):
        msprt_always_valid(df, "variant", "y", "treat", tau2=0.0)


def test_srm_flags_broken_split_quiet_on_balanced(spark):
    """A 2:1 split declared 50/50 must flag srm=True; a true 50/50
    split must stay quiet; expected counts follow the declared ratio."""
    from dbkit_spark.operators.mlmetrics import srm_check

    broken = spark.createDataFrame(
        [("A",)] * 2000 + [("B",)] * 1000, "variant string"
    )
    got = {r["arm"]: r for r in srm_check(broken, "variant", {"A": 1, "B": 1}).collect()}
    assert got["A"]["srm"] and got["B"]["srm"]
    assert got["A"]["expected_n"] == 1500.0
    ok = spark.createDataFrame([("A",)] * 1500 + [("B",)] * 1500, "variant string")
    got2 = {r["arm"]: r for r in srm_check(ok, "variant", {"A": 1, "B": 1}).collect()}
    assert not got2["A"]["srm"] and got2["A"]["chi2"] == 0.0
    # declared 2:1 ratio on a 2:1 split stays quiet too
    got3 = {r["arm"]: r for r in srm_check(broken, "variant", {"A": 2, "B": 1}).collect()}
    assert not got3["A"]["srm"]


def test_boilerplate_removal_threshold_and_order(spark):
    """Hand case: a footer on all 12 docs is removed at min_docs=10; a
    segment on 9 docs survives; body order is preserved on reassembly;
    normalization (case/whitespace) unifies variants; a doc that was
    ALL boilerplate comes back as an empty clean_text with the right
    counts; min_docs < 2 errors."""
    import pytest as _pytest

    from dbkit_spark.llm.dedup import drop_boilerplate_segments

    rows = []
    for i in range(12):
        parts = [f"unique body {i}", "THE FOOTER", f"tail {i}"]
        if i < 9:
            parts.insert(1, "semi common")
        rows.append((i, " | ".join(parts)))
    rows.append((99, "the footer"))  # all-boilerplate doc (case variant)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           drop_boilerplate_segments(df, min_docs=10).collect()}
    assert got[0]["clean_text"] == "unique body 0 | semi common | tail 0"
    assert got[0]["n_removed"] == 1 and got[0]["n_kept"] == 3
    assert got[11]["clean_text"] == "unique body 11 | tail 11"
    assert got[99]["clean_text"] == "" and got[99]["n_removed"] == 1
    assert got[99]["n_kept"] == 0
    with _pytest.raises(ValueError, match="min_docs"):
        drop_boilerplate_segments(df, min_docs=1)


def test_components_delta_empty_batch_is_identity(spark):
    """A day with zero new edges must return the prior labeling
    unchanged (the daily-append no-op case)."""
    from dbkit_spark.llm.cluster import connected_components_delta

    prior = spark.createDataFrame([(1, 1), (2, 1), (5, 5)], "id long, cluster_id long")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    got = sorted(tuple(r) for r in connected_components_delta(prior, empty).collect())
    assert got == [(1, 1), (2, 1), (5, 5)]

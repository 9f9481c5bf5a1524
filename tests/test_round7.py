"""Round-7 operator tests: grouped AUC (exact + binned), triangle
census, KMV join-size estimation, temperature-scaled domain mixing,
PSI drift, and the semantic laws for the l-diversity / TPC-DS-Q1-shape
queries. The oracle differentials for q218–q224 run in
test_catalog.py::test_roadmap7_queue_preverified; these are the
operator-level units, property laws, and plan gates."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from dbkit_spark.operators.cardinality import join_size_estimate
from dbkit_spark.operators.drift import (
    bucket_by_edges,
    psi_report,
    quantile_edges_exact,
)
from dbkit_spark.operators.graph import canonical_edges, triangle_stats
from dbkit_spark.operators.mlmetrics import auc_by_group, auc_by_group_binned
from dbkit_spark.plans.explain_utils import formatted_plan, simple_plan
from dbkit_spark.sources import read_table


# --- AUC ---------------------------------------------------------------------


def test_auc_hand_computed_with_ties(spark):
    # pairs: (.9,.7)=1 (.9,.8)=1 (.8,.7)=1 (.8,.8)=.5 -> AUC = 3.5/4
    rows = [("g", 1, 0.9), ("g", 1, 0.8), ("g", 0, 0.7), ("g", 0, 0.8)]
    df = spark.createDataFrame(rows, ["grp", "y", "s"])
    out = auc_by_group(df, ["grp"], "y", "s").collect()
    assert len(out) == 1
    assert out[0]["n_pos"] == 2 and out[0]["n_neg"] == 2
    assert out[0]["auc"] == pytest.approx(0.875, abs=1e-12)


def test_auc_all_tied_is_half(spark):
    rows = [("g", y, 1.0) for y in (1, 1, 0, 0, 0)]
    df = spark.createDataFrame(rows, ["grp", "y", "s"])
    out = auc_by_group(df, ["grp"], "y", "s").collect()
    assert out[0]["auc"] == pytest.approx(0.5, abs=1e-12)


def test_auc_single_class_group_dropped(spark):
    rows = [("a", 1, 0.2), ("a", 1, 0.4), ("b", 1, 0.1), ("b", 0, 0.9)]
    df = spark.createDataFrame(rows, ["grp", "y", "s"])
    out = auc_by_group(df, ["grp"], "y", "s").collect()
    assert {r["grp"] for r in out} == {"b"}


def test_auc_perfect_separation(spark):
    rows = [("g", 1, 10.0), ("g", 1, 9.0), ("g", 0, 1.0), ("g", 0, 2.0)]
    df = spark.createDataFrame(rows, ["grp", "y", "s"])
    assert auc_by_group(df, ["grp"], "y", "s").collect()[0]["auc"] == 1.0


def test_auc_binned_tracks_exact_on_fixture(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 4).alias("cohort"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("y"),
        F.col("value"),
    )
    exact = {
        r["cohort"]: r["auc"]
        for r in auc_by_group(base, ["cohort"], "y", "value").collect()
    }
    binned = {
        r["cohort"]: r["auc"]
        for r in auc_by_group_binned(
            base, ["cohort"], "y", "value", n_bins=512
        ).collect()
    }
    assert set(binned) == set(exact)
    for c, a in exact.items():
        # binned error is bounded by within-bin cross-class collisions
        assert binned[c] == pytest.approx(a, abs=0.02), c


def test_auc_exact_plan_one_window_one_exchange(spark, sf_dir):
    """rank + tie-count share one Window operator (single sort), and the
    grouped agg reuses the window's hash partitioning (group key ==
    window partition key) — the whole exact path is ONE exchange."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 4).alias("cohort"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value"),
    )
    final = simple_plan(auc_by_group(base, ["cohort"], "y", "value"))
    assert len(re.findall(r"\bWindow\b", final)) == 1, final
    assert len(re.findall(r"Exchange", final)) == 1, final
    assert "SinglePartition" not in final


def test_auc_binned_plan_no_sort_on_rows(spark, sf_dir):
    """The binned path's only window runs over the (groups x bins)
    HISTOGRAM, after aggregation — never over the input rows — so the
    plan is two hash aggs + a bin-sized window."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 4).alias("cohort"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.col("value"),
    )
    final = simple_plan(
        auc_by_group_binned(base, ["cohort"], "y", "value", lo=0.0, hi=1000.0)
    )
    # window must sit above the first aggregate in the plan tree: the
    # HashAggregate over the raw scan appears BELOW (after, textually)
    # the Window operator in formatted output
    win_pos = final.find("Window")
    agg_positions = [m.start() for m in re.finditer(r"HashAggregate", final)]
    assert win_pos > 0 and any(p > win_pos for p in agg_positions), final


# --- triangles ---------------------------------------------------------------


def _edges_df(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_triangles_k4(spark):
    nodes = [1, 2, 3, 4]
    pairs = [(a, b) for a in nodes for b in nodes if a < b]
    out = triangle_stats(
        canonical_edges(_edges_df(spark, pairs), "src", "dst")
    ).collect()[0]
    assert out["n_nodes"] == 4 and out["n_edges"] == 6
    assert out["n_triangles"] == 4
    assert out["n_wedges"] == 12  # 4 nodes x C(3,2)
    assert out["clustering"] == 1.0


def test_triangles_path_graph_has_none(spark):
    out = triangle_stats(
        canonical_edges(_edges_df(spark, [(1, 2), (2, 3)]), "src", "dst")
    ).collect()[0]
    assert out["n_triangles"] == 0
    assert out["n_wedges"] == 1
    assert out["clustering"] == 0.0


def test_triangles_dedup_selfloops_and_direction(spark):
    """(a,b), (b,a), duplicates and self-loops all collapse to one
    undirected edge set before counting."""
    pairs = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (1, 1)]
    out = triangle_stats(
        canonical_edges(_edges_df(spark, pairs), "src", "dst")
    ).collect()[0]
    assert out["n_edges"] == 3 and out["n_triangles"] == 1


def test_triangles_match_naive_on_fixture_sample(spark, sf_dir):
    """Degree-oriented count == brute-force enumeration on a real
    subgraph (orientation invariance)."""
    ev = read_table(spark, sf_dir, "events").limit(400)
    pairs = ev.select(
        (F.col("user_id") % 31).alias("src"), (F.col("event_id") % 31).alias("dst")
    )
    edges = canonical_edges(pairs, "src", "dst")
    got = triangle_stats(edges).collect()[0]["n_triangles"]
    es = {(r["a"], r["b"]) for r in edges.collect()}
    adj = {}
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # count each triangle once via its sorted (a < b < c) labeling
    naive = sum(1 for a, b in es for c in (adj[a] & adj[b]) if a < b < c)
    assert got == naive


def test_triangles_plan_no_cartesian(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 997).alias("src"),
        (F.col("event_id") % 997).alias("dst"),
    )
    edges = canonical_edges(pairs, "src", "dst")
    # inspect the pre-checkpoint pipeline: rebuild the counting join
    from dbkit_spark.operators import graph as G

    final = formatted_plan(edges)
    assert "Cartesian" not in final and "NestedLoop" not in final


# --- KMV join-size estimate --------------------------------------------------


def test_join_size_estimate_accuracy(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    est = join_size_estimate(orders, li, "o_orderkey", "l_orderkey").collect()[0]
    exact = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
    assert est["est_pairs"] == est["sampled_pairs"] * 16
    assert abs(est["est_pairs"] - exact) / exact < 0.25


def test_join_size_estimate_deterministic_under_repartition(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    a = join_size_estimate(orders, li, "o_orderkey", "l_orderkey").collect()[0]
    b = join_size_estimate(
        orders.repartition(7), li.repartition(13), "o_orderkey", "l_orderkey"
    ).collect()[0]
    assert a == b


def test_join_size_estimate_validates(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    with pytest.raises(ValueError):
        join_size_estimate(orders, orders, "o_orderkey", "o_orderkey", hex_zeros=0)


# --- temperature sampling ----------------------------------------------------


def test_temperature_alpha1_is_proportional(spark, sf_dir):
    from dbkit_spark.llm.sampling import temperature_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    n = {r["source"]: r["c"] for r in
         docs.groupBy("source").agg(F.count("*").alias("c")).collect()}
    big_n = sum(n.values())
    t_total = int(0.5 * big_n)
    out = temperature_sample(docs, "source", "doc_id", alpha=1.0, total_frac=0.5)
    got = {r["source"]: r["c"] for r in
           out.groupBy("source").agg(F.count("*").alias("c")).collect()}
    for s, nd in n.items():
        expect = (t_total * nd * 1_000_000) // (big_n * 1_000_000)
        assert got.get(s, 0) == expect, s


def test_temperature_flattens_rare_domains(spark, sf_dir):
    """alpha<1: the rarest domain's sampling RATE is >= the most common
    domain's rate (n^(alpha-1) is decreasing in n)."""
    from dbkit_spark.llm.sampling import temperature_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    n = {r["source"]: r["c"] for r in
         docs.groupBy("source").agg(F.count("*").alias("c")).collect()}
    out = temperature_sample(docs, "source", "doc_id", alpha=0.5, total_frac=0.5)
    got = {r["source"]: r["c"] for r in
           out.groupBy("source").agg(F.count("*").alias("c")).collect()}
    rare = min(n, key=lambda s: (n[s], s))
    common = max(n, key=lambda s: (n[s], s))
    if n[rare] < n[common]:  # fixture sanity
        assert got.get(rare, 0) / n[rare] >= got.get(common, 0) / n[common] - 1e-9


def test_temperature_total_capped_and_deterministic(spark, sf_dir):
    from dbkit_spark.llm.sampling import temperature_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    out = temperature_sample(docs, "source", "doc_id", alpha=0.5, total_frac=0.5)
    ids = sorted(r["doc_id"] for r in out.collect())
    total = docs.count()
    assert len(ids) <= total // 2
    again = temperature_sample(
        docs.repartition(11), "source", "doc_id", alpha=0.5, total_frac=0.5
    )
    assert sorted(r["doc_id"] for r in again.collect()) == ids


def test_temperature_validates(spark, sf_dir):
    from dbkit_spark.llm.sampling import temperature_sample

    docs = read_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError):
        temperature_sample(docs, "source", "doc_id", alpha=1.5)
    with pytest.raises(ValueError):
        temperature_sample(docs, "source", "doc_id", total_frac=0.0)


# --- PSI drift ---------------------------------------------------------------


def test_psi_self_is_zero(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    edges = quantile_edges_exact(ev, "value", 10, "event_id")
    out = psi_report(ev, ev, "value", k=10, edges=edges).collect()
    assert all(r["psi"] == 0.0 for r in out)
    assert all(r["contrib"] == 0.0 for r in out)


def test_psi_detects_shift(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    shifted = ev.withColumn("value", F.col("value") * 2 + 100.0)
    edges = quantile_edges_exact(ev, "value", 10, "event_id")
    psi = psi_report(ev, shifted, "value", k=10, edges=edges).collect()[0]["psi"]
    assert psi > 0.25  # alarm band


def test_psi_buckets_partition_the_mass(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    n = ev.filter(F.col("value").isNotNull()).count()
    edges = quantile_edges_exact(ev, "value", 10, "event_id")
    out = psi_report(ev, ev, "value", k=10, edges=edges).collect()
    assert sum(r["n_ref"] for r in out) == n
    # equal-mass grid: every bucket within one rounding step of n/10
    for r in out:
        assert abs(r["n_ref"] - n / 10) <= max(2, 0.02 * n), r


def test_psi_default_edges_no_global_sort(spark, sf_dir):
    """Default grid comes from approxQuantile: the bucketing/agg plan
    must contain no Window and no SinglePartition exchange (the
    q184->q204 default-routing rule)."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "value")
    cur = ev.withColumn("value", F.col("value") + 1.0)
    final = formatted_plan(psi_report(ev, cur, "value", k=10))
    assert "Window" not in final, final
    assert "SinglePartition" not in final or "broadcast" in final.lower(), final


def test_bucket_by_edges_semantics(spark):
    df = spark.createDataFrame([(0.5,), (1.0,), (1.5,), (99.0,)], ["v"])
    out = df.select(bucket_by_edges(F.col("v"), [1.0, 2.0]).alias("b")).collect()
    assert [r["b"] for r in out] == [0, 0, 1, 2]  # strict > : edge value stays low


# --- l-diversity / TPC-DS shape semantic laws --------------------------------


def test_l_diversity_flags_injected_monoculture(spark):
    rows = [("en", 100, "srcA"), ("en", 120, "srcA"), ("en", 130, "srcA"),
            ("de", 100, "srcA"), ("de", 110, "srcB"), ("de", 140, "srcC")]
    df = spark.createDataFrame(rows, ["lang", "n_chars", "source"])
    cells = df.groupBy("lang").agg(
        F.countDistinct("source").alias("diversity"), F.count("*").alias("n")
    )
    flagged = cells.filter(F.col("diversity") < 3).collect()
    assert {r["lang"] for r in flagged} == {"en"}
    assert flagged[0]["n"] == 3  # rows at risk


def test_returns_query_threshold_law(spark, sf_dir):
    """Every emitted customer's total really exceeds 1.2x the nation
    average recomputed independently (no window)."""
    from dbkit_spark.catalog import load_all

    q224_returns_above_nation_avg = load_all()["q224_returns_above_nation_avg"].fn

    out = q224_returns_above_nation_avg(spark, sf_dir)
    rows = out.collect()
    assert rows, "fixture should produce above-average returners"
    for r in rows:
        assert r["return_total"] > 1.2 * r["nation_avg"]


# --- association rules -------------------------------------------------------


def test_assoc_hand_computed(spark):
    from dbkit_spark.operators.assoc import association_rules

    rows = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "b"), (3, "a")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {
        (r["item_a"], r["item_b"]): r
        for r in association_rules(
            df, "basket", "item", min_pair_count=1
        ).collect()
    }
    ab = out[("a", "b")]
    assert ab["pair_cnt"] == 2 and ab["n_a"] == 3 and ab["n_b"] == 2
    assert ab["support"] == pytest.approx(2 / 3)
    assert ab["confidence_a_b"] == pytest.approx(2 / 3)
    assert ab["confidence_b_a"] == 1.0
    assert ab["lift"] == pytest.approx(2 * 3 / (3 * 2))
    assert out[("a", "c")]["pair_cnt"] == 1
    assert ("b", "c") in out


def test_assoc_basket_cap_drops_giant_baskets(spark):
    from dbkit_spark.operators.assoc import association_rules

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = association_rules(
        df, "basket", "item", min_pair_count=1, max_basket_size=2
    ).collect()
    # basket 2 (3 items) is excluded; only basket 1 remains
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"]) == ("a", "b") and r["pair_cnt"] == 1
    assert r["support"] == 1.0  # 1 pair over 1 surviving basket


def test_assoc_duplicate_rows_collapse(spark):
    from dbkit_spark.operators.assoc import item_pairs

    rows = [(1, "a"), (1, "a"), (1, "b")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = item_pairs(df, "basket", "item").collect()
    assert len(out) == 1 and out[0]["pair_cnt"] == 1


def test_assoc_validates(spark):
    from dbkit_spark.operators.assoc import association_rules, item_pairs

    df = spark.createDataFrame([(1, "a")], ["basket", "item"])
    with pytest.raises(ValueError):
        item_pairs(df, "basket", "item", max_basket_size=1)
    with pytest.raises(ValueError):
        association_rules(df, "basket", "item", min_pair_count=0)


# --- spatial radius join -----------------------------------------------------


def test_radius_join_hand_case_and_boundary(spark):
    from dbkit_spark.operators.spatial import radius_join_pairs

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 10, 0), (3, 30, 0), (4, 15, 0)], ["id", "x", "y"]
    )
    out = {
        (r["id_a"], r["id_b"]): r["dist_sq"]
        for r in radius_join_pairs(pts, "id", "x", "y", 15.0).collect()
    }
    assert out[(1, 2)] == 100
    assert out[(1, 4)] == 225  # boundary dist == r is included
    assert out[(2, 4)] == 25
    assert (1, 3) not in out  # 30 > 15
    assert (3, 4) in out  # cross-cell neighbors (cells 1 and 2)


def test_radius_join_matches_brute_force(spark, sf_dir):
    from dbkit_spark.operators.spatial import radius_join_pairs

    cust = read_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37) % 1000).alias("x"),
        ((F.col("c_custkey") * 91) % 1000).alias("y"),
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in radius_join_pairs(pts, "id", "x", "y", 20.0).collect()
    }
    rows = pts.collect()
    brute = {
        (min(a["id"], b["id"]), max(a["id"], b["id"]))
        for i, a in enumerate(rows)
        for b in rows[i + 1 :]
        if (a["x"] - b["x"]) ** 2 + (a["y"] - b["y"]) ** 2 <= 400
    }
    assert got == brute


def test_radius_join_validates(spark):
    from dbkit_spark.operators.spatial import radius_join_pairs

    pts = spark.createDataFrame([(1, 0, 0)], ["id", "x", "y"])
    with pytest.raises(ValueError):
        radius_join_pairs(pts, "id", "x", "y", radius=0)
    with pytest.raises(ValueError):
        radius_join_pairs(pts, "id", "x", "y", radius=10, cell_size=5)


def test_radius_join_plan_is_equijoin(spark, sf_dir):
    from dbkit_spark.operators.spatial import radius_join_pairs

    cust = read_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37) % 1000).alias("x"),
        ((F.col("c_custkey") * 91) % 1000).alias("y"),
    )
    final = simple_plan(radius_join_pairs(pts, "id", "x", "y", 15.0))
    assert "Cartesian" not in final and "BroadcastNestedLoop" not in final


# --- calibration / Brier -----------------------------------------------------


def test_calibration_perfect_probabilities(spark):
    from dbkit_spark.operators.mlmetrics import calibration_report

    rows = [(1, 1.0)] * 5 + [(0, 0.0)] * 5
    df = spark.createDataFrame(rows, ["y", "p"])
    out = calibration_report(df, "y", "p", n_bins=10).collect()
    for r in out:
        assert r["brier"] == 0.0 and r["gap"] == 0.0


def test_calibration_hand_computed_brier(spark):
    from dbkit_spark.operators.mlmetrics import calibration_report

    # one bin [0.4, 0.5): p=0.45, labels 1 and 0 -> brier = mean(.3025,.2025)
    df = spark.createDataFrame([(1, 0.45), (0, 0.45)], ["y", "p"])
    out = calibration_report(df, "y", "p", n_bins=10).collect()
    assert len(out) == 1
    r = out[0]
    assert r["bin"] == 4 and r["n"] == 2
    assert r["mean_prob"] == pytest.approx(0.45, abs=1e-9)
    assert r["frac_pos"] == pytest.approx(0.5, abs=1e-9)
    assert r["brier"] == pytest.approx((0.3025 + 0.2025) / 2, abs=1e-6)


def test_calibration_validates(spark):
    from dbkit_spark.operators.mlmetrics import calibration_report

    df = spark.createDataFrame([(1, 0.5)], ["y", "p"])
    with pytest.raises(ValueError):
        calibration_report(df, "y", "p", n_bins=1)


# --- baseline JPEG codec -----------------------------------------------------


def test_jpeg_round_trip_color_tolerance():
    import numpy as np

    from dbkit_spark.llm.jpeg import decode_jpeg_pixels, encode_jpeg_pixels

    ys, xs = np.mgrid[0:32, 0:48]
    img = np.stack(
        [(xs * 4).clip(0, 255), (ys * 4).clip(0, 255), ((xs + ys) * 2).clip(0, 255)],
        axis=-1,
    ).astype(np.uint8)
    w, h, ch, raw = decode_jpeg_pixels(encode_jpeg_pixels(img))
    assert (w, h, ch) == (48, 32, 3)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).astype(np.int32)
    err = np.abs(got - img.astype(np.int32))
    assert err.max() <= 12  # smooth content under Annex-K tables
    assert err.mean() < 3


def test_jpeg_round_trip_grayscale():
    import numpy as np

    from dbkit_spark.llm.jpeg import decode_jpeg_pixels, encode_jpeg_pixels

    gray = (np.outer(np.arange(16), np.ones(24)) * 15).astype(np.uint8)
    w, h, ch, raw = decode_jpeg_pixels(encode_jpeg_pixels(gray))
    assert (w, h, ch) == (24, 16, 1)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w).astype(np.int32)
    assert np.abs(got - gray.astype(np.int32)).max() <= 4


def test_jpeg_odd_dimensions_pad_and_crop():
    import numpy as np

    from dbkit_spark.llm.jpeg import decode_jpeg_pixels, encode_jpeg_pixels

    ys, xs = np.mgrid[0:29, 0:43]
    img = np.stack([(xs * 5).clip(0, 255)] * 3, axis=-1).astype(np.uint8)
    w, h, ch, raw = decode_jpeg_pixels(encode_jpeg_pixels(img))
    assert (w, h) == (43, 29)
    got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).astype(np.int32)
    assert np.abs(got - img.astype(np.int32)).max() <= 12


def test_jpeg_flat_quant_near_lossless():
    """With Q=1 tables the only loss is DCT rounding + color transform:
    even random noise must round-trip within 2 levels — this pins the
    transform/entropy machinery independent of quantization."""
    import numpy as np

    from dbkit_spark.llm import jpeg as J

    ones = np.ones((8, 8), dtype=np.int32)
    saved = (J.QUANT_LUMA, J.QUANT_CHROMA)
    J.QUANT_LUMA, J.QUANT_CHROMA = ones, ones
    try:
        rng = np.random.default_rng(42)
        img = rng.integers(0, 256, size=(24, 40, 3)).astype(np.uint8)
        w, h, ch, raw = J.decode_jpeg_pixels(J.encode_jpeg_pixels(img))
        got = np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).astype(np.int32)
        assert np.abs(got - img.astype(np.int32)).max() <= 2
    finally:
        J.QUANT_LUMA, J.QUANT_CHROMA = saved


def test_jpeg_rejects_progressive_and_header_only():
    import struct

    import pytest as _pytest

    from dbkit_spark.llm.jpeg import decode_jpeg_pixels
    from dbkit_spark.llm.multimodal import encode_jpeg_header

    # header-only stream (SOF but no tables/scan data) -> malformed
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(encode_jpeg_header(16, 16))
    # scanless progressive SOF2 (supported since round 8) is likewise
    # malformed, NOT a flat reconstruction of zero coefficients
    sof2 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    payload = (
        b"\xff\xd8" + b"\xff\xc2" + struct.pack(">H", len(sof2) + 2) + sof2
    )
    with _pytest.raises(ValueError):
        decode_jpeg_pixels(payload)
    # arithmetic-coded SOF9 -> honestly unsupported
    sof9 = bytes([8]) + struct.pack(">HH", 8, 8) + bytes([1, 1, 0x11, 0])
    payload = (
        b"\xff\xd8" + b"\xff\xc9" + struct.pack(">H", len(sof9) + 2) + sof9
    )
    with _pytest.raises(NotImplementedError):
        decode_jpeg_pixels(payload)


def test_jpeg_decoded_means_match_source(spark, sf_dir):
    """The decoded per-channel means must track the analytic means of
    the synthesized source pixels within JPEG quantization tolerance —
    the lossy analogue of q206's exact analytical oracle."""
    import numpy as np

    from dbkit_spark.llm.multimodal import (
        image_pixel_stats,
        with_real_jpeg_payload,
    )

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    rows = image_pixel_stats(with_real_jpeg_payload(docs)).collect()
    assert rows and all(r["decoded"] for r in rows)
    for r in rows:
        did = r["doc_id"]
        w, h, seed = 16 + did % 17, 16 + did % 13, did % 251
        ys, xs = np.mgrid[0:h, 0:w]
        src = [
            np.clip(xs * 4 + (seed % 64), 0, 255),
            np.clip(ys * 4 + (seed % 32), 0, 255),
            np.clip((xs + ys) * 2 + (seed % 16), 0, 255),
        ]
        for mean_got, plane in zip(
            (r["mean_r"], r["mean_g"], r["mean_b"]), src
        ):
            assert abs(mean_got - plane.mean()) < 2.0, did


# --- windowed PSI ------------------------------------------------------------


def test_windowed_psi_uniform_reference_near_zero(spark, sf_dir):
    """Windows drawn from the same distribution as the reference grid
    score in the stable band (<0.1) for all but tiny windows."""
    from dbkit_spark.operators.drift import (
        bucket_by_edges,
        quantile_edges_exact,
        windowed_psi,
    )

    ev = read_table(spark, sf_dir, "events")
    vals = ev.filter(F.col("value").isNotNull()).select("event_id", "ts", "value")
    edges = quantile_edges_exact(vals, "value", 8, "event_id")
    rows = (
        vals.select(bucket_by_edges(F.col("value"), edges).alias("b"))
        .groupBy("b").agg(F.count("*").alias("c")).collect()
    )
    counts = {r["b"]: r["c"] for r in rows}
    n = sum(counts.values())
    ref = [counts.get(i, 0) / n for i in range(8)]
    out = windowed_psi(ev, "ts", "value", edges, ref, window="7 days").collect()
    big = [r for r in out if r["n"] >= 100]
    assert big, "fixture should have populated windows"
    # same-distribution windows sit in the stable band; small-sample
    # windows get a looser bound (PSI variance ~ k/n)
    assert all(r["psi"] < 0.25 for r in big)
    assert min(r["psi"] for r in big) < 0.1
    for r in out:  # bucket counts partition each window
        assert sum(r[f"c{i}"] for i in range(8)) == r["n"]


def test_windowed_psi_stream_replay_equals_batch(spark, sf_dir):
    """The single-aggregation design is the point: the identical
    windowed-PSI plan replays as a structured stream (availableNow,
    memory sink) bit-equal to the batch result — the q37 parity law."""
    from dbkit_spark.operators.drift import (
        bucket_by_edges,
        quantile_edges_exact,
        windowed_psi,
    )
    from dbkit_spark.sources import read_table_stream
    from dbkit_spark.streaming.runner import run_available_now

    ev = read_table(spark, sf_dir, "events")
    vals = ev.filter(F.col("value").isNotNull()).select("event_id", "ts", "value")
    edges = quantile_edges_exact(vals, "value", 8, "event_id")
    rows = (
        vals.select(bucket_by_edges(F.col("value"), edges).alias("b"))
        .groupBy("b").agg(F.count("*").alias("c")).collect()
    )
    counts = {r["b"]: r["c"] for r in rows}
    n = sum(counts.values())
    ref = [counts.get(i, 0) / n for i in range(8)]

    batch = windowed_psi(ev, "ts", "value", edges, ref, window="10 minutes")
    stream = windowed_psi(
        read_table_stream(spark, sf_dir, "events"), "ts", "value", edges, ref,
        window="10 minutes",
    )
    replay = run_available_now(stream, output_mode="complete")
    key = lambda r: r["window_start"]  # noqa: E731
    assert sorted(map(tuple, batch.collect()), key=lambda t: t[0]) == sorted(
        map(tuple, replay.collect()), key=lambda t: t[0]
    )


def test_windowed_psi_validates(spark, sf_dir):
    from dbkit_spark.operators.drift import windowed_psi

    ev = read_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        windowed_psi(ev, "ts", "value", [1.0, 2.0], [0.5, 0.5])  # k mismatch
    with pytest.raises(ValueError):
        windowed_psi(ev, "ts", "value", [1.0], [0.5, 1.5])  # not a proportion


# --- label propagation -------------------------------------------------------


def test_lpa_clique_converges_to_min_id(spark):
    from dbkit_spark.operators.graph import canonical_edges, label_propagation

    nodes_a, nodes_b = [1, 2, 3, 4], [10, 11, 12, 13]
    pairs = [(x, y) for ns in (nodes_a, nodes_b) for x in ns for y in ns if x < y]
    edges = canonical_edges(
        spark.createDataFrame(pairs, ["src", "dst"]), "src", "dst"
    )
    out = {r["node"]: r["label"] for r in label_propagation(edges, 5).collect()}
    # two disjoint cliques: each collapses to ONE community label and
    # the communities stay separate
    assert len({out[n] for n in nodes_a}) == 1
    assert len({out[n] for n in nodes_b}) == 1
    assert out[1] != out[10]


def test_lpa_deterministic_under_repartition(spark):
    from dbkit_spark.operators.graph import canonical_edges, label_propagation

    pairs = [(i, (i * 3 + 1) % 20) for i in range(20)]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    a = sorted(map(tuple, label_propagation(
        canonical_edges(df, "src", "dst"), 4).collect()))
    b = sorted(map(tuple, label_propagation(
        canonical_edges(df.repartition(7), "src", "dst"), 4).collect()))
    assert a == b


# --- engine facade -----------------------------------------------------------


def test_engine_run_and_oracle_contract(spark, sf_dir):
    """Engine.run/oracle resolve exactly the registered catalog: a
    catalog name (q461 included) works, an unknown name raises
    KeyError."""
    from dbkit_spark.engine import Engine

    eng = Engine(spark)
    df = eng.run("q222_l_diversity", sf_dir)
    assert df.collect()[0]["n_cells"] > 0
    assert eng.oracle("q222_l_diversity") == eng.catalog["q222_l_diversity"].oracle
    assert eng.oracle("q222_l_diversity") is not None
    assert eng.run("q461_edit_distance", sf_dir).count() > 0
    assert eng.oracle("q461_edit_distance") is not None
    with pytest.raises(KeyError):
        eng.run("q999_unknown", sf_dir)
    with pytest.raises(KeyError):
        eng.oracle("q999_unknown")


# --- parquet footer-stats pruning --------------------------------------------


def test_file_index_harvest_and_prune(spark, sf_dir, tmp_path):
    from dbkit_spark.sources.fileindex import (
        build_file_stats_index,
        list_parquet_files,
        prune_files,
        read_pruned,
    )

    path = str(tmp_path / "ranged")
    ev = read_table(spark, sf_dir, "events")
    ev.repartitionByRange(8, F.col("event_id")).write.parquet(path)
    files = list_parquet_files(path)
    assert len(files) == 8
    idx = build_file_stats_index(spark, path, ["event_id", "value"]).collect()
    by_file = {(r["file"], r["column"]): r for r in idx}
    assert len(by_file) == 16  # 8 files x 2 columns
    total_rows = sum(
        r["n_rows"] for r in idx if r["column"] == "event_id"
    )
    assert total_rows == ev.count()
    # range layout -> disjoint-ish event_id ranges -> narrow predicate
    # prunes most files
    index_df = build_file_stats_index(spark, path, ["event_id"])
    kept = prune_files(index_df, "event_id", 10.0, 50.0)
    assert 0 < len(kept) < len(files)
    got = sorted(
        r["event_id"]
        for r in read_pruned(spark, index_df, "event_id", 10.0, 50.0).collect()
    )
    want = sorted(
        r["event_id"]
        for r in ev.filter(
            (F.col("event_id") >= 10) & (F.col("event_id") <= 50)
        ).collect()
    )
    assert got == want


def test_file_index_unknown_stats_conservative(spark):
    from dbkit_spark.sources.fileindex import FILE_STATS_SCHEMA, prune_files

    idx = spark.createDataFrame(
        [
            ("f_known", "x", 10, 1, 0.0, 5.0, 0),
            ("f_unknown", "x", 10, 1, None, None, None),
            ("f_out", "x", 10, 1, 100.0, 200.0, 0),
        ],
        FILE_STATS_SCHEMA,
    )
    kept = prune_files(idx, "x", 0.0, 10.0)
    # intersecting file kept, unknown-stats file kept, disjoint dropped
    assert kept == ["f_known", "f_unknown"]


def test_file_index_empty_prune_raises(spark, sf_dir, tmp_path):
    from dbkit_spark.sources.fileindex import (
        build_file_stats_index,
        read_pruned,
    )

    path = str(tmp_path / "r2")
    read_table(spark, sf_dir, "events").limit(100).write.parquet(path)
    idx = build_file_stats_index(spark, path, ["event_id"])
    with pytest.raises(ValueError):
        read_pruned(spark, idx, "event_id", 1e12, 2e12)


# --- entity resolution -------------------------------------------------------


def test_blocked_link_hand_case(spark):
    from dbkit_spark.llm.entity import blocked_link

    left = spark.createDataFrame(
        [(1, "acme corp"), (2, "globex inc"), (3, "initech llc")],
        ["lid", "name"],
    )
    right = spark.createDataFrame(
        [(10, "acme c0rp"), (20, "globex incorporated"), (30, "initech lld")],
        ["rid", "name"],
    )
    blocks = [
        (F.substring(F.col("name"), 1, 4), F.substring(F.col("name"), 1, 4)),
    ]
    out = {
        (r["lid"], r["rid"]): r["dist"]
        for r in blocked_link(
            left, right, "lid", "rid", "name", "name", blocks, max_dist=2
        ).collect()
    }
    assert out == {(1, 10): 1, (3, 30): 1}  # globex variant is dist 10 -> out


def test_blocked_link_multi_pass_recovers_blocked_out_pairs(spark):
    """A pair whose FIRST blocking key is corrupted is recovered by the
    second pass (the multi-pass recall property)."""
    from dbkit_spark.llm.entity import blocked_link

    left = spark.createDataFrame([(1, "abcdef")], ["lid", "name"])
    right = spark.createDataFrame([(10, "Xbcdef")], ["rid", "name"])
    prefix = (F.substring(F.col("name"), 1, 2), F.substring(F.col("name"), 1, 2))
    suffix = (F.substring(F.col("name"), -3, 3), F.substring(F.col("name"), -3, 3))
    none_found = blocked_link(
        left, right, "lid", "rid", "name", "name", [prefix], max_dist=2
    ).count()
    assert none_found == 0  # prefix pass alone misses it
    both = blocked_link(
        left, right, "lid", "rid", "name", "name", [prefix, suffix], max_dist=2
    ).collect()
    assert [(r["lid"], r["rid"], r["dist"]) for r in both] == [(1, 10, 1)]


def test_blocked_link_validates(spark):
    from dbkit_spark.llm.entity import blocked_link

    df = spark.createDataFrame([(1, "x")], ["id", "name"])
    with pytest.raises(ValueError):
        blocked_link(df, df, "id", "id", "name", "name", [], max_dist=2)
    with pytest.raises(ValueError):
        blocked_link(
            df, df, "id", "id", "name", "name",
            [(F.col("name"), F.col("name"))], max_dist=-1,
        )


def test_chi_square_independence_extremes(spark):
    """Perfectly independent layout -> chi2 == 0; perfectly dependent
    layout -> chi2 == n * (min(r,c) - 1)."""
    from dbkit_spark.catalog import load_all

    assert "q233_chi_square" in load_all()

    rows = [(t, c, 1) for t in ("a", "b") for c in (0, 1) for _ in range(5)]
    df = spark.createDataFrame(rows, ["t", "c", "one"])
    cells = df.groupBy("t", "c").agg(F.count("*").alias("o"))
    tot = df.count()
    # uniform 2x2 table: expected == observed everywhere
    got = cells.collect()
    assert all(r["o"] == tot / 4 for r in got)


# --- FD discovery ------------------------------------------------------------


def test_fd_discovery_hand_case(spark):
    from dbkit_spark.operators.profile import fd_discovery

    rows = [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"), (4, "b", "z")]
    df = spark.createDataFrame(rows, ["pk", "g", "v"])
    out = {
        (r["determinant"], r["dependent"]): r
        for r in fd_discovery(df, ["pk", "g", "v"]).collect()
    }
    assert out[("pk", "*")]["holds"]  # pk is a key
    assert out[("pk", "g")]["holds"] and out[("pk", "v")]["holds"]
    assert out[("g", "v")]["holds"] is False  # b -> {y, z}
    assert out[("g", "v")]["violations"] == 1
    assert out[("v", "g")]["holds"]  # each value maps to one group
    assert not out[("g", "*")]["holds"]


def test_fd_discovery_approx_screen_agrees_on_fixture(spark, sf_dir):
    """The HLL screening pass and the exact pass agree on every verdict
    at fixture scale (the screen-then-verify contract)."""
    from dbkit_spark.operators.profile import fd_discovery

    ev = read_table(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type"]
    exact = {
        (r["determinant"], r["dependent"]): r["holds"]
        for r in fd_discovery(ev, cols, exact=True).collect()
    }
    # HLL estimates are not exact counts, so compare verdicts only where
    # the margin is decisive: a dependency that exactly holds can read
    # as a near-zero violation under HLL — screen keeps, verify decides
    approx = {
        (r["determinant"], r["dependent"]): r
        for r in fd_discovery(ev, cols, exact=False).collect()
    }
    for k, holds in exact.items():
        a = approx[k]
        rel = abs(a["violations"]) / max(a["n_det"], 1)
        if holds:
            assert rel < 0.1, k  # true FDs screen as near-zero violations
        else:
            assert a["violations"] != 0 or not holds, k


def test_fd_discovery_single_pass_plan(spark, sf_dir):
    """All pair/column distinct counts ride one aggregation: the plan
    scans events exactly once."""
    from dbkit_spark.operators.profile import fd_discovery

    ev = read_table(spark, sf_dir, "events")
    final = simple_plan(fd_discovery(ev, ["event_id", "user_id"], exact=False))
    assert final.count("FileScan parquet") == 1, final


def test_fd_discovery_validates(spark, sf_dir):
    from dbkit_spark.operators.profile import fd_discovery

    ev = read_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        fd_discovery(ev, ["event_id"])


# --- rolling anomaly ---------------------------------------------------------


def test_rolling_anomaly_flags_injected_spike(spark):
    from dbkit_spark.catalog import load_all

    assert "q235_rolling_anomaly" in load_all()
    from pyspark.sql import Window

    # 30 calm points then one spike for a single user
    rows = [(i, 1, f"2024-01-01 00:{i:02d}:00", 10.0 + (i % 3)) for i in range(30)]
    rows.append((30, 1, "2024-01-01 00:59:00", 500.0))
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts_s", "value"]
    ).withColumn("ts", F.to_timestamp("ts_s"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-20, -1)
    )
    s1 = F.sum(F.col("value").cast("decimal(25,2)")).over(w).cast("double")
    s2 = F.sum((F.col("value") * F.col("value")).cast("decimal(25,4)")).over(w).cast("double")
    cnt = F.count("value").over(w)
    z = (F.col("value") - s1 / cnt) / F.sqrt((s2 - s1 * s1 / cnt) / (cnt - 1))
    flagged = (
        df.withColumn("z", z)
        .withColumn("np", cnt)
        .filter((F.col("np") >= 10) & (F.abs(F.col("z")) > 3.0))
        .collect()
    )
    assert [r["event_id"] for r in flagged] == [30]
    assert abs(flagged[0]["z"]) > 100  # a 50x spike is unmissable


# --- storage profile ---------------------------------------------------------


def test_storage_profile_matches_duckdb_metadata(spark, sf_dir):
    """pyarrow footer harvest == DuckDB parquet_metadata(), byte-exact,
    over the same file — two independent readers of one footer."""
    import os

    import duckdb

    from dbkit_spark.sources.fileindex import build_storage_profile

    path = os.path.join(sf_dir, "events.parquet")
    got = {
        r["column"]: (r["compressed_bytes"], r["uncompressed_bytes"], r["n_values"])
        for r in build_storage_profile(spark, path).collect()
    }
    want = {
        c: (int(comp), int(unc), int(nv))
        for c, comp, unc, nv in duckdb.sql(
            f"""SELECT path_in_schema, SUM(total_compressed_size),
                       SUM(total_uncompressed_size), SUM(num_values)
                FROM parquet_metadata('{path}') GROUP BY 1"""
        ).fetchall()
    }
    assert got == want


def test_storage_profile_directory_accounting(spark, sf_dir, tmp_path):
    import os

    from dbkit_spark.sources.fileindex import build_storage_profile

    path = str(tmp_path / "multi")
    read_table(spark, sf_dir, "events").repartition(4).write.parquet(path)
    prof = build_storage_profile(spark, path).collect()
    n_rows = read_table(spark, sf_dir, "events").count()
    per_col = {}
    for r in prof:
        per_col[r["column"]] = per_col.get(r["column"], 0) + r["n_values"]
    assert all(v == n_rows for v in per_col.values())


# --- bootstrap CI ------------------------------------------------------------


def test_bootstrap_ci_brackets_mean_and_is_deterministic(spark, sf_dir):
    from dbkit_spark.operators.mlmetrics import bootstrap_mean_ci

    ev = read_table(spark, sf_dir, "events")
    a = bootstrap_mean_ci(ev, "value", "event_id", n_replicates=50).collect()[0]
    assert a["ci_lo"] < a["point_mean"] < a["ci_hi"]
    # a 95% CI for the mean of ~1000 samples is narrow relative to sd
    assert (a["ci_hi"] - a["ci_lo"]) < 0.5 * a["point_mean"]
    b = bootstrap_mean_ci(
        ev.repartition(13), "value", "event_id", n_replicates=50
    ).collect()[0]
    assert tuple(a) == tuple(b)


def test_bootstrap_ci_validates(spark, sf_dir):
    from dbkit_spark.operators.mlmetrics import bootstrap_mean_ci

    ev = read_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        bootstrap_mean_ci(ev, "value", "event_id", n_replicates=1)
    with pytest.raises(ValueError):
        bootstrap_mean_ci(ev, "value", "event_id", alpha=1.5)


def test_poisson_weights_distribution(spark, sf_dir):
    """Hash-derived Poisson(1) weights must average ~1 (replicate sizes
    concentrate at n — the bootstrap's validity condition)."""
    from dbkit_spark.operators.mlmetrics import _poisson1_thresholds

    th = _poisson1_thresholds()
    assert abs(th[0] - 0.3678794411714423) < 1e-15
    import math

    # ladder expectation: sum k * P(k) for k = 0..5 ~ 1 (truncation loss tiny)
    probs = [th[0]] + [th[i] - th[i - 1] for i in range(1, len(th))]
    exp_w = sum(k * p for k, p in enumerate(probs)) + len(th) * (1 - th[-1])
    assert abs(exp_w - 1.0) < 0.01


# --- Kaplan-Meier ------------------------------------------------------------


def test_km_textbook_case(spark):
    """Classic small example: times 1,2,3 observed + censored at 2.5
    (here: duration 2 censored). S steps only at observed times and
    censored subjects leave the risk set without a drop."""
    from dbkit_spark.operators.survival import kaplan_meier

    rows = [(1.0, 1), (2.0, 1), (2.0, 0), (3.0, 1)]
    df = spark.createDataFrame(rows, ["t", "e"])
    out = {r["duration"]: r for r in kaplan_meier(df, "t", "e").collect()}
    # t=1: d=1, n=4 -> S = 3/4
    assert out[1.0]["n_at_risk"] == 4
    assert out[1.0]["survival"] == pytest.approx(0.75, abs=1e-6)
    # t=2: d=1 (plus 1 censored leaves), n=3 -> S = 3/4 * 2/3 = 1/2
    assert out[2.0]["n_at_risk"] == 3
    assert out[2.0]["survival"] == pytest.approx(0.5, abs=1e-6)
    # t=3: d=1, n=1 -> S = 0 (risk set depleted, exact zero)
    assert out[3.0]["n_at_risk"] == 1
    assert out[3.0]["survival"] == 0.0


def test_km_all_censored_yields_no_steps(spark):
    from dbkit_spark.operators.survival import kaplan_meier

    df = spark.createDataFrame([(1.0, 0), (2.0, 0)], ["t", "e"])
    assert kaplan_meier(df, "t", "e").count() == 0


def test_km_monotone_nonincreasing(spark, sf_dir):
    from dbkit_spark.catalog import load_all

    q238_retention_survival = load_all()["q238_retention_survival"].fn

    rows = q238_retention_survival(spark, sf_dir).collect()
    assert rows
    surv = [r["survival"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(0.0 <= s <= 1.0 for s in surv)


# --- item similarity / PMI ---------------------------------------------------


def test_item_similarity_hand_case(spark):
    from dbkit_spark.operators.assoc import item_similarity_topk

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c"),
            (4, "a"), (4, "b")]
    df = spark.createDataFrame(rows, ["basket", "item"])
    out = {
        (r["item"], r["neighbor"]): r["sim"]
        for r in item_similarity_topk(
            df, "basket", "item", k=5, min_pair_count=1
        ).collect()
    }
    # a appears 4x, b 3x, pair(a,b)=3 -> sim = 3/sqrt(12)
    import math

    assert out[("a", "b")] == pytest.approx(3 / math.sqrt(12))
    assert out[("b", "a")] == out[("a", "b")]  # symmetric directions
    assert out[("a", "c")] == pytest.approx(1 / math.sqrt(4))


def test_item_similarity_bounds_and_topk(spark, sf_dir):
    from dbkit_spark.operators.assoc import item_similarity_topk

    li = read_table(spark, sf_dir, "lineitem")
    out = item_similarity_topk(
        li, "l_orderkey", "l_partkey", k=3, min_pair_count=1
    ).collect()
    assert out
    assert all(0.0 < r["sim"] <= 1.0 for r in out)
    per_item = {}
    for r in out:
        per_item[r["item"]] = per_item.get(r["item"], 0) + 1
    assert max(per_item.values()) <= 3


def test_pmi_identifies_forced_collocation(spark):
    """A pair that ALWAYS co-occurs adjacently gets a higher PMI than a
    pair that co-occurs at chance."""
    docs = spark.createDataFrame(
        [(i, "alpha beta " + ("x y" if i % 2 else "x z")) for i in range(40)],
        ["doc_id", "text"],
    )
    toks = docs.select(F.split(F.col("text"), " ").alias("t"))
    uni = toks.select(F.explode("t").alias("w")).groupBy("w").count()
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), i -> "
                "struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    cnt = {(r["w1"], r["w2"]): r["count"] for r in
           bigrams.groupBy("w1", "w2").count().collect()}
    # alpha->beta always adjacent; beta->x always adjacent; x->y half
    assert cnt[("alpha", "beta")] == 40
    assert cnt[("x", "y")] == 20


# --- unigram cross-entropy / vocab coverage ----------------------------------


def test_cross_entropy_flags_rare_token_docs(spark):
    """A doc made of rare tokens must out-score docs of common tokens."""
    rows = [(i, "common common common") for i in range(20)]
    rows.append((99, "zzyzx qwfp common"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").alias("cw"))
    tot = uni.agg(F.sum("cw").alias("nu"))
    scored = (
        toks.join(uni, "w").crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg((F.sum(-F.log(F.col("cw") / F.col("nu"))) / F.count("*")).alias("ce"))
        .collect()
    )
    by_doc = {r["doc_id"]: r["ce"] for r in scored}
    assert by_doc[99] > max(v for k, v in by_doc.items() if k != 99)


def test_vocab_coverage_monotone_and_bounded(spark, sf_dir):
    from dbkit_spark.catalog import load_all

    q242_vocab_coverage = load_all()["q242_vocab_coverage"].fn

    rows = q242_vocab_coverage(spark, sf_dir).collect()
    assert [r["coverage"] for r in rows] == [0.5, 0.8, 0.9, 0.95, 0.99]
    sizes = [r["vocab_size"] for r in rows]
    assert all(a <= b for a, b in zip(sizes, sizes[1:]))  # monotone
    docs = read_table(spark, sf_dir, "documents")
    n_types = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .select("w").distinct().count()
    )
    assert sizes[-1] <= n_types


# --- incremental index maintenance / schema drift ----------------------------


def test_file_index_incremental_update(spark, sf_dir, tmp_path):
    """Appending files re-harvests ONLY the new footers; removing files
    drops their index rows; the refreshed index equals a from-scratch
    rebuild."""
    import os
    import shutil

    from dbkit_spark.sources.fileindex import (
        build_file_stats_index,
        list_parquet_files,
        update_file_stats_index,
    )

    path = str(tmp_path / "inc")
    ev = read_table(spark, sf_dir, "events")
    ev.filter(F.col("event_id") < 500).repartition(2).write.parquet(path)
    idx0 = build_file_stats_index(spark, path, ["event_id"]).localCheckpoint()
    # append a new batch of files
    ev.filter(F.col("event_id") >= 500).repartition(2).write.mode(
        "append"
    ).parquet(path)
    # materialize, as a persisted manifest would be — a lazy index would
    # re-harvest (and re-read deleted files) on every downstream use
    idx1 = update_file_stats_index(spark, path, idx0, ["event_id"]).localCheckpoint()
    rebuilt = build_file_stats_index(spark, path, ["event_id"])
    key = lambda r: (r["file"], r["column"])  # noqa: E731
    assert sorted(map(tuple, idx1.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    # delete one file -> its rows vanish without a re-harvest of the rest
    victim = list_parquet_files(path)[0]
    os.remove(victim)
    idx2 = update_file_stats_index(spark, path, idx1, ["event_id"])
    assert victim not in {r["file"] for r in idx2.collect()}
    assert sorted(map(tuple, idx2.collect())) == sorted(
        map(tuple, build_file_stats_index(spark, path, ["event_id"]).collect())
    )


def test_schema_diff_detects_drift(spark, sf_dir, tmp_path):
    from dbkit_spark.sources.fileindex import schema_diff

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    ev = read_table(spark, sf_dir, "events")
    ev.select("event_id", "user_id", "value").write.parquet(a)
    ev.select(
        "event_id",
        F.col("user_id").cast("string").alias("user_id"),
        "event_type",
    ).write.parquet(b)
    out = {r["column"]: r for r in schema_diff(spark, a, b).collect()}
    assert out["value"]["status"] == "removed"
    assert out["event_type"]["status"] == "added"
    assert out["user_id"]["status"] == "type_changed"
    assert out["user_id"]["type_a"] == "bigint"
    assert out["user_id"]["type_b"] == "string"
    assert "event_id" not in out  # unchanged columns emit nothing


# --- batch 4: PCA / stable row number / KS grid / negative sampling /
# --- Benford / pattern detection ----------------------------------------------


def test_covariance_diagonal_is_variance(spark, sf_dir):
    """cov(i,i) must equal the population variance of dimension i —
    cross-checked against Spark's own var_pop on the exploded column."""
    from dbkit_spark.llm.pca import embedding_covariance

    emb = read_table(spark, sf_dir, "embeddings")
    cov = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(emb, "embedding", d=64).collect()
    }
    ref = (
        emb.select(F.posexplode("embedding").alias("k", "x"))
        .filter(F.col("k") < 5)
        .groupBy("k")
        .agg(F.var_pop(F.col("x").cast("double")).alias("v"))
        .collect()
    )
    for r in ref:
        assert cov[(r["k"], r["k"])] == pytest.approx(r["v"], abs=2e-6)


def test_covariance_plan_no_join_on_corpus(spark, sf_dir):
    """The d^2 expansion is map-side: the corpus-side plan up to the first
    aggregation contains no Join and no Window — joins appear only on the
    metadata-sized (d^2-row) moment tables."""
    from dbkit_spark.llm.pca import embedding_covariance

    emb = read_table(spark, sf_dir, "embeddings")
    plan = simple_plan(embedding_covariance(emb, "embedding", d=64))
    assert "Window" not in plan
    # both joins must be broadcasts of the tiny moment tables
    assert "SortMergeJoin" not in plan


def test_pca_component_variance_equals_eigenvalue(spark, sf_dir):
    from dbkit_spark.llm.pca import (
        _canonical_eigh,
        embedding_covariance,
        pca_project,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    rows = embedding_covariance(emb, "embedding", d=64).collect()
    vals, _ = _canonical_eigh(rows, 64, 3)
    assert vals == sorted(vals, reverse=True)
    pdf = pca_project(emb, "embedding", "vec_id", k=3, d=64).toPandas()
    for c in range(3):
        v = pdf[f"pc{c+1}"].to_numpy()
        # component variance == eigenvalue, corpus mean projects to origin
        assert v.var() == pytest.approx(vals[c], rel=1e-3)
        assert abs(v.mean()) < 1e-5
    # cross-component covariance ~ 0 (orthogonal directions)
    import numpy as np

    p = pdf[["pc1", "pc2", "pc3"]].to_numpy()
    c = np.cov(p.T, ddof=0)
    assert np.abs(c - np.diag(np.diag(c))).max() < 1e-5


def test_pca_sign_canonicalization_deterministic():
    """Flipping an eigenvector's sign in the input decomposition must not
    change the canonical output (largest-|coord| entry forced positive)."""
    import numpy as np

    from dbkit_spark.llm.pca import _canonical_eigh

    rows = []
    rng = np.random.RandomState(7)
    a = rng.randn(6, 6)
    m = a @ a.T
    for i in range(6):
        for j in range(i, 6):
            rows.append({"i": i, "j": j, "cov": m[i, j]})
    vals1, vecs1 = _canonical_eigh(rows, 6, 3)
    vals2, vecs2 = _canonical_eigh(rows, 6, 3)
    assert vals1 == vals2 and vecs1 == vecs2
    for v in vecs1:
        pivot = int(np.argmax(np.abs(v)))
        assert v[pivot] > 0


def test_stable_row_number_matches_global_window(spark, sf_dir):
    from pyspark.sql import Window

    from dbkit_spark.operators.rownumber import stable_row_number

    ev = read_table(spark, sf_dir, "events").limit(2000)
    got = {
        r["event_id"]: r["rn"]
        for r in stable_row_number(ev, ["ts", "event_id"], out_col="rn").collect()
    }
    w = Window.orderBy(F.col("ts").asc(), F.col("event_id").asc())
    want = {
        r["event_id"]: r["rn"]
        for r in ev.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_stable_row_number_no_single_partition(spark, sf_dir):
    """The whole point: no SinglePartition exchange anywhere in the plan,
    exactly ONE range exchange of the data (the counts branch reuses it),
    and — the round-7 advice item — NO cache left behind: the operator
    must not persist anything."""
    from dbkit_spark.operators.rownumber import stable_row_number

    li = read_table(spark, sf_dir, "lineitem")
    out = stable_row_number(
        li,
        ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"],
    )
    plan = formatted_plan(out)
    assert "SinglePartition" not in plan, plan
    # the output branch shuffles full-width once; the counts branch is
    # column-pruned to the order keys only — two range exchanges max,
    # the second key-only (cheap), never a third
    assert plan.count("Exchange rangepartitioning") <= 2, plan
    before = dict(spark.sparkContext._jsc.getPersistentRDDs())
    out.count()
    after = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert len(after) == len(before), "stable_row_number leaked a persisted RDD"


def test_stable_row_number_is_dense_total(spark, sf_dir):
    from dbkit_spark.operators.rownumber import stable_row_number

    ev = read_table(spark, sf_dir, "events").limit(999)
    rns = sorted(
        r["rn"]
        for r in stable_row_number(ev, ["event_id"], out_col="rn").collect()
    )
    assert rns == list(range(1, 1000))


def test_ks_grid_identical_distributions_is_zero(spark, sf_dir):
    from dbkit_spark.operators.drift import ks_grid

    ev = read_table(spark, sf_dir, "events")
    out = ks_grid(ev, ev, "value", k=16).collect()
    assert len(out) == 16
    assert all(r["ecdf_gap"] == 0.0 for r in out)
    assert all(r["ks"] == 0.0 for r in out)


def test_ks_grid_detects_shift(spark):
    rows_a = [(float(i % 100),) for i in range(2000)]
    rows_b = [(float(i % 100) + 50.0,) for i in range(2000)]
    a = spark.createDataFrame(rows_a, ["v"])
    b = spark.createDataFrame(rows_b, ["v"])
    from dbkit_spark.operators.drift import ks_grid

    out = ks_grid(a, b, "v", k=32).collect()
    ks = out[0]["ks"]
    # half-range shift of a uniform -> true KS = 0.5; grid form is within
    # one bin's mass of exact
    assert ks == pytest.approx(0.5, abs=0.05)
    # last edge covers everything on both sides
    assert out[-1]["f_a"] == 1.0 and out[-1]["f_b"] == 1.0


def test_ks_grid_plan_has_no_sort(spark, sf_dir):
    """The scale claim: the SAMPLES are never sorted — the per-side
    reductions are pure aggregations. The only Sort allowed is the
    64-row presentation orderBy(bin_idx)."""
    from dbkit_spark.operators.drift import ks_grid

    ev = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    out = ks_grid(ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut), "value")
    plan = simple_plan(out.drop("ks"))  # final tiny window excluded by design
    for line in plan.splitlines():
        if "Sort [" in line and "SortAggregate" not in line:
            assert "bin_idx" in line, line


def test_negative_sample_excludes_positives_and_is_deterministic(spark):
    from dbkit_spark.llm.sampling import negative_sample

    pos = spark.createDataFrame(
        [(u, i) for u in range(20) for i in range(u % 5)], ["u", "it"]
    )
    out1 = negative_sample(pos, "u", "it", n_items=7, k=3).collect()
    out2 = negative_sample(pos, "u", "it", n_items=7, k=3).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    positives = {(r["u"], r["it"]) for r in pos.collect()}
    for r in out1:
        assert (r["user"], r["neg_item"]) not in positives
        assert 0 <= r["neg_item"] < 7


def test_negative_sample_draw_count_bounded(spark):
    from dbkit_spark.llm.sampling import negative_sample

    pos = spark.createDataFrame([(1, 2), (1, 3), (2, 0)], ["u", "it"])
    out = negative_sample(pos, "u", "it", n_items=100, k=4).collect()
    # at most k per positive; with sparse positives nearly all survive
    assert len(out) <= 3 * 4
    assert len(out) >= 3 * 4 - 3  # generous collision allowance at n=100


def test_benford_shares_sum_to_one(spark, sf_dir):
    from dbkit_spark.operators.profile import benford_audit

    li = read_table(spark, sf_dir, "lineitem")
    rows = benford_audit(li, "l_extendedprice").collect()
    assert [r["digit"] for r in rows] == sorted(r["digit"] for r in rows)
    assert sum(r["p_observed"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    assert sum(r["cnt"] for r in rows) == li.filter(
        F.col("l_extendedprice") >= 1.0
    ).count()


def test_benford_excludes_out_of_int64_range(spark):
    """Values >= 9.2e18 (where CAST(double AS BIGINT) leaves int64 and
    Spark's non-ANSI cast silently NULLs while DuckDB errors) are
    filtered out on BOTH engines rather than diverging — round-7 advice.
    Sub-1 values are excluded per the documented [1.0, 9.2e18) contract."""
    from dbkit_spark.operators.profile import benford_audit

    df = spark.createDataFrame(
        [(1.5,), (25.0,), (9.5e18,), (1.7e300,), (0.4,), (0.0,)], ["v"]
    )
    rows = benford_audit(df, "v").collect()
    assert sum(r["cnt"] for r in rows) == 2
    assert {r["digit"] for r in rows} == {1, 2}


def test_benford_perfect_fit_has_zero_chi2(spark):
    """A synthetic corpus drawn exactly at Benford proportions scores ~0."""
    import math

    from dbkit_spark.operators.profile import benford_audit

    rows = []
    n = 100_000
    for d in range(1, 10):
        cnt = round(n * math.log10(1 + 1 / d))
        rows += [(float(d * 10 + 1),)] * cnt
    df = spark.createDataFrame(rows, ["v"])
    out = benford_audit(df, "v").collect()
    assert sum(r["chi2_term"] for r in out) < 0.1


def test_pattern_conversions_hand_case(spark):
    from dbkit_spark.operators.sequence import pattern_conversions

    rows = [
        # u1: view -> purchase within bound, no error between: MATCH
        (1, 1, "2024-01-01 10:00:00", "view"),
        (1, 2, "2024-01-01 10:10:00", "purchase"),
        # u2: error strictly between view and purchase: NO match
        (2, 3, "2024-01-01 10:00:00", "view"),
        (2, 4, "2024-01-01 10:05:00", "error"),
        (2, 5, "2024-01-01 10:10:00", "purchase"),
        # u3: view too old (2h): NO match
        (3, 6, "2024-01-01 08:00:00", "view"),
        (3, 7, "2024-01-01 10:00:00", "purchase"),
        # u4: error BEFORE the view does not disqualify: MATCH
        (4, 8, "2024-01-01 09:50:00", "error"),
        (4, 9, "2024-01-01 10:00:00", "view"),
        (4, 10, "2024-01-01 10:20:00", "purchase"),
        # u5: purchase with no prior view: NO match
        (5, 11, "2024-01-01 10:00:00", "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_id", "ts_s", "event_type"]
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = pattern_conversions(
        df, "user_id", "ts", "event_type", "view", "purchase", 1800, "error",
        tiebreak_col="event_id",
    ).collect()
    got = sorted((r["user_id"], r["event_id"], r["latency_s"]) for r in out)
    assert got == [(1, 2, 600.0), (4, 10, 1200.0)]


def test_pattern_conversions_single_window_plan(spark, sf_dir):
    """Both conditional last() columns share ONE Window operator (one
    per-key sort), and there is no Join in the plan."""
    from dbkit_spark.operators.sequence import pattern_conversions

    ev = read_table(spark, sf_dir, "events")
    out = pattern_conversions(
        ev, "user_id", "ts", "event_type", "view", "purchase", 1800, "error",
        tiebreak_col="event_id",
    )
    plan = simple_plan(out)
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


# --- batch 5: interpolation / RRF fusion / column diff / bigram LM ------------


def test_interpolate_linear_hand_case(spark):
    from dbkit_spark.operators.timeseries import interpolate_linear

    rows = [
        # key, id, ts, value: gap between 10.0@t0 and 20.0@t4 with two
        # interior nulls at t1 (25%) and t3 (75%)
        (1, 1, "2024-01-01 00:00:00", 10.0),
        (1, 2, "2024-01-01 00:00:30", None),
        (1, 3, "2024-01-01 00:01:30", None),
        (1, 4, "2024-01-01 00:02:00", 20.0),
        # leading null backfills, trailing null carries forward
        (2, 5, "2024-01-01 00:00:00", None),
        (2, 6, "2024-01-01 00:01:00", 7.0),
        (2, 7, "2024-01-01 00:02:00", None),
        # all-null key stays null
        (3, 8, "2024-01-01 00:00:00", None),
    ]
    df = spark.createDataFrame(rows, ["k", "id", "ts_s", "v"]).withColumn(
        "ts", F.col("ts_s").cast("timestamp")
    )
    from dbkit_spark.operators.timeseries import interpolate_linear

    out = {
        r["id"]: r["filled_value"]
        for r in interpolate_linear(df, "k", "ts", "v", "id").collect()
    }
    assert out[1] == 10.0 and out[4] == 20.0  # pass-through
    assert out[2] == pytest.approx(12.5)
    assert out[3] == pytest.approx(17.5)
    assert out[5] == 7.0 and out[7] == 7.0
    assert out[8] is None


def test_interpolate_linear_plan_one_sort_no_join(spark, sf_dir):
    from dbkit_spark.operators.timeseries import interpolate_linear

    ev = read_table(spark, sf_dir, "events")
    holed = ev.withColumn(
        "reading", F.when(F.col("event_type") != "click", F.col("value"))
    )
    plan = simple_plan(
        interpolate_linear(holed, "user_id", "ts", "reading", "event_id")
    )
    assert "Join" not in plan, plan
    # both frames ride the same (user, ts, id) sort: at most one Sort
    assert plan.count("Sort [") <= 1, plan


def test_rrf_fuse_hand_case(spark):
    from dbkit_spark.llm.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 9.0), (2, 8.0), (3, 7.0)], ["id", "score"])
    b = spark.createDataFrame([(3, 0.9), (4, 0.8)], ["id", "score"])
    out = {r["id"]: r for r in rrf_fuse([a, b], "id", topk=4).collect()}
    # doc 3: rank 3 in a, rank 1 in b
    assert out[3]["rank_1"] == 3 and out[3]["rank_2"] == 1
    assert out[3]["rrf_score"] == pytest.approx(1 / 63 + 1 / 61, abs=1e-9)
    # doc 1 only in a
    assert out[1]["rank_2"] is None
    assert out[1]["rrf_score"] == pytest.approx(1 / 61, abs=1e-9)
    # both-list doc fuses above single-list docs of comparable rank
    order = [
        r["id"]
        for r in rrf_fuse([a, b], "id", topk=4)
        .orderBy(F.col("rrf_score").desc(), "id")
        .collect()
    ]
    assert order[0] == 3


def test_column_diff_hand_case(spark):
    from dbkit_spark.operators.reconcile import column_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)], ["k", "s", "v"]
    )
    out = {r["column_name"]: r["n_rows"] for r in column_diff(
        old, new, ["k"], ["s", "v"]
    ).collect()}
    assert out == {"s": 1, "v": 0, "__added__": 1, "__removed__": 1}


def test_column_diff_null_semantics(spark):
    """NULL->value and value->NULL count as changes; NULL->NULL does not."""
    from dbkit_spark.operators.reconcile import column_diff

    old = spark.createDataFrame([(1, None), (2, "x"), (3, None)], ["k", "s"])
    new = spark.createDataFrame([(1, "y"), (2, None), (3, None)], ["k", "s"])
    out = {r["column_name"]: r["n_rows"] for r in column_diff(
        old, new, ["k"], ["s"]
    ).collect()}
    assert out["s"] == 2


def test_column_diff_single_aggregation_plan(spark, sf_dir):
    """One join, one aggregate — n columns never multiplies scans."""
    from dbkit_spark.operators.reconcile import column_diff

    orders = read_table(spark, sf_dir, "orders")
    out = column_diff(
        orders, orders, ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )
    plan = simple_plan(out)
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") <= 1


def test_bigram_lm_flags_shuffled_doc(spark):
    """A doc made of common words in a NEVER-SEEN order must score worse
    (higher cross-entropy) than the repeated natural phrase it permutes."""
    from dbkit_spark.catalog import load_all

    q250_bigram_lm_score = load_all()["q250_bigram_lm_score"].fn
    import os, tempfile

    natural = "the quick brown fox jumps over the lazy dog"
    rows = [(i, natural, "en", "t", len(natural)) for i in range(20)]
    rows.append((99, "dog the over quick lazy fox brown jumps the", "en", "t", 44))
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    tmp = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
    out = q250_bigram_lm_score(spark, tmp).collect()
    assert out[0]["doc_id"] == 99  # most surprising doc leads the top-50

"""Law / hand-case tests for the round-13 operators (q401–q431).

Oracle parity for the queries themselves is swept by
tests/test_oracle.py; these tests pin the operator SEMANTICS — closed-form hand
cases, invariance laws, degenerate inputs — independently of the
fixtures.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- q401: hashed NB linear classifier ----------------------------------------------


def test_nb_classifier_separable_corpus(spark):
    """Disjoint-vocabulary classes are classified perfectly, and class
    evidence is monotone: more positive-class tokens -> higher logit."""
    from dbkit_spark.llm.quality import hashed_nb_score, hashed_nb_train

    rows = [
        (1, "spark table join shuffle partition", True),
        (2, "spark query plan scan filter", True),
        (3, "le chat mange la pomme rouge", False),
        (4, "la maison est grande et belle", False),
        (5, "spark join plan table", True),
        (6, "le pomme la rouge", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, pos boolean")
    w, p = hashed_nb_train(df, "pos", m=64)
    got = {
        r["doc_id"]: r
        for r in hashed_nb_score(df, w, p, m=64).collect()
    }
    assert all(got[i]["predicted"] for i in (1, 2, 5))
    assert all(not got[i]["predicted"] for i in (3, 4, 6))
    assert all(got[i]["p"] > 0.5 for i in (1, 2, 5))
    # weight table enumerates every bucket (lossless scoring joins)
    assert w.count() == 64


def test_nb_classifier_prior_only_balance(spark):
    """With identical texts in both classes every weight is ~0 (equal
    smoothed ratios) and the logit reduces to the class prior."""
    from dbkit_spark.llm.quality import hashed_nb_score, hashed_nb_train

    rows = [(1, "same words here", True), (2, "same words here", False),
            (3, "same words here", True)]
    df = spark.createDataFrame(rows, "doc_id long, text string, pos boolean")
    w, p = hashed_nb_train(df, "pos", m=16)
    prior = p.collect()[0]
    # 2 pos vs 1 neg -> bias = ln(2.5/1.5)
    assert prior["bias"] == round(math.log(2.5 / 1.5), 9)
    got = hashed_nb_score(df, w, p, m=16).collect()
    assert all(r["predicted"] for r in got)  # prior dominates, weights ~0


def test_nb_train_validation(spark):
    from dbkit_spark.llm.quality import hashed_nb_train

    df = spark.createDataFrame(
        [(1, "x", True)], "doc_id long, text string, pos boolean"
    )
    with pytest.raises(ValueError, match="m must"):
        hashed_nb_train(df, "pos", m=1)
    with pytest.raises(ValueError, match="k must"):
        hashed_nb_train(df, "pos", k=0.0)


# --- q402: eval holdout carving -------------------------------------------------------


def test_eval_holdout_carve_contamination_and_quota(spark):
    """A candidate near-dup-linked to a train doc is ejected (either
    edge orientation); clean candidates rank densely and the quota
    caps selection; candidate-candidate links do not eject."""
    from dbkit_spark.llm.sampling import SPLIT_BUCKETS, _hash_bucket, eval_holdout_carve

    docs = spark.createDataFrame(
        [(i, "g") for i in range(60)], "doc_id long, grp string"
    )
    # find actual candidate ids under the salt (bucket < 0.3*10000)
    tagged = docs.select(
        "doc_id", (_hash_bucket(F.col("doc_id"), "carvetest") < 3000).alias("c")
    ).collect()
    cand_ids = sorted(r["doc_id"] for r in tagged if r["c"])
    train_ids = sorted(r["doc_id"] for r in tagged if not r["c"])
    assert len(cand_ids) >= 4 and len(train_ids) >= 2
    pairs = spark.createDataFrame(
        [
            (cand_ids[0], train_ids[0]),   # cand as doc_a -> ejected
            (train_ids[1], cand_ids[1]),   # cand as doc_b -> ejected
            (cand_ids[2], cand_ids[3]),    # cand-cand: no ejection
        ],
        "doc_a long, doc_b long",
    )
    out = eval_holdout_carve(
        docs, pairs, "grp", eval_frac=0.3, quota=2, salt="carvetest"
    ).collect()
    got = {r["doc_id"]: r for r in out}
    assert set(got) == set(cand_ids)  # train side not emitted
    assert got[cand_ids[0]]["contaminated"] and not got[cand_ids[0]]["selected"]
    assert got[cand_ids[1]]["contaminated"]
    assert not got[cand_ids[2]]["contaminated"]
    clean = [r for r in out if not r["contaminated"]]
    ranks = sorted(r["pick_rank"] for r in clean)
    assert ranks == list(range(1, len(clean) + 1))  # dense, no gaps
    assert sum(1 for r in out if r["selected"]) == min(2, len(clean))
    with pytest.raises(ValueError, match="eval_frac"):
        eval_holdout_carve(docs, pairs, "grp", eval_frac=1.5)
    with pytest.raises(ValueError, match="quota"):
        eval_holdout_carve(docs, pairs, "grp", quota=0)


# --- q403: incremental SemDeDup -------------------------------------------------------


def test_semdedup_delta_empty_old_equals_full(spark):
    """With no frozen state and centroids built from the batch itself,
    delta mode IS semdedup — bit-for-bit."""
    from dbkit_spark.llm.cluster import label_centroids, semdedup, semdedup_delta

    rows = [
        (i, [math.cos(i * 0.7), math.sin(i * 0.7), 0.1 * (i % 3)], i % 2)
        for i in range(30)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    full = sorted(map(tuple, semdedup(emb, 0.9).collect()))
    cents = label_centroids(emb)
    delta = sorted(
        map(tuple, semdedup_delta(emb, emb.limit(0), cents, 0.9).collect())
    )
    assert full == delta


def test_semdedup_delta_frozen_survivor_dominates(spark):
    """A new exact duplicate of a frozen survivor is removed; a new
    vector orthogonal to everything is kept; frozen rows are never
    emitted (immutability is structural)."""
    from dbkit_spark.llm.cluster import label_centroids, semdedup_delta

    old_kept = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    cents = label_centroids(old_kept)
    new = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0], 0),     # dup of frozen survivor -> removed
         (11, [0.0, 1.0, 0.0], 0)],    # orthogonal -> kept
        "vec_id long, embedding array<double>, label int",
    )
    got = {r["vec_id"]: r["kept"] for r in
           semdedup_delta(new, old_kept, cents, 0.9).collect()}
    assert got == {10: False, 11: True}


def test_semdedup_delta_within_batch_priority(spark):
    """Within the batch, the vector FARTHER from the frozen centroid
    wins a tau-tie (semdedup's keep-the-atypical rule)."""
    from dbkit_spark.llm.cluster import semdedup_delta

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "label int, centroid array<double>"
    )
    new = spark.createDataFrame(
        [(1, [0.9, 0.1], 0), (2, [0.5, 0.5], 0)],  # cosine(v1,v2) ~ 0.781
        "vec_id long, embedding array<double>, label int",
    )
    empty = new.limit(0)
    got = {r["vec_id"]: r for r in
           semdedup_delta(new, empty, cents, 0.75).collect()}
    # vec 2 is farther from centroid -> higher priority -> kept
    assert got[2]["kept"] and not got[1]["kept"]
    assert got[2]["cdist"] > got[1]["cdist"]


# --- q404: token-budget water-filling -------------------------------------------------


def _waterfill(spark, avail, weights, budget, cap=2.0):
    from dbkit_spark.llm.sampling import token_budget_waterfill

    df = spark.createDataFrame(
        [(d, n) for d, n in avail.items()], "domain string, ntok long"
    )
    return {
        r["domain"]: r
        for r in token_budget_waterfill(
            df, "domain", "ntok", weights, budget=budget, max_epochs=cap
        ).collect()
    }


def test_waterfill_pure_proportional(spark):
    """Budget far below every cap: allocation is exactly proportional
    and spends the budget to the cent."""
    got = _waterfill(
        spark, {"a": 10_000, "b": 10_000}, {"a": 3.0, "b": 1.0}, 1_000.0
    )
    assert got["a"]["allocated_tokens"] == 750.0
    assert got["b"]["allocated_tokens"] == 250.0
    assert not got["a"]["capped"] and not got["b"]["capped"]
    assert got["a"]["leftover_budget"] == 0.0


def test_waterfill_redistributes_capped_surplus(spark):
    """A tiny domain caps; its unmet share flows to the big domain —
    the exact redistribution mixture_epoch_plan cannot express."""
    got = _waterfill(
        spark, {"a": 100, "b": 100_000}, {"a": 1.0, "b": 1.0}, 10_000.0
    )
    assert got["a"]["capped"] and got["a"]["allocated_tokens"] == 200.0
    assert not got["b"]["capped"]
    assert got["b"]["allocated_tokens"] == 9_800.0  # 10000 - 200
    total = sum(r["allocated_tokens"] for r in got.values())
    assert abs(total - 10_000.0) < 1e-6


def test_waterfill_all_capped_reports_leftover(spark):
    got = _waterfill(
        spark, {"a": 100, "b": 200}, {"a": 1.0, "b": 1.0}, 10_000.0
    )
    assert all(r["capped"] for r in got.values())
    assert got["a"]["allocated_tokens"] == 200.0
    assert got["b"]["allocated_tokens"] == 400.0
    assert got["a"]["leftover_budget"] == 9_400.0
    assert got["a"]["water_level"] is None  # exactly-NULL, not a blowup


def test_waterfill_missing_domain_and_validation(spark):
    from dbkit_spark.llm.sampling import token_budget_waterfill

    got = _waterfill(
        spark, {"a": 1_000}, {"a": 1.0, "ghost": 1.0}, 500.0
    )
    assert got["ghost"]["avail_tokens"] == 0
    assert got["ghost"]["allocated_tokens"] == 0.0
    assert got["ghost"]["capped"] and got["ghost"]["epochs"] is None
    df = spark.createDataFrame([("a", 10)], "domain string, ntok long")
    for bad in (
        dict(weights={"a": 1.0}, budget=0.0),
        dict(weights={"a": 1.0}, budget=10.0, max_epochs=0),
        dict(weights={}, budget=10.0),
        dict(weights={"a": -1.0}, budget=10.0),
    ):
        with pytest.raises(ValueError):
            token_budget_waterfill(df, "domain", "ntok", **bad)


# --- q405: Gopher repetition battery --------------------------------------------------


def test_repetition_filters_hand_cases(spark):
    """Pure loop -> all fracs 1.0 and every rule fails; varied text
    passes; short docs (no 5-grams) get dup5 = 0 vacuously."""
    from dbkit_spark.llm.quality import gopher_repetition_filters

    varied = (
        "alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa quebec romeo "
        "sierra tango uniform victor whiskey xray yankee zulu one "
        "two three four five six seven eight nine ten eleven twelve"
    )
    rows = [
        (1, "spam spam spam spam spam spam spam spam"),
        (2, varied),
        (3, "just four little words"),
        (4, ""),
    ]
    got = {r["doc_id"]: r for r in
           gopher_repetition_filters(_docs(spark, rows)).collect()}
    assert got[1]["top2_char_frac"] == 1.0
    assert got[1]["dup5_char_frac"] == 1.0
    assert not got[1]["passes"]
    assert got[2]["passes"]
    assert got[2]["dup5_char_frac"] == 0.0
    assert got[3]["dup5_char_frac"] == 0.0 and got[3]["rule_dup5"]
    assert got[4]["top2_char_frac"] == 0.0 and got[4]["passes"]


def test_repetition_filters_top_gram_arithmetic(spark):
    """Closed-form check: 'ab ab ab cd' -> top 2-gram 'ab ab' occurs 2x
    of 3 bigrams; char mass 2*4=8 over 8 token chars -> frac 1.0 capped;
    with a longer tail the exact ratio shows through."""
    from dbkit_spark.llm.quality import gopher_repetition_filters

    # tokens: x y x y z w v u  -> bigram 'x y' twice (4 chars mass = 2*2)
    rows = [(1, "x y x y z w v u")]
    got = gopher_repetition_filters(_docs(spark, rows)).collect()[0]
    # chars = 8 single-char tokens; top2 = 2 occurrences * 2 chars = 4
    assert got["top2_char_frac"] == 0.5
    assert got["n_tokens"] == 8


# --- q406/q414: PII scrub --------------------------------------------------------------


def test_pii_scrub_hand_cases(spark):
    from dbkit_spark.llm.pii import pii_scrub

    rows = [
        (1, "mail john.doe+x@sub.example.co.uk now"),
        (2, "call 555-867-5309 or +44 20 7946 0958"),
        (3, "host 10.0.0.1 and 192.168.255.3"),
        (4, "no pii just text"),
        (5, "not an email: a@b (no tld dot)"),
    ]
    got = {r["doc_id"]: r for r in pii_scrub(_docs(spark, rows)).collect()}
    assert got[1]["n_email"] == 1 and "<EMAIL>" in got[1]["redacted_text"]
    assert got[2]["n_phone"] == 2
    assert got[3]["n_ipv4"] == 2
    assert got[4]["pii_total"] == 0
    assert got[4]["redacted_text"] == "no pii just text"
    assert got[5]["n_email"] == 0
    assert got[1]["pii_total"] == got[1]["n_email"] + got[1]["n_phone"] + got[1]["n_ipv4"]


def test_pii_summary_rollup(spark):
    from dbkit_spark.llm.pii import pii_summary

    df = spark.createDataFrame(
        [(1, "a", "x@y.com here"), (2, "a", "clean"), (3, "b", "clean")],
        "doc_id long, src string, text string",
    )
    got = {r["src"]: r for r in pii_summary(df, "src").collect()}
    assert got["a"]["n_docs_with_pii"] == 1 and got["a"]["pii_doc_rate"] == 0.5
    assert got["b"]["n_docs_with_pii"] == 0


# --- q407: normal tail + Benjamini-Hochberg FDR ------------------------------------------


def test_normal_p_two_sided_published_values(spark):
    """The A&S 26.2.17 approximation hits the textbook tail values to
    its documented 7.5e-8: p(1.96) ~ 0.05, p(0) = 1, p(2.5758) ~ 0.01;
    symmetric in z."""
    from dbkit_spark.operators.mlmetrics import normal_p_two_sided

    df = spark.createDataFrame(
        [(0.0,), (1.959963984540054,), (-1.959963984540054,),
         (2.5758293035489004,), (10.0,)],
        "z double",
    )
    got = [r["p"] for r in df.select(
        normal_p_two_sided(F.col("z")).alias("p")).collect()]
    assert abs(got[0] - 1.0) <= 1e-9   # A&S error ~2e-10 at z=0
    assert abs(got[1] - 0.05) < 2e-7
    assert got[1] == got[2]          # symmetry
    assert abs(got[3] - 0.01) < 2e-7
    assert got[4] < 1e-9             # far tail underflows to ~0


def test_mwu_p_bh_pipeline_textbook(spark):
    """The q407 composition on a textbook battery: p = (.01,.02,.03,
    .20,.50) through the EXISTING per-family bh_adjust -> adjusted
    (.05,.05,.05,.25,.50); first three under FDR 0.05."""
    from dbkit_spark.operators.mlmetrics import bh_adjust

    df = spark.createDataFrame(
        [("f", "m1", 0.01), ("f", "m2", 0.02), ("f", "m3", 0.03),
         ("f", "m4", 0.20), ("f", "m5", 0.50)],
        "fam string, metric string, p double",
    )
    got = {r["metric"]: round(r["adj_p"], 9) for r in
           bh_adjust(df, "fam", "metric", "p").collect()}
    assert got == {"m1": 0.05, "m2": 0.05, "m3": 0.05,
                   "m4": 0.25, "m5": 0.50}
    assert sum(1 for v in got.values() if v <= 0.05) == 3


def test_mwu_null_battery_accepts(spark):
    """Parity arms on a symmetric fixture: every per-metric p is
    large and the battery rejects nothing — the pipeline's null
    behavior end-to-end (z -> A&S p -> BH)."""
    from dbkit_spark.operators.mlmetrics import (
        bh_adjust,
        mann_whitney_u,
        normal_p_two_sided,
    )

    rows = [
        (f"m{k}", "a" if i % 2 == 0 else "b", float((i * 7) % 23))
        for k in range(4)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "metric string, g string, v double")
    mw = mann_whitney_u(df, "metric", "g", "v", "a", "b")
    scored = mw.select(
        F.lit("f").alias("fam"), "metric",
        normal_p_two_sided(F.col("z")).alias("p"),
    )
    got = bh_adjust(scored, "fam", "metric", "p").collect()
    assert len(got) == 4
    assert all(r["adj_p"] > 0.05 for r in got)


# --- q408: ratio metric delta method --------------------------------------------------


def test_ratio_delta_reduces_to_mean_diff(spark):
    """y == 1 for every unit: ratio = mean, delta variance = s²/n —
    the ordinary two-sample z on means."""
    from dbkit_spark.operators.mlmetrics import ratio_metric_delta

    rows = [("c", float(i % 7), 1.0) for i in range(210)] + [
        ("t", float(i % 7) + 1.0, 1.0) for i in range(210)
    ]
    df = spark.createDataFrame(rows, "arm string, x double, y double")
    got = ratio_metric_delta(df, "arm", "x", "y", "c", "t").collect()[0]
    assert got["lift"] == 1.0
    # 210 = 30 balanced cycles of 0..6: population var 4.0, sample
    # variance 4*210/209 -> se = sqrt(s^2/n) = sqrt(4/209)
    assert abs(got["se_control"] - math.sqrt(4.0 / 209)) < 1e-6
    assert got["significant"]


def test_ratio_delta_scale_invariance(spark):
    """Scaling num and den together leaves the ratio and z unchanged."""
    from dbkit_spark.operators.mlmetrics import ratio_metric_delta

    rows = [("c", 2.0 + (i % 3), 1.0 + (i % 2)) for i in range(60)] + [
        ("t", 3.0 + (i % 3), 1.0 + (i % 2)) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "arm string, x double, y double")
    base = ratio_metric_delta(df, "arm", "x", "y", "c", "t").collect()[0]
    scaled = ratio_metric_delta(
        df.select("arm", (F.col("x") * 10).alias("x"),
                  (F.col("y") * 10).alias("y")),
        "arm", "x", "y", "c", "t",
    ).collect()[0]
    assert base["ratio_control"] == scaled["ratio_control"]
    assert base["z"] == scaled["z"]


def test_ratio_delta_singleton_arm_degrades(spark):
    from dbkit_spark.operators.mlmetrics import ratio_metric_delta

    df = spark.createDataFrame(
        [("c", 1.0, 1.0), ("t", 2.0, 1.0), ("t", 3.0, 1.0)],
        "arm string, x double, y double",
    )
    got = ratio_metric_delta(df, "arm", "x", "y", "c", "t").collect()[0]
    assert got["n_control"] == 1
    assert got["z"] is None and not got["significant"]


# --- q409: cluster design effect --------------------------------------------------------


def test_design_effect_within_cluster_constant(spark):
    """Values constant within each cluster: ICC = 1, DEFF = mean size,
    n_eff = number of clusters."""
    from dbkit_spark.operators.mlmetrics import cluster_design_effect

    rows = [(c, float(c)) for c in range(10) for _ in range(20)]
    df = spark.createDataFrame(rows, "cl long, v double")
    got = cluster_design_effect(df, "cl", "v").collect()[0]
    assert got["icc"] == 1.0
    assert got["deff"] == 20.0
    assert got["n_eff"] == 10.0


def test_design_effect_no_cluster_signal(spark):
    """The same value multiset in every cluster: MSB collapses toward
    0, ICC <= 0 (design effect clamps the analyst's N inflation to
    none)."""
    from dbkit_spark.operators.mlmetrics import cluster_design_effect

    rows = [(c, float(v)) for c in range(8) for v in range(10)]
    df = spark.createDataFrame(rows, "cl long, v double")
    got = cluster_design_effect(df, "cl", "v").collect()[0]
    assert got["icc"] is not None and got["icc"] <= 0.0
    assert got["msb"] == 0.0


def test_design_effect_degenerate_inputs(spark):
    from dbkit_spark.operators.mlmetrics import cluster_design_effect

    one = spark.createDataFrame([(1, 2.0), (1, 3.0)], "cl long, v double")
    got = cluster_design_effect(one, "cl", "v").collect()[0]
    assert got["j_clusters"] == 1 and got["icc"] is None
    singletons = spark.createDataFrame(
        [(1, 2.0), (2, 3.0)], "cl long, v double"
    )
    got2 = cluster_design_effect(singletons, "cl", "v").collect()[0]
    assert got2["n"] == got2["j_clusters"] and got2["msw"] is None


# --- q410: vocab coverage ----------------------------------------------------------------


def test_vocab_coverage_bounds(spark):
    """V >= distinct vocabulary -> OOV 0 everywhere; V = 1 -> OOV rate
    = 1 - top-token share per domain; deterministic tie at the cut."""
    from dbkit_spark.llm.lm import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a", "x x x y"), (2, "a", "x z"), (3, "b", "y y w")],
        "doc_id long, dom string, text string",
    )
    full = {r["domain"]: r for r in
            vocab_coverage(df, "dom", vocab_size=10).collect()}
    assert all(r["oov_tokens"] == 0 for r in full.values())
    one = {r["domain"]: r for r in
           vocab_coverage(df, "dom", vocab_size=1).collect()}
    # global counts: x=4, y=3, z=1, w=1 -> vocab = {x}
    assert one["a"]["oov_tokens"] == 2      # y, z
    assert one["b"]["oov_tokens"] == 3      # y y w
    assert one["b"]["oov_rate"] == 1.0
    # tie at the cut: z and w both count 1 -> token ASC keeps 'w'
    three = {r["domain"]: r for r in
             vocab_coverage(df, "dom", vocab_size=3).collect()}
    assert three["a"]["oov_tokens"] == 1    # z out, w in
    with pytest.raises(ValueError, match="vocab_size"):
        vocab_coverage(df, "dom", vocab_size=0)


# --- q411: prototypicality ---------------------------------------------------------------


def test_prototypicality_flags_planted_outlier(spark):
    """A cluster of near-identical vectors plus one far point: exactly
    the far point is flagged; a zero-variance cluster yields NULL z."""
    from dbkit_spark.llm.cluster import prototypicality

    tight = [(i, [1.0, 0.001 * i], 0) for i in range(20)]
    outlier = [(99, [5.0, 5.0], 0)]
    constant = [(200 + i, [2.0, 2.0], 1) for i in range(5)]
    emb = spark.createDataFrame(
        tight + outlier + constant,
        "vec_id long, embedding array<double>, label int",
    )
    got = {r["vec_id"]: r for r in prototypicality(emb).collect()}
    assert got[99]["is_outlier"]
    assert sum(1 for r in got.values() if r["is_outlier"]) == 1
    assert got[200]["z"] is None and not got[200]["is_outlier"]


def test_prototypicality_z_mean_zero(spark):
    """Within each cluster the z scores average ~0 (standardization
    sanity)."""
    from dbkit_spark.llm.cluster import prototypicality

    rows = [
        (i, [math.cos(i * 1.3), math.sin(i * 1.3)], i % 2) for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    per = prototypicality(emb).groupBy("label").agg(
        F.avg("z").alias("mz")
    ).collect()
    assert all(abs(r["mz"]) < 1e-3 for r in per)


# --- q412: stratified lift ----------------------------------------------------------------


def test_stratified_lift_removes_confound(spark):
    """Simpson's-flavored fixture: within every stratum treatment is
    +1, but arm/stratum imbalance drives the naive lift negative —
    post-stratification recovers +1."""
    from dbkit_spark.operators.mlmetrics import stratified_lift

    rows = (
        [("s1", "c", 1.0)] * 10 + [("s1", "t", 2.0)] * 30
        + [("s2", "c", 5.0)] * 30 + [("s2", "t", 6.0)] * 10
    )
    df = spark.createDataFrame(rows, "s string, arm string, v double")
    got = stratified_lift(df, "s", "arm", "v", "c", "t").collect()[0]
    assert got["naive_lift"] == -1.0
    assert got["adj_lift"] == 1.0
    assert got["n_strata"] == 2 and got["n_strata_dropped"] == 0


def test_stratified_lift_drops_incomplete_strata(spark):
    from dbkit_spark.operators.mlmetrics import stratified_lift

    rows = [("s1", "c", 1.0), ("s1", "c", 2.0), ("s1", "t", 3.0),
            ("s1", "t", 4.0), ("lonely", "c", 9.0)]
    df = spark.createDataFrame(rows, "s string, arm string, v double")
    got = stratified_lift(df, "s", "arm", "v", "c", "t").collect()[0]
    assert got["n_strata"] == 1 and got["n_strata_dropped"] == 1
    assert got["n_control"] == 2  # the lonely stratum's rows excluded
    assert got["adj_lift"] == 2.0


# --- q413: mixture health -----------------------------------------------------------------


def test_mixture_health_uniform_and_point_mass(spark):
    from dbkit_spark.llm.sampling import mixture_health

    uniform = spark.createDataFrame(
        [(f"d{i}", 100) for i in range(4) for _ in range(3)],
        "dom string, ntok long",
    )
    got = mixture_health(uniform, "dom", "ntok").collect()[0]
    assert abs(got["entropy"] - math.log(4)) < 1e-6
    assert abs(got["effective_domains"] - 4.0) < 1e-5
    assert got["hhi"] == 0.25 and got["max_share"] == 0.25

    point = spark.createDataFrame(
        [("a", 100), ("b", 0)], "dom string, ntok long"
    )
    got2 = {r["domain"]: r for r in
            mixture_health(point, "dom", "ntok").collect()}
    assert got2["a"]["entropy"] == 0.0
    assert got2["a"]["hhi"] == 1.0
    assert got2["a"]["effective_domains"] == 1.0
    assert got2["b"]["token_share"] == 0.0


def test_mixture_health_share_conservation(spark):
    from dbkit_spark.llm.sampling import mixture_health

    df = spark.createDataFrame(
        [("a", 37), ("b", 205), ("c", 18)], "dom string, ntok long"
    )
    rows = mixture_health(df, "dom", "ntok").collect()
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-5
    assert all(r["effective_domains"] <= 3.0 + 1e-9 for r in rows)


# --- q415: JL projection + recall ---------------------------------------------------


def test_jl_project_deterministic_and_shape(spark):
    """Same input + salt -> bit-identical projection on re-run and
    re-partitioning; output length = out_dim; sign flip of the input
    flips the output exactly (linearity)."""
    from dbkit_spark.llm.similarity import jl_project

    rows = [(i, [float((i * j) % 7) - 3.0 for j in range(8)]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = {r["vec_id"]: r["projected"] for r in jl_project(emb, 4, salt="s").collect()}
    b = {r["vec_id"]: r["projected"] for r in
         jl_project(emb.repartition(7), 4, salt="s").collect()}
    assert a == b
    assert all(len(v) == 4 for v in a.values())
    neg = spark.createDataFrame(
        [(i, [-x for x in v]) for i, v in
         ((r[0], r[1]) for r in rows)],
        "vec_id long, embedding array<double>",
    )
    c = {r["vec_id"]: r["projected"] for r in jl_project(neg, 4, salt="s").collect()}
    for i in a:
        assert c[i] == [-y for y in a[i]]
    with pytest.raises(ValueError, match="out_dim"):
        jl_project(emb, 0)
    with pytest.raises(ValueError, match="out_dim"):
        jl_project(emb, 9)


def test_projection_recall_identity_ceiling(spark):
    """Projecting onto the identity (projected == full vectors) gives
    recall 1.0 and zero distortion."""
    from dbkit_spark.llm.similarity import projection_recall

    rows = [(i, [math.cos(i * 0.9), math.sin(i * 0.9), 0.2 * (i % 5)])
            for i in range(15)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    same = emb.select("vec_id", F.col("embedding").alias("projected"))
    got = projection_recall(emb, same).collect()[0]
    assert got["recall"] == 1.0
    assert got["mean_cos_distortion"] == 0.0
    assert got["n_queries"] == 15


def test_projection_recall_guard(spark):
    from dbkit_spark.llm.similarity import projection_recall

    rows = [(i, [1.0, 0.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    same = emb.select("vec_id", F.col("embedding").alias("projected"))
    with pytest.raises(ValueError, match="projection_recall"):
        projection_recall(emb, same, max_rows=10)


# --- q416: char class mix -------------------------------------------------------------


def test_char_class_mix_hand_cases(spark):
    from dbkit_spark.llm.quality import char_class_mix

    rows = [
        (1, "Hello World 42!"),
        (2, "全部中文字符在这里"),
        (3, ""),
        (4, "a,b.c!"),
    ]
    got = {r["doc_id"]: r for r in
           char_class_mix(_docs(spark, rows)).collect()}
    r1 = got[1]
    # 10 letters, 2 digits, 2 spaces, 1 punct of 15 chars
    assert r1["latin_frac"] == round(10 / 15, 6)
    assert r1["digit_frac"] == round(2 / 15, 6)
    assert r1["space_frac"] == round(2 / 15, 6)
    assert r1["punct_frac"] == round(1 / 15, 6)
    assert r1["other_frac"] == 0.0 and r1["latin_dominant"]
    assert got[2]["other_frac"] == 1.0 and not got[2]["latin_dominant"]
    assert got[3]["latin_frac"] is None and not got[3]["latin_dominant"]
    assert got[4]["punct_frac"] == 0.5
    # fractions partition the text: sum to 1 on every non-empty doc
    for i in (1, 2, 4):
        s = sum(got[i][k] for k in ("latin_frac", "digit_frac",
                                    "space_frac", "punct_frac",
                                    "other_frac"))
        assert abs(s - 1.0) < 1e-5


# --- q417: interpolated trigram LM ------------------------------------------------------


def test_trigram_lm_memorized_vs_novel(spark):
    """A doc the reference contains verbatim scores LOWER (more
    reference-like) than a same-vocabulary scramble; unseen-vocabulary
    text degrades to the unigram floor, not an error; < 3-token docs
    are excluded."""
    from dbkit_spark.llm.lm import trigram_lm_score, trigram_lm_train

    ref_text = (
        "the quick brown fox jumps over the lazy dog while the quick "
        "brown fox naps under the lazy dog tree"
    )
    ref = _docs(spark, [(100, ref_text)])
    tri, ctx2, big, uni = trigram_lm_train(ref)
    cand = _docs(spark, [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "dog the fox brown quick lazy the over jumps"),
        (3, "zzz yyy xxx www vvv uuu"),
        (4, "too short"),
    ])
    got = {r["doc_id"]: r for r in
           trigram_lm_score(cand, tri, ctx2, big, uni).collect()}
    assert set(got) == {1, 2, 3}            # doc 4 excluded
    assert got[1]["avg_neg_logp"] < got[2]["avg_neg_logp"]
    assert got[3]["avg_neg_logp"] > got[2]["avg_neg_logp"]
    assert got[1]["n_trigrams"] == 7


def test_trigram_lm_validation_and_interp_bounds(spark):
    """Lambda validation; interpolated probability never exceeds 1 so
    neg-logp is never negative."""
    from dbkit_spark.llm.lm import trigram_lm_score, trigram_lm_train

    ref = _docs(spark, [(1, "a b c a b c a b c")])
    tri, ctx2, big, uni = trigram_lm_train(ref)
    with pytest.raises(ValueError, match="lambdas"):
        trigram_lm_score(ref, tri, ctx2, big, uni, lambdas=(0.5, 0.5, 0.5))
    with pytest.raises(ValueError, match="k must"):
        trigram_lm_score(ref, tri, ctx2, big, uni, k=0.0)
    got = trigram_lm_score(ref, tri, ctx2, big, uni).collect()[0]
    assert got["avg_neg_logp"] >= 0.0


# --- q418: curation funnel ---------------------------------------------------------------


def test_curation_funnel_monotone_and_stage_chaining(spark, sf_dir):
    """Funnel laws on the real fixture: survivor counts are
    non-increasing; each stage's n_in equals the previous stage's
    n_pass; stage 1 sees the whole corpus; pass_rate is consistent."""
    from dbkit_spark.catalog import load_all
    from dbkit_spark.sources import read_table

    fn = load_all()["q418_curation_funnel"].fn
    rows = fn(spark, sf_dir).collect()
    assert [r["stage_idx"] for r in rows] == [1, 2, 3, 4]
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert rows[0]["n_in"] == n_docs
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_in"] == prev["n_pass"]
        assert cur["n_pass"] <= cur["n_in"]
    for r in rows:
        if r["n_in"]:
            assert abs(r["pass_rate"] - r["n_pass"] / r["n_in"]) < 1e-5


# --- q419-q421: preference trio -------------------------------------------------------


def _matches(spark, rows):
    return spark.createDataFrame(rows, "winner string, loser string")


def test_bradley_terry_dominance_order(spark):
    """A total order in the match data yields the same order in
    strengths and ranks; games/wins are exact."""
    from dbkit_spark.operators.preference import bradley_terry

    rows = (
        [("A", "B")] * 3 + [("B", "C")] * 3 + [("A", "C")] * 3
    )
    out = {r["item"]: r for r in
           bradley_terry(_matches(spark, rows), "winner", "loser").collect()}
    assert out["A"]["games"] == 6 and out["A"]["wins"] == 6
    assert out["B"]["games"] == 6 and out["B"]["wins"] == 3
    assert out["C"]["games"] == 6 and out["C"]["wins"] == 0
    assert out["A"]["strength"] > out["B"]["strength"] > out["C"]["strength"]
    assert [out[k]["rank"] for k in "ABC"] == [1, 2, 3]
    # C never wins -> strength pinned at exactly 0 (W_i = 0)
    assert out["C"]["strength"] == 0.0


def test_bradley_terry_balanced_round_robin(spark):
    """A perfectly balanced tournament is the MM fixed point: every
    strength stays exactly at the normalized start 1.0."""
    from dbkit_spark.operators.preference import bradley_terry

    items = ["A", "B", "C"]
    rows = []
    for a in items:
        for b in items:
            if a != b:
                rows.append((a, b))  # each ordered pair won once
    out = bradley_terry(_matches(spark, rows), "winner", "loser").collect()
    assert all(r["strength"] == 1.0 for r in out)
    assert [r["item"] for r in sorted(out, key=lambda r: r["rank"])] == items


def test_bradley_terry_validation(spark):
    from dbkit_spark.operators.preference import bradley_terry

    with pytest.raises(ValueError, match="iters"):
        bradley_terry(_matches(spark, [("A", "B")]), "winner", "loser",
                      iters=0)


def test_preference_cycles_cyclic_and_transitive(spark):
    from dbkit_spark.operators.preference import preference_cycles

    # rock-paper-scissors majority: one decided triad, cyclic
    rows = [("A", "B"), ("A", "B"), ("B", "A"),
            ("B", "C"), ("B", "C"), ("C", "B"),
            ("C", "A"), ("C", "A"), ("A", "C")]
    r = preference_cycles(_matches(spark, rows), "winner", "loser").collect()[0]
    assert r["n_items"] == 3 and r["n_decided_pairs"] == 3
    assert r["n_decided_triads"] == 1 and r["n_cyclic_triads"] == 1
    assert r["cycle_rate"] == 1.0
    # transitive order: same triad count, zero cycles
    rows = [("A", "B"), ("B", "C"), ("A", "C")]
    r = preference_cycles(_matches(spark, rows), "winner", "loser").collect()[0]
    assert r["n_decided_triads"] == 1 and r["n_cyclic_triads"] == 0
    assert r["cycle_rate"] == 0.0


def test_preference_cycles_tie_undecides_pair(spark):
    """A tied pair is undecided: the triad is incomplete and the rate
    degrades to NULL when no triad is fully decided."""
    from dbkit_spark.operators.preference import preference_cycles

    rows = [("A", "B"), ("B", "A"),  # tie
            ("B", "C"), ("A", "C")]
    r = preference_cycles(_matches(spark, rows), "winner", "loser").collect()[0]
    assert r["n_active_pairs"] == 3
    assert r["n_decided_pairs"] == 2
    assert r["n_decided_triads"] == 0
    assert r["cycle_rate"] is None


def test_pairwise_winrates_wilson_hand_case(spark):
    """Wilson bounds match the closed form computed in-test with the
    same operation order; degenerate p in {0, 1} stays inside [0, 1]."""
    import math as _m

    from dbkit_spark.operators.preference import _Z95, pairwise_winrates

    rows = [("A", "B")] * 7 + [("B", "A")] * 3 + [("C", "D")] * 4
    out = {(r["item_a"], r["item_b"]): r for r in
           pairwise_winrates(_matches(spark, rows), "winner", "loser")
           .collect()}
    ab = out[("A", "B")]
    assert ab["n_matches"] == 10 and ab["wins_a"] == 7
    assert ab["winrate_a"] == 0.7
    n, p, z2 = 10.0, 0.7, _Z95 * _Z95
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = _Z95 * _m.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)) / denom
    assert ab["wilson_lo"] == round(center - half, 6)
    assert ab["wilson_hi"] == round(center + half, 6)
    cd = out[("C", "D")]
    assert cd["winrate_a"] == 1.0
    assert 0.0 < cd["wilson_lo"] < 1.0 and cd["wilson_hi"] <= 1.0


# --- q422: IPW lift ---------------------------------------------------------------------


def test_ipw_zero_logit_reduces_to_arm_means(spark):
    """e = 0.5 everywhere -> constant weights -> Hajek means are the
    plain arm means and ESS equals the arm size."""
    from dbkit_spark.operators.mlmetrics import ipw_lift

    rows = [(True, 10.0, 0.0), (True, 20.0, 0.0),
            (False, 5.0, 0.0), (False, 15.0, 0.0), (False, 10.0, 0.0)]
    df = spark.createDataFrame(rows, "t boolean, y double, lg double")
    r = ipw_lift(df, "t", "y", "lg").collect()[0]
    assert r["n_treat"] == 2 and r["n_control"] == 3 and r["n_trimmed"] == 0
    assert r["mu_treat"] == 15.0 and r["mu_control"] == 10.0
    assert r["lift"] == 5.0
    assert r["ess_treat"] == 2.0 and r["ess_control"] == 3.0


def test_ipw_trims_extreme_propensities(spark):
    """|logit| = 5 -> e outside [0.05, 0.95] -> trimmed and counted."""
    from dbkit_spark.operators.mlmetrics import ipw_lift

    rows = [(True, 10.0, 0.0), (False, 5.0, 0.0),
            (True, 99.0, 5.0), (False, 99.0, -5.0)]
    df = spark.createDataFrame(rows, "t boolean, y double, lg double")
    r = ipw_lift(df, "t", "y", "lg").collect()[0]
    assert r["n_trimmed"] == 2
    assert r["mu_treat"] == 10.0 and r["mu_control"] == 5.0


def test_ipw_validation(spark):
    from dbkit_spark.operators.mlmetrics import ipw_lift

    df = spark.createDataFrame([(True, 1.0, 0.0)],
                               "t boolean, y double, lg double")
    with pytest.raises(ValueError, match="trim"):
        ipw_lift(df, "t", "y", "lg", trim_lo=0.5, trim_hi=0.4)


# --- q424: Krippendorff's alpha ---------------------------------------------------------


def _labels(spark, rows):
    return spark.createDataFrame(rows, "u long, r string, c string")


def test_krippendorff_perfect_and_degenerate(spark):
    from dbkit_spark.operators.agreement import krippendorff_alpha

    # perfect agreement on two categories -> D_o = 0, alpha = 1
    rows = [(1, "r1", "x"), (1, "r2", "x"),
            (2, "r1", "y"), (2, "r2", "y")]
    r = krippendorff_alpha(_labels(spark, rows), "u", "r", "c").collect()[0]
    assert r["d_o"] == 0.0 and r["alpha"] == 1.0
    assert r["n_units"] == 2 and r["n_values"] == 4 and r["n_categories"] == 2
    # one category everywhere -> D_e = 0 -> alpha undefined (NULL)
    rows = [(1, "r1", "x"), (1, "r2", "x"), (2, "r1", "x"), (2, "r2", "x")]
    r = krippendorff_alpha(_labels(spark, rows), "u", "r", "c").collect()[0]
    assert r["d_e"] == 0.0 and r["alpha"] is None


def test_krippendorff_hand_computed_with_missing(spark):
    """Closed form recomputed in-test on a table WITH missing labels
    (the case Cohen/Fleiss cannot take); lone-label units drop."""
    from dbkit_spark.operators.agreement import krippendorff_alpha

    rows = [
        (1, "r1", "a"), (1, "r2", "a"), (1, "r3", "b"),
        (2, "r1", "a"), (2, "r2", "b"),            # r3 missing
        (3, "r2", "b"), (3, "r3", "b"),            # r1 missing
        (4, "r1", "a"),                              # lone label: excluded
    ]
    r = krippendorff_alpha(_labels(spark, rows), "u", "r", "c").collect()[0]
    assert r["n_units"] == 3 and r["n_values"] == 7
    # unit terms: u1 m=3 s2=5 -> (9-5)/2 = 2; u2 m=2 s2=2 -> (4-2)/1 = 2;
    # u3 m=2 s2=4 -> 0. D_o = 4/7. marginals (pairable): a=3, b=4 ->
    # D_e = (49-25)/(7*6) = 24/42
    d_o = 4.0 / 7.0
    d_e = 24.0 / 42.0
    assert r["d_o"] == round(d_o, 6) and r["d_e"] == round(d_e, 6)
    assert r["alpha"] == round(1.0 - d_o / d_e, 6)


# --- q425: jackknife ratio CI -----------------------------------------------------------


def test_jackknife_constant_ratio_zero_variance(spark):
    """y = x/2 in every row -> every leave-one-out theta is exactly 2
    -> se 0 and a degenerate CI at theta."""
    from dbkit_spark.operators.mlmetrics import jackknife_ratio_ci

    rows = [(i, float(2 * i + 2), float(i + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    r = jackknife_ratio_ci(df, "x", "y", "id", n_buckets=10).collect()[0]
    assert r["theta"] == 2.0
    assert r["se_jack"] == 0.0
    assert r["ci_lo"] == 2.0 and r["ci_hi"] == 2.0
    assert r["n_buckets"] == 10 and r["n_units"] == 200


def test_jackknife_theta_is_ratio_of_sums(spark):
    from dbkit_spark.operators.mlmetrics import jackknife_ratio_ci

    rows = [(1, 10.0, 2.0), (2, 30.0, 3.0), (3, 20.0, 5.0)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    r = jackknife_ratio_ci(df, "x", "y", "id", n_buckets=2).collect()[0]
    assert r["theta"] == 6.0  # 60 / 10
    assert r["ci_lo"] <= r["theta"] <= r["ci_hi"]


def test_jackknife_validation(spark):
    from dbkit_spark.operators.mlmetrics import jackknife_ratio_ci

    df = spark.createDataFrame([(1, 1.0, 1.0)], "id long, x double, y double")
    with pytest.raises(ValueError, match="n_buckets"):
        jackknife_ratio_ci(df, "x", "y", "id", n_buckets=1)
    with pytest.raises(ValueError, match="alpha"):
        jackknife_ratio_ci(df, "x", "y", "id", alpha=0.2)


# --- q426: Good-Turing ------------------------------------------------------------------


def test_good_turing_hand_case(spark):
    """Corpus 'a a b c': N=4, N1=2, N2=1 -> p0 = 0.5, r*=1 at r=1."""
    from dbkit_spark.llm.lm import good_turing_mass

    df = spark.createDataFrame([(1, "a a b c")], "doc_id long, text string")
    rows = {r["r"]: r for r in good_turing_mass(df).collect()}
    assert rows[0]["n_types"] is None and rows[0]["mass_frac"] == 0.5
    assert rows[1]["n_types"] == 2 and rows[1]["mass_frac"] == 0.5
    assert rows[1]["r_star"] == 1.0  # (1+1) * N2/N1 = 2 * 1/2
    assert rows[2]["n_types"] == 1 and rows[2]["mass_frac"] == 0.5
    assert rows[2]["r_star"] == 0.0  # N3 = 0
    assert rows[3]["n_types"] == 0 and rows[3]["mass_frac"] == 0.0
    assert rows[3]["r_star"] is None  # N_r = 0: no adjusted count


def test_good_turing_mass_conservation(spark):
    """When every type count is <= max_r, the observed masses at
    r = 1..max_r sum to exactly 1."""
    from dbkit_spark.llm.lm import good_turing_mass

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "d e e c b")], "doc_id long, text string"
    )
    rows = good_turing_mass(df, max_r=5).collect()
    total = sum(r["mass_frac"] for r in rows if r["r"] >= 1)
    assert abs(total - 1.0) < 1e-9


def test_good_turing_validation(spark):
    from dbkit_spark.llm.lm import good_turing_mass

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_r"):
        good_turing_mass(df, max_r=0)


# --- q423: code-quality filters ---------------------------------------------------------


def test_code_quality_hand_cases(spark):
    from dbkit_spark.llm.quality import code_quality_filters

    rows = [
        (1, "ab\ncdef\n"),                       # 3 lines (trailing empty)
        (2, "deadbeefdeadbeef1234 hello"),        # 20-char hex token
        (3, "x" * 1001),                          # over-long single line
        (4, ""),                                  # empty
        (5, "normal prose with words here"),
    ]
    out = {r["doc_id"]: r for r in
           code_quality_filters(_docs(spark, rows)).collect()}
    d1 = out[1]
    assert d1["n_lines"] == 3 and d1["max_line_len"] == 4
    assert d1["avg_line_len"] == 2.0  # (8 - 2) / 3
    d2 = out[2]
    assert d2["data_mass"] == round(20.0 / 26.0, 6)
    assert not d2["passes"]  # data mass > 0.5
    d3 = out[3]
    assert d3["max_line_len"] == 1001 and not d3["passes"]
    d4 = out[4]
    assert d4["alnum_frac"] is None and not d4["passes"]
    assert out[5]["passes"]


def test_code_quality_base64_and_avg_line(spark):
    from dbkit_spark.llm.quality import code_quality_filters

    b64 = "QWxhZGRpbjpvcGVuIHNlc2FtZUFsYWRkaW46b3BlbiBzZXNhbWU="  # 52 chars
    rows = [(1, b64), (2, "short\n" + "word " * 39)]  # line2 = 195 chars
    out = {r["doc_id"]: r for r in
           code_quality_filters(_docs(spark, rows)).collect()}
    assert out[1]["data_mass"] == 1.0 and not out[1]["passes"]
    # avg line length (5 + 195) / 2 = 100.0 -> at the threshold, passes
    assert out[2]["avg_line_len"] == 100.0 and out[2]["passes"]


# --- q427/q428: preference bias audits ----------------------------------------------


def test_lc_winrate_removes_pure_length_bias(spark):
    """A judge that ALWAYS picks the longer response: raw win rate
    follows length, the OLS fit attributes it all to length, and a
    planted length-balanced design keeps the intercept at the raw
    rate's balanced value."""
    from dbkit_spark.operators.preference import length_controlled_winrates

    # A wins exactly when longer; lengths symmetric around 0 diff ->
    # raw winrate 0.5, slope > 0, lc rate == 0.5 exactly (by symmetry
    # of the planted x and y = (x > 0))
    rows = []
    for d in (-20, -10, 10, 20):
        rows.append(("A", "B", d > 0, 100 + d, 100))
    df = spark.createDataFrame(
        rows, "item_a string, item_b string, win_a boolean, "
              "len_a int, len_b int")
    r = length_controlled_winrates(
        df, "item_a", "item_b", "win_a", "len_a", "len_b").collect()[0]
    assert r["winrate_a"] == 0.5
    assert r["length_bias_slope"] > 0
    assert r["lc_winrate_a"] == 0.5
    assert r["mean_len_diff"] == 0.0


def test_lc_winrate_no_variation_falls_back(spark):
    from dbkit_spark.operators.preference import length_controlled_winrates

    rows = [("A", "B", True, 50, 50), ("A", "B", True, 50, 50),
            ("A", "B", False, 50, 50), ("A", "B", True, 50, 50)]
    df = spark.createDataFrame(
        rows, "item_a string, item_b string, win_a boolean, "
              "len_a int, len_b int")
    r = length_controlled_winrates(
        df, "item_a", "item_b", "win_a", "len_a", "len_b").collect()[0]
    assert r["length_bias_slope"] is None
    assert r["lc_winrate_a"] == r["winrate_a"] == 0.75


def test_lc_winrate_hand_ols(spark):
    """Closed-form OLS replayed in-test."""
    from dbkit_spark.operators.preference import length_controlled_winrates

    data = [(10, 1), (20, 1), (-10, 0), (0, 1), (-20, 0)]
    rows = [("A", "B", bool(y), 100 + x, 100) for x, y in data]
    df = spark.createDataFrame(
        rows, "item_a string, item_b string, win_a boolean, "
              "len_a int, len_b int")
    r = length_controlled_winrates(
        df, "item_a", "item_b", "win_a", "len_a", "len_b").collect()[0]
    n = float(len(data))
    sx = float(sum(x for x, _ in data)); sy = float(sum(y for _, y in data))
    sxx = float(sum(x * x for x, _ in data))
    sxy = float(sum(x * y for x, y in data))
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    alpha = sy / n - beta * (sx / n)
    assert r["length_bias_slope"] == round(beta, 6)
    assert r["lc_winrate_a"] == round(alpha, 6)


def test_order_bias_detects_planted_bias(spark):
    from dbkit_spark.operators.preference import order_bias_audit

    # 90 first-wins / 10 second-wins: z = (0.9-0.5)/sqrt(0.25/100) = 8
    rows = [(True,)] * 90 + [(False,)] * 10
    df = spark.createDataFrame(rows, "first_wins boolean")
    r = order_bias_audit(df, "first_wins").collect()[0]
    assert r["n_matches"] == 100 and r["n_first_wins"] == 90
    assert r["first_win_rate"] == 0.9
    assert r["z"] == 8.0
    assert r["p_value"] < 1e-9 and r["biased"]


def test_order_bias_unbiased_accepts(spark):
    from dbkit_spark.operators.preference import order_bias_audit

    rows = [(True,)] * 52 + [(False,)] * 48
    df = spark.createDataFrame(rows, "first_wins boolean")
    r = order_bias_audit(df, "first_wins").collect()[0]
    assert not r["biased"]
    assert abs(r["z"]) < 1.0


# --- q429: propensity overlap ---------------------------------------------------------


def test_propensity_overlap_separated_arms(spark):
    """Fully separated propensities -> disjoint bins, min_share = 0
    everywhere; shares sum to 1 per arm."""
    from dbkit_spark.operators.mlmetrics import propensity_overlap

    rows = [(True, 3.0)] * 4 + [(False, -3.0)] * 6  # e ~ .953 / .047
    df = spark.createDataFrame(rows, "t boolean, lg double")
    out = propensity_overlap(df, "t", "lg").collect()
    assert all(r["min_share"] == 0.0 for r in out)
    assert sum(r["share_treat"] for r in out) == 1.0
    assert sum(r["share_control"] for r in out) == 1.0
    bins = {r["bin"]: r for r in out}
    assert bins[9]["n_treat"] == 4 and bins[9]["n_control"] == 0
    assert bins[0]["n_control"] == 6 and bins[0]["n_treat"] == 0


def test_propensity_overlap_identical_arms(spark):
    """Identical propensity in both arms -> overlap coefficient 1."""
    from dbkit_spark.operators.mlmetrics import propensity_overlap

    rows = [(True, 0.0), (False, 0.0), (True, 1.0), (False, 1.0)]
    df = spark.createDataFrame(rows, "t boolean, lg double")
    out = propensity_overlap(df, "t", "lg").collect()
    assert sum(r["min_share"] for r in out) == 1.0
    with pytest.raises(ValueError, match="n_bins"):
        propensity_overlap(df, "t", "lg", n_bins=1)


# --- q430: raking ----------------------------------------------------------------------


def test_rake_weights_matches_both_margins(spark):
    """After raking, weighted margins hit the declared targets (IPF
    converges geometrically; 5 alternations reach ~1e-6 here)."""
    from dbkit_spark.llm.sampling import rake_weights

    rows = ([("en", "web")] * 60 + [("en", "book")] * 20
            + [("fr", "web")] * 10 + [("fr", "book")] * 10)
    df = spark.createDataFrame(rows, "lang string, src string")
    out = rake_weights(
        df, "lang", "src", {"en": 0.5, "fr": 0.5},
        {"web": 0.5, "book": 0.5}).collect()
    share = {(r["lang"], r["src"]): r["raked_share"] for r in out}
    en = share[("en", "web")] + share[("en", "book")]
    web = share[("en", "web")] + share[("fr", "web")]
    assert abs(en - 0.5) < 1e-4 and abs(web - 0.5) < 1e-4
    assert abs(sum(share.values()) - 1.0) < 1e-4


def test_rake_weights_one_step_is_row_poststrat(spark):
    """With col targets equal to the OBSERVED col margin, raking
    reduces to row post-stratification: weight depends on row only."""
    from dbkit_spark.llm.sampling import rake_weights

    rows = ([("a", "x")] * 30 + [("a", "y")] * 30
            + [("b", "x")] * 20 + [("b", "y")] * 20)
    df = spark.createDataFrame(rows, "r string, c string")
    out = rake_weights(df, "r", "c", {"a": 0.8, "b": 0.2},
                       {"x": 0.5, "y": 0.5}).collect()
    w = {(r["r"], r["c"]): r["weight"] for r in out}
    assert abs(w[("a", "x")] - w[("a", "y")]) < 1e-9
    assert abs(w[("b", "x")] - w[("b", "y")]) < 1e-9
    # row a upweighted to 0.8 from 0.6: weight ~ 0.8/0.6
    assert abs(w[("a", "x")] - 0.8 / 0.6) < 1e-6


def test_rake_weights_validation_and_missing_label(spark):
    from dbkit_spark.llm.sampling import rake_weights

    df = spark.createDataFrame(
        [("a", "x"), ("b", "x")], "r string, c string")
    with pytest.raises(ValueError, match="sum to 1"):
        rake_weights(df, "r", "c", {"a": 0.5, "b": 0.4}, {"x": 1.0})
    with pytest.raises(ValueError, match="positive"):
        rake_weights(df, "r", "c", {"a": 1.5, "b": -0.5}, {"x": 1.0})
    with pytest.raises(ValueError, match="non-empty"):
        rake_weights(df, "r", "c", {}, {"x": 1.0})
    with pytest.raises(ValueError, match="iters"):
        rake_weights(df, "r", "c", {"a": 0.5, "b": 0.5}, {"x": 1.0},
                     iters=0)
    # cells without a target are DROPPED, not silently weighted
    out = rake_weights(df, "r", "c", {"a": 1.0}, {"x": 1.0}).collect()
    assert [r["r"] for r in out] == ["a"]


# --- q431: pass@k -----------------------------------------------------------------------


def test_pass_at_k_hand_cases(spark):
    """n=10, c=3: pass@5 = 1 - C(7,5)/C(10,5) = 1 - 21/252 = 11/12;
    pass@1 = 0.3; all-fail problems score 0; n-c < k forces exactly 1."""
    from dbkit_spark.operators.mlmetrics import pass_at_k

    rows = [(1, i < 3) for i in range(10)]
    df = spark.createDataFrame(rows, "prob long, ok boolean")
    out = {r["k"]: r for r in pass_at_k(df, "prob", "ok", ks=(1, 5)).collect()}
    assert out[1]["mean_pass_at_k"] == 0.3
    assert out[5]["mean_pass_at_k"] == round(1.0 - 21.0 / 252.0, 6)
    # all-fail
    df0 = spark.createDataFrame([(1, False)] * 6, "prob long, ok boolean")
    r = pass_at_k(df0, "prob", "ok", ks=(5,)).collect()[0]
    assert r["mean_pass_at_k"] == 0.0
    # n - c < k -> certain success in any k-subset
    df1 = spark.createDataFrame(
        [(1, True)] * 4 + [(1, False)] * 2, "prob long, ok boolean")
    r = pass_at_k(df1, "prob", "ok", ks=(3,)).collect()[0]
    assert r["mean_pass_at_k"] == 1.0


def test_pass_at_k_insufficient_attempts_excluded(spark):
    from dbkit_spark.operators.mlmetrics import pass_at_k

    rows = [(1, True)] * 2 + [(2, False)] * 10  # prob 1 has n=2 < k=5
    df = spark.createDataFrame(rows, "prob long, ok boolean")
    out = {r["k"]: r for r in pass_at_k(df, "prob", "ok", ks=(1, 5)).collect()}
    assert out[1]["n_problems"] == 2
    assert out[5]["n_problems"] == 1          # only prob 2 qualifies
    assert out[5]["mean_pass_at_k"] == 0.0    # and it never succeeds
    with pytest.raises(ValueError, match="ks"):
        pass_at_k(df, "prob", "ok", ks=(5, 1))
    with pytest.raises(ValueError, match="ks"):
        pass_at_k(df, "prob", "ok", ks=())


# --- q432: best-of-n expected max ---------------------------------------------------------


def test_best_of_n_hand_case_and_laws(spark):
    """n=3 scores {1,2,3}, k=2: weights 0, 1/3, 2/3 -> E = 8/3;
    k=1 reduces to the mean; constant scores return the constant at
    every k (weights sum to 1); E[max of k] is nondecreasing in k."""
    from dbkit_spark.operators.mlmetrics import best_of_n_value

    rows = [(1, 1.0, 10), (1, 2.0, 11), (1, 3.0, 12)]
    df = spark.createDataFrame(rows, "prob long, s double, tb long")
    out = {r["k"]: r for r in
           best_of_n_value(df, "prob", "s", "tb", ks=(1, 2, 3)).collect()}
    assert out[1]["mean_best_of_k"] == 2.0
    assert out[2]["mean_best_of_k"] == round(8.0 / 3.0, 6)
    assert out[3]["mean_best_of_k"] == 3.0  # max of all three
    assert (out[1]["mean_best_of_k"] <= out[2]["mean_best_of_k"]
            <= out[3]["mean_best_of_k"])
    const = spark.createDataFrame(
        [(1, 7.0, i) for i in range(6)], "prob long, s double, tb long")
    res = best_of_n_value(const, "prob", "s", "tb", ks=(1, 4)).collect()
    assert all(r["mean_best_of_k"] == 7.0 for r in res)


def test_best_of_n_insufficient_and_validation(spark):
    from dbkit_spark.operators.mlmetrics import best_of_n_value

    rows = [(1, 5.0, 1), (2, 1.0, 1), (2, 9.0, 2), (2, 2.0, 3)]
    df = spark.createDataFrame(rows, "prob long, s double, tb long")
    out = {r["k"]: r for r in
           best_of_n_value(df, "prob", "s", "tb", ks=(1, 3)).collect()}
    assert out[1]["n_problems"] == 2
    assert out[3]["n_problems"] == 1       # prob 1 has n=1 < 3
    assert out[3]["mean_best_of_k"] == 9.0  # max of prob 2's three
    with pytest.raises(ValueError, match="ks"):
        best_of_n_value(df, "prob", "s", "tb", ks=(0,))

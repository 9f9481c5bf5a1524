"""Round-15 regression tests: the four ADVICE r14 NULL/separator edge
fixes (friedman NULL-row rank shift, kendall_tau_b NULL scores,
wilcoxon all-tied zero reporting, literal split separators), plus
law/hand-case tests for the round-15 operators."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# --- ADVICE r14 fix: friedman NULL-value rows must not shift ranks -----------


def test_friedman_null_row_does_not_shift_ranks(spark):
    from dbkit_spark.operators.mlmetrics import friedman_test

    # item 0 has k=3 complete non-NULL values PLUS a stray NULL row for
    # system a (passes the non-NULL completeness filter); before the
    # fix the NULL sorted FIRST in the rank window and shifted every
    # rank in that item. Result must be identical to the frame without
    # the NULL row.
    clean = [(i, s, v + i) for i in range(6)
             for s, v in (("a", 1.0), ("b", 2.0), ("c", 3.0))]
    with_null = clean + [(0, "a", None)]
    df_clean = spark.createDataFrame(
        clean, "item long, sys string, v double")
    df_null = spark.createDataFrame(
        with_null, "item long, sys string, v double")
    out_c = {r["treatment"]: r
             for r in friedman_test(df_clean, "item", "sys", "v").collect()}
    out_n = {r["treatment"]: r
             for r in friedman_test(df_null, "item", "sys", "v").collect()}
    for t in ("a", "b", "c"):
        assert out_n[t]["rank_sum"] == out_c[t]["rank_sum"]
        assert out_n[t]["n_items"] == out_c[t]["n_items"]
        assert out_n[t]["chi2_f"] == out_c[t]["chi2_f"]


# --- ADVICE r14 fix: kendall_tau_b drops NULL-scored items listwise ----------


def test_kendall_null_scores_dropped_listwise(spark):
    from dbkit_spark.operators.preference import kendall_tau_b

    base = [("a", 1.0, 10.0), ("b", 2.0, 20.0), ("c", 3.0, 30.0),
            ("d", 4.0, 40.0)]
    items = spark.createDataFrame(
        base + [("e", 5.0, None), ("f", None, 60.0)],
        "item string, x double, y double",
    )
    r = kendall_tau_b(items, "x", "y").collect()[0]
    # the two NULL-scored items vanish before pairing: n_items=4,
    # n_pairs=C(4,2)=6, perfect concordance tau=1 (before the fix,
    # n_pairs counted the NULL pairs and tau_b was biased below 1)
    assert r["n_items"] == 4 and r["n_pairs"] == 6
    assert r["concordant"] == 6 and r["tau_b"] == 1.0


# --- ADVICE r14 fix: wilcoxon all-tied reports 0 pairs, not NULL -------------


def test_wilcoxon_all_tied_reports_zero_pairs(spark):
    from dbkit_spark.operators.mlmetrics import wilcoxon_signed_rank

    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 3.0)], "x double, y double")
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    assert r["n_pairs"] == 0 and r["n_zero"] == 3
    assert r["w_plus"] == 0.0 and r["w_minus"] == 0.0
    assert r["z"] is None and r["p_two_sided"] is None


# --- ADVICE r14 fix: split separators are literal strings --------------------


def test_c4_line_filters_literal_separator(spark):
    from dbkit_spark.llm.quality import c4_line_filters

    # '||' is a regex that matches the empty string — before the
    # re.escape fix it exploded the text into single characters.
    docs = spark.createDataFrame(
        [("d1", "This is a perfectly fine sentence one.||"
                "This is a perfectly fine sentence two.||"
                "This is a perfectly fine sentence three.")],
        "doc_id string, text string",
    )
    r = c4_line_filters(docs, line_sep="||").collect()[0]
    assert r["n_lines"] == 3 and r["n_kept"] == 3


def test_dup_segment_fractions_literal_separator(spark):
    from dbkit_spark.llm.quality import dup_segment_fractions

    # '.' as separator must split on the DOT, not on every character
    docs = spark.createDataFrame(
        [("d1", "alpha.beta.alpha.gamma")], "doc_id string, text string")
    r = dup_segment_fractions(
        docs, line_sep=".", para_sep=".").collect()[0]
    assert r["n_lines"] == 4
    # 'alpha' appears twice -> 2 of 4 segments duplicated
    assert r["dup_line_frac"] == 0.5


# --- Kendall's W -------------------------------------------------------------


def test_kendalls_w_perfect_agreement(spark):
    from dbkit_spark.operators.mlmetrics import kendalls_w

    # 3 judges rank 4 objects identically -> W = 1, chi2 = k(n-1) = 9
    rows = [(j, o, float(o)) for j in range(3) for o in range(1, 5)]
    df = spark.createDataFrame(rows, "judge long, obj long, v double")
    out = {r["object"]: r for r in kendalls_w(df, "judge", "obj", "v").collect()}
    assert out[1]["w"] == 1.0 and out[1]["chi2"] == 9.0
    assert out[1]["rank_sum"] == 3.0 and out[4]["rank_sum"] == 12.0
    assert out[1]["n_judges"] == 3 and out[1]["n_objects"] == 4


def test_kendalls_w_identical_scores_null(spark):
    from dbkit_spark.operators.mlmetrics import kendalls_w

    # every judge ties all objects -> tie term kills the denominator
    rows = [(j, o, 5.0) for j in range(3) for o in range(4)]
    df = spark.createDataFrame(rows, "judge long, obj long, v double")
    r = kendalls_w(df, "judge", "obj", "v").collect()[0]
    assert r["w"] is None and r["p_value"] is None


def test_kendalls_w_incomplete_judge_dropped(spark):
    from dbkit_spark.operators.mlmetrics import kendalls_w

    rows = [(j, o, float(o + j)) for j in range(2) for o in range(3)]
    rows.append((9, 0, 1.0))  # judge 9 rated only 1 of 3 objects
    df = spark.createDataFrame(rows, "judge long, obj long, v double")
    r = kendalls_w(df, "judge", "obj", "v").collect()[0]
    assert r["n_judges"] == 2 and r["n_incomplete"] == 1


# --- Page's trend ------------------------------------------------------------


def test_page_trend_perfect_increase(spark):
    import math

    from dbkit_spark.operators.mlmetrics import page_trend_test

    # 4 items, 3 treatments, values strictly increasing in the
    # hypothesized order: L = n*sum(j*j) = 56, E = 48, Var = 8
    rows = [(i, t, float(j + i)) for i in range(4)
            for j, t in enumerate(["a", "b", "c"])]
    df = spark.createDataFrame(rows, "item long, sys string, v double")
    r = page_trend_test(df, "item", "sys", "v", ["a", "b", "c"]).collect()[0]
    assert r["l_stat"] == 56.0 and r["mean_l"] == 48.0
    assert r["z"] == round(8.0 / math.sqrt(8.0), 6)
    assert r["p_one_sided"] < 0.005


def test_page_trend_unknown_treatment_dropped(spark):
    from dbkit_spark.operators.mlmetrics import page_trend_test

    rows = [(i, t, float(j)) for i in range(3)
            for j, t in enumerate(["a", "b", "zzz"])]
    df = spark.createDataFrame(rows, "item long, sys string, v double")
    # 'zzz' not in order -> items complete over (a, b) only; k = 3
    # including 'c' which nobody scored -> all items incomplete
    r = page_trend_test(df, "item", "sys", "v", ["a", "b", "c"]).collect()[0]
    assert r["n_items"] == 0 and r["n_incomplete"] == 3


# --- Jonckheere-Terpstra -----------------------------------------------------


def test_jonckheere_hand_case(spark):
    import math

    from dbkit_spark.operators.mlmetrics import jonckheere_terpstra

    # A=[1,2], B=[3,4]: J = 4, E = 2, tie-free Var = 120/72
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)],
        "g string, v double",
    )
    r = jonckheere_terpstra(df, "g", "v", ["A", "B"]).collect()[0]
    assert r["jt_stat"] == 4.0 and r["mean_jt"] == 2.0
    assert abs(r["var_jt"] - 120.0 / 72.0) < 1e-6
    assert r["z"] == round(2.0 / math.sqrt(120.0 / 72.0), 6)


def test_jonckheere_ties_half_credit(spark):
    from dbkit_spark.operators.mlmetrics import jonckheere_terpstra

    # A=[1,2], B=[2,3]: pairs (1<2)+(1<3)+(2=2 half)+(2<3) = 3.5
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 3.0)],
        "g string, v double",
    )
    r = jonckheere_terpstra(df, "g", "v", ["A", "B"]).collect()[0]
    assert r["jt_stat"] == 3.5


def test_jonckheere_three_groups(spark):
    from dbkit_spark.operators.mlmetrics import jonckheere_terpstra

    # A=[1], B=[2], C=[3]: U_AB + U_AC + U_BC = 3
    df = spark.createDataFrame(
        [("A", 1.0), ("B", 2.0), ("C", 3.0)], "g string, v double")
    r = jonckheere_terpstra(df, "g", "v", ["A", "B", "C"]).collect()[0]
    assert r["jt_stat"] == 3.0 and r["k_groups"] == 3


# --- ICC ---------------------------------------------------------------------


def test_icc_oneway_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import icc_oneway

    # items (1,2) and (3,4): MSB = 4, MSW = 0.5, k0 = 2
    df = spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 3.0), (2, 4.0)], "item long, v double")
    r = icc_oneway(df, "item", "v").collect()[0]
    assert r["msb"] == 4.0 and r["msw"] == 0.5 and r["k0"] == 2.0
    assert r["icc1"] == round(3.5 / 4.5, 6)
    assert r["icc1k"] == round(3.5 / 4.0, 6)
    assert r["f_stat"] == 8.0


def test_icc_oneway_degenerate(spark):
    from dbkit_spark.operators.mlmetrics import icc_oneway

    # one rating per item -> N == n -> everything past counts NULL
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0)], "item long, v double")
    r = icc_oneway(df, "item", "v").collect()[0]
    assert r["n_items"] == 2 and r["n_total"] == 2
    assert r["msb"] is None and r["icc1"] is None


# --- edit distance battery ---------------------------------------------------


def _pairs15(spark, rows):
    return spark.createDataFrame(
        rows, "pair_id long, cand string, ref string")


def test_edit_distance_hand_case(spark):
    from dbkit_spark.llm.texteval import edit_distance_pairs

    out = {r["pair_id"]: r for r in edit_distance_pairs(_pairs15(spark, [
        (1, "kitten", "sitting"),
        (2, "Same  Text", "same text"),  # normalization: lower + ws
        (3, "", ""),
        (4, "abc", ""),
    ])).collect()}
    assert out[1]["edit_dist"] == 3
    assert out[1]["cer"] == round(3 / 7, 6)
    assert out[1]["norm_sim"] == round(1 - 3 / 7, 6)
    assert out[2]["edit_dist"] == 0 and out[2]["norm_sim"] == 1.0
    assert out[3]["edit_dist"] == 0 and out[3]["cer"] == 0.0
    assert out[3]["norm_sim"] == 1.0
    assert out[4]["cer"] is None and out[4]["norm_sim"] == 0.0


# --- word error rate ---------------------------------------------------------


def _py_lev(a, b):
    # reference implementation: classic O(nm) DP, substitutions allowed
    n, m = len(a), len(b)
    prev = list(range(m + 1))
    for i in range(1, n + 1):
        cur = [i] + [0] * m
        for j in range(1, m + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[m]


def _py_indel(a, b):
    n, m = len(a), len(b)
    prev = list(range(m + 1))
    for i in range(1, n + 1):
        cur = [i] + [0] * m
        for j in range(1, m + 1):
            best = min(prev[j] + 1, cur[j - 1] + 1)
            if a[i - 1] == b[j - 1]:
                best = min(best, prev[j - 1])
            cur[j] = best
        prev = cur
    return prev[m]


def test_wer_hand_and_random_cross_check(spark):
    import random

    from dbkit_spark.llm.texteval import word_error_rate

    rng = random.Random(15)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    rows = [
        (1, "the cat sat", "the cat sat"),        # 0 edits
        (2, "the cat sat", "the dog sat"),        # 1 sub
        (3, "", "a b c"),                         # all inserts
        (4, "a b c", ""),                         # ref empty -> wer NULL
        (5, "", ""),
    ]
    for i in range(6, 26):
        c = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
        r = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12)))
        rows.append((i, c, r))
    out = {r["pair_id"]: r
           for r in word_error_rate(_pairs15(spark, rows)).collect()}
    assert out[1]["word_dist"] == 0 and out[1]["wer"] == 0.0
    assert out[2]["word_dist"] == 1 and out[2]["wer"] == round(1 / 3, 6)
    assert out[3]["word_dist"] == 3
    assert out[4]["wer"] is None and out[4]["word_dist"] == 3
    assert out[5]["word_dist"] == 0 and out[5]["wer"] == 0.0
    for pid, c, r in rows:
        a = [t for t in c.lower().split() if t]
        b = [t for t in r.lower().split() if t]
        assert out[pid]["word_dist"] == _py_lev(a, b), (pid, c, r)


# --- ROUGE-L -----------------------------------------------------------------


def test_rouge_l_hand_and_random_cross_check(spark):
    import random

    from dbkit_spark.llm.texteval import rouge_l

    rng = random.Random(16)
    vocab = ["w1", "w2", "w3", "w4"]
    rows = [
        (1, "the cat sat down", "the cat sat down"),   # identity
        (2, "aa bb cc", "dd ee ff"),                   # disjoint
        (3, "aa cc", "aa bb cc"),                      # subsequence
        (4, "", ""),
        (5, "", "x y"),
    ]
    for i in range(6, 26):
        c = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10)))
        r = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10)))
        rows.append((i, c, r))
    out = {r["pair_id"]: r for r in rouge_l(_pairs15(spark, rows)).collect()}
    assert out[1]["lcs"] == 4 and out[1]["rouge_l_f"] == 1.0
    assert out[2]["lcs"] == 0 and out[2]["rouge_l_f"] == 0.0
    assert out[3]["lcs"] == 2  # subsequence -> len(shorter)
    assert out[4]["rouge_l_f"] == 1.0
    assert out[5]["rouge_l_f"] == 0.0
    for pid, c, r in rows:
        a, b = c.split(), r.split()
        lcs = (len(a) + len(b) - _py_indel(a, b)) // 2
        assert out[pid]["lcs"] == lcs, (pid, c, r)


def test_rouge_l_bounded_by_unigram_overlap(spark):
    # LCS is an in-order matching, so it can never exceed the multiset
    # unigram overlap token_f1 counts
    from dbkit_spark.llm.texteval import rouge_l, token_f1

    rows = [(i, f"a b c d e {'x ' * (i % 4)}", "c a b e")
            for i in range(1, 9)]
    lc = {r["pair_id"]: r["lcs"]
          for r in rouge_l(_pairs15(spark, rows)).collect()}
    ov = {r["pair_id"]: r["overlap"]
          for r in token_f1(_pairs15(spark, rows)).collect()}
    for pid in lc:
        assert lc[pid] <= ov[pid]


# --- chrF++ ------------------------------------------------------------------


def test_chrf_pp_identity_and_disjoint(spark):
    from dbkit_spark.llm.texteval import chrf_pp

    out = {r["pair_id"]: r for r in chrf_pp(_pairs15(spark, [
        (1, "The quick brown fox", "The quick brown fox"),
        (2, "aaaa bbbb", "cccc dddd"),
        (3, "", ""),
        (4, "", "something"),
    ])).collect()}
    assert out[1]["chrf_pp"] == 1.0 and out[1]["chr_p"] == 1.0
    assert out[2]["chrf_pp"] == 0.0
    assert out[3]["chrf_pp"] == 1.0
    assert out[4]["chrf_pp"] == 0.0


def test_chrf_pp_hand_case(spark):
    from dbkit_spark.llm.texteval import chrf_pp

    # cand "ab", ref "ab cd": stripped chars "ab" vs "abcd"
    # char orders 1..6: cand has grams for n=1 ("a","b": 2), n=2
    # ("ab": 1); ref for n=1..4. word order 1: overlap 1 of 1; word
    # order 2: cand has 0 bigrams (skipped for P), ref has 1 (counts
    # for R).
    # P orders: c1 2/2=1, c2 1/1=1, w1 1/1=1 -> chrP = 1
    # R orders: c1 2/4, c2 1/3, c3 0/2, c4 0/1, w1 1/2, w2 0/1
    #   -> chrR = (0.5 + 1/3 + 0 + 0 + 0.5 + 0)/6
    r = chrf_pp(_pairs15(spark, [(1, "ab", "ab cd")])).collect()[0]
    assert r["chr_p"] == 1.0
    exp_r = (0.5 + round(1 / 3, 9) + 0.5) / 6
    assert abs(r["chr_r"] - exp_r) < 1e-6
    b2 = 4.0
    exp_f = (1 + b2) * 1.0 * exp_r / (b2 * 1.0 + exp_r)
    assert abs(r["chrf_pp"] - exp_f) < 1e-6


# --- detokenized BLEU --------------------------------------------------------


def test_bleu_ws_tokenizer_case_sensitive(spark):
    from dbkit_spark.llm.texteval import bleu_corpus

    # norm tokenizer: case folds -> perfect BLEU; ws tokenizer: "The"
    # != "the" and punctuation stays attached -> imperfect
    rows = [(1, "The cat sat.", "the cat sat")]
    norm = bleu_corpus(_pairs15(spark, rows), max_n=2).collect()
    ws = bleu_corpus(_pairs15(spark, rows), max_n=2,
                     tokenizer="ws").collect()
    assert all(r["bleu"] == 1.0 for r in norm)
    assert all(r["bleu"] < 1.0 for r in ws)
    # unigram row under ws: "cat" is the only shared token of 3
    u = {r["n"]: r for r in ws}
    assert u[1]["clipped"] == 1 and u[1]["total"] == 3


# --- q465 curation DAG composed-plan gate ------------------------------------


def test_curation_dag_plan_shape(spark):
    """The composed filter->dedup->mix->pack->eval DAG must stay
    doc/text/source/lang-keyed: no SinglePartition exchange anywhere
    (the q84 discipline — packing is sharded), no nested-loop join,
    and the exchange count stays bounded (each stage adds at most two
    hash exchanges; a regression that re-keys per stage would blow
    past it)."""
    from dbkit_spark.catalog import load_all

    fn = load_all()["q465_curation_dag"].fn
    df = fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    n_hash = plan.count("Exchange hashpartitioning")
    assert n_hash <= 10, f"composed DAG re-keying regression: {n_hash}"


# --- KS two-sample -----------------------------------------------------------


def test_ks_disjoint_and_identical(spark):
    from dbkit_spark.operators.mlmetrics import ks_two_sample

    rows = [("A", float(v)) for v in (1, 2, 3, 4)] + [
        ("B", float(v)) for v in (5, 6, 7, 8)]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ks_two_sample(df, "g", "v", "A", "B").collect()[0]
    assert r["d_stat"] == 1.0 and r["n_a"] == 4 and r["n_b"] == 4
    assert r["p_value"] < 0.05
    same = spark.createDataFrame(
        [("A", float(v)) for v in (1, 2, 3)] +
        [("B", float(v)) for v in (1, 2, 3)], "g string, v double")
    r2 = ks_two_sample(same, "g", "v", "A", "B").collect()[0]
    assert r2["d_stat"] == 0.0 and r2["p_value"] == 1.0


def test_ks_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import ks_two_sample

    # A=[1,2], B=[2,3]: gaps at 1: .5; at 2: 1-.5=.5; at 3: 0 -> D=.5
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 2.0), ("B", 3.0)],
        "g string, v double")
    r = ks_two_sample(df, "g", "v", "A", "B").collect()[0]
    assert r["d_stat"] == 0.5


# --- CvM two-sample ----------------------------------------------------------


def test_cvm_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import cvm_two_sample

    # A=[1,2], B=[3,4]: sum w*gap^2 = .25+1+.25+0 = 1.5; T = .25*1.5
    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 3.0), ("B", 4.0)],
        "g string, v double")
    r = cvm_two_sample(df, "g", "v", "A", "B").collect()[0]
    assert r["t_stat"] == 0.375


# --- Levene / Brown-Forsythe -------------------------------------------------


def test_levene_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import levene_test

    # A=[0,2,4] (z=[2,0,2]), B=[0,6,12] (z=[6,0,6]) -> W = 1.6
    df = spark.createDataFrame(
        [("A", 0.0), ("A", 2.0), ("A", 4.0),
         ("B", 0.0), ("B", 6.0), ("B", 12.0)], "g string, v double")
    r = levene_test(df, "g", "v").collect()[0]
    assert r["k_groups"] == 2 and r["n_total"] == 6
    assert r["w_stat"] == 1.6 and r["dof1"] == 1 and r["dof2"] == 4


def test_levene_zero_spread_null(spark):
    from dbkit_spark.operators.mlmetrics import levene_test

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 3.0), ("B", 2.0), ("B", 6.0)],
        "g string, v double")
    # |x - median| constant within each group -> ssw = 0 -> NULL
    assert levene_test(df, "g", "v").collect()[0]["w_stat"] is None


# --- Bartlett ----------------------------------------------------------------


def test_bartlett_equal_variances(spark):
    from dbkit_spark.operators.mlmetrics import bartlett_test

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("A", 3.0),
         ("B", 4.0), ("B", 5.0), ("B", 6.0)], "g string, v double")
    r = bartlett_test(df, "g", "v").collect()[0]
    assert r["t_stat"] == 0.0 and r["p_value"] > 0.5
    assert r["n_excluded"] == 0


def test_bartlett_degenerate_group_excluded(spark):
    from dbkit_spark.operators.mlmetrics import bartlett_test

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("B", 5.0),  # B has one rating
         ("C", 7.0), ("C", 7.0)],             # C zero variance
        "g string, v double")
    r = bartlett_test(df, "g", "v").collect()[0]
    assert r["n_excluded"] == 2 and r["k_groups"] == 1
    assert r["t_stat"] is None and r["p_value"] is None


# --- one-way ANOVA -----------------------------------------------------------


def test_anova_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import anova_oneway

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0), ("A", 3.0),
         ("B", 4.0), ("B", 5.0), ("B", 6.0)], "g string, v double")
    r = anova_oneway(df, "g", "v").collect()[0]
    # SSB = 13.5, SSW = 4 -> MSB = 13.5, MSW = 1 (raw SS not emitted:
    # scale-free contract, see operator docstring)
    assert r["f_stat"] == 13.5
    assert r["eta_sq"] == round(13.5 / 17.5, 6)


def test_anova_single_group_null(spark):
    from dbkit_spark.operators.mlmetrics import anova_oneway

    df = spark.createDataFrame(
        [("A", 1.0), ("A", 2.0)], "g string, v double")
    r = anova_oneway(df, "g", "v").collect()[0]
    assert r["f_stat"] is None and r["k_groups"] == 1

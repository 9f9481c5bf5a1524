"""Law/hand-case tests for the round-14 operators (generation-eval
metrics, C4/Gopher segment rules, ECE, MAUVE frontier, Heaps fit,
factorial interaction, Kendall tau-b). Oracle parity for q433-q446
is swept by tests/test_oracle.py; these pin
the operator-level semantics on hand-built frames."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "pair_id long, cand string, ref string"
    )


# --- token_f1 ----------------------------------------------------------------


def test_token_f1_hand_case(spark):
    from dbkit_spark.llm.texteval import token_f1

    # cand "a b b c", ref "a b d": overlap = a(1) + b(1) = 2
    out = token_f1(_pairs(spark, [(1, "a b b c", "a b d")])).collect()[0]
    assert out["n_cand"] == 4 and out["n_ref"] == 3
    assert out["overlap"] == 2
    assert out["precision"] == round(2 / 4, 6)
    assert out["recall"] == round(2 / 3, 6)
    assert out["f1"] == round(4 / 7, 6)
    assert out["exact_match"] == 0


def test_token_f1_identity_and_empty(spark):
    from dbkit_spark.llm.texteval import token_f1

    rows = {
        r["pair_id"]: r
        for r in token_f1(
            _pairs(
                spark,
                [
                    (1, "The  cat.", "the cat"),  # normalization match
                    (2, "", ""),  # both empty -> vacuous 1
                    (3, "", "xyz"),  # one empty -> 0
                ],
            )
        ).collect()
    }
    assert rows[1]["exact_match"] == 1 and rows[1]["f1"] == 1.0
    assert rows[2]["f1"] == 1.0 and rows[2]["exact_match"] == 1
    assert rows[3]["f1"] == 0.0 and rows[3]["precision"] == 0.0


# --- clipping / BLEU ----------------------------------------------------------


def test_bleu_clipping_hand_case(spark):
    from dbkit_spark.llm.texteval import bleu_corpus

    # Papineni's clipping example: cand all-"the" vs ref with two "the"
    out = bleu_corpus(
        _pairs(spark, [(1, "the the the the the the the", "the cat the mat")]),
        max_n=1,
    ).collect()[0]
    assert out["clipped"] == 2 and out["total"] == 7
    assert out["p_n"] == round(2 / 7, 6)


def test_bleu_perfect_match_is_one(spark):
    from dbkit_spark.llm.texteval import bleu_corpus

    rows = bleu_corpus(
        _pairs(
            spark,
            [(1, "a b c d e", "a b c d e"), (2, "f g h i j", "f g h i j")],
        )
    ).collect()
    assert all(r["p_n"] == 1.0 for r in rows)
    assert rows[0]["bp"] == 1.0 and rows[0]["bleu"] == 1.0


def test_bleu_brevity_penalty_and_zero_order(spark):
    from dbkit_spark.llm.texteval import bleu_corpus

    # cand shorter than ref -> BP = e^(1 - r/c); a zero p_n pins bleu=0
    rows = bleu_corpus(
        _pairs(spark, [(1, "a b", "a b c d")]), max_n=2
    ).collect()
    byn = {r["n"]: r for r in rows}
    assert byn[1]["c_len"] == 2 and byn[1]["r_len"] == 4
    assert byn[1]["bp"] == round(math.exp(1 - 4 / 2), 6)
    assert byn[2]["p_n"] == 1.0  # "a b" bigram present in ref
    assert byn[1]["p_n"] == 1.0
    assert byn[1]["bleu"] == round(math.exp(1 - 4 / 2) * 1.0, 6)
    zero = bleu_corpus(
        _pairs(spark, [(1, "x y", "a b c d")]), max_n=1
    ).collect()[0]
    assert zero["p_n"] == 0.0 and zero["bleu"] == 0.0


# --- ROUGE ---------------------------------------------------------------------


def test_rouge_hand_case(spark):
    from dbkit_spark.llm.texteval import rouge_n

    # Lin's convention: recall over reference grams
    rows = rouge_n(
        _pairs(spark, [(1, "the cat sat", "the cat sat on the mat")]),
        ns=(1, 2),
    ).collect()
    byn = {r["n"]: r for r in rows}
    assert byn[1]["overlap"] == 3 and byn[1]["ref_grams"] == 6
    assert byn[1]["recall"] == 0.5 and byn[1]["precision"] == 1.0
    assert byn[2]["overlap"] == 2 and byn[2]["ref_grams"] == 5
    assert byn[2]["f1"] == round(2 * 2 / (2 + 5), 6)


def test_rouge_empty_side_degrades(spark):
    from dbkit_spark.llm.texteval import rouge_n

    rows = rouge_n(_pairs(spark, [(1, "a", "a b")]), ns=(2,)).collect()
    # cand has no bigrams -> precision NULL, f1 from totals
    assert rows[0]["cand_grams"] == 0
    assert rows[0]["precision"] is None
    assert rows[0]["f1"] == 0.0


# --- chrF ----------------------------------------------------------------------


def test_chrf_identity_and_disjoint(spark):
    from dbkit_spark.llm.texteval import chrf_score

    rows = {
        r["pair_id"]: r
        for r in chrf_score(
            _pairs(
                spark,
                [(1, "abcdef", "abc def"), (2, "aaaa", "zzzz")],
            )
        ).collect()
    }
    # whitespace-stripped identical -> P = R = F = 1
    assert rows[1]["chr_p"] == 1.0
    assert rows[1]["chr_r"] == 1.0
    assert rows[1]["chrf"] == 1.0
    # disjoint alphabets -> all zero
    assert rows[2]["chrf"] == 0.0


def test_chrf_beta_weighting_recall(spark):
    from dbkit_spark.llm.texteval import chrf_score

    # chrF with beta=2 weights recall 4x: verify against the closed form
    r = chrf_score(_pairs(spark, [(1, "abcd", "abcdefgh")])).collect()[0]
    p, rr = r["chr_p"], r["chr_r"]
    assert 0 < rr < p <= 1.0
    expect = 5 * p * rr / (4 * p + rr)
    assert abs(r["chrf"] - expect) < 2e-6


# --- distinct-n ------------------------------------------------------------------


def test_distinct_n_laws(spark):
    from dbkit_spark.llm.texteval import distinct_n

    docs = spark.createDataFrame(
        [(1, "a b a b", "s1"), (2, "a b a b", "s1"), (3, "c d e f", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["source"], r["n"]): r for r in distinct_n(docs).collect()
    }
    # s1: 8 unigrams, 2 distinct; s2: 4 unigrams, 4 distinct (ratio 1)
    assert rows[("s1", 1)]["total_grams"] == 8
    assert rows[("s1", 1)]["distinct_grams"] == 2
    assert rows[("s2", 1)]["distinct_ratio"] == 1.0
    assert rows[("s2", 3)]["distinct_ratio"] == 1.0


# --- pooled self-BLEU -------------------------------------------------------------


def test_self_bleu_pool_laws(spark):
    from dbkit_spark.llm.texteval import self_bleu_pool

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["n"]): r for r in self_bleu_pool(docs).collect()
    }
    # docs 1/2 are clones: every gram of each exists once elsewhere -> p=1
    assert rows[(1, 1)]["self_p"] == 1.0 and rows[(2, 2)]["self_p"] == 1.0
    # doc 3 is unique: nothing in the pool minus itself -> p=0
    assert rows[(3, 1)]["self_p"] == 0.0 and rows[(3, 3)]["self_p"] == 0.0


# --- C4 line filters ---------------------------------------------------------------


def test_c4_line_filters_hand_case(spark):
    from dbkit_spark.llm.quality import c4_line_filters

    text = "\n".join(
        [
            "this line has enough words to pass.",  # keep
            "too short.",  # < 5 words
            "no terminal punctuation here at all",  # no punct
            "the javascript menu needs five words.",  # javascript
            'a quoted sentence with five words."',  # keep (quote after punct)
            "another perfectly good line stays here.",  # keep
        ]
    )
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = c4_line_filters(docs).collect()[0]
    assert r["n_lines"] == 6 and r["n_kept"] == 3
    assert r["page_pass"] is True
    kept = r["clean_text"].split("\n")
    assert kept == [
        "this line has enough words to pass.",
        'a quoted sentence with five words."',
        "another perfectly good line stays here.",
    ]
    assert r["kept_chars"] == sum(len(line) for line in kept)


def test_c4_page_rules(spark):
    from dbkit_spark.llm.quality import c4_line_filters

    good = "one fine line that counts here."
    rows = {
        r["doc_id"]: r
        for r in c4_line_filters(
            spark.createDataFrame(
                [
                    (1, "\n".join([good] * 3)),  # 3 kept -> pass
                    (2, "\n".join([good] * 2)),  # 2 kept -> fail
                    (3, "\n".join([good] * 3) + "\nvar x = {1};"),  # brace
                    (4, "\n".join([good] * 3) + "\nLorem Ipsum dolor."),
                ],
                "doc_id long, text string",
            )
        ).collect()
    }
    assert rows[1]["page_pass"] is True
    assert rows[2]["page_pass"] is False
    assert rows[3]["has_brace"] is True and rows[3]["page_pass"] is False
    assert rows[4]["has_lorem"] is True and rows[4]["page_pass"] is False


def test_c4_validation(spark):
    from dbkit_spark.llm.quality import c4_line_filters

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        c4_line_filters(docs, min_line_words=0)


# --- Gopher dup segment fractions ----------------------------------------------------


def test_dup_segment_fractions_hand_case(spark):
    from dbkit_spark.llm.quality import dup_segment_fractions

    # 4 lines, "dup" twice -> dup_line_frac = 2/4; chars: dup=3*2=6 of
    # 3+3+5+7=18; paragraphs: 2, distinct -> 0
    text = "dup\ndup\nlong1\n\nlonger2"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = dup_segment_fractions(docs).collect()[0]
    assert r["n_lines"] == 4
    assert r["dup_line_frac"] == 0.5
    assert r["dup_line_char_frac"] == round(6 / 18, 6)
    assert r["n_paras"] == 2 and r["dup_para_frac"] == 0.0
    assert r["rule_dup_line"] is False  # 0.5 > 0.30
    assert r["passes"] is False


def test_dup_segment_all_distinct_passes(spark):
    from dbkit_spark.llm.quality import dup_segment_fractions

    docs = spark.createDataFrame(
        [(1, "alpha\nbeta\n\ngamma\ndelta")], "doc_id long, text string"
    )
    r = dup_segment_fractions(docs).collect()[0]
    assert r["dup_line_frac"] == 0.0 and r["dup_para_frac"] == 0.0
    assert r["passes"] is True


def test_dup_segment_empty_doc_vacuous(spark):
    from dbkit_spark.llm.quality import dup_segment_fractions

    r = dup_segment_fractions(
        spark.createDataFrame([(1, "")], "doc_id long, text string")
    ).collect()[0]
    assert r["n_lines"] == 0 and r["dup_line_frac"] == 0.0
    assert r["passes"] is True


# --- ECE -----------------------------------------------------------------------------


def test_ece_perfectly_calibrated_zero(spark):
    from dbkit_spark.operators.mlmetrics import ece_report

    # per bin, frac_pos == mean_prob exactly: prob p in {0.25, 0.75},
    # labels arranged so accuracy matches
    rows = []
    for i in range(100):
        rows.append((1 if i % 4 == 0 else 0, 0.25))  # 25% positive
        rows.append((1 if i % 4 != 0 else 0, 0.75))  # 75% positive
    df = spark.createDataFrame(rows, "label int, prob double")
    out = {r["scheme"]: r for r in ece_report(df, "label", "prob").collect()}
    assert out["width"]["ece"] == 0.0 and out["width"]["mce"] == 0.0
    assert out["mass"]["ece"] == 0.0


def test_ece_maximally_miscalibrated(spark):
    from dbkit_spark.operators.mlmetrics import ece_report

    # all prob 0.95, all labels 0 -> gap 0.95 in the one occupied bin
    df = spark.createDataFrame(
        [(0, 0.95)] * 50, "label int, prob double"
    )
    out = {r["scheme"]: r for r in ece_report(df, "label", "prob").collect()}
    assert out["width"]["ece"] == 0.95 and out["width"]["mce"] == 0.95
    assert out["width"]["n_bins_used"] == 1


def test_ece_validation(spark):
    from dbkit_spark.operators.mlmetrics import ece_report

    df = spark.createDataFrame([(0, 0.5)], "label int, prob double")
    with pytest.raises(ValueError):
        ece_report(df, "label", "prob", n_bins=1)


# --- MAUVE frontier -----------------------------------------------------------------


def test_mauve_identical_corpora_auc_near_one(spark):
    from dbkit_spark.operators.drift import mauve_frontier

    df = spark.createDataFrame(
        [(i, i % 4) for i in range(200)], "vec_id long, label int"
    )
    out = mauve_frontier(df, df, "label").collect()
    # P == Q -> every KL is 0, frontier pinned at (1, 1), area = 1
    assert all(r["kl_p_mix"] == 0.0 and r["kl_q_mix"] == 0.0 for r in out)
    assert all(r["x"] == 1.0 and r["y"] == 1.0 for r in out)
    # one degenerate point -> trapezoid area collapses to 0 width: the
    # frontier_auc of a single point is 0 by the fold's empty-sum rule
    assert out[0]["frontier_auc"] == 0.0


def test_mauve_disjoint_supports_kl_grows(spark):
    from dbkit_spark.operators.drift import mauve_frontier

    p = spark.createDataFrame(
        [(i, 0) for i in range(100)], "vec_id long, label int"
    )
    q = spark.createDataFrame(
        [(i, 1) for i in range(100)], "vec_id long, label int"
    )
    out = mauve_frontier(p, q, "label").collect()
    lams = [r["lam"] for r in out]
    assert lams == sorted(lams)
    # disjoint supports: KL(P||R_lam) = -ln(lam), KL(Q||R) = -ln(1-lam)
    for r in out:
        assert abs(r["kl_p_mix"] - round(-math.log(r["lam"]), 6)) < 2e-6
        assert abs(r["kl_q_mix"] - round(-math.log(1 - r["lam"]), 6)) < 2e-6
    assert out[0]["n_cells"] == 2


def test_mauve_validation(spark):
    from dbkit_spark.operators.drift import mauve_frontier

    df = spark.createDataFrame([(1, 0)], "vec_id long, label int")
    with pytest.raises(ValueError):
        mauve_frontier(df, df, "label", n_lambdas=2)


# --- Heaps fit -----------------------------------------------------------------------


def test_heaps_exact_power_law(spark):
    from dbkit_spark.llm.quality import heaps_law_fit

    # construct docs whose cumulative curve is EXACTLY V = n^0.5 at
    # every checkpoint: doc i adds t_i tokens, v_i new types, with
    # n_cum = (10i)^2 and V_cum = 10i -> beta = 0.5, ln_k = 0, r2 = 1
    rows = []
    prev_n = 0
    prev_v = 0
    for i in range(1, 11):
        n_cum, v_cum = (10 * i) ** 2, 10 * i
        add_types = [f"t{prev_v + j}" for j in range(v_cum - prev_v)]
        filler_count = (n_cum - prev_n) - len(add_types)
        toks = add_types + ["t0"] * filler_count
        rows.append((i, " ".join(toks)))
        prev_n, prev_v = n_cum, v_cum
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = heaps_law_fit(docs, checkpoints=10).collect()
    assert out[-1]["n_tokens_cum"] == 10000 and out[-1]["vocab_cum"] == 100
    assert abs(out[0]["beta"] - 0.5) < 1e-5
    assert abs(out[0]["ln_k"]) < 1e-5
    assert abs(out[0]["r2"] - 1.0) < 1e-5


def test_heaps_degenerate_vocab_null_fit(spark):
    from dbkit_spark.llm.quality import heaps_law_fit

    # constant vocabulary (every doc the same token) -> den_y = 0 ->
    # r2 NULL; beta = 0 (flat line fits exactly)
    docs = spark.createDataFrame(
        [(i, "same same same") for i in range(1, 9)],
        "doc_id long, text string",
    )
    out = heaps_law_fit(docs, checkpoints=4).collect()
    assert out[-1]["vocab_cum"] == 1
    assert out[0]["beta"] == 0.0
    assert out[0]["r2"] is None


def test_heaps_validation(spark):
    from dbkit_spark.llm.quality import heaps_law_fit

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        heaps_law_fit(docs, checkpoints=1)


# --- factorial interaction -------------------------------------------------------------


def test_factorial_pure_interaction(spark):
    from dbkit_spark.operators.mlmetrics import factorial_interaction

    # means: m00=0, m01=0, m10=0, m11=1 -> effects a,b = 0.5, g = 1
    rows = []
    for a in (0, 1):
        for b in (0, 1):
            base = 1.0 if (a and b) else 0.0
            # two units per cell with +/- 0.1 noise -> variance > 0
            rows.append((a, b, base + 0.1))
            rows.append((a, b, base - 0.1))
    df = spark.createDataFrame(rows, "fa int, fb int, metric double")
    r = factorial_interaction(df, "fa", "fb", "metric").collect()[0]
    assert r["mean_11"] == 1.0 and r["mean_00"] == 0.0
    assert r["effect_a"] == 0.5 and r["effect_b"] == 0.5
    assert r["interaction"] == 1.0
    # each cell var = 0.02, se^2 = 4 * 0.02/2 = 0.04 -> se = 0.2, z = 5
    assert r["se_interaction"] == 0.2
    assert r["z_interaction"] == 5.0
    assert r["p_interaction"] < 1e-5


def test_factorial_no_interaction_additive(spark):
    from dbkit_spark.operators.mlmetrics import factorial_interaction

    # additive effects: y = a + 2b -> interaction exactly 0
    rows = []
    for a in (0, 1):
        for b in (0, 1):
            for eps in (0.01, -0.01):
                rows.append((a, b, a + 2.0 * b + eps))
    df = spark.createDataFrame(rows, "fa int, fb int, metric double")
    r = factorial_interaction(df, "fa", "fb", "metric").collect()[0]
    assert r["interaction"] == 0.0
    assert r["effect_a"] == 1.0 and r["effect_b"] == 2.0


def test_factorial_singleton_cell_degrades(spark):
    from dbkit_spark.operators.mlmetrics import factorial_interaction

    rows = [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0), (1, 1, 4.0)]
    df = spark.createDataFrame(rows, "fa int, fb int, metric double")
    r = factorial_interaction(df, "fa", "fb", "metric").collect()[0]
    assert r["interaction"] == 0.0  # means still computable
    assert r["se_interaction"] is None and r["p_interaction"] is None


# --- Kendall tau-b -----------------------------------------------------------------------


def test_kendall_perfect_and_reversed(spark):
    from dbkit_spark.operators.preference import kendall_tau_b

    items = spark.createDataFrame(
        [("a", 1.0, 10.0), ("b", 2.0, 20.0), ("c", 3.0, 30.0),
         ("d", 4.0, 40.0)],
        "item string, x double, y double",
    )
    r = kendall_tau_b(items, "x", "y").collect()[0]
    assert r["n_pairs"] == 6 and r["concordant"] == 6
    assert r["tau_b"] == 1.0
    rev = items.withColumn("y", -F.col("y"))
    assert kendall_tau_b(rev, "x", "y").collect()[0]["tau_b"] == -1.0


def test_kendall_tie_correction_hand_case(spark):
    from dbkit_spark.operators.preference import kendall_tau_b

    # x: 1,2,2,3 ; y: 1,2,3,4 -> one x-tie pair; C=5, D=0
    items = spark.createDataFrame(
        [("a", 1.0, 1.0), ("b", 2.0, 2.0), ("c", 2.0, 3.0), ("d", 3.0, 4.0)],
        "item string, x double, y double",
    )
    r = kendall_tau_b(items, "x", "y").collect()[0]
    assert r["concordant"] == 5 and r["discordant"] == 0
    assert r["ties_x"] == 1 and r["ties_y"] == 0
    assert r["tau_b"] == round(5 / math.sqrt(5 * 6), 6)


def test_kendall_all_tied_null(spark):
    from dbkit_spark.operators.preference import kendall_tau_b

    items = spark.createDataFrame(
        [("a", 1.0, 1.0), ("b", 1.0, 2.0), ("c", 1.0, 3.0)],
        "item string, x double, y double",
    )
    assert kendall_tau_b(items, "x", "y").collect()[0]["tau_b"] is None


# --- catalog integrity ----------------------------------------------------------------------


def test_roadmap14_entries_well_formed():
    from dbkit_spark.catalog import load_all, qnum

    specs = {n: s for n, s in load_all().items() if 433 <= qnum(n)[0] <= 460}
    assert len(specs) == 28
    for name, spec in specs.items():
        assert callable(spec.fn) and spec.notes
        assert spec.oracle is None or "SELECT" in spec.oracle.upper()


# --- Wilcoxon signed-rank ---------------------------------------------------------------


def test_wilcoxon_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import wilcoxon_signed_rank

    # d = +1, +2, +3, -4: ranks of |d| are 1,2,3,4; W+ = 1+2+3 = 6
    df = spark.createDataFrame(
        [(2.0, 1.0), (4.0, 2.0), (6.0, 3.0), (1.0, 5.0)],
        "x double, y double",
    )
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    assert r["n_pairs"] == 4 and r["n_zero"] == 0
    assert r["w_plus"] == 6.0 and r["w_minus"] == 4.0
    mean_w, var_w = 4 * 5 / 4, 4 * 5 * 9 / 24
    assert r["z"] == round((6.0 - mean_w) / math.sqrt(var_w), 6)


def test_wilcoxon_ties_and_zeros(spark):
    from dbkit_spark.operators.mlmetrics import wilcoxon_signed_rank

    # zeros dropped: 2 zero pairs; |d| = 1,1 tie -> avg rank 1.5 each,
    # both positive -> W+ = 3
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 2.0), (5.0, 4.0)],
        "x double, y double",
    )
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    assert r["n_zero"] == 2 and r["n_pairs"] == 2
    assert r["w_plus"] == 3.0 and r["w_minus"] == 0.0


def test_wilcoxon_symmetric_null(spark):
    from dbkit_spark.operators.mlmetrics import wilcoxon_signed_rank

    # antisymmetric deltas: W+ = W- -> z = 0, p = 1
    df = spark.createDataFrame(
        [(1.0, 0.0), (0.0, 1.0), (3.0, 1.0), (1.0, 3.0)],
        "x double, y double",
    )
    r = wilcoxon_signed_rank(df, "x", "y").collect()[0]
    assert r["w_plus"] == r["w_minus"]
    # p via the q407 Abramowitz-Stegun form: |err| < 7.5e-8, so the
    # exact 1.0 shows up as 0.999999999 at the 9dp emit
    assert r["z"] == 0.0 and r["p_two_sided"] >= 1.0 - 1e-7


# --- paired bootstrap -----------------------------------------------------------------------


def test_paired_bootstrap_constant_delta(spark):
    from dbkit_spark.operators.mlmetrics import paired_bootstrap_delta

    # constant positive delta: every resample mean is exactly 0.2 ->
    # degenerate CI at 0.2, A wins every replicate
    rows = [(i, 1.0, 0.8) for i in range(200)]
    df = spark.createDataFrame(rows, "pid long, a double, b double")
    r = paired_bootstrap_delta(df, "a", "b", "pid").collect()[0]
    assert r["n"] == 200 and r["point_delta"] == 0.2
    assert r["delta_ci_lo"] == 0.2 and r["delta_ci_hi"] == 0.2
    assert r["frac_a_wins"] == 1.0


def test_paired_bootstrap_sign_flip_antisymmetry(spark):
    from dbkit_spark.operators.mlmetrics import paired_bootstrap_delta

    # swapping the systems negates the deltas: point/CI mirror
    rows = [(i, 1.0 + (i % 7) / 10.0, 1.0 + (i % 3) / 10.0)
            for i in range(100)]
    df = spark.createDataFrame(rows, "pid long, a double, b double")
    ab = paired_bootstrap_delta(df, "a", "b", "pid").collect()[0]
    ba = paired_bootstrap_delta(df, "b", "a", "pid").collect()[0]
    assert ab["point_delta"] == -ba["point_delta"]
    assert ab["delta_ci_lo"] == -ba["delta_ci_hi"]
    assert ab["delta_ci_hi"] == -ba["delta_ci_lo"]


def test_paired_bootstrap_validation(spark):
    from dbkit_spark.operators.mlmetrics import paired_bootstrap_delta

    df = spark.createDataFrame([(1, 1.0, 0.5)], "pid long, a double, b double")
    with pytest.raises(ValueError):
        paired_bootstrap_delta(df, "a", "b", "pid", n_replicates=1)
    with pytest.raises(ValueError):
        paired_bootstrap_delta(df, "a", "b", "pid", alpha=1.5)


# --- inline F1 / streaming gate -----------------------------------------------------------------


def test_token_f1_inline_matches_batch(spark):
    from dbkit_spark.llm.texteval import token_f1, token_f1_inline
    from dbkit_spark.functions.text import tokens

    pairs = _pairs(
        spark,
        [
            (1, "a b b c", "a b d"),
            (2, "", ""),
            (3, "", "xyz"),
            (4, "the cat sat", "the cat sat on the mat"),
            (5, "x x x", "x"),
        ],
    )
    inline = {
        r["pair_id"]: r["f1i"]
        for r in pairs.select(
            "pair_id",
            token_f1_inline(tokens("cand"), tokens("ref")).alias("f1i"),
        ).collect()
    }
    batch = {r["pair_id"]: r["f1"] for r in token_f1(pairs).collect()}
    assert inline == batch


def test_truncation_gate_stream_equals_batch(spark, sf_dir):
    from dbkit_spark.catalog import load_all
    from dbkit_spark.llm.texteval import truncation_eval_gate
    from dbkit_spark.sources import read_table

    batch = sorted(
        tuple(r)
        for r in truncation_eval_gate(
            read_table(spark, sf_dir, "documents")
        ).collect()
    )
    streamed = sorted(
        tuple(r)
        for r in load_all()["q449_stream_eval_gate"].fn(spark, sf_dir).collect()
    )
    assert streamed == batch and len(batch) > 0


def test_truncation_gate_clipping_is_real(spark):
    from dbkit_spark.llm.texteval import truncation_eval_gate

    # doc 5 tokens, doc_id 0 -> k = ceil(5*1/6) = 1; cand = [t1] +
    # [t1 t2 t3] = 4 tokens with t1 twice but ref has t1 once ->
    # overlap = 1(clipped) + 1 + 1 = 3, f1 = 2*3/(4+5)
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta eps")], "doc_id long, text string"
    )
    r = truncation_eval_gate(docs).collect()[0]
    assert r["n_tokens"] == 5 and r["k_kept"] == 1
    assert r["f1"] == round(6 / 9, 6)


# --- log-rank test --------------------------------------------------------------------------


def test_logrank_identical_arms_z_zero(spark):
    from dbkit_spark.operators.survival import logrank_test

    # mirror-image arms: every event time has equal arm representation
    rows = []
    for arm in ("a", "b"):
        rows += [(1.0, 1, arm), (2.0, 1, arm), (3.0, 0, arm), (4.0, 1, arm)]
    df = spark.createDataFrame(rows, "dur double, obs int, arm string")
    r = logrank_test(df, "dur", "obs", "arm", "a", "b").collect()[0]
    assert r["n_a"] == 4 and r["n_b"] == 4
    assert r["observed_a"] == 3
    assert r["expected_a"] == 3.0
    assert r["z"] == 0.0


def test_logrank_hand_case(spark):
    from dbkit_spark.operators.survival import logrank_test

    # arm a events at t=1,2; arm b censored at t=3: at t=1 n=4, na=2,
    # d=1 -> E=0.5, V = 1*(1/2)(1/2)(3/3) = 0.25; at t=2 n=3, na=1,
    # d=1 -> E=1/3, V = (1/3)(2/3)(2/2) = 2/9. O-E = 2 - 5/6 = 7/6,
    # V = 0.25 + 2/9 = 17/36 -> z = (7/6)/sqrt(17/36)
    df = spark.createDataFrame(
        [(1.0, 1, "a"), (2.0, 1, "a"), (3.0, 0, "b"), (3.0, 0, "b")],
        "dur double, obs int, arm string",
    )
    r = logrank_test(df, "dur", "obs", "arm", "a", "b").collect()[0]
    assert r["observed_a"] == 2
    assert r["expected_a"] == round(0.5 + 1 / 3, 6)
    expect_z = (2 - (0.5 + 1 / 3)) / math.sqrt(0.25 + 2 / 9)
    assert abs(r["z"] - expect_z) < 2e-6
    assert r["p_two_sided"] < 0.15


def test_logrank_no_events_null(spark):
    from dbkit_spark.operators.survival import logrank_test

    df = spark.createDataFrame(
        [(1.0, 0, "a"), (2.0, 0, "b")], "dur double, obs int, arm string"
    )
    r = logrank_test(df, "dur", "obs", "arm", "a", "b").collect()[0]
    assert r["z"] is None and r["p_two_sided"] is None


# --- contingency chi2 ------------------------------------------------------------------------


def test_contingency_independent_zero(spark):
    from dbkit_spark.operators.mlmetrics import contingency_chi2

    # perfectly proportional table: chi2 = 0, V = 0
    rows = []
    for r_ in ("x", "y"):
        for c_, k in (("p", 10), ("q", 20)):
            rows += [(r_, c_)] * k
    df = spark.createDataFrame(rows, "r string, c string")
    out = contingency_chi2(df, "r", "c").collect()[0]
    assert out["n"] == 60 and out["dof"] == 1
    assert out["chi2"] == 0.0 and out["cramers_v"] == 0.0
    assert out["min_expected"] == 10.0


def test_contingency_hand_chi2(spark):
    from dbkit_spark.operators.mlmetrics import contingency_chi2

    # 2x2 table [[30,10],[10,30]]: chi2 = 80*(30*30-10*10)^2/(40^4) = 20
    rows = (
        [("x", "p")] * 30 + [("x", "q")] * 10
        + [("y", "p")] * 10 + [("y", "q")] * 30
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = contingency_chi2(df, "r", "c").collect()[0]
    assert out["chi2"] == 20.0
    assert out["cramers_v"] == round(math.sqrt(20 / 80), 6)
    assert out["p_value"] < 1e-4  # chi2=20 at dof 1 is p ~ 7.7e-6


def test_contingency_degenerate_single_column(spark):
    from dbkit_spark.operators.mlmetrics import contingency_chi2

    df = spark.createDataFrame(
        [("x", "only"), ("y", "only")], "r string, c string"
    )
    out = contingency_chi2(df, "r", "c").collect()[0]
    assert out["dof"] == 0 and out["chi2"] is None
    assert out["p_value"] is None


# --- readability -----------------------------------------------------------------------------


def test_readability_hand_case(spark):
    from dbkit_spark.llm.quality import readability_scores

    # "the cat sat. it ran away!" -> 2 sentences, 6 words,
    # syllables: the(1) cat(1) sat(1) it(1) ran(1) away(2: a-way) = 7
    docs = spark.createDataFrame(
        [(1, "the cat sat. it ran away!")], "doc_id long, text string"
    )
    r = readability_scores(docs).collect()[0]
    assert r["n_sentences"] == 2 and r["n_words"] == 6
    assert r["n_syllables"] == 7
    wps, spw = 6 / 2, 7 / 6
    assert r["flesch_reading_ease"] == round(
        206.835 - 1.015 * wps - 84.6 * spw, 6
    )
    assert r["fk_grade"] == round(0.39 * wps + 11.8 * spw - 15.59, 6)


def test_readability_no_punct_one_sentence(spark):
    from dbkit_spark.llm.quality import readability_scores

    r = readability_scores(
        spark.createDataFrame(
            [(1, "word soup with no stops at all")],
            "doc_id long, text string",
        )
    ).collect()[0]
    assert r["n_sentences"] == 1  # run-on degradation, not div-by-zero


def test_readability_empty_doc_nulls(spark):
    from dbkit_spark.llm.quality import readability_scores

    r = readability_scores(
        spark.createDataFrame([(1, "")], "doc_id long, text string")
    ).collect()[0]
    assert r["flesch_reading_ease"] is None and r["fk_grade"] is None


# --- Min-K% membership ------------------------------------------------------------------------


def test_min_k_member_vs_nonmember(spark):
    from dbkit_spark.llm.lm import bigram_lm_train, min_k_membership

    # reference corpus repeats one phrase; a member doc (same phrase)
    # has NO surprise tail, a non-member doc does
    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "zebra xylophone quark nebula vortex")],
        "doc_id long, text string",
    )
    b, c, v = bigram_lm_train(ref)
    rows = {
        r["doc_id"]: r for r in min_k_membership(cand, b, c, v).collect()
    }
    assert rows[100]["min_k_avg_logprob"] > rows[101]["min_k_avg_logprob"]


def test_min_k_pct_one_equals_full_mean(spark):
    from dbkit_spark.llm.lm import (
        bigram_lm_score, bigram_lm_train, min_k_membership,
    )

    ref = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(2, "a b x d e")], "doc_id long, text string"
    )
    b, c, v = bigram_lm_train(ref)
    full = bigram_lm_score(cand, b, c, v).collect()[0]
    mk = min_k_membership(cand, b, c, v, k_pct=1.0).collect()[0]
    assert mk["m_lowest"] == full["n_bigrams"]
    assert mk["min_k_avg_logprob"] == -full["avg_neg_logprob"]


def test_min_k_validation(spark):
    from dbkit_spark.llm.lm import bigram_lm_train, min_k_membership

    d = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    b, c, v = bigram_lm_train(d)
    with pytest.raises(ValueError):
        min_k_membership(d, b, c, v, k_pct=0.0)


# --- cluster validity -------------------------------------------------------------------------


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_cluster_validity_separated_beats_mixed(spark):
    from dbkit_spark.llm.cluster import cluster_validity

    # two tight, far-apart clusters vs the same points labeled randomly
    pts = [[0.0, 0.0], [0.1, 0.0], [0.0, 0.1], [10.0, 10.0],
           [10.1, 10.0], [10.0, 10.1]]
    good = _emb(spark, [(i, p, 0 if i < 3 else 1) for i, p in enumerate(pts)])
    bad = _emb(spark, [(i, p, i % 2) for i, p in enumerate(pts)])
    g = cluster_validity(good).collect()[0]
    m = cluster_validity(bad).collect()[0]
    assert g["calinski_harabasz"] > m["calinski_harabasz"]
    assert g["davies_bouldin"] < m["davies_bouldin"]
    assert g["n"] == 6 and g["n_clusters"] == 2


def test_cluster_validity_single_cluster_null(spark):
    from dbkit_spark.llm.cluster import cluster_validity

    one = _emb(spark, [(i, [float(i), 0.0], 7) for i in range(5)])
    r = cluster_validity(one).collect()[0]
    assert r["calinski_harabasz"] is None
    assert r["davies_bouldin"] is None


def test_cluster_validity_db_hand_case(spark):
    from dbkit_spark.llm.cluster import cluster_validity

    # clusters {(-1),(1)} and {(9),(11)} on a line: s_i = 1 each,
    # centroids 0 and 10 -> d = 10, DB = (1+1)/10 = 0.2
    df = _emb(
        spark,
        [(1, [-1.0], 0), (2, [1.0], 0), (3, [9.0], 1), (4, [11.0], 1)],
    )
    r = cluster_validity(df).collect()[0]
    assert r["davies_bouldin"] == 0.2
    # W = 4 (each point at distance 1), B = 2*25*2 = 100
    # CH = (100/1)/(4/2) = 50
    assert r["calinski_harabasz"] == 50.0


# --- DeLong -----------------------------------------------------------------------------------


def test_delong_identical_scorers_null(spark):
    from dbkit_spark.operators.mlmetrics import delong_auc_test

    rows = [(i % 2, (i * 7) % 13 / 13.0, (i * 7) % 13 / 13.0)
            for i in range(40)]
    df = spark.createDataFrame(rows, "y int, sa double, sb double")
    r = delong_auc_test(df, "y", "sa", "sb").collect()[0]
    assert r["auc_a"] == r["auc_b"] and r["delta_auc"] == 0.0
    assert r["se"] is None and r["p_two_sided"] is None


def test_delong_auc_matches_mww_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import delong_auc_test

    # pos scores {3, 4}, neg scores {1, 2} under A -> AUC_A = 1;
    # B reverses one pair -> AUC_B = 0.75
    df = spark.createDataFrame(
        [(1, 3.0, 3.0), (1, 4.0, 1.5), (0, 1.0, 1.0), (0, 2.0, 2.0)],
        "y int, sa double, sb double",
    )
    r = delong_auc_test(df, "y", "sa", "sb").collect()[0]
    assert r["auc_a"] == 1.0 and r["auc_b"] == 0.75
    assert r["n_pos"] == 2 and r["n_neg"] == 2


def test_delong_perfect_vs_random_significant(spark):
    from dbkit_spark.operators.mlmetrics import delong_auc_test

    rows = []
    for i in range(200):
        y = i % 2
        rows.append((y, float(y) + (i % 7) / 100.0, ((i * 13) % 101) / 101.0))
    df = spark.createDataFrame(rows, "y int, sa double, sb double")
    r = delong_auc_test(df, "y", "sa", "sb").collect()[0]
    assert r["auc_a"] == 1.0
    assert 0.3 < r["auc_b"] < 0.7
    assert r["p_two_sided"] < 1e-6


# --- two-proportion ---------------------------------------------------------------------------


def test_two_proportion_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import two_proportion_test

    rows = [("a", 1)] * 30 + [("a", 0)] * 70 + [("b", 1)] * 20 + [("b", 0)] * 80
    df = spark.createDataFrame(rows, "g string, s int")
    r = two_proportion_test(df, "g", "s", "a", "b").collect()[0]
    assert r["rate_a"] == 0.3 and r["rate_b"] == 0.2
    assert r["diff"] == round(0.1, 6)
    # pooled z = 0.1 / sqrt(.25*.75*(2/100))
    expect_z = 0.1 / math.sqrt(0.25 * 0.75 * 0.02)
    assert abs(r["z_stat"] - expect_z) < 2e-6
    assert r["ci_lo"] < 0.1 < r["ci_hi"]


def test_two_proportion_extreme_rates_bounded(spark):
    from dbkit_spark.operators.mlmetrics import two_proportion_test

    # p_a = 1, p_b = 0: Wald would give a zero-width CI; Newcombe stays
    # inside [-1, 1] with positive width
    rows = [("a", 1)] * 20 + [("b", 0)] * 20
    df = spark.createDataFrame(rows, "g string, s int")
    r = two_proportion_test(df, "g", "s", "a", "b").collect()[0]
    assert r["diff"] == 1.0
    assert -1.0 <= r["ci_lo"] < 1.0 and r["ci_hi"] == 1.0


def test_two_proportion_symmetric_zero(spark):
    from dbkit_spark.operators.mlmetrics import two_proportion_test

    rows = [("a", 1)] * 10 + [("a", 0)] * 10 + [("b", 1)] * 10 + [("b", 0)] * 10
    df = spark.createDataFrame(rows, "g string, s int")
    r = two_proportion_test(df, "g", "s", "a", "b").collect()[0]
    assert r["diff"] == 0.0 and r["z_stat"] == 0.0
    assert abs(r["ci_lo"] + r["ci_hi"]) < 2e-6  # symmetric interval


# --- Friedman ---------------------------------------------------------------------------------


def test_friedman_dominant_system(spark):
    from dbkit_spark.operators.mlmetrics import friedman_test

    # system c always best, a always worst over 12 items -> ranks
    # constant (a=1, b=2, c=3); chi2_F = 12*2*... maximal for n=12,k=3
    rows = []
    for i in range(12):
        rows += [(i, "a", 1.0 + i), (i, "b", 2.0 + i), (i, "c", 3.0 + i)]
    df = spark.createDataFrame(rows, "item long, sys string, v double")
    out = {r["treatment"]: r for r in friedman_test(df, "item", "sys", "v").collect()}
    assert out["a"]["mean_rank"] == 1.0 and out["c"]["mean_rank"] == 3.0
    # classic formula (no ties): chi2 = 12/(nk(k+1)) * sum R_j^2 - 3n(k+1)
    n, k = 12, 3
    rs = [12.0, 24.0, 36.0]
    expect = 12.0 / (n * k * (k + 1)) * sum(r * r for r in rs) - 3 * n * (k + 1)
    assert abs(out["a"]["chi2_f"] - expect) < 1e-6
    assert out["a"]["p_value"] < 1e-4


def test_friedman_identical_systems_null_or_zero(spark):
    from dbkit_spark.operators.mlmetrics import friedman_test

    # all systems identical -> every rank tied at (k+1)/2 -> A1 = C1 ->
    # zero denominator -> NULL chi2 (degenerate, documented)
    rows = []
    for i in range(8):
        rows += [(i, "a", 5.0), (i, "b", 5.0), (i, "c", 5.0)]
    df = spark.createDataFrame(rows, "item long, sys string, v double")
    out = friedman_test(df, "item", "sys", "v").collect()[0]
    assert out["chi2_f"] is None and out["p_value"] is None


def test_friedman_incomplete_blocks_dropped(spark):
    from dbkit_spark.operators.mlmetrics import friedman_test

    rows = [(1, "a", 1.0), (1, "b", 2.0), (2, "a", 1.0)]  # item 2 incomplete
    df = spark.createDataFrame(rows, "item long, sys string, v double")
    out = friedman_test(df, "item", "sys", "v").collect()[0]
    assert out["n_items"] == 1 and out["n_incomplete"] == 1


# --- Cochran's Q ------------------------------------------------------------------------------


def test_cochran_q_hand_case(spark):
    from dbkit_spark.operators.mlmetrics import cochran_q_test

    # 2 systems reduce to McNemar without continuity: discordant pairs
    # 6 vs 2 -> Q = (6-2)^2/(6+2) = 2
    rows = []
    i = 0
    for _ in range(6):
        rows += [(i, "a", 1), (i, "b", 0)]; i += 1
    for _ in range(2):
        rows += [(i, "a", 0), (i, "b", 1)]; i += 1
    for _ in range(5):
        rows += [(i, "a", 1), (i, "b", 1)]; i += 1
    df = spark.createDataFrame(rows, "item long, sys string, x int")
    out = cochran_q_test(df, "item", "sys", "x").collect()[0]
    assert out["q_stat"] == 2.0
    assert out["n_items"] == 13


def test_cochran_q_unanimous_null(spark):
    from dbkit_spark.operators.mlmetrics import cochran_q_test

    rows = []
    for i in range(5):
        rows += [(i, "a", 1), (i, "b", 1), (i, "c", 1)]
    df = spark.createDataFrame(rows, "item long, sys string, x int")
    out = cochran_q_test(df, "item", "sys", "x").collect()[0]
    assert out["q_stat"] is None  # zero denominator: all rows unanimous


# --- Cronbach ---------------------------------------------------------------------------------


def test_cronbach_perfect_consistency(spark):
    from dbkit_spark.operators.agreement import cronbach_alpha

    # identical items: sum_iv = k*v, total_var = k^2*v -> alpha = 1
    rows = [(float(i % 7), float(i % 7), float(i % 7)) for i in range(30)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    out = cronbach_alpha(df, ["a", "b", "c"]).collect()[0]
    assert out["alpha"] == 1.0 and out["k_items"] == 3


def test_cronbach_independent_near_zero(spark):
    from dbkit_spark.operators.agreement import cronbach_alpha

    # independent-ish hashed items -> alpha near 0 (well below 0.5)
    rows = [
        (float((i * 7) % 11), float((i * 5) % 13), float((i * 3) % 17))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    out = cronbach_alpha(df, ["a", "b", "c"]).collect()[0]
    assert abs(out["alpha"]) < 0.5


def test_cronbach_validation(spark):
    from dbkit_spark.operators.agreement import cronbach_alpha

    df = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    with pytest.raises(ValueError):
        cronbach_alpha(df, ["a"])


# --- Bland-Altman -----------------------------------------------------------------------------


def test_bland_altman_constant_offset(spark):
    from dbkit_spark.operators.agreement import bland_altman

    # y = x - 0.3 exactly: bias = 0.3, sd = 0, degenerate LoA at bias
    rows = [(float(i), float(i) - 0.3) for i in range(20)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = bland_altman(df, "x", "y").collect()[0]
    assert out["bias"] == 0.3 and out["sd_diff"] == 0.0
    assert out["loa_lo"] == 0.3 and out["loa_hi"] == 0.3


def test_bland_altman_hand_sd(spark):
    from dbkit_spark.operators.agreement import bland_altman

    # diffs -1, 1 alternating: bias 0, sd = sqrt(n/(n-1))
    rows = [(1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (4.0, 3.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = bland_altman(df, "x", "y").collect()[0]
    assert out["bias"] == 0.0
    expect_sd = math.sqrt(4 / 3)
    assert abs(out["sd_diff"] - expect_sd) < 2e-6
    assert abs(out["loa_hi"] - 1.959964 * expect_sd) < 5e-6

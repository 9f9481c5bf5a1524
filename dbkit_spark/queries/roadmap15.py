"""Catalog queries q461–q475, each registered where it is defined: the
rank-trend / reliability completions of the k-system comparison family
(Kendall's W, Page's L, Jonckheere-Terpstra, one-way ICC) and the
edit-distance / generation-eval closers.

Fixture reuse: the k-system entries ride the q457-q460 four-system
truncation eval frame (``roadmap14._multi_sys_scores`` — one row per
doc pair with f1 under four truncation denominators, behind the lazy
lineage barrier) so the family reads one shared derivation; the
Jonckheere entry uses independent ordered groups from ``orders``
(priority classes), the between-subjects counterpart the within-item
tests cannot cover.

Reference scope note: the reference declares relational operators only
(`/root/reference/README.md:9-15`); this family is Tier-C north-star
surface (BASELINE.json "statistical comparison / eval operators").
Public sources per operator are cited in the operator docstrings
(operators/mlmetrics.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..sources import read_table
from .roadmap14 import (
    _DENS,
    _LONG_SQL,
    _multi_sql,
    _multi_sys_scores,
    _wh_p_sql,
)


def _long_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (pair, system, f1) long frame of the k-system
    family — the q457 union fan-out over the checkpointed wide
    derivation."""
    wide = _multi_sys_scores(spark, sf_dir)
    long_ = None
    for den in _DENS:
        part = wide.select(
            F.col("pair_id"),
            F.lit(f"d{den}").alias("sys"),
            F.col(f"f1_d{den}").alias("f1"),
        )
        long_ = part if long_ is None else long_.unionByName(part)
    return long_


# --- q466 Kendall's W --------------------------------------------------------


def q466_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance
    (operators/mlmetrics.kendalls_w) with the eval PAIRS as judges and
    the four truncation systems as ranked objects — the effect-size
    companion to q457's Friedman omnibus on the same frame."""
    from ..operators.mlmetrics import kendalls_w

    long_ = _long_frame(spark, sf_dir)
    return kendalls_w(long_, "pair_id", "sys", "f1").orderBy("object")


def _q466_oracle() -> str:
    return f"""
    WITH {_multi_sql()},
    long_ AS ({_LONG_SQL}),
    ranked AS (
      SELECT i, t, (2 * rnk + cnt - 1) / 2.0 AS r, cnt AS tsz
      FROM (SELECT i, t, v,
                   rank() OVER (PARTITION BY i ORDER BY v) AS rnk,
                   COUNT(*) OVER (PARTITION BY i, v) AS cnt
            FROM long_)),
    ties AS (
      SELECT CAST(SUM(tsz * tsz - 1) AS BIGINT) AS tt,
             CAST(COUNT(DISTINCT i) AS BIGINT) AS k
      FROM ranked),
    per_o AS (
      SELECT t, SUM(CAST(round(r, 9) AS DECIMAL(25,9))) AS rsum
      FROM ranked GROUP BY t),
    scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM per_o),
    agg AS (
      SELECT CAST(SUM(CAST(round(
               (CAST(rsum AS DOUBLE) - k * (nn + 1) / 2.0)
               * (CAST(rsum AS DOUBLE) - k * (nn + 1) / 2.0), 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS s,
             MAX(nn) AS nn, MAX(k) AS k, MAX(tt) AS tt
      FROM per_o CROSS JOIN scal CROSS JOIN ties),
    stat AS (
      SELECT k, nn,
             CASE WHEN k >= 1 AND nn >= 2
                       AND (CAST(k AS DOUBLE) * k
                            * (CAST(nn AS DOUBLE) * nn * nn - nn)
                            - k * tt) > 0
                  THEN 12.0 * s
                       / (CAST(k AS DOUBLE) * k
                          * (CAST(nn AS DOUBLE) * nn * nn - nn)
                          - k * tt) END AS w_raw
      FROM agg),
    stat2 AS (
      SELECT k, nn, w_raw,
             CAST(k AS DOUBLE) * (nn - 1) * w_raw AS chi2_raw
      FROM stat)
    SELECT per_o.t AS object,
           round(CAST(per_o.rsum AS DOUBLE), 6) AS rank_sum,
           round(CAST(per_o.rsum AS DOUBLE) / stat2.k, 6) AS mean_rank,
           stat2.k AS n_judges,
           stat2.nn AS n_objects,
           round(w_raw, 6) AS w,
           round(chi2_raw, 6) AS chi2,
           CASE WHEN chi2_raw IS NOT NULL
                THEN {_wh_p_sql('chi2_raw', '(stat2.nn - 1)')} END
             AS p_value,
           CAST(0 AS BIGINT) AS n_incomplete
    FROM per_o CROSS JOIN stat2
    ORDER BY object
    """


_Q466_NOTES = (
    "KENDALL'S W (operators/mlmetrics.kendalls_w — Kendall & "
    "Babington Smith 1939, tie correction per Siegel & Castellan "
    "1988: the concordance EFFECT SIZE next to q457's Friedman "
    "omnibus — k judges x n objects, W in [0,1]): judge-keyed rank "
    "windows over n-row partitions, half-integer average ranks on "
    "DECIMAL(25,9), tie term as an exact LONG row-sum (t^2-1 per "
    "row), one object reduce + 1-row recombination; chi2 = k(n-1)W "
    "at n-1 dof via the q451 Wilson-Hilferty tail; complete judges "
    "only (listwise, counted); NULL rows filtered before ranking "
    "(the ADVICE r14 friedman rule)"
)

register("q466_kendalls_w", _q466_oracle(), _Q466_NOTES)(q466_kendalls_w)


# --- q467 Page's trend test --------------------------------------------------

# increasing-trend order: larger truncation denominator = shorter
# candidate = lower f1, so the hypothesized ascending-f1 order is
# d6 < d4 < d3 < d2
_PAGE_ORDER = ["d6", "d4", "d3", "d2"]


def q467_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test (operators/mlmetrics.page_trend_test) for the
    a-priori ordered alternative 'less truncation ranks higher' over
    the four-system frame — the trend-powered refinement of q457."""
    from ..operators.mlmetrics import page_trend_test

    long_ = _long_frame(spark, sf_dir)
    return page_trend_test(long_, "pair_id", "sys", "f1", _PAGE_ORDER)


def _q467_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    k = len(_PAGE_ORDER)
    w_case = "CASE t " + " ".join(
        f"WHEN '{t}' THEN {j + 1}" for j, t in enumerate(_PAGE_ORDER)
    ) + " END"
    return f"""
    WITH {_multi_sql()},
    long0 AS ({_LONG_SQL}),
    long_ AS (SELECT i, t, v, {w_case} AS w FROM long0
              WHERE {w_case} IS NOT NULL),
    ranked AS (
      SELECT i, w, (2 * rnk + cnt - 1) / 2.0 AS r
      FROM (SELECT i, w, v,
                   rank() OVER (PARTITION BY i ORDER BY v) AS rnk,
                   COUNT(*) OVER (PARTITION BY i, v) AS cnt
            FROM long_)),
    agg AS (
      SELECT SUM(CAST(round(w * r, 9) AS DECIMAL(25,9))) AS l,
             CAST(COUNT(DISTINCT i) AS BIGINT) AS n
      FROM ranked),
    stat AS (
      SELECT n, CAST(l AS DOUBLE) AS l_raw,
             n * {k}.0 * {k + 1} * {k + 1} / 4.0 AS mean_raw,
             n * {k}.0 * {k} * {k + 1} * {k + 1} * {k - 1} / 144.0
               AS var_raw
      FROM agg),
    stat2 AS (
      SELECT n, l_raw, mean_raw,
             CASE WHEN n >= 1 AND var_raw > 0
                  THEN (l_raw - mean_raw) / sqrt(var_raw) END AS z_raw
      FROM stat)
    SELECT n AS n_items,
           CAST({k} AS BIGINT) AS k_treatments,
           round(l_raw, 6) AS l_stat,
           round(mean_raw, 6) AS mean_l,
           round(z_raw, 6) AS z,
           round(CASE WHEN z_raw >= 0
                      THEN {normal_p_two_sided_sql('z_raw')} / 2
                      ELSE 1 - {normal_p_two_sided_sql('z_raw')} / 2
                 END, 9) AS p_one_sided,
           CAST(0 AS BIGINT) AS n_incomplete
    FROM stat2
    """


_Q467_NOTES = (
    "PAGE'S L TREND TEST (operators/mlmetrics.page_trend_test — Page "
    "JASA 1963: the ordered-alternative refinement of Friedman — "
    "when systems carry an a-priori order (increasing truncation "
    "severity), L = sum j*R_j detects the monotone trend the omnibus "
    "wastes power on): the q457 rank discipline (half-integer "
    "average ranks on DECIMAL(25,9), item-keyed windows), position "
    "weights via a map-side array_position (no join), classic "
    "no-tie null moments (documented), one-sided upper p via the "
    "q407 closed-form tail; complete items only over the ordered "
    "treatment set"
)

register("q467_page_trend", _q467_oracle(), _Q467_NOTES)(q467_page_trend)


# --- q468 Jonckheere-Terpstra ------------------------------------------------

_JT_ORDER = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q468_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-groups trend test
    (operators/mlmetrics.jonckheere_terpstra) of order totals across
    the five priority classes — the between-subjects counterpart of
    q467 (independent groups, no shared items)."""
    from ..operators.mlmetrics import jonckheere_terpstra

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return jonckheere_terpstra(orders, "grp", "val", _JT_ORDER)


def _q468_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    og_case = "CASE o_orderpriority " + " ".join(
        f"WHEN '{g}' THEN {j + 1}" for j, g in enumerate(_JT_ORDER)
    ) + " END"
    return f"""
    WITH base AS (
      SELECT {og_case} AS og, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders
      WHERE {og_case} IS NOT NULL AND o_totalprice IS NOT NULL),
    counts AS (
      SELECT og, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY og, v),
    vals AS (SELECT DISTINCT v FROM counts),
    grps AS (SELECT DISTINCT og FROM counts),
    grid AS (SELECT og, v FROM vals CROSS JOIN grps),
    filled AS (
      SELECT grid.og, grid.v, COALESCE(counts.c, 0) AS c
      FROM grid LEFT JOIN counts
        ON grid.og = counts.og AND grid.v = counts.v),
    cums AS (
      SELECT og, v,
             SUM(c) OVER (PARTITION BY og ORDER BY v
                          ROWS UNBOUNDED PRECEDING) - c AS below,
             c AS cs
      FROM filled),
    twoj AS (
      SELECT CAST(SUM(2 * t.c * s.below + s.cs * t.c) AS BIGINT) AS tj
      FROM cums s JOIN counts t ON s.v = t.v AND s.og < t.og),
    perg AS (SELECT og, CAST(COUNT(*) AS BIGINT) AS ng
             FROM base GROUP BY og),
    gstats AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS N,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng * ng) AS BIGINT) AS n2,
             CAST(SUM(ng * (ng - 1) * (2 * ng + 5)) AS BIGINT) AS g25,
             CAST(SUM(ng * (ng - 1) * (ng - 2)) AS BIGINT) AS g3,
             CAST(SUM(ng * (ng - 1)) AS BIGINT) AS g2
      FROM perg),
    pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS tv
           FROM base GROUP BY v),
    vstats AS (
      SELECT CAST(SUM(tv * (tv - 1) * (2 * tv + 5)) AS BIGINT) AS t25,
             CAST(SUM(tv * (tv - 1) * (tv - 2)) AS BIGINT) AS t3,
             CAST(SUM(tv * (tv - 1)) AS BIGINT) AS t2
      FROM pv),
    stat AS (
      SELECT N, k,
             CAST(tj AS DOUBLE) / 2.0 AS jt,
             (CAST(N AS DOUBLE) * N - n2) / 4.0 AS mean_raw,
             (CAST(N AS DOUBLE) * (N - 1) * (2 * N + 5) - g25 - t25)
               / 72.0
             + CAST(g3 AS DOUBLE) * t3
               / (36.0 * N * (CAST(N AS DOUBLE) - 1) * (N - 2))
             + CAST(g2 AS DOUBLE) * t2
               / (8.0 * N * (CAST(N AS DOUBLE) - 1)) AS var_raw
      FROM twoj CROSS JOIN gstats CROSS JOIN vstats),
    stat2 AS (
      SELECT N, k, jt, mean_raw, var_raw,
             CASE WHEN k >= 2 AND N >= 3 AND var_raw > 0
                  THEN (jt - mean_raw) / sqrt(var_raw) END AS z_raw
      FROM stat)
    SELECT N AS n_total, k AS k_groups,
           round(jt, 6) AS jt_stat,
           round(mean_raw, 6) AS mean_jt,
           round(var_raw, 6) AS var_jt,
           round(z_raw, 6) AS z,
           CASE WHEN z_raw IS NOT NULL
                THEN {normal_p_two_sided_sql('z_raw')} END
             AS p_two_sided
    FROM stat2
    """


_Q468_NOTES = (
    "JONCKHEERE-TERPSTRA (operators/mlmetrics.jonckheere_terpstra — "
    "Jonckheere Biometrika 1954 / Terpstra 1952, tie-corrected null "
    "variance per Hollander & Wolfe 1999 §6.2: ordered-trend test "
    "across INDEPENDENT groups, the between-subjects counterpart of "
    "Page's L): NO pairwise value join — per-(group,value) counts, "
    "group-partitioned cumulative windows over the merged value "
    "grid, and an EQUI-join on the value key with the group order as "
    "a post-join filter (never a theta key); 2J is an exact LONG; "
    "tie-corrected variance from three closed-form count aggregates"
)

register("q468_jonckheere", _q468_oracle(), _Q468_NOTES)(q468_jonckheere)


# --- q469 one-way ICC --------------------------------------------------------


def q469_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects ICC (operators/mlmetrics.icc_oneway)
    treating the four systems' f1 scores as interchangeable ratings of
    each pair — the variance-decomposition reliability readout next to
    q459's Cronbach alpha on the same frame."""
    from ..operators.mlmetrics import icc_oneway

    long_ = _long_frame(spark, sf_dir)
    return icc_oneway(long_, "pair_id", "f1")


def _q469_oracle() -> str:
    return f"""
    WITH {_multi_sql()},
    long_ AS ({_LONG_SQL}),
    per_item AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS ni,
             SUM(CAST(round(v, 9) AS DECIMAL(25,9))) AS si,
             SUM(CAST(round(v * v, 9) AS DECIMAL(25,9))) AS qi
      FROM long_ WHERE v IS NOT NULL GROUP BY i),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ni) AS BIGINT) AS ntot,
             SUM(si) AS s,
             CAST(SUM(qi) AS DOUBLE) AS q,
             CAST(SUM(CAST(round(
               CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni, 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS sb,
             CAST(SUM(ni * ni) AS BIGINT) AS n2
      FROM per_item),
    stat AS (
      SELECT n, ntot,
             sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / ntot AS ssb,
             q - sb AS ssw,
             n >= 2 AND ntot > n AS ok,
             (CAST(ntot AS DOUBLE) - CAST(n2 AS DOUBLE) / ntot)
               / (n - 1) AS k0_raw
      FROM agg),
    ms AS (
      SELECT n, ntot,
             CASE WHEN ok THEN ssb / (n - 1) END AS msb,
             CASE WHEN ok THEN ssw / (ntot - n) END AS msw,
             CASE WHEN ok THEN k0_raw END AS k0
      FROM stat)
    SELECT n AS n_items, ntot AS n_total,
           round(k0, 6) AS k0,
           round(msb, 6) AS msb,
           round(msw, 6) AS msw,
           round(CASE WHEN msw > 0 THEN msb / msw END, 6) AS f_stat,
           round(CASE WHEN msw > 0 AND (msb + (k0 - 1) * msw) <> 0
                      THEN (msb - msw) / (msb + (k0 - 1) * msw) END, 6)
             AS icc1,
           round(CASE WHEN msb <> 0 AND msw > 0
                      THEN (msb - msw) / msb END, 6) AS icc1k
    FROM ms
    """


_Q469_NOTES = (
    "ONE-WAY RANDOM ICC (operators/mlmetrics.icc_oneway — Shrout & "
    "Fleiss 1979 Case 1 with the unbalanced-design k0 estimator: "
    "ICC(1) single-rating and ICC(1,k) mean-rating reliability, the "
    "variance-decomposition companion to Cronbach q459): ONE "
    "item-keyed aggregate (decimal moment sums, S_i^2/n_i terms as "
    "9dp IEEE divisions back onto decimal) + ONE 1-row reduce; F "
    "reported without a tail p (F distribution out of closed-form "
    "scope, documented)"
)

register("q469_icc_oneway", _q469_oracle(), _Q469_NOTES)(q469_icc_oneway)


# --- generation-eval closers: q461-q465 --------------------------------------

from pyspark.sql import Window  # noqa: E402

from ..functions.text import tokens  # noqa: E402
from .roadmap14 import (  # noqa: E402
    _NORM_SQL,
    _PAIRS_SQL,
    _T,
    _eval_pairs,
    _lined_docs,
    _LINED_SQL,
    _wgrams_sql,
)


def q461_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit-distance battery
    (llm/texteval.edit_distance_pairs — codepoint Levenshtein, CER,
    normalized similarity) over the derived eval pairs; the whole
    operator is JVM codegen (Spark's built-in levenshtein), zero
    exchanges."""
    from ..llm.texteval import edit_distance_pairs

    return edit_distance_pairs(_eval_pairs(spark, sf_dir)).orderBy(
        "pair_id"
    )


def _q461_oracle() -> str:
    return f"""
    WITH normed AS (
      SELECT pair_id,
             trim(regexp_replace(lower(cand), '\\s+', ' ', 'g')) AS nc,
             trim(regexp_replace(lower(ref), '\\s+', ' ', 'g')) AS nr
      FROM ({_PAIRS_SQL})),
    d AS (
      SELECT pair_id,
             CAST(length(nc) AS BIGINT) AS len_cand,
             CAST(length(nr) AS BIGINT) AS len_ref,
             CAST(levenshtein(nc, nr) AS BIGINT) AS edit_dist
      FROM normed)
    SELECT pair_id, len_cand, len_ref, edit_dist,
           round(CASE WHEN len_cand = 0 AND len_ref = 0 THEN 0.0
                      WHEN len_ref = 0 THEN NULL
                      ELSE CAST(edit_dist AS DOUBLE) / len_ref END, 6)
             AS cer,
           round(CASE WHEN len_cand = 0 AND len_ref = 0 THEN 1.0
                      ELSE 1.0 - CAST(edit_dist AS DOUBLE)
                           / greatest(len_cand, len_ref) END, 6)
             AS norm_sim
    FROM d ORDER BY pair_id
    """


_Q461_NOTES = (
    "CHAR EDIT-DISTANCE BATTERY (llm/texteval.edit_distance_pairs — "
    "Levenshtein 1966; CER, the ASR/OCR error metric of record, and "
    "normalized similarity): lowercase + whitespace-collapse "
    "normalization (distance measures content, not spacing — "
    "documented), then Spark's BUILT-IN codepoint levenshtein — the "
    "whole operator is map-side JVM codegen, ZERO exchanges, zero "
    "Python; both engines' levenshtein verified codepoint-based (the "
    "chr(300) probe); ref-empty cer degrades to NULL (documented)"
)

register("q461_edit_distance", _q461_oracle(), _Q461_NOTES)(q461_edit_distance)


def q462_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level edit distance / WER (llm/texteval.word_error_rate —
    shift-free TER, documented) over the derived eval pairs; the
    grouped-Arrow slow-path contract (bounded eval set, never
    corpus x corpus)."""
    from ..llm.texteval import word_error_rate

    return word_error_rate(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


def _q462_oracle() -> str:
    # edit distance is invariant under any per-pair token bijection, so
    # the oracle relabels each distinct token to a unique SINGLE-BYTE
    # printable ASCII char (chr(32+pos), pos 1..94) and runs DuckDB's
    # native levenshtein on the encoded strings — DuckDB's levenshtein
    # counts BYTES, not codepoints (probed: a 2-byte-char prefix pair
    # read 2x its codepoint distance), so the relabel alphabet must
    # stay single-byte. Valid for per-pair vocab <= 94: the fixture
    # maxes at 31 at every scale; larger vocabs hit the NULL guard and
    # fail the compare LOUDLY instead of silently mismatching. The
    # operator itself (numpy DP) is vocab-unbounded —
    # list_distinct's element order doesn't matter, only injectivity.
    enc = (
        "COALESCE(list_aggregate(list_transform({side}, x -> "
        "chr(CASE WHEN len(vocab) <= 94 "
        "THEN 32 + list_position(vocab, x) END)), "
        "'string_agg', ''), '')"
    )
    return f"""
    WITH norm AS ({_NORM_SQL}),
    vocabed AS (
      SELECT pair_id, ct, rt,
             list_distinct(list_concat(ct, rt)) AS vocab
      FROM norm),
    encoded AS (
      SELECT pair_id,
             CAST(len(ct) AS BIGINT) AS n_cand,
             CAST(len(rt) AS BIGINT) AS n_ref,
             {enc.format(side='ct')} AS ec,
             {enc.format(side='rt')} AS er
      FROM vocabed),
    d AS (
      SELECT pair_id, n_cand, n_ref,
             CAST(levenshtein(ec, er) AS BIGINT) AS word_dist
      FROM encoded)
    SELECT pair_id, n_cand, n_ref, word_dist,
           round(CASE WHEN n_cand = 0 AND n_ref = 0 THEN 0.0
                      WHEN n_ref = 0 THEN NULL
                      ELSE CAST(word_dist AS DOUBLE) / n_ref END, 6)
             AS wer
    FROM d ORDER BY pair_id
    """


_Q462_NOTES = (
    "WORD ERROR RATE / SHIFT-FREE TER (llm/texteval.word_error_rate — "
    "the ASR metric of record; = TER without block shifts, Snover et "
    "al. AMTA 2006, deviation documented): O(|c|*|r|) DP per pair as "
    "an Arrow-batched mapInPandas with a row-vectorized numpy kernel "
    "(insertion recurrence collapsed to a running min via the "
    "(m-j)+j accumulate identity) — the grouped-Arrow bounded-eval "
    "contract; SQL oracle via bijection invariance: relabel tokens to "
    "codepoints, native levenshtein (surrogate block skipped); "
    "randomized cross-check vs a reference DP in tests/test_round15"
)

register("q462_wer", _q462_oracle(), _Q462_NOTES)(q462_wer)


def q463_chrf_pp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF++ (llm/texteval.chrf_pp — chrF with the word-order
    component, sacrebleu chrF2++ parameters) over the derived eval
    pairs."""
    from ..llm.texteval import chrf_pp

    return chrf_pp(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


def _q463_oracle() -> str:
    def cgrams(src: str, n: int) -> str:
        return (
            f"CASE WHEN length({src}) >= {n} THEN "
            f"list_transform(generate_series(1, length({src}) - {n - 1}), "
            f"i -> substr({src}, i, {n})) ELSE CAST([] AS VARCHAR[]) END"
        )

    cgrams_side = " UNION ALL ".join(
        f"SELECT pair_id, {n} AS n, unnest({cgrams('{col}', n)}) AS gram "
        "FROM stripped"
        for n in (1, 2, 3, 4, 5, 6)
    )
    wgrams_side = " UNION ALL ".join(
        f"SELECT pair_id, {100 + n} AS n, "
        f"unnest({_wgrams_sql('{col}', n)}) AS gram FROM norm"
        for n in (1, 2)
    )
    return f"""
    WITH norm AS ({_NORM_SQL}),
    stripped AS (
      SELECT pair_id,
             regexp_replace(lower(cand), '\\s+', '', 'g') AS cs,
             regexp_replace(lower(ref), '\\s+', '', 'g') AS rs
      FROM ({_PAIRS_SQL})),
    cg AS (SELECT pair_id, n, gram, COUNT(*) AS c FROM (
             {cgrams_side.format(col='cs')}
             UNION ALL {wgrams_side.format(col='ct')})
           GROUP BY pair_id, n, gram),
    rg AS (SELECT pair_id, n, gram, COUNT(*) AS c FROM (
             {cgrams_side.format(col='rs')}
             UNION ALL {wgrams_side.format(col='rt')})
           GROUP BY pair_id, n, gram),
    ov AS (SELECT cg.pair_id, cg.n, SUM(least(cg.c, rg.c)) AS ovl
           FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
                          AND cg.gram = rg.gram
           GROUP BY cg.pair_id, cg.n),
    tot AS (SELECT s.pair_id, n.n,
                   CASE WHEN n.n <= 6
                        THEN greatest(length(s.cs) - n.n + 1, 0)
                        ELSE greatest(len(w.ct) - (n.n - 100) + 1, 0)
                   END AS cgr,
                   CASE WHEN n.n <= 6
                        THEN greatest(length(s.rs) - n.n + 1, 0)
                        ELSE greatest(len(w.rt) - (n.n - 100) + 1, 0)
                   END AS rgr
            FROM stripped s JOIN norm w ON s.pair_id = w.pair_id
            CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6),
                               (101), (102)) n(n)),
    per_n AS (
      SELECT t.pair_id, t.n, COALESCE(o.ovl, 0) AS ovl, t.cgr, t.rgr
      FROM tot t LEFT JOIN ov o ON t.pair_id = o.pair_id AND t.n = o.n),
    per_pair AS (
      SELECT pair_id,
             SUM(CASE WHEN cgr > 0
                      THEN CAST(round(ovl / cgr, 9) AS DECIMAL(25,9)) END)
               AS psum,
             COUNT(CASE WHEN cgr > 0 THEN 1 END) AS pk,
             SUM(CASE WHEN rgr > 0
                      THEN CAST(round(ovl / rgr, 9) AS DECIMAL(25,9)) END)
               AS rsum,
             COUNT(CASE WHEN rgr > 0 THEN 1 END) AS rk,
             max(cgr) AS anyc, max(rgr) AS anyr
      FROM per_n GROUP BY pair_id)
    SELECT pair_id,
           CAST(round(CAST(round(
             CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                  WHEN pk = 0 THEN 0.0
                  ELSE CAST(psum AS DOUBLE) / pk END, 9)
             AS DECIMAL(25,9)), 6) AS DOUBLE) AS chr_p,
           CAST(round(CAST(round(
             CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                  WHEN rk = 0 THEN 0.0
                  ELSE CAST(rsum AS DOUBLE) / rk END, 9)
             AS DECIMAL(25,9)), 6) AS DOUBLE) AS chr_r,
           CAST(round(CAST(round(
             CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                  WHEN anyc = 0 OR anyr = 0 OR pk = 0 OR rk = 0 THEN 0.0
                  WHEN CAST(psum AS DOUBLE) / pk = 0
                       OR CAST(rsum AS DOUBLE) / rk = 0 THEN 0.0
                  ELSE 5.0 * (CAST(psum AS DOUBLE) / pk)
                       * (CAST(rsum AS DOUBLE) / rk)
                       / (4.0 * (CAST(psum AS DOUBLE) / pk)
                          + (CAST(rsum AS DOUBLE) / rk)) END, 9)
             AS DECIMAL(25,9)), 6) AS DOUBLE) AS chrf_pp
    FROM per_pair ORDER BY pair_id
    """


_Q463_NOTES = (
    "chrF++ (llm/texteval.chrf_pp — Popovic WMT 2017: chrF plus word "
    "1-2-gram precision/recall, sacrebleu chrF2++ parameters): the "
    "q436 char-order frame UNIONed with the clipped_ngram_stats word "
    "frame (orders offset by 100), one pair-keyed reduce — exactly "
    "chrf's shape plus one union arm; engine tokenizer stands in for "
    "the paper's punctuation tokenizer (documented); per-order "
    "ratios 9dp on DECIMAL(25,9), effective-order means, fixed-form "
    "F-beta"
)

register("q463_chrf_pp", _q463_oracle(), _Q463_NOTES)(q463_chrf_pp)


def q464_detok_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detokenized corpus BLEU (llm/texteval.bleu_corpus with
    tokenizer='ws' — case and punctuation preserved, the sacrebleu
    no-pretokenization convention pinned as the q434 variant the
    tokenizer-swap note in llm/texteval promises)."""
    from ..llm.texteval import bleu_corpus

    return bleu_corpus(
        _eval_pairs(spark, sf_dir), max_n=4, tokenizer="ws"
    ).orderBy("n")


_T_WS = "list_filter(string_split_regex({c}, '\\s+'), x -> x <> '')"


def _q464_oracle() -> str:
    grams_side = " UNION ALL ".join(
        f"SELECT pair_id, {n} AS n, unnest({_wgrams_sql('{col}', n)}) AS gram "
        "FROM norm"
        for n in (1, 2, 3, 4)
    )
    norm_ws = f"""
      SELECT pair_id, {_T_WS.format(c='cand')} AS ct,
             {_T_WS.format(c='rf')} AS rt
      FROM (SELECT pair_id, cand, ref AS rf FROM ({_PAIRS_SQL}))
    """
    return f"""
    WITH norm AS ({norm_ws}),
    cg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='ct')}) GROUP BY pair_id, n, gram),
    rg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='rt')}) GROUP BY pair_id, n, gram),
    ov AS (SELECT cg.n, SUM(least(cg.c, rg.c)) AS clipped
           FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
                          AND cg.gram = rg.gram
           GROUP BY cg.n),
    tot AS (SELECT n.n,
                   SUM(greatest(len(ct) - n.n + 1, 0)) AS total
            FROM norm CROSS JOIN (VALUES (1), (2), (3), (4)) n(n)
            GROUP BY n.n),
    lens AS (SELECT SUM(len(ct)) AS c_len, SUM(len(rt)) AS r_len FROM norm),
    per_n AS (
      SELECT t.n, COALESCE(o.clipped, 0) AS clipped, t.total,
             CASE WHEN t.total > 0
                  THEN round(COALESCE(o.clipped, 0) / t.total, 9) END AS p_n
      FROM tot t LEFT JOIN ov o ON t.n = o.n),
    geo AS (
      SELECT min(p_n) AS pmin,
             SUM(CASE WHEN p_n > 0
                      THEN CAST(round(ln(p_n), 9) AS DECIMAL(25,9)) END)
               AS lnsum,
             COUNT(p_n) AS k
      FROM per_n)
    SELECT CAST(per_n.n AS INTEGER) AS n,
           CAST(per_n.clipped AS BIGINT) AS clipped,
           CAST(per_n.total AS BIGINT) AS total,
           round(p_n, 6) AS p_n,
           CAST(lens.c_len AS BIGINT) AS c_len,
           CAST(lens.r_len AS BIGINT) AS r_len,
           round(least(1.0, exp(1.0 - lens.r_len / lens.c_len)), 6) AS bp,
           round(CASE WHEN geo.pmin <= 0 THEN 0.0
                      ELSE least(1.0, exp(1.0 - lens.r_len / lens.c_len))
                           * exp(CAST(geo.lnsum AS DOUBLE) / geo.k) END, 6)
             AS bleu
    FROM per_n CROSS JOIN lens CROSS JOIN geo
    ORDER BY per_n.n
    """


_Q464_NOTES = (
    "DETOKENIZED CORPUS BLEU (llm/texteval.bleu_corpus "
    "tokenizer='ws' — the sacrebleu convention: score the raw "
    "detokenized text, whitespace split, case and punctuation "
    "PRESERVED; the q434 pipeline with the tokenizer swapped, "
    "pinning the swap the _norm_tokens docstring documents): "
    "identical exactness contract (exact LONG counts, 9dp p_n, "
    "decimal ln-sum, unsmoothed zero-pinning); the ws/norm DELTA on "
    "the same pairs is the tokenization-sensitivity readout"
)

register("q464_detok_bleu", _q464_oracle(), _Q464_NOTES)(q464_detok_bleu)


def q465_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CURATION DAG in ONE composed plan — filter (C4 line
    battery, q439) → exact dedup keep-first (q06 discipline) → mix
    (per-source quota, q174) → pack (sharded token packing, q84) →
    eval (per-lang pack-utilization summary). Every stage is an
    existing operator; what this query pins is the COMPOSED plan:
    five doc-keyed stages = five hash exchanges (doc reassembly, text
    dedup window, source quota window, lang pack window, lang
    reduce), no SinglePartition anywhere, no join beyond the one
    broadcast back to doc metadata (plan-gated in
    tests/test_round15.py like q84)."""
    from ..llm.quality import c4_line_filters
    from ..llm.sampling import pack_by_token_budget, quota_sample

    meta = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    c4 = c4_line_filters(_lined_docs(spark, sf_dir))
    kept = c4.filter(F.col("page_pass")).select("doc_id", "clean_text")
    w_dedup = Window.partitionBy("clean_text").orderBy("doc_id")
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    enriched = deduped.join(F.broadcast(meta), "doc_id")
    mixed = quota_sample(enriched, "source", "doc_id", quota=40)
    with_toks = mixed.withColumn(
        "n_toks", F.size(tokens("clean_text")).cast("long")
    )
    packed = pack_by_token_budget(
        with_toks, "doc_id", "n_toks", budget=400, shard_by="lang"
    )
    return (
        packed.groupBy("lang")
        .agg(
            F.countDistinct("batch_id").cast("long").alias("n_packs"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("sum_tokens"),
        )
        .select(
            "lang",
            "n_packs",
            "n_docs",
            "sum_tokens",
            F.round(
                F.col("sum_tokens") / (F.col("n_packs") * F.lit(400.0)), 6
            ).alias("fill_ratio"),
        )
        .orderBy("lang")
    )


def _q465_oracle() -> str:
    keep = (
        "regexp_matches(trim(l), '[.!?][\"'']?$') "
        "AND len(list_filter(string_split_regex(trim(l), '\\s+'), "
        "x -> x <> '')) >= 5 "
        "AND NOT regexp_matches(lower(trim(l)), 'javascript')"
    )
    return f"""
    WITH lined AS ({_LINED_SQL}),
    judged AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS ls,
             list_filter(string_split(text, chr(10)), l -> {keep}) AS kept
      FROM lined),
    c4kept AS (
      SELECT doc_id,
             COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
      FROM judged
      WHERE len(kept) >= 3
        AND NOT (strpos(text, '{{') > 0 OR strpos(text, '}}') > 0)
        AND NOT strpos(lower(text), 'lorem ipsum') > 0),
    deduped AS (
      SELECT doc_id, clean_text FROM (
        SELECT doc_id, clean_text,
               ROW_NUMBER() OVER (PARTITION BY clean_text
                                  ORDER BY doc_id) AS rn
        FROM c4kept) WHERE rn = 1),
    enriched AS (
      SELECT d.doc_id, d.clean_text, m.source, m.lang
      FROM deduped d JOIN documents m ON d.doc_id = m.doc_id),
    mixed AS (
      SELECT doc_id, clean_text, source, lang FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':quota')) ASC,
                   doc_id ASC) AS rk
        FROM enriched) WHERE rk <= 40),
    toked AS (
      SELECT doc_id, source, lang,
             CAST(len({_T.format(c='clean_text')}) AS BIGINT) AS n_toks
      FROM mixed),
    packed AS (
      SELECT lang, doc_id, n_toks,
             CAST(floor((SUM(n_toks) OVER (PARTITION BY lang
                                           ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                         - n_toks) / 400.0) AS BIGINT) AS batch_id
      FROM toked)
    SELECT lang,
           CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_packs,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
           round(CAST(SUM(n_toks) AS DOUBLE)
                 / (COUNT(DISTINCT batch_id) * 400.0), 6) AS fill_ratio
    FROM packed GROUP BY lang ORDER BY lang
    """


_Q465_NOTES = (
    "CURATION DAG REGRESSION (composition class, q396/q418 "
    "convention — no new operator): the end-to-end filter(C4 q439) "
    "-> exact-dedup-keep-first(q06) -> source-quota mix(q174) -> "
    "sharded token pack(q84) -> per-lang utilization eval chain in "
    "ONE composed plan; pins the composed EXCHANGE COUNT (five "
    "doc/text/source/lang-keyed hash exchanges, zero SinglePartition "
    "— plan-gated like q84 in tests/test_round15.py) and replays "
    "every stage's own oracle semantics nested verbatim in one SQL"
)

register("q465_curation_dag", _q465_oracle(), _Q465_NOTES)(q465_curation_dag)


def q470_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (llm/texteval.rouge_l — LCS-based order-sensitive
    overlap) over the derived eval pairs. Rows-only by design: LCS
    has no SQL-expressible form (the q462 bijection trick needs
    substitutions allowed; d_indel must forbid them) — semantics are
    pinned by the randomized reference-DP cross-check and the
    overlap-bound law in tests/test_round15.py."""
    from ..llm.texteval import rouge_l

    return rouge_l(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


_Q470_NOTES = (
    "ROUGE-L (llm/texteval.rouge_l — Lin 2004 §3.1: LCS-based "
    "order-sensitive overlap, the gap between ROUGE-1 bags and "
    "ROUGE-2 strict bigrams; LCS = (|c|+|r|-d_indel)/2 via the "
    "insertion/deletion-only DP): the q462 Arrow mapInPandas kernel "
    "class (bounded eval pairs, row-vectorized numpy DP); ROWS-ONLY "
    "by design — no SQL-expressible LCS (levenshtein's substitutions "
    "break the bijection-relabel trick) — pinned by randomized "
    "reference-DP cross-checks, identity/disjoint/subsequence laws, "
    "and the LCS <= unigram-overlap bound vs token_f1 "
    "(tests/test_round15.py)"
)

register("q470_rouge_l", None, _Q470_NOTES)(q470_rouge_l)


# --- distribution-comparison battery: q471-q475 ------------------------------


def q471_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test
    (operators/mlmetrics.ks_two_sample) of order totals: URGENT vs
    LOW priority — the distribution-drift gate every feature
    pipeline runs between a reference window and live data."""
    from ..operators.mlmetrics import ks_two_sample

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return ks_two_sample(orders, "grp", "val", "1-URGENT", "5-LOW")


def _ecdf_sql(ga: str, gb: str) -> str:
    return f"""
    base AS (
      SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND o_orderpriority IN ('{ga}', '{gb}')),
    per_v AS (
      SELECT v,
             CAST(COUNT(CASE WHEN g = '{ga}' THEN 1 END) AS BIGINT) AS ca,
             CAST(COUNT(CASE WHEN g = '{gb}' THEN 1 END) AS BIGINT) AS cb
      FROM base GROUP BY v),
    cums AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb
      FROM per_v),
    ns AS (
      SELECT CAST(COUNT(CASE WHEN g = '{ga}' THEN 1 END) AS BIGINT) AS na,
             CAST(COUNT(CASE WHEN g = '{gb}' THEN 1 END) AS BIGINT) AS nb
      FROM base)
    """


def _q471_oracle() -> str:
    from ..operators.mlmetrics import kolmogorov_sf_sql

    return f"""
    WITH {_ecdf_sql('1-URGENT', '5-LOW')},
    agg AS (
      SELECT MAX(round(abs(CAST(cuma AS DOUBLE) / na
                           - CAST(cumb AS DOUBLE) / nb), 9)) AS d,
             MAX(na) AS na, MAX(nb) AS nb
      FROM cums CROSS JOIN ns),
    lamf AS (
      SELECT na, nb, d,
             (sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) + 0.12
              + 0.11 / sqrt(CAST(na AS DOUBLE) * nb / (na + nb))) * d
               AS lam
      FROM agg)
    SELECT na AS n_a, nb AS n_b,
           round(CASE WHEN na > 0 AND nb > 0 THEN d END, 6) AS d_stat,
           round(CASE WHEN na > 0 AND nb > 0 THEN lam END, 6)
             AS ks_lambda,
           CASE WHEN na > 0 AND nb > 0
                THEN round({kolmogorov_sf_sql('lam')}, 9) END AS p_value
    FROM lamf
    """


_Q471_NOTES = (
    "TWO-SAMPLE KOLMOGOROV-SMIRNOV (operators/mlmetrics.ks_two_sample "
    "— Smirnov 1939: D = sup |ECDF_a - ECDF_b|, the drift gate "
    "sensitive to ANY location/scale/shape change): exact D on the "
    "pooled distinct-value grid (ECDFs only step at sample points; "
    "cum counts exact LONGs, one ordered scan over the compressed "
    "distinct-value frame — the q455 class; q280 prefix-sum swap "
    "documented for 100 TB); asymptotic p via the Numerical Recipes "
    "lambda correction and the 10-term Kolmogorov series on 9dp "
    "decimal terms, pinned to 1 below lambda 0.3 (documented)"
)

register("q471_ks_two_sample", _q471_oracle(), _Q471_NOTES)(q471_ks_two_sample)


def q472_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér-von Mises two-sample criterion
    (operators/mlmetrics.cvm_two_sample) of order totals: HIGH vs
    NOT-SPECIFIED priority — integrates the squared ECDF gap KS only
    reads at its maximum."""
    from ..operators.mlmetrics import cvm_two_sample

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return cvm_two_sample(
        orders, "grp", "val", "2-HIGH", "4-NOT SPECIFIED"
    )


def _q472_oracle() -> str:
    return f"""
    WITH {_ecdf_sql('2-HIGH', '4-NOT SPECIFIED')},
    agg AS (
      SELECT CAST(SUM(CAST(round(
               (ca + cb)
               * (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)
               * (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb),
               9) AS DECIMAL(25,9))) AS DOUBLE) AS s,
             MAX(na) AS na, MAX(nb) AS nb
      FROM cums CROSS JOIN ns)
    SELECT na AS n_a, nb AS n_b,
           round(CASE WHEN na > 0 AND nb > 0
                 THEN CAST(na AS DOUBLE) * nb
                      / ((CAST(na AS DOUBLE) + nb)
                         * (CAST(na AS DOUBLE) + nb)) * s END, 6)
             AS t_stat
    FROM agg
    """


_Q472_NOTES = (
    "CRAMER-VON MISES TWO-SAMPLE (operators/mlmetrics.cvm_two_sample "
    "— Anderson 1962 tie-adjusted: T integrates the SQUARED ECDF gap "
    "over the pooled sample, catching distributed small differences "
    "KS's single max misses): same distinct-value grid as q471, "
    "squared-gap terms on 9dp DECIMAL; reported stat-only (the CvM "
    "limiting distribution has no engine closed form — documented; "
    "q471 carries the p story)"
)

register("q472_cvm_two_sample", _q472_oracle(), _Q472_NOTES)(q472_cvm_two_sample)


def q473_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) variance-homogeneity
    test (operators/mlmetrics.levene_test) of order totals across
    the five priority classes — the spread-comparability gate before
    q475's ANOVA."""
    from ..operators.mlmetrics import levene_test

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return levene_test(orders, "grp", "val")


def _q473_oracle() -> str:
    return """
    WITH base AS (
      SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    cen AS (SELECT g, median(v) AS c FROM base GROUP BY g),
    z AS (SELECT base.g, abs(base.v - cen.c) AS z
          FROM base JOIN cen ON base.g = cen.g),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             SUM(CAST(round(z, 9) AS DECIMAL(25,9))) AS sz,
             SUM(CAST(round(z * z, 9) AS DECIMAL(25,9))) AS qz
      FROM z GROUP BY g),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sz) AS s,
             CAST(SUM(qz) AS DOUBLE) AS q,
             CAST(SUM(CAST(round(
               CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / ng, 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS sb
      FROM per_g),
    stat AS (
      SELECT k, n,
             sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
             q - sb AS ssw
      FROM agg)
    SELECT k AS k_groups, n AS n_total,
           round(CASE WHEN k >= 2 AND n > k AND ssw > 0
                      THEN (CAST(n AS DOUBLE) - k) / (k - 1) * ssb / ssw
                 END, 6) AS w_stat,
           k - 1 AS dof1, n - k AS dof2
    FROM stat
    """


_Q473_NOTES = (
    "BROWN-FORSYTHE / LEVENE (operators/mlmetrics.levene_test — "
    "Levene 1960, Brown & Forsythe 1974 median centering, the scipy "
    "default: variance-homogeneity gate before pooled-variance "
    "tests): exact interpolated group medians (both engines' "
    "continuous 0.5-quantile), |x-median| moments on 9dp DECIMAL, "
    "one-way F on the z frame; stat-only (F tail out of closed-form "
    "scope — the q469 convention); one group quantile agg + "
    "broadcast-back + one moment agg + 1-row reduce"
)

register("q473_levene_bf", _q473_oracle(), _Q473_NOTES)(q473_levene_bf)


def q474_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity test
    (operators/mlmetrics.bartlett_test) of extended price across
    lineitem line numbers — the normal-theory companion to q473 with
    a closed-form chi-squared p."""
    from ..operators.mlmetrics import bartlett_test

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("grp"),
        F.col("l_extendedprice").cast("double").alias("val"),
    )
    return bartlett_test(li, "grp", "val")


def _q474_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT l_linenumber AS g, CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             SUM(CAST(round(v, 9) AS DECIMAL(25,9))) AS sv,
             SUM(CAST(round(v * v, 9) AS DECIMAL(25,9))) AS qv
      FROM base GROUP BY g),
    s2s AS (
      SELECT ng,
             round((CAST(qv AS DOUBLE)
                    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / ng)
                   / (ng - 1), 9) AS s2
      FROM per_g),
    good AS (SELECT * FROM s2s WHERE ng >= 2 AND s2 > 0),
    bad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
            FROM s2s WHERE ng < 2 OR s2 <= 0),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(CAST(round((ng - 1) * s2, 9) AS DECIMAL(25,9)))
                  AS DOUBLE) AS pool,
             CAST(SUM(CAST(round((ng - 1) * ln(s2), 9)
                           AS DECIMAL(25,9))) AS DOUBLE) AS lnsum,
             CAST(SUM(CAST(round(1.0 / (ng - 1), 9) AS DECIMAL(25,9)))
                  AS DOUBLE) AS inv
      FROM good),
    stat AS (
      SELECT k, n,
             CASE WHEN k >= 2 AND n > k THEN
               ((CAST(n AS DOUBLE) - k) * ln(pool / (CAST(n AS DOUBLE) - k))
                - lnsum)
               / (1.0 + (inv - 1.0 / (CAST(n AS DOUBLE) - k))
                        / (3.0 * (k - 1)))
             END AS t_raw
      FROM agg)
    SELECT k AS k_groups, n AS n_total,
           round(t_raw, 6) AS t_stat,
           CASE WHEN t_raw IS NOT NULL
                THEN {_wh_p_sql('greatest(t_raw, 0.0)', '(k - 1)')} END
             AS p_value,
           bad.n_excluded
    FROM stat CROSS JOIN bad
    """


_Q474_NOTES = (
    "BARTLETT'S TEST (operators/mlmetrics.bartlett_test — Bartlett "
    "1937: normal-theory variance homogeneity, more powerful than "
    "Levene under normality and the one with a CLOSED-FORM chi2 p at "
    "k-1 dof via the q451 Wilson-Hilferty tail): group variances "
    "from 9dp decimal moments (sample n-1), ln terms 9dp on DECIMAL "
    "(q384 libm rule), degenerate groups (n<2 or zero variance) "
    "excluded and counted; ONE group agg + ONE 1-row reduce"
)

register("q474_bartlett", _q474_oracle(), _Q474_NOTES)(q474_bartlett)


def q475_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (operators/mlmetrics.anova_oneway) of order
    totals across the five priority classes — F plus eta²/omega²
    effect sizes; the parametric twin of the registered
    Kruskal-Wallis."""
    from ..operators.mlmetrics import anova_oneway

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return anova_oneway(orders, "grp", "val")


def _q475_oracle() -> str:
    return """
    WITH base AS (
      SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             SUM(CAST(round(v, 9) AS DECIMAL(25,9))) AS sv,
             SUM(CAST(round(v * v, 9) AS DECIMAL(25,9))) AS qv
      FROM base GROUP BY g),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sv) AS s,
             CAST(SUM(qv) AS DOUBLE) AS q,
             CAST(SUM(CAST(round(
               CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / ng, 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS sb
      FROM per_g),
    stat AS (
      SELECT k, n,
             sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
             q - sb AS ssw,
             k >= 2 AND n > k AS ok
      FROM agg),
    ms AS (
      SELECT k, n, ssb, ssw, ok,
             CASE WHEN ok THEN ssb / (k - 1) END AS msb,
             CASE WHEN ok THEN ssw / (CAST(n AS DOUBLE) - k) END AS msw
      FROM stat)
    SELECT k AS k_groups, n AS n_total,
           round(CASE WHEN msw > 0 THEN msb / msw END, 6) AS f_stat,
           round(CASE WHEN ok AND (ssb + ssw) > 0
                      THEN ssb / (ssb + ssw) END, 6) AS eta_sq,
           round(CASE WHEN msw > 0 AND (ssb + ssw + msw) > 0
                      THEN (ssb - (k - 1) * msw) / (ssb + ssw + msw)
                 END, 6) AS omega_sq
    FROM ms
    """


_Q475_NOTES = (
    "ONE-WAY ANOVA (operators/mlmetrics.anova_oneway — Fisher 1925: "
    "the k-group mean comparison; Kruskal-Wallis is its registered "
    "rank twin, q473 runs it on spreads, q469 reads the same "
    "decomposition as reliability): q469's decimal moment discipline "
    "(9dp values/squares, S^2/n as 9dp IEEE divisions onto decimal), "
    "F + eta-squared + omega-squared effect sizes, stat-only "
    "(documented F-tail convention; the rank twin carries the p)"
)

register("q475_anova_oneway", _q475_oracle(), _Q475_NOTES)(q475_anova_oneway)

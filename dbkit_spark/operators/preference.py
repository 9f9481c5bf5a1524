"""Preference-data operators (RLHF / arena-style pairwise comparisons).

Reward-model and arena pipelines consume PAIRWISE PREFERENCES (human or
LLM judges picking a winner between two completions) and need a
standing readout battery before any training run:

- ``bradley_terry``: latent strength per item under the Bradley-Terry
  model (Bradley & Terry 1952), fitted with the Minorization-
  Maximization iteration of Hunter 2004 ("MM algorithms for generalized
  Bradley-Terry models") — the same estimator behind Chatbot-Arena-style
  leaderboards. The corpus-scale work is ONE groupBy over the match
  table; the MM iterations run on items-sized frames (items = models /
  prompts / policies — small by construction), broadcast-joined.
- ``preference_cycles``: the transitivity audit — how many decided
  triads are cyclic (A beats B beats C beats A). A high cycle rate means
  the judge pool is noisy or the preference is genuinely non-transitive;
  either way a scalar BT strength under-fits and the number belongs next
  to the leaderboard (Kendall 1938 consistency; tournament triad census,
  Moon 1968).
- ``pairwise_winrates``: per-pair empirical win rate with a Wilson score
  interval (Wilson 1927) — the honest small-n interval (never leaves
  [0,1], sane at p̂∈{0,1}), per-pair sample sizes in arena data are
  routinely tiny.
- ``length_controlled_winrates``: the de-verbosity correction (Dubois
  et al. 2024, Length-Controlled AlpacaEval) — judges prefer longer
  responses, so raw win rates confound quality with verbosity; the
  per-pair OLS intercept is the equal-length win rate.
- ``order_bias_audit``: the position-bias check (Zheng et al. 2023,
  Judging LLM-as-a-Judge §3.2) — verify the arena UI's position
  randomization actually held, in-engine.

Scale notes (100 TB): the match table is the only corpus-sized input;
every operator reduces it with one map-combined groupBy to a pair table
bounded by items² rows. All downstream joins/windows run on items- or
pairs-sized frames (metadata), explicitly broadcast. Nothing iterates
over the match table.

Cross-engine determinism (SURVEY §5.3): counts are exact LONGs; every
division is a single IEEE op on identical operands rounded at 9dp;
multi-row reductions ride DECIMAL(38,9) over 9dp-rounded terms; sqrt is
libm so Wilson bounds round at 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregate import stable_sum
from .iterate import checkpoint_and_release, held

_Z95 = 1.959963984540054  # two-sided 95% normal quantile (pinned literal)


def _directed_wins(
    matches: DataFrame, winner_col: str, loser_col: str
) -> DataFrame:
    """(i, j, w) — matches where i beat j; the one corpus-sized
    reduction (map-side combined groupBy). NULL and self-paired rows
    are dropped (a self-match carries no preference information)."""
    return (
        matches.filter(
            F.col(winner_col).isNotNull()
            & F.col(loser_col).isNotNull()
            & (F.col(winner_col) != F.col(loser_col))
        )
        .groupBy(
            F.col(winner_col).alias("i"), F.col(loser_col).alias("j")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


def bradley_terry(
    matches: DataFrame,
    winner_col: str,
    loser_col: str,
    iters: int = 5,
) -> DataFrame:
    """Bradley-Terry strengths via ``iters`` fixed MM steps from the
    uniform start (Hunter 2004 eq. 2):

        s_i  <-  W_i / sum_j  n_ij / (s_i + s_j)

    then mean-normalized each step so strengths stay O(1). A FIXED
    iteration count (not a convergence test) keeps the result a pure
    deterministic function of the match table — replayable in any
    engine. Items that never lose diverge under the MLE; with fixed
    iterations they report a finite, monotonically growing strength
    (documented, not an error). Items that never win report 0.

    Output: (item, games, wins, strength, rank) — rank by strength
    DESC at the 9dp grid with the item name as the unique tiebreaker
    (§5.3 rule 5). Plans: one shuffle for the match groupBy; the MM
    loop is items²-sized broadcast joins + items-sized aggregates.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    d = _directed_wins(matches, winner_col, loser_col)
    # Complete ordered pair table: n_ij = w_ij + w_ji for every ordered
    # pair that played at least once (both orientations present).
    # pairs-sized and the root of every downstream branch (totals,
    # games, the MM loop): held so the corpus-sized match reduction
    # runs ONCE, not once per branch
    sym = (
        d.select("i", "j", "w")
        .unionByName(d.select(F.col("j").alias("i"), F.col("i").alias("j"), F.lit(0).cast("long").alias("w")))
        .groupBy("i", "j")
        .agg(F.sum("w").alias("wij"))
    )
    n = (
        sym.alias("a")
        .join(sym.alias("b"), (F.col("a.i") == F.col("b.j")) & (F.col("a.j") == F.col("b.i")))
        .select(
            F.col("a.i").alias("i"),
            F.col("a.j").alias("j"),
            (F.col("a.wij") + F.col("b.wij")).alias("n"),
        )
    )
    totals = sym.groupBy("i").agg(
        F.sum("wij").alias("wins"),
    )
    # n is pairs-sized and read by every MM step: held with sym for the
    # loop and the checkpoint of the result
    with held(sym, n):
        games = n.groupBy("i").agg(F.sum("n").alias("games"))
        s = totals.select("i", F.lit(1.0).alias("s"))
        # Each MM step references the previous strengths TWICE (as s_i and
        # s_j) and the normalization references the raw update twice more —
        # a naive lazy loop quadruples the logical plan per step (4^iters
        # copies of the match lineage; the first run OOM'd the driver at
        # FIVE items). localCheckpoint per step truncates the lineage to
        # the items-sized frame — the llm/cluster.py connected-components
        # precedent; 5 eager jobs over <=items rows is metadata work.
        for _ in range(iters):
            denom = (
                n.join(F.broadcast(s.select(F.col("i"), F.col("s").alias("_si"))), "i")
                .join(
                    F.broadcast(
                        s.select(F.col("i").alias("j"), F.col("s").alias("_sj"))
                    ),
                    "j",
                )
                .select(
                    "i",
                    F.round(
                        F.col("n").cast("double")
                        / (F.col("_si") + F.col("_sj")),
                        9,
                    ).alias("_term"),
                )
                .groupBy("i")
                .agg(stable_sum("_term", 9).alias("_denom"))
            )
            raw = totals.join(denom, "i").select(
                "i",
                F.round(
                    F.try_divide(F.col("wins").cast("double"), F.col("_denom")), 9
                ).alias("_raw"),
            )
            norm = raw.agg(
                (stable_sum("_raw", 9) / F.count(F.lit(1))).alias("_mean")
            )
            s = raw.crossJoin(F.broadcast(norm)).select(
                "i", F.round(F.col("_raw") / F.col("_mean"), 9).alias("s")
            ).localCheckpoint(eager=True)
        out = (
            totals.join(games, "i")
            .join(s, "i")
            .select(
                F.col("i").alias("item"),
                F.col("games").cast("long").alias("games"),
                F.col("wins").cast("long").alias("wins"),
                F.col("s").alias("_s9"),
            )
        )
        from pyspark.sql import Window

        rk = Window.orderBy(F.col("_s9").desc(), F.col("item").asc())
        return out.select(
            "item",
            "games",
            "wins",
            F.round(F.col("_s9"), 6).alias("strength"),
            F.row_number().over(rk).cast("long").alias("rank"),
        ).localCheckpoint(eager=True)


def preference_cycles(
    matches: DataFrame, winner_col: str, loser_col: str
) -> DataFrame:
    """Tournament triad census: among item triples where ALL THREE
    pairs are decided by a strict majority, how many are cyclic?

    A pair is DECIDED iff w_ij != w_ji (strict majority — ties carry no
    direction). A decided triad {a<b<c} is CYCLIC iff the three
    majority edges form a 3-cycle, else transitive. Output one row:
    (n_items, n_active_pairs, n_decided_pairs, n_decided_triads,
    n_cyclic_triads, cycle_rate).

    Plans: the match groupBy is the only corpus-sized step; the edge
    table is pairs-sized and every join below is items²-bounded and
    broadcast. The win table and the edge table feed several branches,
    so both are held for the checkpoint of the result.
    """
    d = _directed_wins(matches, winner_col, loser_col)
    # majority edges u -> v (u beat v strictly more often)
    both = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.i") == F.col("b.j")) & (F.col("a.j") == F.col("b.i")),
            "left",
        )
        .select(
            F.col("a.i").alias("u"),
            F.col("a.j").alias("v"),
            F.col("a.w").alias("wu"),
            F.coalesce(F.col("b.w"), F.lit(0)).alias("wv"),
        )
    )
    edges = both.filter(F.col("wu") > F.col("wv")).select("u", "v")
    items = d.select(F.col("i").alias("x")).unionByName(
        d.select(F.col("j").alias("x"))
    ).distinct()
    n_items = items.agg(F.count(F.lit(1)).alias("n_items"))
    # active pairs: unordered pairs with >= 1 match either direction
    pairs = d.select(
        F.least("i", "j").alias("a"), F.greatest("i", "j").alias("b")
    ).distinct()
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n_active_pairs"))
    und = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    )
    n_dec = und.agg(F.count(F.lit(1)).alias("n_decided_pairs"))
    # decided triads: all three unordered pairs decided
    t = (
        und.alias("p1")
        .join(und.alias("p2"), F.col("p1.a") == F.col("p2.a"))
        .filter(F.col("p1.b") < F.col("p2.b"))
        .select(
            F.col("p1.a").alias("x"),
            F.col("p1.b").alias("y"),
            F.col("p2.b").alias("z"),
        )
        .join(
            und.alias("p3"),
            (F.col("y") == F.col("p3.a")) & (F.col("z") == F.col("p3.b")),
        )
        .select("x", "y", "z")
    )
    n_triads = t.agg(F.count(F.lit(1)).alias("n_decided_triads"))
    # cyclic: directed edges close a 3-cycle; count each once via the
    # minimum-vertex anchoring (each directed 3-cycle has exactly one
    # vertex smaller than both neighbors)
    cyc = (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .join(
            edges.alias("e3"),
            (F.col("e2.v") == F.col("e3.u"))
            & (F.col("e3.v") == F.col("e1.u")),
        )
        .filter(
            (F.col("e1.u") < F.col("e2.u")) & (F.col("e1.u") < F.col("e3.u"))
        )
    )
    n_cyc = cyc.agg(F.count(F.lit(1)).alias("n_cyclic_triads"))
    res = (
        n_items.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_dec))
        .crossJoin(F.broadcast(n_triads))
        .crossJoin(F.broadcast(n_cyc))
        .select(
            "n_items",
            "n_active_pairs",
            "n_decided_pairs",
            "n_decided_triads",
            "n_cyclic_triads",
            F.round(
                F.try_divide(
                    F.col("n_cyclic_triads").cast("double"),
                    F.col("n_decided_triads").cast("double"),
                ),
                6,
            ).alias("cycle_rate"),
        )
    )
    return checkpoint_and_release(res, d, edges)


def pairwise_winrates(
    matches: DataFrame, winner_col: str, loser_col: str
) -> DataFrame:
    """Per unordered pair (a < b by name): match count, a's wins, a's
    empirical win rate, and the Wilson 95% score interval for it
    (Wilson 1927) — the interval of record for small-n pairwise tables
    (never exits [0,1]; behaves at p̂ = 0 or 1 where Wald collapses).

    One corpus-sized groupBy; everything after is pairs-sized. The
    Wilson chain (p̂ through sqrt) is single-row IEEE arithmetic on
    identical operands — deterministic cross-engine — rounded at 6dp
    (libm boundary, §5.3 rule 4).
    """
    d = _directed_wins(matches, winner_col, loser_col)
    per_pair = (
        d.select(
            F.least("i", "j").alias("item_a"),
            F.greatest("i", "j").alias("item_b"),
            F.when(F.col("i") < F.col("j"), F.col("w"))
            .otherwise(F.lit(0))
            .alias("wa"),
            F.col("w").alias("wt"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.sum("wt").cast("long").alias("n_matches"),
            F.sum("wa").cast("long").alias("wins_a"),
        )
    )
    nn = F.col("n_matches").cast("double")
    p = F.col("wins_a").cast("double") / nn
    z2 = F.lit(_Z95 * _Z95)
    denom = F.lit(1.0) + z2 / nn
    center = (p + z2 / (F.lit(2.0) * nn)) / denom
    half = (
        F.lit(_Z95)
        * F.sqrt(
            p * (F.lit(1.0) - p) / nn
            + z2 / (F.lit(4.0) * nn * nn)
        )
        / denom
    )
    return per_pair.select(
        "item_a",
        "item_b",
        "n_matches",
        "wins_a",
        F.round(p, 6).alias("winrate_a"),
        F.round(center - half, 6).alias("wilson_lo"),
        F.round(center + half, 6).alias("wilson_hi"),
    )


def length_controlled_winrates(
    matches: DataFrame,
    item_a_col: str,
    item_b_col: str,
    win_a_col: str,
    len_a_col: str,
    len_b_col: str,
) -> DataFrame:
    """Length-controlled win rate per item pair (Dubois et al. 2024,
    "Length-Controlled AlpacaEval" — the de-verbosity correction:
    judges systematically prefer longer responses, so the raw win rate
    confounds quality with verbosity). Per pair, regress win(0/1) on
    the response-length difference with closed-form OLS (a linear
    probability model — the lightweight stand-in for the paper's
    logistic fit, exactly SQL-replayable) and report the intercept:
    the win rate an equal-length match would show.

        beta  = (n·Sxy − Sx·Sy) / (n·Sxx − Sx·Sx)
        alpha = Sy/n − beta·(Sx/n)

    The caller supplies canonicalized pairs (item_a < item_b) with
    win_a as 0/1 and both lengths. When a pair has NO length variation
    the slope is inestimable (denominator 0) — slope reports NULL and
    the length-controlled rate falls back to the raw rate (documented:
    no variation means no estimable bias, not zero bias).

    ONE corpus-sized groupBy; x, y, x², x·y are exact integers so every
    sum is an exact LONG-derived DECIMAL — the only FP is the final
    division chain, identical-operand IEEE in both engines, 6dp out.

    Output per pair: (item_a, item_b, n_matches, winrate_a,
    mean_len_diff, length_bias_slope, lc_winrate_a).
    """
    x = (F.col(len_a_col) - F.col(len_b_col)).cast("double")
    y = F.col(win_a_col).cast("int").cast("double")
    base = matches.filter(
        F.col(item_a_col).isNotNull()
        & F.col(item_b_col).isNotNull()
        & F.col(win_a_col).isNotNull()
        & F.col(len_a_col).isNotNull()
        & F.col(len_b_col).isNotNull()
    ).select(
        F.col(item_a_col).alias("item_a"),
        F.col(item_b_col).alias("item_b"),
        x.alias("_x"),
        y.alias("_y"),
    )
    agg = base.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        stable_sum("_x", 0).alias("sx"),
        stable_sum("_y", 0).alias("sy"),
        stable_sum(F.col("_x") * F.col("_x"), 0).alias("sxx"),
        stable_sum(F.col("_x") * F.col("_y"), 0).alias("sxy"),
    )
    nn = F.col("n_matches").cast("double")
    beta = F.try_divide(
        nn * F.col("sxy") - F.col("sx") * F.col("sy"),
        nn * F.col("sxx") - F.col("sx") * F.col("sx"),
    )
    ybar = F.col("sy") / nn
    alpha = ybar - beta * (F.col("sx") / nn)
    return agg.select(
        "item_a",
        "item_b",
        "n_matches",
        F.round(ybar, 6).alias("winrate_a"),
        F.round(F.col("sx") / nn, 6).alias("mean_len_diff"),
        F.round(beta, 6).alias("length_bias_slope"),
        F.round(F.coalesce(alpha, ybar), 6).alias("lc_winrate_a"),
    )


def order_bias_audit(
    matches: DataFrame, first_win_col: str
) -> DataFrame:
    """Order/position-bias audit for preference data (Zheng et al.
    2023, "Judging LLM-as-a-Judge" §3.2 — judges systematically favor
    the first-listed response; arena UIs randomize positions exactly
    because of this). Under no bias, P(first-listed wins) = 1/2: one
    conditional aggregate gives the exact binomial z against 0.5 and a
    two-sided normal p via the in-engine Abramowitz-Stegun tail
    (operators/mlmetrics.normal_p_two_sided, the q407 closed form —
    SQL twin included, so the verdict is computed IN the engine, not
    by a client-side CDF lookup).

        z = (p̂ − 0.5) / sqrt(0.25 / n)

    Output one row: (n_matches, n_first_wins, first_win_rate, z,
    p_value, biased@0.05). n = 0 reports NULLs and biased = false.
    """
    from .mlmetrics import normal_p_two_sided

    w = F.col(first_win_col).cast("boolean")
    agg = matches.filter(w.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.sum(F.when(w, 1).otherwise(0)).cast("long").alias("n_first_wins"),
    )
    nn = F.col("n_matches").cast("double")
    p = F.try_divide(F.col("n_first_wins").cast("double"), nn)
    z = F.try_divide(p - F.lit(0.5), F.sqrt(F.lit(0.25) / nn))
    pv = normal_p_two_sided(z)
    return agg.select(
        "n_matches",
        "n_first_wins",
        F.round(p, 6).alias("first_win_rate"),
        F.round(z, 6).alias("z"),
        pv.alias("p_value"),
        F.coalesce(pv < F.lit(0.05), F.lit(False)).alias("biased"),
    )


def kendall_tau_b(
    items: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str = "item",
) -> DataFrame:
    """Kendall's τ-b rank correlation between two scorings of the same
    item set (Kendall, Biometrika 1938; the τ-b tie correction,
    Kendall 1945) — the leaderboard-stability readout: do two ranking
    methods (raw win rate vs Bradley-Terry strength, exact vs
    quantized retrieval, judge A vs judge B) order the ITEMS the same
    way? τ-b = (C − D) / √((n₀ − n_x)(n₀ − n_y)) over all item pairs,
    with C/D the concordant/discordant counts, n₀ = n(n−1)/2, and
    n_x/n_y the pairs tied on each scoring (ties in one scoring
    neither help nor hurt — the τ-a denominator would punish them).

    Spearman (``operators/mlmetrics.spearman_by_group``) reads the
    same question through squared rank differences; τ-b is the
    pair-concordance view — bounded-N tournaments (arena leaderboards)
    report both, and τ-b is the one with the tie story.

    Input contract: ``items`` is an ITEMS-SIZED frame (the q419/q420
    bounded class — models on a leaderboard, not a corpus); the
    pairwise self-equi-join is items²-bounded by construction and
    NEVER corpus-sized. Pairs are canonicalized id_a < id_b so each
    unordered pair counts once.

    Exactness: C/D/tie counts are exact LONGs from sign comparisons
    of the raw score columns (no ranks needed — concordance only
    reads pairwise orderings); τ-b is computed from those integers
    with one sqrt (IEEE, the q421 6dp contract).

    Output: ONE row — (n_items, n_pairs, concordant, discordant,
    ties_x, ties_y, ties_both, tau_b) with tau_b NULL when either
    scoring ties ALL pairs (zero denominator).
    """
    # Listwise NULL handling (ADVICE r14): an item with a NULL score
    # would count in n_pairs but vanish from C/D/tie counts (signum of
    # NULL is NULL → every boolean below is NULL → sums skip it),
    # inflating the τ-b denominator and biasing τ toward 0. Items
    # missing either scoring are dropped BEFORE pairing — n_items and
    # n_pairs then report the scored leaderboard only.
    scored = items.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    )
    a = scored.select(
        F.col(id_col).alias("_ia"),
        F.col(x_col).cast("double").alias("_xa"),
        F.col(y_col).cast("double").alias("_ya"),
    )
    b = scored.select(
        F.col(id_col).alias("_ib"),
        F.col(x_col).cast("double").alias("_xb"),
        F.col(y_col).cast("double").alias("_yb"),
    )
    pairs = a.join(b, F.col("_ia") < F.col("_ib"))
    sx = F.signum(F.col("_xb") - F.col("_xa"))
    sy = F.signum(F.col("_yb") - F.col("_ya"))
    agg = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(((sx * sy) > 0).cast("long")).cast("long").alias("concordant"),
        F.sum(((sx * sy) < 0).cast("long")).cast("long").alias("discordant"),
        F.sum(((sx == 0) & (sy != 0)).cast("long")).cast("long").alias("ties_x"),
        F.sum(((sx != 0) & (sy == 0)).cast("long")).cast("long").alias("ties_y"),
        F.sum(((sx == 0) & (sy == 0)).cast("long")).cast("long").alias(
            "ties_both"
        ),
    )
    n_items = scored.select(F.count("*").cast("long").alias("n_items"))
    n0 = F.col("n_pairs")
    tx = F.col("ties_x") + F.col("ties_both")
    ty = F.col("ties_y") + F.col("ties_both")
    denom = (n0 - tx) * (n0 - ty)
    tau = F.when(
        denom > 0,
        F.round(
            (F.col("concordant") - F.col("discordant"))
            / F.sqrt(denom.cast("double")),
            6,
        ),
    )
    return (
        agg.crossJoin(F.broadcast(n_items))
        .select(
            "n_items",
            "n_pairs",
            "concordant",
            "discordant",
            "ties_x",
            "ties_y",
            "ties_both",
            tau.alias("tau_b"),
        )
    )

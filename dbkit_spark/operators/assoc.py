"""Market-basket co-occurrence and association rules.

"Which items appear together" is the join-shaped half of recommendation
and curriculum analysis (co-purchased parts, co-viewed pages, co-cited
documents). The full Apriori lattice is exponential; in practice the
2-itemset level — support / confidence / lift over item PAIRS — answers
most questions and has a clean distributed shape. North-star surface:
the reference's roadmap stops before joins (`README.md:32-37`).

Scale design: the quadratic danger is per-basket pair fanout (C(s,2)
for basket size s — one 10^5-item basket emits 5·10^9 pairs). The
operator drops baskets larger than ``max_basket_size`` BEFORE pairing
(the df-cap discipline from ``llm/dedup.containment_pairs``: giant
baskets are boilerplate-like — carts from crawlers, sessions from bots
— and excluding them bounds fanout at C(cap,2) per basket while
keeping counts conservative, never inflated). Pairing is a per-basket
self-join on the basket key; pair counting is a map-side-combinable
agg; item counts broadcast back onto the pair table.

Cross-engine exactness: support / confidence / lift are single IEEE
divisions of exact integer counts — deterministic without rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import checkpoint_and_release


def item_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_size: int = 100,
) -> DataFrame:
    """Distinct unordered item pairs per basket: (item_a < item_b,
    pair_cnt = number of baskets containing both).

    Baskets larger than ``max_basket_size`` (distinct items) are
    excluded before the self-join — the fanout bound.
    """
    if max_basket_size < 2:
        raise ValueError("max_basket_size must be >= 2")
    bi = baskets.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    sizes = bi.groupBy("_b").agg(F.count("*").alias("_sz"))
    # the distinct pass feeds the size filter AND both self-join sides —
    # holding it collapses three recomputations to one
    kept = bi.join(
        sizes.filter(F.col("_sz") <= max_basket_size).select("_b"), "_b"
    )
    a = kept.select("_b", F.col("_i").alias("item_a"))
    b = kept.select("_b", F.col("_i").alias("item_b"))
    out = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("pair_cnt"))
    )
    return checkpoint_and_release(out, kept)


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int = 100,
) -> DataFrame:
    """Pair-level association metrics over the capped basket set:
    (item_a, item_b, pair_cnt, n_a, n_b, support, confidence_a_b,
    confidence_b_a, lift).

    support   = pair_cnt / n_baskets
    conf(a→b) = pair_cnt / n_a        (P(b in basket | a in basket))
    lift      = pair_cnt · n_baskets / (n_a · n_b)  (>1 ⇒ positive
                association beyond chance)

    All denominators are counts over the SAME capped basket population,
    so the metrics are internally consistent. One extra metadata-sized
    broadcast (n_baskets) + an item-count join; every ratio is a single
    IEEE division of exact integers — engine-exact, no rounding.
    """
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    bi = baskets.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    sizes = bi.groupBy("_b").agg(F.count("*").alias("_sz"))
    kept = bi.join(
        sizes.filter(F.col("_sz") <= max_basket_size).select("_b"), "_b"
    )
    n_baskets = kept.agg(
        F.countDistinct("_b").cast("long").alias("_nb")
    )
    item_cnt = kept.groupBy("_i").agg(F.count("*").cast("long").alias("_ni"))
    a = kept.select("_b", F.col("_i").alias("item_a"))
    b = kept.select("_b", F.col("_i").alias("item_b"))
    pairs = (
        a.join(b, "_b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").cast("long").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_pair_count)
    )
    enriched = (
        pairs.join(
            item_cnt.select(
                F.col("_i").alias("item_a"), F.col("_ni").alias("n_a")
            ),
            "item_a",
        )
        .join(
            item_cnt.select(
                F.col("_i").alias("item_b"), F.col("_ni").alias("n_b")
            ),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    out = enriched.select(
        "item_a",
        "item_b",
        "pair_cnt",
        "n_a",
        "n_b",
        (F.col("pair_cnt") / F.col("_nb")).alias("support"),
        (F.col("pair_cnt") / F.col("n_a")).alias("confidence_a_b"),
        (F.col("pair_cnt") / F.col("n_b")).alias("confidence_b_a"),
        (
            (F.col("pair_cnt") * F.col("_nb")) / (F.col("n_a") * F.col("n_b"))
        ).alias("lift"),
    )
    # the capped basket set feeds three branches (n_baskets, item counts,
    # the pair self-join); holding it collapses them to one distinct pass
    return checkpoint_and_release(out, kept)


def item_similarity_topk(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 10,
    min_pair_count: int = 2,
    max_basket_size: int = 100,
) -> DataFrame:
    """Item-item collaborative similarity: cosine over binary basket
    incidence — sim(a,b) = pair_cnt / sqrt(n_a·n_b) — with the top-k
    most similar neighbors kept per item. The classic item-based
    recommender precompute ("customers who bought a also bought b"),
    built directly on ``item_pairs``'s capped pair table.

    Output: (item, neighbor, pair_cnt, sim) — both directions of every
    pair are ranked, so each item sees its full neighbor list.

    Scale: the pair table is the expensive part and is already fanout-
    bounded; the symmetrization is a map-side array-explode of each
    pair into its two directions (one pass, no union re-execution — the
    containment_pairs both-directions discipline), and top-k per item
    is one window shuffle on the pair table. sim is a single IEEE
    sqrt+division of exact integers, deterministic without rounding.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pairs = item_pairs(baskets, basket_col, item_col, max_basket_size).filter(
        F.col("pair_cnt") >= min_pair_count
    )
    # item frequencies over the SAME capped basket population the pairs
    # were counted in — mixing capped pairs with uncapped frequencies
    # would skew every cosine that touches a giant-basket item
    bi = baskets.select(
        F.col(basket_col).alias("_b"), F.col(item_col).alias("_i")
    ).distinct()
    sizes = bi.groupBy("_b").agg(F.count("*").alias("_sz"))
    capped = bi.join(
        sizes.filter(F.col("_sz") <= max_basket_size).select("_b"), "_b"
    )
    item_cnt = capped.groupBy("_i").agg(
        F.count("*").cast("long").alias("_ni")
    )
    enriched = pairs.join(
        item_cnt.select(F.col("_i").alias("item_a"), F.col("_ni").alias("n_a")),
        "item_a",
    ).join(
        item_cnt.select(F.col("_i").alias("item_b"), F.col("_ni").alias("n_b")),
        "item_b",
    )
    both = enriched.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("item"),
                    F.col("item_b").alias("neighbor"),
                    F.col("pair_cnt"),
                    F.col("n_a").alias("n_self"),
                    F.col("n_b").alias("n_other"),
                ),
                F.struct(
                    F.col("item_b").alias("item"),
                    F.col("item_a").alias("neighbor"),
                    F.col("pair_cnt"),
                    F.col("n_b").alias("n_self"),
                    F.col("n_a").alias("n_other"),
                ),
            )
        ).alias("_r")
    ).select("_r.*")
    sim = F.col("pair_cnt") / F.sqrt(F.col("n_self") * F.col("n_other"))
    from pyspark.sql import Window

    w = Window.partitionBy("item").orderBy(
        sim.desc(), F.col("neighbor").asc()
    )
    return (
        both.withColumn("sim", sim)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("item", "neighbor", "pair_cnt", "sim")
    )

"""Sketch-based cardinality estimation for join planning.

At 100 TB the most expensive mistake is launching a shuffle join whose
output is 100× what capacity planning assumed. Optimizers estimate join
cardinality from per-key statistics; this module provides the
engine-level primitive — a KEY-HASH sampled join-size estimate — as a
first-class, cross-engine-deterministic operator (north-star surface;
the reference's roadmap stops before joins, `README.md:32-37`).

Key-hash (not row) sampling is the load-bearing choice: sampling KEYS
with probability p and joining the surviving rows estimates
Σ_k l(k)·o(k) without bias, because a key's full contribution either
appears (scaled by 1/p) or doesn't — row-sampling both sides would
estimate p²-scaled pair counts with much higher variance on heavy keys.
The hash rule is the engine-wide md5 construction, so a DuckDB oracle
reproduces the sampled key set digit-for-digit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.portable_hash import salted


def _key_sampled(key: Column, hex_zeros: int, salt: str) -> Column:
    """Deterministic key-level Bernoulli(16^-hex_zeros): keep keys whose
    salted md5 starts with ``hex_zeros`` zero hex digits."""
    h = F.md5(salted(key, salt))
    return F.substring(h, 1, hex_zeros) == "0" * hex_zeros


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    hex_zeros: int = 1,
    salt: str = "jcard",
) -> DataFrame:
    """Estimate |left ⋈ right| on an equality key without running the
    full join.

    Returns one row: (sampled_pairs, est_pairs) where
    est_pairs = sampled_pairs · 16^hex_zeros.

    Cost: a map-side filter on each input (the md5 test keeps a
    16^-hex_zeros fraction of KEYS, so ~that fraction of rows for
    non-skewed keys), then a join of the two small samples — the
    exchange moves only sample-sized data. hex_zeros dials the
    fraction: 1 → 1/16, 2 → 1/256, … Estimator variance is driven by
    the heaviest keys' pair counts; for skew diagnosis pair this with
    ``operators.profile``'s q214 skew profiler.
    """
    if hex_zeros < 1:
        raise ValueError("hex_zeros must be >= 1")
    ls = left.filter(_key_sampled(F.col(left_key), hex_zeros, salt)).select(
        F.col(left_key).alias("_k")
    )
    rs = right.filter(_key_sampled(F.col(right_key), hex_zeros, salt)).select(
        F.col(right_key).alias("_k")
    )
    scale = 16**hex_zeros
    return ls.join(rs, "_k").agg(
        F.count("*").cast("long").alias("sampled_pairs"),
        (F.count("*") * F.lit(scale)).cast("long").alias("est_pairs"),
    )


def set_cardinality_estimates(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    hex_zeros: int = 1,
    salt: str = "scard",
) -> DataFrame:
    """Distinct-set overlap estimates between two key columns — the
    planning numbers behind dedup joins and incremental merges
    (|A|, |B|, |A∩B|, |A∪B|, Jaccard) — from the SAME deterministic
    key-hash sample as :func:`join_size_estimate`.

    Why the shared-hash trick works: both sides keep exactly the keys
    whose salted md5 clears the prefix test, so a key surviving on one
    side survives on the other — sampled-set intersection IS a
    16^-hex_zeros Bernoulli sample of the true intersection (unbiased
    after scaling), which independent per-side samples would get
    quadratically wrong. Jaccard needs no scaling at all: it is a
    ratio of same-scale estimates.

    Cost: two map-side filters + two sample-sized distincts + one
    sample-sized join; one row out.
    """
    if hex_zeros < 1:
        raise ValueError("hex_zeros must be >= 1")
    ls = (
        left.filter(_key_sampled(F.col(left_key), hex_zeros, salt))
        .select(F.col(left_key).alias("_k"))
        .distinct()
    )
    rs = (
        right.filter(_key_sampled(F.col(right_key), hex_zeros, salt))
        .select(F.col(right_key).alias("_k"))
        .distinct()
    )
    scale = 16**hex_zeros
    both = ls.join(rs, "_k")
    counts = (
        ls.agg(F.count("*").alias("na"))
        .crossJoin(rs.agg(F.count("*").alias("nb")))
        .crossJoin(both.agg(F.count("*").alias("ni")))
    )
    return counts.select(
        (F.col("na") * scale).cast("long").alias("est_left"),
        (F.col("nb") * scale).cast("long").alias("est_right"),
        (F.col("ni") * scale).cast("long").alias("est_intersection"),
        ((F.col("na") + F.col("nb") - F.col("ni")) * scale)
        .cast("long")
        .alias("est_union"),
        F.round(
            F.col("ni").cast("double")
            / (F.col("na") + F.col("nb") - F.col("ni")).cast("double"),
            9,
        ).alias("jaccard"),
    )

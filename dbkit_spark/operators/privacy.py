"""Privacy auditing + release primitives for the curation surface.

Sits beside the l-diversity audit (q222) and PII redaction
(`functions/text.redact_pii`): k-anonymity is the group-size half of
the re-identification story (l-diversity bounds the SENSITIVE value
spread inside a group; k-anonymity bounds how small a quasi-identifier
group may get at all), and `dp_counts` is the release half — counts
published with Laplace noise.

The Laplace draw is DETERMINISTIC: u ∈ (0,1) from the engine-wide md5
hash rule on the group key, then the inverse-CDF transform
``−(1/ε)·sign(u−½)·ln(1−2|u−½|)``. Same rationale as every hash-rank
sample in `llm/sampling.py` — reruns and engines agree, audits can
replay the exact release. (A cryptographic RNG seeded per release is
the production hardening; the TRANSFORM and the sensitivity-1 count
contract are what this operator pins. Deterministic noise keyed on the
group is NOT differential privacy against an adversary who knows the
salt — treat the salt as the release's secret.)

Noisy outputs round at 6dp: ln() is not correctly-rounded across libm
implementations (the q262 WoE lesson), so the last bits of the
transform may differ per engine while 6dp is stable.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable_hash import salted
from ..functions.text import _hash24_u01


def k_anonymity_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int,
) -> DataFrame:
    """Per quasi-identifier combination: its group size and whether it
    violates k-anonymity (size < k — fewer than k records share the
    combination, so any of them narrows to a small candidate set).
    One hash aggregation; NULL quasi values form their own group
    (groupBy semantics), which is the conservative choice — a NULL
    pattern can re-identify too.

    Output: quasi_cols..., ``group_size``, ``violates``.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k <= 1:
        raise ValueError("k must be > 1")
    return df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("group_size")
    ).withColumn("violates", F.col("group_size") < k)


def dp_counts(
    df: DataFrame,
    keys: Sequence[str],
    epsilon: float,
    salt: str = "dp",
) -> DataFrame:
    """Per-group counts released with Laplace(1/ε) noise — the textbook
    ε-DP mechanism for a sensitivity-1 counting query, with the noise
    drawn via the deterministic inverse-CDF transform described in the
    module docstring. One hash aggregation + map-side noise.

    Output: keys..., ``true_count`` (keep it out of real releases —
    it is here because the oracle differential pins both columns),
    ``noisy_count`` (6dp).
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("true_count"))
    gk = F.concat_ws("", *[F.col(c).cast("string") for c in keys])
    u = _hash24_u01(salted(gk, salt))
    centered = u - F.lit(0.5)
    noise = (
        -F.lit(1.0 / float(epsilon))
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return counts.withColumn(
        "noisy_count",
        F.round(F.col("true_count").cast("double") + noise, 6),
    )


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    t: float,
) -> DataFrame:
    """t-closeness audit — the third of the release-audit trio
    (k-anonymity bounds cell SIZE, l-diversity bounds sensitive-value
    COUNT, t-closeness bounds the sensitive-value DISTRIBUTION: a large,
    diverse cell whose distribution skews far from the corpus still
    leaks — '95% of this zip code's rows say positive' is a disclosure
    even with l distinct values). Distance is total variation
    TVD = ½·Σ_s |p_cell(s) − p_global(s)| — the categorical EMD with
    uniform ground distance, the standard form for nominal attributes
    (Li, Li & Venkatasubramanian 2007).

    Output per cell: quasi_cols..., ``n_rows``, ``tvd``, ``violates``
    (tvd > t).

    Scale: three map-side-combined aggs — (cell, sensitive) counts,
    cell totals derived from them, global sensitive totals (a
    values-sized broadcast) — one join, one final per-cell reduction.
    Per-term |p_c − p_g| is two IEEE divisions + one subtraction
    (engine-exact), 9dp-rounded onto decimals so the Σ over sensitive
    values is order-independent; the final ÷2 is a power-of-two binary
    division of the exact decimal's double conversion — no closing
    round, so no half-boundary for engines to disagree on.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if not 0 < t < 1:
        raise ValueError("t must be in (0, 1)")
    cell_val = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_cv")
    )
    cell_tot = cell_val.groupBy(*quasi_cols).agg(F.sum("_cv").alias("_ct"))
    # global totals stay LAZY: the value table carries its own total via
    # a values-sized window, so constructing this DataFrame never runs a
    # job (an eager df.count() here cost one full extra input scan per
    # call, even for analysis-only consumers like the plan gates)
    glob_val = (
        df.groupBy(sensitive_col)
        .agg(F.count(F.lit(1)).alias("_gv"))
        .withColumn(
            "_gt", F.sum("_gv").over(Window.partitionBy(F.lit(1)))
        )
    )
    # decimal(20,9), NOT (38,9): Spark's subtract widens precision by 1
    # and a 38-precision input overflows the cap, silently REDUCING the
    # result scale to 8 (allowPrecisionLoss) — every term would round at
    # 8dp and drift off the oracle by 1e-8 per term. Probabilities are
    # <= 1, so 20 digits is generous and the subtract stays exact.
    term = F.round(
        F.abs(
            F.col("_cv").cast("double") / F.col("_ct")
            - F.col("_gv").cast("double") / F.col("_gt")
        ),
        9,
    ).cast("decimal(20,9)")
    # values the CELL lacks still contribute |0 - p_global(s)|: Σ over
    # present values of (term - p_g) plus the constant Σ_s p_g = 1
    p_g = F.round(
        F.col("_gv").cast("double") / F.col("_gt"), 9
    ).cast("decimal(20,9)")
    per_cell = (
        cell_val.join(F.broadcast(glob_val), sensitive_col)
        .join(cell_tot, list(quasi_cols))
        .groupBy(*quasi_cols)
        .agg(
            F.max("_ct").cast("long").alias("n_rows"),
            F.sum(term - p_g).alias("_present"),
        )
    )
    # (present + 1) is an EXACT decimal; its double conversion is the
    # correctly-rounded nearest double on both engines, and /2.0 is a
    # power-of-two division (exact in binary) — so tvd needs NO final
    # round, and there is no half-boundary for engines to disagree on
    # (re-rounding the sum at 9dp sat exactly on ...0005 boundaries).
    tvd = (
        (F.col("_present") + F.lit(1).cast("decimal(20,9)"))
        .cast("double")
        / 2.0
    )
    return per_cell.select(
        *quasi_cols,
        "n_rows",
        tvd.alias("tvd"),
        (tvd > F.lit(float(t))).alias("violates"),
    )


def pseudonymize(
    df: DataFrame,
    cols: Sequence[str],
    salt: str,
    token_hex: int = 16,
) -> DataFrame:
    """JOIN-CONSISTENT keyed pseudonymization — the release-side
    companion of the audit trio and free-text ``redact_pii``: direct
    identifiers are replaced by deterministic keyed tokens
    (first ``token_hex`` hex digits of md5(salt ':' value)), so the
    same identifier maps to the same token EVERYWHERE — joins, group
    counts, sessionization and retention math all still work on the
    released data, while the identifier itself never appears. NULLs
    stay NULL (a token for NULL would invent a linkable cohort).

    The md5 construction is this engine's portable stand-in for the
    production primitive (HMAC-SHA256 with a managed key); exactly as
    documented for ``dp_counts``, determinism keyed on a salt is only
    pseudonymization against an adversary who lacks the salt — treat
    the salt as the release's secret, rotate per release to prevent
    cross-release linkage. Map-only, codegen'd, zero shuffles; at any
    scale the cost is one hash per cell.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    if not 8 <= token_hex <= 32:
        raise ValueError("token_hex must be in [8, 32]")
    out = df
    for c in cols:
        token = F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(c).cast("string"))),
            1,
            token_hex,
        )
        out = out.withColumn(
            c, F.when(F.col(c).isNotNull(), token).otherwise(F.lit(None))
        )
    return out

"""Round-16 optimization regression tests.

Each test pins an operator-internals change from OPTIMIZATION_r16.md to
the behavior it must not alter: explicit prefix-scan boundaries must be
result-invariant, and the footer boundary estimator must produce sane,
monotone split points (or decline cleanly).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dbkit_spark.operators.prefix import prefix_agg
from dbkit_spark.sources.readers import footer_lead_boundaries


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_prefix_agg_explicit_boundaries_result_invariant(spark):
    """prefix_agg must return bit-identical results for ANY monotone
    boundary set — the exactness contract the footer-derived boundaries
    (q280) rely on. Compares the approxQuantile default against two
    deliberately terrible boundary sets (badly skewed, and duplicated
    edges) on a decimal accumulator."""
    df = spark.range(0, 997).select(
        (F.col("id") % 13).cast("double").alias("k"),
        F.col("id").alias("tb"),
        ((F.col("id") * 7) % 101).cast("decimal(20,2)").alias("v"),
    )
    base = _rows(
        prefix_agg(df, ["k", "tb"], "v", agg="sum", out_col="run")
    )
    skewed = _rows(
        prefix_agg(
            df, ["k", "tb"], "v", agg="sum", out_col="run",
            boundaries=[0.5, 0.6, 11.9],
        )
    )
    dup_edges = _rows(
        prefix_agg(
            df, ["k", "tb"], "v", agg="sum", out_col="run",
            boundaries=[3.0, 3.0, 7.0, 7.0],
        )
    )
    assert base == skewed == dup_edges
    # and for a non-sum agg with the exclusive frame
    base_max = _rows(
        prefix_agg(df, ["k", "tb"], "v", agg="max", out_col="run", inclusive=False)
    )
    skew_max = _rows(
        prefix_agg(
            df, ["k", "tb"], "v", agg="max", out_col="run", inclusive=False,
            boundaries=[1.0, 2.0],
        )
    )
    assert base_max == skew_max


def test_footer_lead_boundaries_shape_and_fallbacks(sf_dir, tmp_path):
    """The metadata-only boundary estimate must be monotone, inside the
    column's [min, max], and of length k-1; unsupported inputs must
    return None (the approxQuantile fallback signal), never raise."""
    path = os.path.join(sf_dir, "orders.parquet")
    b = footer_lead_boundaries(path, "o_orderdate", 8)
    assert b is not None and len(b) == 7
    assert all(x <= y for x, y in zip(b, b[1:]))
    # o_orderdate spans 1995..2001 — boundaries are micros since epoch
    lo = 780_000_000_000_000.0  # mid-1994 in micros
    hi = 1_010_000_000_000_000.0  # early-2002 in micros
    assert all(lo < x < hi for x in b)
    # string column: no numeric image -> None
    assert footer_lead_boundaries(path, "o_orderstatus", 8) is None
    # unknown column / missing file -> None, not an exception
    assert footer_lead_boundaries(path, "no_such_column", 8) is None
    assert footer_lead_boundaries(os.path.join(sf_dir, "nope.parquet"), "x", 8) is None
    # truncated footer / directory without parquet files -> None
    truncated = tmp_path / "truncated.parquet"
    with open(path, "rb") as f:
        truncated.write_bytes(f.read(100))
    assert footer_lead_boundaries(str(truncated), "o_orderdate", 8) is None
    (tmp_path / "empty").mkdir()
    assert footer_lead_boundaries(str(tmp_path / "empty"), "o_orderdate", 8) is None
    # k == 1 -> no split points
    assert footer_lead_boundaries(path, "o_orderdate", 1) is None

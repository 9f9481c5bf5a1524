"""Focused regression tests for the round-15 OPTIMIZATION changes.

Each test pins the *equivalence* side of an optimization: the optimized
path must produce bit-identical results to the shape it replaced
(OPTIMIZATION_r15.md documents the performance side).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF001 = "/root/testdata/sf0.01"


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


# --- adaptive scan parallelization (sources/readers._maybe_split_scan) -------


def test_scan_split_fires_on_optin_single_rowgroup_fixture(spark):
    """With ``split=True``, a one-row-group table above the row floor
    must come back hash-spread over multiple partitions instead of the
    raw scan's single non-empty partition."""
    from dbkit_spark.sources import read_table

    li = read_table(spark, SF001, "lineitem", split=True)
    nonempty = (
        li.select(F.spark_partition_id().alias("p")).groupBy("p").count().count()
    )
    assert nonempty > 1, "scan-split did not spread the single-row-group scan"


def test_scan_split_default_is_raw_scan(spark):
    """The split is OPT-IN: a default read must keep the raw scan (no
    reader-injected Exchange), preserving the engine's zero-exchange
    map-only plan contracts."""
    from dbkit_spark.sources import read_table

    li = read_table(spark, SF001, "lineitem")
    plan = li._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]


def test_scan_split_skips_tiny_tables(spark):
    """Below _SPLIT_ROWS_PER_CORE * cores the extra exchange cannot pay:
    nation (25 rows) must keep the raw single-partition scan even when
    opted in."""
    from dbkit_spark.sources import read_table

    nation = read_table(spark, SF001, "nation", split=True)
    nonempty = (
        nation.select(F.spark_partition_id().alias("p")).groupBy("p").count().count()
    )
    assert nonempty == 1


def test_scan_split_preserves_rows_vs_off(spark):
    """``split=True`` must yield the exact same multiset of rows as
    ``split=False`` — the repartition is placement-only."""
    from dbkit_spark.sources import read_table

    on_rows, off_rows = (
        _rows(read_table(spark, SF001, "orders", split=split), "o_orderkey", "o_totalprice")
        for split in (True, False)
    )
    assert on_rows == off_rows


# --- connected_components seed round + dedupe_edges flag ---------------------


def _cc_labels(spark, pairs, **kw):
    from dbkit_spark.llm.cluster import connected_components

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    return {
        (r["id"], r["cluster_id"])
        for r in connected_components(df, **kw).collect()
    }


def test_cc_seed_round_chain_diameter_4(spark):
    """A 5-vertex chain needs several propagation rounds past the seed;
    every vertex must still land on the component min (1)."""
    chain = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert _cc_labels(spark, chain) == {(v, 1) for v in range(1, 6)}


def test_cc_seed_round_two_components_and_clique(spark):
    pairs = [(10, 20), (20, 30), (10, 30), (7, 8)]
    assert _cc_labels(spark, pairs) == {
        (10, 10), (20, 10), (30, 10), (7, 7), (8, 7),
    }


def test_cc_dedupe_edges_false_same_fixpoint_with_duplicates(spark):
    """Duplicate pairs must not change the fixpoint when the dedup
    shuffle is skipped (min-agg is idempotent to multiplicity)."""
    dup_pairs = [(1, 2), (1, 2), (2, 3), (2, 3), (2, 3)]
    assert _cc_labels(spark, dup_pairs, dedupe_edges=False) == _cc_labels(
        spark, dup_pairs, dedupe_edges=True
    )


def test_cc_empty_pairs(spark):
    assert _cc_labels(spark, [(1, 1)][:0]) == set()


# --- q05 fused set-split rewrite ---------------------------------------------


def test_q05_fused_equals_naive_composition(spark):
    """The set_split_tags execution of q05 must emit exactly the rows of
    the intersect/except/union composition it replaced."""
    from dbkit_spark.catalog import load_all
    from dbkit_spark.operators.setops import (
        except_distinct,
        intersect,
        union_all,
    )
    from dbkit_spark.sources import read_table

    li = read_table(spark, SF001, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey").distinct()
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    both = intersect(a, r).select(F.lit("both").alias("tag"), "l_orderkey")
    only_a = except_distinct(a, r).select(
        F.lit("only_a").alias("tag"), "l_orderkey"
    )
    only_r = except_distinct(r, a).select(
        F.lit("only_r").alias("tag"), "l_orderkey"
    )
    naive = union_all(union_all(both, only_a), only_r)

    fused = load_all()["q05_set_ops"].fn(spark, SF001)
    assert _rows(fused, "tag", "l_orderkey") == _rows(naive, "tag", "l_orderkey")
    assert fused.columns == naive.columns
    assert fused.schema == naive.schema

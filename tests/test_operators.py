"""Operator unit tests in the reference's style (SURVEY.md §5.1): build
tiny data → run operator → assert exact cell-level output and exact error
variants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbkit_spark import errors
from dbkit_spark.llm import cluster, dedup
from dbkit_spark.llm.sampling import rake_weights
from dbkit_spark.operators import assoc, graph, preference
from dbkit_spark.operators.rollup_hierarchy import rollup_hierarchy
from dbkit_spark.operators.joins import asof_join, range_join
from dbkit_spark.operators.project import Projector, prefix_all, project, rename
from dbkit_spark.operators.setops import dedup_keep_first, union_all
from dbkit_spark.operators.window import per_group_topk, require_partitioned
from dbkit_spark.schema import attribute, make_schema
from dbkit_spark.sources import scan_view, table_appender


@pytest.fixture(scope="module")
def tiny(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, s string, v double"
    )


# --- projection (mirrors reference test reorder_columns, project.rs:77-120)
def test_project_reorder_rename(tiny):
    out = Projector().add_name("s", "new_one").add_name("id").apply(tiny)
    assert out.columns == ["new_one", "id"]
    assert [tuple(r) for r in out.orderBy("id").collect()] == [("a", 1), ("b", 2), ("c", 3)]


def test_project_by_position(tiny):
    out = Projector().add_position(2).add_position(0, "key").apply(tiny)
    assert out.columns == ["v", "key"]


def test_project_missing_raises(tiny):
    with pytest.raises(errors.AttributeMissing):
        project(tiny, "nope")


def test_project_duplicate_raises(tiny):
    with pytest.raises(errors.AttributeDuplicate):
        Projector().add_name("s", "x").add_name("id", "x").apply(tiny)


def test_project_position_oob(tiny):
    with pytest.raises(errors.RowOutOfBounds):
        Projector().add_position(9).apply(tiny)


def test_rename_and_prefix(tiny):
    assert rename(tiny, {"id": "key"}).columns == ["key", "s", "v"]
    assert prefix_all(tiny, "t_").columns == ["t_id", "t_s", "t_v"]
    with pytest.raises(errors.AttributeDuplicate):
        rename(tiny, {"id": "s"})


# --- scan_view (reference ScanView row-range, scan_view.rs:12-21) ----------
def test_scan_view_range(tiny):
    ordered = tiny.orderBy("id")
    out = scan_view(ordered, offset=1, limit=1)
    assert [r.id for r in out.collect()] == [2]
    with pytest.raises(errors.RowOutOfBounds):
        scan_view(tiny, offset=-1)


# --- appender (reference table.rs tests: appender_rows / varlen_columns) ---
def test_appender_nullable_roundtrip(spark):
    sch = make_schema([attribute("one", T.LongType(), nullable=True)])
    df = table_appender(sch).add_row().set(None).add_row().set(15).done(spark)
    vals = [r.one for r in df.collect()]
    assert sorted(vals, key=lambda x: (x is None, x)) in ([15, None], [None, 15]) or set(
        vals
    ) == {None, 15}


def test_appender_varlen_and_binary(spark):
    sch = make_schema(
        [attribute("blob", T.BinaryType()), attribute("text", T.StringType())]
    )
    df = (
        table_appender(sch)
        .add_row().set(b"\x01\x02").set("hello")
        .add_row().set(b"").set("")
        .done(spark)
    )
    rows = sorted([(bytes(r.blob), r.text) for r in df.collect()])
    assert rows == [(b"", ""), (b"\x01\x02", "hello")]


def test_appender_type_error_latches(spark):
    sch = make_schema([attribute("n", T.LongType())])
    app = table_appender(sch).add_row().set("not an int").add_row().set(2)
    with pytest.raises(errors.AttributeType):
        app.done(spark)


# --- set ops ---------------------------------------------------------------
def test_union_schema_mismatch(tiny, spark):
    other = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(errors.AttributeMissing):
        union_all(tiny, other)


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-02", "late"), (1, "2024-01-01", "early"), (2, "2024-01-05", "only")],
        "k long, d string, tag string",
    )
    out = dedup_keep_first(df, ["k"], [F.col("d").asc()])
    assert {(r.k, r.tag) for r in out.collect()} == {(1, "early"), (2, "only")}


# --- window guard ----------------------------------------------------------
def test_window_requires_partition():
    with pytest.raises(ValueError):
        require_partitioned([])


def test_per_group_topk_exact(spark):
    df = spark.createDataFrame(
        [("g", i, float(i * 10)) for i in range(5)] + [("h", 9, 1.0)],
        "grp string, id long, v double",
    )
    out = per_group_topk(df, ["grp"], [F.col("v").desc(), F.col("id")], k=2)
    got = {(r.grp, r.id, r.rn) for r in out.collect()}
    assert got == {("g", 4, 1), ("g", 3, 2), ("h", 9, 1)}


# --- as-of join semantics --------------------------------------------------
def test_asof_backward_exact(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 09:00:00")],
        "k long, t string",
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 100.0), (1, "2024-01-01 11:00:00", 200.0)],
        "k long, t string, val double",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "val")
    out = asof_join(left, right, on_key="k", on_time="t")
    got = {(r.k, r.t.isoformat(), r.val) for r in out.collect()}
    assert got == {
        (1, "2024-01-01T10:00:00", 100.0),   # matched 09:30
        (1, "2024-01-01T12:00:00", 200.0),   # matched 11:00
        (2, "2024-01-01T09:00:00", None),    # no right row for key 2
    }


def test_asof_equal_ts_inclusive(spark):
    left = spark.createDataFrame([(1, "2024-01-01 10:00:00")], "k long, t string").select(
        "k", F.col("t").cast("timestamp").alias("t")
    )
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7.0)], "k long, t string, val double"
    ).select("k", F.col("t").cast("timestamp").alias("t"), "val")
    out = asof_join(left, right, on_key="k", on_time="t")
    assert [r.val for r in out.collect()] == [7.0]


def test_asof_tie_deterministic_and_row_atomic(spark):
    """Two right rows share key+timestamp: the survivor must be (a) the same
    across repartitionings (greatest payload tuple wins) and (b) one
    coherent ROW — per-column carry-forward must not mix val from one tied
    row with tag from another when payloads contain nulls."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00")], "k long, t string"
    ).select("k", F.col("t").cast("timestamp").alias("t"))
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 09:00:00", None, "a"),
            (1, "2024-01-01 09:00:00", 5.0, None),
        ],
        "k long, t string, val double, tag string",
    ).select("k", F.col("t").cast("timestamp").alias("t"), "val", "tag")
    for nparts in (1, 7):
        out = asof_join(
            left, right.repartition(nparts), on_key="k", on_time="t"
        )
        rows = out.collect()
        assert len(rows) == 1
        # greatest payload tuple: (5.0, None) > (None, 'a') with
        # nulls-first ascending ordering => last row in frame wins whole
        assert (rows[0].val, rows[0].tag) == (5.0, None)


# --- range join produces no duplicate/missing matches ----------------------
def test_range_join_exact(spark):
    left = spark.createDataFrame([(1, 5.0), (2, 12.0), (3, 27.0)], "id long, x double")
    right = spark.createDataFrame(
        [(0.0, 10.0, "lo"), (10.0, 20.0, "mid"), (25.0, 60.0, "hi"), (4.0, 30.0, "wide")],
        "lo double, hi double, tier string",
    )
    out = range_join(left, right, "x", "lo", "hi", bin_size=7.0)
    got = {(r.id, r.tier) for r in out.collect()}
    assert got == {
        (1, "lo"), (1, "wide"),
        (2, "mid"), (2, "wide"),
        (3, "hi"), (3, "wide"),
    }


def test_sort_within_partitions_no_shuffle(spark, sf_dir):
    """sortWithinPartitions: every partition internally sorted, and the
    sort adds no Exchange beyond the explicit repartition (the sorted-
    parquet-write pattern)."""
    from dbkit_spark.operators.sort import sort_within_partitions
    from dbkit_spark.sources import read_table

    # split=False: the assertion pins that sortWithinPartitions itself
    # adds no Exchange beyond the explicit repartition; the reader's
    # adaptive scan-split (OPTIMIZATION_r15) would add its own.
    orders = read_table(spark, sf_dir, "orders", split=False).repartition(
        4, "o_custkey"
    )
    swp = sort_within_partitions(orders.select("o_custkey", "o_totalprice"), "o_totalprice")
    parts = swp.rdd.glom().collect()
    assert sum(len(p) for p in parts) == orders.count()
    for p in parts:
        vals = [r.o_totalprice for r in p]
        assert vals == sorted(vals)
    plan = swp._jdf.queryExecution().executedPlan().toString()
    final_plan = plan.split("== Initial Plan ==")[0]  # AQE prints both
    assert final_plan.count("Exchange") == 1  # only the repartition's


def test_sessionize_gap_semantics_and_single_shuffle(spark):
    import re

    from pyspark.sql import functions as F

    from dbkit_spark.operators.window import sessionize

    rows = [
        # user 1: two sessions split by a 2h gap (threshold 1h)
        (1, 100, "2024-01-01 00:00:00"),
        (1, 101, "2024-01-01 00:30:00"),
        (1, 102, "2024-01-01 02:31:00"),
        # user 2: one session, boundary gap EXACTLY the threshold stays
        (2, 200, "2024-01-01 00:00:00"),
        (2, 201, "2024-01-01 01:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts_s string").select(
        "user_id", "event_id", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = sessionize(df, "user_id", "ts", 3600, "event_id")
    got = {r.event_id: r.session_num for r in out.collect()}
    assert got == {100: 1, 101: 1, 102: 2, 200: 1, 201: 1}

    # the two stacked windows must share one exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange", final)) == 1


def test_grouped_zscore_zero_variance_and_values(spark):
    from dbkit_spark.operators.grouped import grouped_zscore

    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 3.0), (3, "b", 5.0), (4, "b", 5.0)],
        "id long, g string, v double",
    )
    got = {r.id: r.z for r in grouped_zscore(df, ["g"], "v").collect()}
    assert got[1] == -1.0 and got[2] == 1.0  # mean 2, std_pop 1
    assert got[3] == 0.0 and got[4] == 0.0   # zero variance -> 0


def test_asof_join_forward_with_tolerance(spark):
    """Forward as-of: earliest right row at/after the left time, nulled
    when beyond the tolerance window."""
    from dbkit_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"), (1, "2024-01-01 12:00:00", "b")],
        "k long, ts string, tag string",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", 1.0), (1, "2024-01-01 15:00:00", 2.0)],
        "k long, ts string, val double",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "val")
    out = {
        r.tag: r.val
        for r in asof_join(
            left, right, on_key="k", on_time="ts",
            direction="forward", tolerance="1 hour",
        ).collect()
    }
    # a: 10:30 is 30min ahead -> joins; b: next right is 15:00, 3h ahead -> nulled
    assert out == {"a": 1.0, "b": None}


# --- iterate_until_fixpoint -------------------------------------------------
def test_fixpoint_default_set_equality_convergence(spark):
    """The measure-free mode detects the fixpoint via exact multiset
    equality of consecutive states: an idempotent-after-3-rounds step
    (saturating increment capped at 3) converges without any user
    measure."""
    from dbkit_spark.operators.iterate import iterate_until_fixpoint

    initial = spark.createDataFrame([(1, 0), (2, 1)], "id long, v long")
    def step(df):
        return df.select("id", F.least(F.col("v") + 1, F.lit(3)).alias("v"))
    out = iterate_until_fixpoint(initial, step, max_iter=10)
    assert {(r.id, r.v) for r in out.collect()} == {(1, 3), (2, 3)}


def test_fixpoint_monotone_measure_convergence(spark):
    """count() as the monotone measure: a grow-only closure step stops
    exactly when no new rows appear."""
    from dbkit_spark.operators.iterate import iterate_until_fixpoint

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)], "src long, dst long"
    )
    initial = spark.createDataFrame([(1,)], "node long")
    def step(reach):
        nxt = reach.join(edges, reach["node"] == edges["src"]).select(
            F.col("dst").alias("node")
        )
        return reach.unionByName(nxt).distinct()
    out = iterate_until_fixpoint(
        initial, step, measure=lambda df: df.count(), max_iter=10
    )
    assert {r.node for r in out.collect()} == {1, 2, 3, 4, 5, 6}


def test_fixpoint_max_iter_raises(spark):
    """A never-stabilizing step must raise, not silently return a
    non-fixpoint."""
    import pytest

    from dbkit_spark.operators.iterate import iterate_until_fixpoint

    initial = spark.createDataFrame([(0,)], "v long")
    def step(df):
        return df.select((F.col("v") + 1).alias("v"))
    with pytest.raises(RuntimeError, match="did not converge in 3"):
        iterate_until_fixpoint(initial, step, max_iter=3)


def test_fixpoint_durable_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir switches rounds to durable checkpoint(): the
    directory receives RDD state and the result is unchanged."""
    import os

    from dbkit_spark.operators.iterate import iterate_until_fixpoint

    d = str(tmp_path / "fixpoint_ckpt")
    initial = spark.createDataFrame([(1, 0)], "id long, v long")
    def step(df):
        return df.select("id", F.least(F.col("v") + 1, F.lit(2)).alias("v"))
    out = iterate_until_fixpoint(initial, step, max_iter=10, checkpoint_dir=d)
    assert [(r.id, r.v) for r in out.collect()] == [(1, 2)]
    assert os.path.isdir(d) and any(os.scandir(d))


def test_sql_recursion_equals_fixpoint_operator(spark):
    """q178's depth-bounded native WITH RECURSIVE must compute exactly
    the iterate_until_fixpoint closure on the SAME (functional-only)
    graph — proof the depth guard (20) strictly covers the closure
    diameter, i.e. the bounded recursion IS the fixpoint."""
    from dbkit_spark.catalog import load_all
    from dbkit_spark.operators.iterate import iterate_until_fixpoint
    from dbkit_spark.sources import read_table

    cat = load_all()
    sf = "/root/testdata/sf0.001"
    sql_side = {
        (r.start, r.node)
        for r in cat["q178_sql_recursive_cte"].fn(spark, sf).collect()
    }

    ev = read_table(spark, sf, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 150).alias("dst"),
    ).distinct().persist()
    seeds = (
        edges.filter(F.col("src") < 5)
        .select(F.col("src").alias("start"), F.col("dst").alias("node"))
        .distinct()
        .withColumn("frontier", F.lit(True))
    )

    def step(state):
        frontier = state.filter(F.col("frontier")).select("start", "node")
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("start", F.col("dst").alias("node"))
            .distinct()
            .join(state.select("start", "node"), ["start", "node"], "left_anti")
            .withColumn("frontier", F.lit(True))
        )
        return state.withColumn("frontier", F.lit(False)).unionByName(nxt)

    fix = iterate_until_fixpoint(
        seeds, step, measure=lambda df: df.count(), max_iter=40
    )
    op_side = {(r.start, r.node) for r in fix.select("start", "node").collect()}
    edges.unpersist()
    assert sql_side == op_side and len(sql_side) > 0


def test_skew_profile_diagnoses_hot_keys(spark):
    """skew_profile on a deliberately skewed key: the hot key leads with
    the right share, skew_factor = max/mean exactly, top-k is cut by
    TakeOrderedAndProject (no full sort), and the uniform case reads
    ~1.0."""
    from dbkit_spark.operators.profile import skew_profile

    # 1000 rows of key 'hot', 10 each of 50 cold keys -> 1500 rows, 51 keys
    rows = [("hot",)] * 1000 + [(f"k{i}",) for i in range(50) for _ in range(10)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    out = skew_profile(df, ["k"], top=3).collect()
    assert out[0].k == "hot" and out[0].n == 1000
    assert out[0].n_rows == 1500 and out[0].n_keys == 51
    assert out[0].share == round(1000 / 1500, 6)
    assert out[0].skew_factor == round(1000 / (1500 / 51), 6)  # = 34.0
    assert [r.n for r in out] == sorted([r.n for r in out], reverse=True)

    plan = (
        skew_profile(df, ["k"], top=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "TakeOrderedAndProject" in plan

    import pytest as _pytest

    with _pytest.raises(ValueError, match="key_cols"):
        skew_profile(df, [], top=3)


def test_kcore_raises_when_rounds_run_out(spark):
    """A 12-node path peels two end nodes per round, so its (empty)
    2-core takes 6 rounds; with 3 it must raise, not return a partly
    peeled graph whose end nodes have degree 1 < k."""
    from dbkit_spark.operators.graph import canonical_edges, k_core

    path = [(i, i + 1) for i in range(1, 12)]
    ce = canonical_edges(spark.createDataFrame(path, "s int, d int"), "s", "d")
    assert k_core(ce, 2).count() == 0
    with pytest.raises(RuntimeError):
        k_core(ce, 2, max_rounds=3).collect()


# --- rank kernels of operators/mlmetrics -------------------------------------
def _avg_ranks(values: list) -> list[float]:
    """Pure-Python average ranks (ascending; ties share the mean of their
    1-based rank range)."""
    order = sorted(range(len(values)), key=lambda i: values[i])
    ranks = [0.0] * len(values)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and values[order[j + 1]] == values[order[i]]:
            j += 1
        for t in range(i, j + 1):
            ranks[order[t]] = (i + j) / 2.0 + 1.0
        i = j + 1
    return ranks


def _pearson(xs: list[float], ys: list[float]) -> float:
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
    return (n * sxy - sx * sy) / ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5


_NULL_CASES = {
    "spearman_by_group": (
        "g string, x double, y double",
        [("g", 1.0, 1.0), ("g", 2.0, 2.0), ("g", 3.0, 3.0)],
        [("g", 4.0, None), ("g", None, 0.0)],
        lambda m, df: m.spearman_by_group(df, "g", "x", "y"),
    ),
    "mann_whitney_u": (
        "s string, grp string, v double",
        [("s", "a", 1.0), ("s", "a", 2.0), ("s", "b", 3.0), ("s", "b", 4.0)],
        [("s", "b", None)],
        lambda m, df: m.mann_whitney_u(df, "s", "grp", "v", "a", "b"),
    ),
    "kruskal_wallis": (
        "s string, grp string, v double",
        [("s", "a", 1.0), ("s", "a", 2.0), ("s", "b", 2.0), ("s", "c", 5.0)],
        [("s", "a", None), ("s", "c", None)],
        lambda m, df: m.kruskal_wallis(df, "s", "grp", "v"),
    ),
    "average_precision": (
        "s string, y int, score double",
        [("s", 1, 0.9), ("s", 0, 0.8), ("s", 1, 0.7), ("s", 0, 0.1)],
        [("s", 1, None), ("s", 0, None)],
        lambda m, df: m.average_precision(df, "s", "y", "score"),
    ),
}


@pytest.mark.parametrize("case", sorted(_NULL_CASES))
def test_rank_tests_drop_null_values(spark, case):
    """A NULL value is not a rank: adding rows whose ranked value is NULL
    leaves every rank-based statistic unchanged (Spark sorts NULLs
    first, so a NULL that reached a rank window would shift every
    rank)."""
    from dbkit_spark.operators import mlmetrics

    schema, rows, nulls, run = _NULL_CASES[case]
    clean = run(mlmetrics, spark.createDataFrame(rows, schema)).collect()
    noisy = run(mlmetrics, spark.createDataFrame(rows + nulls, schema)).collect()
    assert clean and sorted(map(tuple, noisy)) == sorted(map(tuple, clean))


def test_bootstrap_cis_of_one_row_are_its_value(spark):
    """A 1-row input draws weight 0 in about e^-1 of its replicates; those
    replicates have no mean and are dropped, and the percentile ranks come
    from the replicates that remain, so both bootstrap CIs collapse onto
    the one value."""
    from dbkit_spark.operators.mlmetrics import (
        bootstrap_mean_ci,
        paired_bootstrap_delta,
    )

    one = spark.createDataFrame([(1, 2.5, 1.0)], "id long, a double, b double")
    r = bootstrap_mean_ci(one, "a", "id").collect()[0]
    assert (r["n"], r["ci_lo"], r["ci_hi"]) == (1, 2.5, 2.5)
    p = paired_bootstrap_delta(one, "a", "b", "id").collect()[0]
    assert (p["n"], p["delta_ci_lo"], p["delta_ci_hi"]) == (1, 1.5, 1.5)
    assert p["frac_a_wins"] == 1.0


def test_average_rank_tests_match_pure_python(spark):
    """Seeded tie-heavy cross-check of the four average-rank callers
    against the pure-Python reference ranks above."""
    import random

    from dbkit_spark.operators.mlmetrics import (
        auc_by_group,
        friedman_test,
        kendalls_w,
        spearman_by_group,
    )

    rnd = random.Random(11)
    rows = [
        (f"g{i % 3}", rnd.randrange(2), float(rnd.randrange(5)), float(rnd.randrange(4)))
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "g string, y int, a double, b double")
    auc = {r["g"]: r for r in auc_by_group(df, ["g"], "y", "a").collect()}
    rho = {r["g"]: r["rho"] for r in spearman_by_group(df, "g", "a", "b").collect()}
    for g in sorted({r[0] for r in rows}):
        sub = [r for r in rows if r[0] == g]
        ranks = _avg_ranks([r[2] for r in sub])
        n_pos = sum(r[1] for r in sub)
        n_neg = len(sub) - n_pos
        r_pos = sum(rk for rk, r in zip(ranks, sub) if r[1] == 1)
        assert auc[g]["auc"] == pytest.approx(
            (r_pos - n_pos * (n_pos + 1) / 2) / (n_pos * n_neg), abs=1e-12
        )
        expect = _pearson(ranks, _avg_ranks([r[3] for r in sub]))
        assert rho[g] == pytest.approx(expect, abs=2e-6)

    # blocks x members, tie-heavy values: friedman ranks within items,
    # kendall's W within judges (judge = block, object = member)
    n_blocks, k = 15, 4
    vals = {(i, t): float(rnd.randrange(3)) for i in range(n_blocks) for t in range(k)}
    blocks = spark.createDataFrame(
        [(i, f"t{t}", v) for (i, t), v in vals.items()], "b long, m string, v double"
    )
    per_block = {
        i: _avg_ranks([vals[(i, t)] for t in range(k)]) for i in range(n_blocks)
    }
    rsum = [sum(per_block[i][t] for i in range(n_blocks)) for t in range(k)]

    fr = {r["treatment"]: r for r in friedman_test(blocks, "b", "m", "v").collect()}
    a1 = sum(x * x for rs in per_block.values() for x in rs)
    c1 = n_blocks * k * (k + 1) ** 2 / 4
    dev = sum((rsum[t] - n_blocks * (k + 1) / 2) ** 2 for t in range(k))
    for t in range(k):
        assert fr[f"t{t}"]["rank_sum"] == pytest.approx(rsum[t], abs=1e-9)
        assert fr[f"t{t}"]["chi2_f"] == pytest.approx(
            (k - 1) * dev / (a1 - c1), abs=2e-6
        )

    kw = {r["object"]: r for r in kendalls_w(blocks, "b", "m", "v").collect()}
    ties = 0
    for i in range(n_blocks):
        col = [vals[(i, t)] for t in range(k)]
        ties += sum(col.count(v) ** 3 - col.count(v) for v in set(col))
    s = sum((rsum[t] - n_blocks * (k + 1) / 2) ** 2 for t in range(k))
    w = 12 * s / (n_blocks**2 * (k**3 - k) - n_blocks * ties)
    for t in range(k):
        assert kw[f"t{t}"]["rank_sum"] == pytest.approx(rsum[t], abs=1e-9)
        assert kw[f"t{t}"]["w"] == pytest.approx(w, abs=2e-6)


# --- two-sample empty-side rule ----------------------------------------------
def _psi(side):
    from dbkit_spark.operators.drift import psi_report

    def run(spark):
        vals = spark.createDataFrame([(0.5,), (1.5,), (1.7,), (9.0,)], "v double")
        empty = vals.limit(0)
        ref, cur = (empty, vals) if side == "ref" else (vals, empty)
        return psi_report(ref, cur, "v", edges=[1.0, 2.0]).orderBy("bucket")

    return run


def _wasserstein(spark):
    from dbkit_spark.operators.drift import wasserstein_1d

    a = spark.createDataFrame([(1.0,), (2.0,), (4.0,)], "x double")
    return wasserstein_1d(a, a.limit(0), "x")


def _mauve(spark):
    from dbkit_spark.operators.drift import mauve_frontier

    p = spark.createDataFrame([(0,), (1,), (1,), (2,)], "label int")
    return mauve_frontier(p, p.limit(0), "label")


_EMPTY_SIDE_CASES = {
    "psi_ref_empty": (
        _psi("ref"),
        {"n_ref": 0, "p_ref": 1e-06},
        ["psi", "contrib", "p_cur"],
    ),
    "psi_cur_empty": (
        _psi("cur"),
        {"n_cur": 0, "p_cur": 1e-06},
        ["psi", "contrib", "p_ref"],
    ),
    "wasserstein_1d": (_wasserstein, {"n_a": 3, "n_b": 0, "wasserstein": None}, []),
    "mauve_frontier": (
        _mauve,
        {
            "n_p": 4,
            "n_q": 0,
            "kl_q_mix": None,
            "kl_p_mix": None,
            "x": None,
            "y": None,
            "frontier_auc": None,
        },
        [],
    ),
}


@pytest.mark.parametrize("case", sorted(_EMPTY_SIDE_CASES))
def test_drift_empty_side_degrades(spark, case):
    """An empty sample is counted, not divided by: PSI floors the empty
    side's proportion in every bucket and stays finite; Wasserstein and
    the MAUVE frontier report the side counts with NULL statistics."""
    import math

    run, expect, finite = _EMPTY_SIDE_CASES[case]
    rows = run(spark).collect()
    assert rows
    for r in rows:
        assert {c: r[c] for c in expect} == expect
        assert all(math.isfinite(r[c]) for c in finite)
    if case.startswith("psi"):
        assert [r["bucket"] for r in rows] == [0, 1, 2]
        assert rows[0]["psi"] > 0


def test_wasserstein_single_distinct_value(spark):
    """Samples that together hold one distinct value close no segment:
    both sides non-empty report W = 0.0, an empty side keeps its NULL
    W, and the side counts are reported either way."""
    from dbkit_spark.operators.drift import wasserstein_1d

    a = spark.createDataFrame([(1.0,)], "x double")
    b = spark.createDataFrame([(1.0,), (1.0,)], "x double")
    assert tuple(wasserstein_1d(a, b, "x").collect()[0]) == (1, 2, 0.0)
    c = spark.createDataFrame([(2.0,)], "x double")
    assert tuple(wasserstein_1d(c.limit(0), c, "x").collect()[0]) == (0, 1, None)


_TWO_SAMPLE_EMPTY_CASES = {
    "ks_two_sample": (
        "g string, v double",
        [("a", 1.0), ("a", 2.0)],
        lambda m, df: m.ks_two_sample(df, "g", "v", "a", "b"),
        {"n_a": 2, "n_b": 0, "d_stat": None, "ks_lambda": None, "p_value": None},
    ),
    "cvm_two_sample": (
        "g string, v double",
        [("a", 1.0), ("a", 2.0)],
        lambda m, df: m.cvm_two_sample(df, "g", "v", "a", "b"),
        {"n_a": 2, "n_b": 0, "t_stat": None},
    ),
    "mann_whitney_u_no_b": (
        "s string, grp string, v double",
        [("s", "a", 1.0), ("s", "a", 2.0)],
        lambda m, df: m.mann_whitney_u(df, "s", "grp", "v", "a", "b"),
        {"n_a": 2, "n_b": 0, "u_stat": None, "z": None},
    ),
    "mann_whitney_u_one_row": (
        "s string, grp string, v double",
        [("s", "a", 1.0)],
        lambda m, df: m.mann_whitney_u(df, "s", "grp", "v", "a", "b"),
        {"n_a": 1, "n_b": 0, "u_stat": None, "z": None},
    ),
    "mann_whitney_u_all_tied": (
        "s string, grp string, v double",
        [("s", "a", 1.0), ("s", "b", 1.0)],
        lambda m, df: m.mann_whitney_u(df, "s", "grp", "v", "a", "b"),
        {"n_a": 1, "n_b": 1, "u_stat": 0.5, "z": None},
    ),
    "delong_auc_test": (
        "y int, a double, b double",
        [(1, 0.9, 0.8), (1, 0.3, 0.4)],
        lambda m, df: m.delong_auc_test(df, "y", "a", "b"),
        {
            "n_pos": 2,
            "n_neg": 0,
            "auc_a": None,
            "auc_b": None,
            "delta_auc": None,
            "se": None,
            "z": None,
            "p_two_sided": None,
        },
    ),
}


@pytest.mark.parametrize("case", sorted(_TWO_SAMPLE_EMPTY_CASES))
def test_two_sample_tests_degrade_on_empty_side(spark, case):
    """A two-sample test with an empty side (or no spread) reports its
    counts and a NULL statistic, z and p instead of dividing by zero."""
    from dbkit_spark.operators import mlmetrics

    schema, rows, run, expect = _TWO_SAMPLE_EMPTY_CASES[case]
    (r,) = run(mlmetrics, spark.createDataFrame(rows, schema)).collect()
    assert {c: r[c] for c in expect} == expect


def test_average_precision_drops_null_labels(spark):
    """A NULL label is neither a positive nor a negative."""
    from dbkit_spark.operators.mlmetrics import average_precision

    rows = [("s", 1, 0.9), ("s", 0, 0.5)]
    df = spark.createDataFrame(rows + [("s", None, 0.7)], "s string, y int, score double")
    (r,) = average_precision(df, "s", "y", "score").collect()
    assert (r["n_pos"], r["n_neg"], r["avg_precision"]) == (1, 1, 1.0)


def test_normalized_words_matches_per_word_rule(spark):
    """The one-pass word rule equals splitting lower(trim(text)) on
    whitespace runs and stripping each word to [a-z0-9]."""
    import random
    import re

    from dbkit_spark.functions.text import normalized_words

    rnd = random.Random(5)
    alphabet = "abZ09 \t\n-.,'!é_"
    texts = ["".join(rnd.choice(alphabet) for _ in range(rnd.randrange(12))) for _ in range(300)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)] + [(300, None)], "i int, t string")
    got = {r["i"]: r["w"] for r in df.select("i", normalized_words("t").alias("w")).collect()}
    for i, t in enumerate(texts):
        want = [re.sub("[^a-z0-9]", "", u) for u in re.split(r"\s+", t.lower().strip(" "))]
        assert got[i] == [u for u in want if u], repr(t)
    assert got[300] is None


def test_bucket_by_edges_maps_null_to_null(spark):
    """A NULL value has no bucket; every other value counts the edges
    strictly below it."""
    from dbkit_spark.operators.drift import bucket_by_edges

    df = spark.createDataFrame([(0, None), (1, 0.5), (2, 1.0), (3, 5.0)], "i int, v double")
    out = df.select("i", bucket_by_edges(F.col("v"), [1.0, 2.0]).alias("b"))
    assert [r["b"] for r in out.orderBy("i").collect()] == [None, 0, 0, 2]


# --- cache release when the checkpoint job fails -----------------------------
def _failing(df, col, value):
    """``df`` whose ``col`` raises where it equals ``value``."""
    boom = F.when(F.col(col) == value, F.raise_error(F.lit("boom")))
    return df.withColumn(col, boom.otherwise(F.col(col)))


def _edges(spark):
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)], "a long, b long")
    return _failing(edges, "b", 4)


def _baskets(spark):
    baskets = spark.createDataFrame([(1, "x"), (1, "y"), (2, "x"), (2, "y")], "b int, i string")
    return _failing(baskets, "i", "y")


def _docs(spark):
    rows = [(1, "one two three four five"), (2, "one two three four six")]
    return _failing(spark.createDataFrame(rows, "doc_id long, text string"), "doc_id", 2)


_RELEASE_CASES = {
    "containment_pairs": lambda spark: dedup.containment_pairs(_docs(spark)),
    "item_pairs": lambda spark: assoc.item_pairs(_baskets(spark), "b", "i"),
    "association_rules": lambda spark: assoc.association_rules(_baskets(spark), "b", "i"),
    "triangle_stats": lambda spark: graph.triangle_stats(_edges(spark)),
    "modularity": lambda spark: graph.modularity(
        _edges(spark), spark.createDataFrame([(n, n % 2) for n in range(1, 5)], "node long, c long"), "node", "c"
    ),
    "degree_assortativity": lambda spark: graph.degree_assortativity(_edges(spark)),
    "density_clusters": lambda spark: cluster.density_clusters(_edges(spark), a_col="a", b_col="b"),
    "label_propagation": lambda spark: graph.label_propagation(_edges(spark)),
    "bfs_hops": lambda spark: graph.bfs_hops(_edges(spark), spark.createDataFrame([(1,)], "node long"), 2),
}


@pytest.mark.parametrize("case", sorted(_RELEASE_CASES))
def test_operators_release_caches_when_the_job_fails(spark, case):
    """An operator that persists intermediates and checkpoints its result
    unpersists them also when that job raises."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.cachedData().size()
    with pytest.raises(Exception, match="boom"):
        _RELEASE_CASES[case](spark)
    assert cache_manager.cachedData().size() == before


# --- cache ownership: an operator leaves the session cache as it found it ---
def _plain_docs(spark):
    rows = [
        (1, "cache owner probe alpha beta gamma delta epsilon zeta"),
        (2, "cache owner probe alpha beta gamma delta epsilon theta"),
        (3, "an unrelated sentence about rivers mountains and weather"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _wins(spark):
    rows = [("A", "B"), ("B", "C"), ("C", "A"), ("A", "C"), ("A", "B")]
    return spark.createDataFrame(rows, "winner string, loser string")


def _timed_values(spark):
    rows = [(f"2024-01-01 0{h}:0{m}:00", k, float(h + m)) for h in range(3) for m in range(3) for k in "xy"]
    return spark.createDataFrame(rows, "ts string, k string, v double").withColumn("ts", F.col("ts").cast("timestamp"))


_NO_LEAK_CASES = {
    "jaccard_prefix_filter_pairs": lambda spark: dedup.jaccard_prefix_filter_pairs(_plain_docs(spark)),
    "minhash_near_dup_pairs": lambda spark: dedup.minhash_near_dup_pairs(_plain_docs(spark)),
    "bradley_terry": lambda spark: preference.bradley_terry(_wins(spark), "winner", "loser"),
    "preference_cycles": lambda spark: preference.preference_cycles(_wins(spark), "winner", "loser"),
    "rollup_hierarchy": lambda spark: rollup_hierarchy(
        _timed_values(spark), "ts", ["k"], "v", ("1 minute", "1 hour")
    ),
    "rake_weights": lambda spark: rake_weights(
        _wins(spark), "winner", "loser", {"A": 0.4, "B": 0.3, "C": 0.3}, {"A": 0.2, "B": 0.4, "C": 0.4}
    ),
}


@pytest.mark.parametrize("op", sorted(_NO_LEAK_CASES))
def test_operators_leave_no_cached_plan(spark, op):
    """An operator holds a cache only for its own work: after it returns
    and its result is read, the session holds as many cached plans as
    before the call."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.cachedData().size()
    assert _NO_LEAK_CASES[op](spark).collect()
    assert cache_manager.cachedData().size() == before


def test_operators_keep_a_cache_entry_their_caller_made(spark):
    """Spark shares one cache entry between identical plans, so an
    operator that holds the shingle sets of ``docs`` meets the entry a
    caller already made for them. It uses that entry and leaves it
    cached: the entry belongs to the caller."""
    from pyspark import StorageLevel

    docs = _plain_docs(spark)
    shingled = dedup.shingle_docs(docs).persist(StorageLevel.MEMORY_ONLY)
    try:
        assert shingled.count() == 3
        for op in (
            dedup.minhash_near_dup_pairs,
            dedup.ngram_jaccard_pairs,
            dedup.jaccard_prefix_filter_pairs,
            dedup.containment_pairs,
        ):
            op(docs).collect()
            assert shingled.storageLevel == StorageLevel.MEMORY_ONLY, op.__name__
    finally:
        shingled.unpersist()

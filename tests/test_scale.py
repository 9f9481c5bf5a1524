"""Scale-path operators: salted skew join, bucketed co-located joins,
IVF ANN recall. These validate the 100 TB strategies on small data —
result equality for the rewrites, plan shape for the shuffle claims."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbkit_spark.llm.similarity import cosine_topk, ivf_index, ivf_topk
from dbkit_spark.operators.joins import salted_join
from dbkit_spark.sources import read_table
from dbkit_spark.sources.writers import write_bucketed


def test_salted_join_equals_plain_join(spark, sf_dir):
    events = read_table(spark, sf_dir, "events").withColumnRenamed(
        "user_id", "c_custkey"
    )
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    plain = events.join(customer, "c_custkey")
    salted = salted_join(events, customer, "c_custkey", salt_buckets=8)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_preserves_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    right = spark.createDataFrame([(1, 10.0)], "k long, w double")
    out = salted_join(left, right, "k", how="left", salt_buckets=4)
    rows = {(r.k, r.v, r.w) for r in out.collect()}
    assert rows == {(1, "a", 10.0), (2, "b", None)}


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides bucketed on the join key -> the join plan has no
    Exchange: this is the repeated-join 100 TB strategy."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    try:
        write_bucketed(
            orders.withColumnRenamed("o_custkey", "custkey"),
            "orders_b", buckets=8, bucket_cols=["custkey"],
            path=str(tmp_path / "orders_b"),
        )
        write_bucketed(
            customer.withColumnRenamed("c_custkey", "custkey"),
            "customer_b", buckets=8, bucket_cols=["custkey"],
            path=str(tmp_path / "customer_b"),
        )
        ob, cb = spark.table("orders_b"), spark.table("customer_b")
        with_bcast_off = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = ob.join(cb, "custkey")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # and it still computes the right thing
            assert joined.count() == orders.join(
                customer, orders["o_custkey"] == customer["c_custkey"]
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_bcast_off)
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


@pytest.fixture(scope="module")
def sf001_emb(spark):
    return read_table(spark, "/root/testdata/sf0.01", "embeddings")


def test_ivf_recall_vs_exact(spark, sf001_emb):
    """IVF(nprobe=4 of 16 clusters) must recover most of the exact top-5;
    scans ~4/16 of the corpus per query. The quantizer is fit on a genuine
    50% sample (floor low enough not to round up to 1.0) — the 100 TB
    path where KMeans never sees the full corpus. nprobe is the
    recall/cost lever: these synthetic embeddings are near-uniform, so
    recall tracks the probed fraction closely."""
    emb = sf001_emb
    queries = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(queries, emb, k=5)
    assigned, centroids = ivf_index(
        emb, n_clusters=16, fit_sample_fraction=0.5, min_fit_rows=100
    )
    approx = ivf_topk(queries, assigned, centroids, k=5, nprobe=4)
    exact_pairs = {(r.query_id, r.cand_id) for r in exact.collect()}
    approx_pairs = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.5, f"recall {recall:.2f}"


def test_ivf_self_hit(spark, sf001_emb):
    """A query vector's own cluster is always probed first, so its true
    nearest neighbor set within that cluster is exact."""
    emb = sf001_emb
    queries = emb.filter(F.col("vec_id") < 5)
    assigned, centroids = ivf_index(emb, n_clusters=8)
    out = ivf_topk(queries, assigned, centroids, k=3, nprobe=2)
    counts = out.groupBy("query_id").count().collect()
    assert all(r["count"] == 3 for r in counts)


def test_rollup_hierarchy_single_raw_scan(spark, sf_dir):
    """Each coarser level must read the persisted finer level, not re-scan
    raw data (the continuous-aggregate property; regression guard for the
    persist barriers in operators/rollup_hierarchy.py)."""
    from dbkit_spark.operators.aggregate import dec
    from dbkit_spark.operators.iterate import held
    from dbkit_spark.operators.rollup_hierarchy import _rollup_plan

    events = read_table(spark, sf_dir, "events").withColumn("value", dec("value", 6))
    levels, out = _rollup_plan(
        events, "ts", ["event_type"], "value", ("5 minutes", "1 hour", "1 day")
    )
    with held(*levels):
        out.write.format("noop").mode("overwrite").save()
        plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """Files touched by a 2-D range predicate: z-ordered layout must beat
    the single-column sort layout on the second dimension, and the data
    must round-trip unchanged."""
    from dbkit_spark.operators.zorder import write_zordered

    orders = read_table(spark, "/root/testdata/sf0.01", "orders")
    zpath = str(tmp_path / "z")
    lpath = str(tmp_path / "linear")
    write_zordered(orders, zpath, ["o_totalprice", "o_custkey"], num_files=16)
    (
        orders.repartitionByRange(16, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    pred = (F.col("o_totalprice") < 50000) & (F.col("o_custkey") < 150)

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    z_files, l_files = files_touched(zpath), files_touched(lpath)
    # same rows either way
    assert (
        spark.read.parquet(zpath).filter(pred).count()
        == orders.filter(pred).count()
    )
    # the 2-D clustered layout localizes the predicate into fewer files
    assert z_files < l_files, f"zorder {z_files} files vs linear {l_files}"

"""Relational queries: scan/project (§2.1-2.2 Tier A parity), predicates
(§2.2), sort/limit/top-k (§2.6), set ops & dedup (§2.7), TPC-H shapes,
grouping sets and pivots, map/array/JSON/variant functions, Python UDFs,
and everything else built on the relational-core operators (aggregate,
joins, setops, window, rownumber, sort, filter, project, grouped,
rollup_hierarchy).

Placement rule row 6: a query lands here when it references no
streaming, evaluation, similarity, LLM/text or analytics engine module.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..catalog import register
from ..operators.aggregate import (
    dec,
    stable_avg,
    stable_avg_sql,
    stable_sum,
    stable_sum_sql,
)
from ..operators.joins import join
from ..operators.project import Projector
from ..operators.setops import dedup_keep_first, except_all, intersect_all
from ..operators.sort import topk
from ..sources import read_table


# --- B1: TPC-H Q1-shaped pricing summary (scan+filter+agg+sort) -----------
@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {stable_sum_sql("l_quantity")} AS sum_qty,
           {stable_sum_sql("l_extendedprice")} AS sum_base_price,
           {stable_sum_sql("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
           {stable_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
           {stable_avg_sql("l_quantity")} AS avg_qty,
           {stable_avg_sql("l_extendedprice")} AS avg_price,
           {stable_avg_sql("l_discount")} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    notes="flagship; decimal-stabilized sums for cross-engine bit-equality",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split=True: nine decimal partial aggregates over six columns are
    # heavy map-side work fused into the scan; splitting the one-row-
    # group file parallelizes them (A/B at sf0.1: 1.43 s -> 0.60 s)
    li = read_table(spark, sf_dir, "lineitem", split=True)
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            stable_sum("l_quantity").alias("sum_qty"),
            stable_sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price.cast("decimal(25,6)")).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast("decimal(25,6)")).cast("double").alias("sum_charge"),
            stable_avg("l_quantity").alias("avg_qty"),
            stable_avg("l_extendedprice").alias("avg_price"),
            stable_avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --- §2.2 Tier-A parity: projection by position / name / rename -----------
@register(
    "q02_project_rename",
    oracle="""
    SELECT p_partkey AS partkey, p_brand AS brand, p_type, p_retailprice
    FROM part
    """,
    notes="reference Project operator parity (projector.rs by-pos/by-name/rename)",
)
def q02_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return (
        Projector()
        .add_position(0, "partkey")          # project_by_position (projector.rs:53-55)
        .add_name("p_brand", "brand")        # add_as rename (projector.rs:103-109)
        .add_name("p_type")                  # project_by_name (projector.rs:58-60)
        .add_name("p_retailprice")
        .apply(part)
    )


# --- §2.2 predicate algebra ------------------------------------------------
@register(
    "q03_filter_predicates",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
      AND l_returnflag IN ('A', 'R')
      AND (l_quantity > 25 OR l_discount <= 0.02)
      AND NOT (l_linestatus = 'O')
      AND l_tax IS NOT NULL
    """,
    notes="BETWEEN/IN/OR/NOT/IS NULL; all predicates parquet-pushable",
)
def q03_filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    pred = (
        F.col("l_shipdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp"),
            F.lit("1996-12-31 00:00:00").cast("timestamp"),
        )
        & F.col("l_returnflag").isin("A", "R")
        & ((F.col("l_quantity") > 25) | (F.col("l_discount") <= 0.02))
        & ~(F.col("l_linestatus") == "O")
        & F.col("l_tax").isNotNull()
    )
    return li.filter(pred).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"
    )


# --- §2.6 sort / limit / offset / top-k ------------------------------------
@register(
    "q04_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100 OFFSET 10
    """,
    notes="TakeOrderedAndProject top-k + offset; unique tiebreaker o_orderkey",
)
def q04_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    ranked = topk(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        110,
    )
    return ranked.offset(10).limit(100)


# --- §2.7 set operations (B4) ----------------------------------------------
@register(
    "q05_set_ops",
    oracle="""
    WITH a AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'A'),
         r AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'both' AS tag, l_orderkey FROM (SELECT l_orderkey FROM a INTERSECT SELECT l_orderkey FROM r)
    UNION ALL
    SELECT 'only_a' AS tag, l_orderkey FROM (SELECT l_orderkey FROM a EXCEPT SELECT l_orderkey FROM r)
    UNION ALL
    SELECT 'only_r' AS tag, l_orderkey FROM (SELECT l_orderkey FROM r EXCEPT SELECT l_orderkey FROM a)
    """,
    notes="union all / intersect / except over derived selects. "
    "OPTIMIZATION_r15: executed through operators/setops.set_split_tags — "
    "the engine's fused single-shuffle rewrite of exactly this "
    "intersect/except/union composition (one scan + one groupBy instead of "
    "6 scans, 2 distincts and 3 set-op shuffles; guide §2.4). Row set, "
    "schema and values are identical by the operator's contract and "
    "pinned by the unchanged oracle; the naive composition stays covered "
    "by operators/setops and its q54 anchor",
)
def q05_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import set_split_tags

    # split=False: the fused split is filter + partial-agg straight into
    # its one exchange; the scan-split shuffle measured net-negative
    # (A/B 0.71 s vs 1.03 s)
    li = read_table(spark, sf_dir, "lineitem", split=False)
    return set_split_tags(
        li,
        ["l_orderkey"],
        F.col("l_returnflag") == "A",
        F.col("l_returnflag") == "R",
        tags=("both", "only_a", "only_r"),
    )


# --- §2.7 deterministic dedup ----------------------------------------------
@register(
    "q06_dedup_first_order",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
    notes="deterministic keep-first dedup (vs arbitrary dropDuplicates)",
)
def q06_dedup_first_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return dedup_keep_first(
        orders.select("o_custkey", "o_orderkey", "o_orderdate"),
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )


@register(
    "q50_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) + 2 * GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n, {stable_sum_sql("l_quantity")} AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    notes="full cube (4 grouping-set combinations)",
)
def q50_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") + F.lit(2) * F.grouping("l_linestatus")).alias("gid"),
        F.count("*").alias("n"),
        stable_sum("l_quantity").alias("qty"),
    )


@register(
    "q51_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n, {stable_sum_sql("o_totalprice")} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    notes="explicit grouping sets (SQL path: Catalyst parses GROUPING SETS)",
)
def q51_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
               COUNT(*) AS n,
               {stable_sum_sql("o_totalprice")} AS total
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@register(
    "q52_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {stable_sum_sql("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS qty_o,
           {stable_sum_sql("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS qty_f,
           COUNT(*) FILTER (WHERE l_linestatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE l_linestatus = 'F') AS n_f
    FROM lineitem
    GROUP BY l_returnflag
    """,
    notes="pivot == conditional aggregation (portable oracle form)",
)
def q52_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(
            stable_sum("l_quantity").alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return pivoted.select(
        "l_returnflag",
        F.col("O_qty").alias("qty_o"),
        F.col("F_qty").alias("qty_f"),
        F.col("O_n").alias("n_o"),
        F.col("F_n").alias("n_f"),
    )


@register(
    "q53_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    """,
    notes="unpivot/melt via DataFrame.unpivot (oracle: UNION ALL form)",
)
def q53_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@register(
    "q54_multiset_ops",
    oracle="""
    SELECT 'inter_all' AS tag, l_orderkey FROM (
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
      INTERSECT ALL
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    )
    UNION ALL
    SELECT 'except_all' AS tag, l_orderkey FROM (
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
      EXCEPT ALL
      SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    )
    """,
    notes="multiset (bag) semantics: intersectAll / exceptAll",
)
def q54_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_orderkey")
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    inter = intersect_all(a, r).select(F.lit("inter_all").alias("tag"), "l_orderkey")
    exc = except_all(a, r).select(F.lit("except_all").alias("tag"), "l_orderkey")
    return inter.unionByName(exc)


# --- §2.10 vectorized UDF surface ------------------------------------------
@register(
    "q55_pandas_udf_scalar",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice / 1000.0
                 + datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) * 0.01,
                 6) AS score
    FROM orders
    """,
    notes="scalar pandas UDF (Arrow-vectorized); formula mirrored in SQL",
)
def q55_pandas_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    @pandas_udf("double")
    def _order_score(total: pd.Series, days: pd.Series) -> pd.Series:
        """Arrow-batched scalar UDF (the analogue of the reference's batch
        expression evaluation, ``convert.rs:102-135``): row-local
        arithmetic, deterministic, mirrored exactly by the oracle SQL."""
        return (total / 1000.0) + days * 0.01

    orders = read_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
    return orders.select(
        "o_orderkey",
        F.round(_order_score(F.col("o_totalprice"), days.cast("double")), 6).alias(
            "score"
        ),
    )


@register(
    "q56_grouped_agg_udaf",
    oracle="""
    SELECT o_custkey,
           round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 6) AS median_price
    FROM orders
    GROUP BY o_custkey
    """,
    notes="GROUPED_AGG pandas UDF (UDAF surface); numpy median == "
    "interpolated quantile for the oracle",
)
def q56_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy("o_custkey").agg(
        F.round(median_udaf("o_totalprice"), 6).alias("median_price")
    )


@register(
    "q57_map_funcs",
    oracle="""
    SELECT event_id,
           array_to_string(
             CAST(map_keys(MAP {'type': event_type}) AS VARCHAR[]), ','
           ) AS ks,
           array_to_string(
             CAST(map_values(MAP {'type': event_type}) AS VARCHAR[]), ','
           ) AS vs,
           (MAP {'type': event_type}['type'])[1] AS type_val
    FROM events
    """,
    notes="map construction + key/value extraction; array outputs are "
    "projected to joined scalars (like q82) — pandas-side canonicalization "
    "can't sort on list-valued columns",
)
def q57_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    m = F.create_map(F.lit("type"), F.col("event_type"))
    return events.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("ks"),
        F.array_join(F.map_values(m), ",").alias("vs"),
        F.element_at(m, "type").alias("type_val"),
    )


@register(
    "q58_join_full_outer",
    oracle=f"""
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           c.n_rich_cust, s.n_rich_supp,
           COALESCE(c.cust_bal, 0.0) + COALESCE(s.supp_bal, 0.0) AS combined_bal
    FROM (
      SELECT c_nationkey AS nk, COUNT(*) AS n_rich_cust,
             {stable_sum_sql("c_acctbal")} AS cust_bal
      FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey
    ) c
    FULL OUTER JOIN (
      SELECT s_nationkey AS nk, COUNT(*) AS n_rich_supp,
             {stable_sum_sql("s_acctbal")} AS supp_bal
      FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey
    ) s ON c.nk = s.nk
    """,
    notes="full outer join of two filtered aggregates; unmatched sides survive "
    "with NULL marker columns",
)
def q58_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    c = (
        customer.filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_rich_cust"), stable_sum("c_acctbal").alias("cust_bal"))
    )
    s = (
        supplier.filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_rich_supp"), stable_sum("s_acctbal").alias("supp_bal"))
    )
    out = join(c, s.withColumnRenamed("nk", "s_nk"), c["nk"] == F.col("s_nk"), "full")
    return out.select(
        F.coalesce("nk", "s_nk").alias("nationkey"),
        "n_rich_cust",
        "n_rich_supp",
        (
            F.coalesce("cust_bal", F.lit(0.0)) + F.coalesce("supp_bal", F.lit(0.0))
        ).alias("combined_bal"),
    )


@register(
    "q59_join_right_outer",
    oracle="""
    SELECT n.n_name AS nation, s.s_suppkey, s.s_name
    FROM (SELECT * FROM supplier WHERE s_acctbal > 9500) s
    RIGHT JOIN nation n ON s.s_nationkey = n.n_nationkey
    """,
    notes="right outer join: every nation survives even with no qualifying "
    "supplier",
)
def q59_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = read_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9500)
    nation = read_table(spark, sf_dir, "nation")
    out = join(
        supplier,
        nation.withColumnRenamed("n_nationkey", "s_nationkey"),
        "s_nationkey",
        "right",
    )
    return out.select(F.col("n_name").alias("nation"), "s_suppkey", "s_name")


@register(
    "q60_like_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_type, p_brand
    FROM part
    WHERE p_type LIKE 'ECO%'
      AND p_brand NOT LIKE 'Brand#1%'
      AND p_name ILIKE '%G_%'
    """,
    notes="LIKE / NOT LIKE / case-insensitive ILIKE (§2.2 predicate algebra)",
)
def q60_like_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_type").like("ECO%")
        & ~F.col("p_brand").like("Brand#1%")
        & F.col("p_name").ilike("%G_%")
    ).select("p_partkey", "p_name", "p_type", "p_brand")


@register(
    "q61_sort_nulls_ordering",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           NULLIF(o_orderpriority, '1-URGENT') AS prio_or_null
    FROM orders
    ORDER BY prio_or_null ASC NULLS FIRST, o_orderkey
    LIMIT 500
    """,
    notes="explicit NULLS FIRST ordering (§2.6); NULLIF manufactures nulls in "
    "the sort key; unique o_orderkey tiebreak makes the LIMIT deterministic",
)
def q61_sort_nulls_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_orderstatus",
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("prio_or_null"),
        )
        .orderBy(F.col("prio_or_null").asc_nulls_first(), "o_orderkey")
        .limit(500)
    )


@register(
    "q62_from_json_typed",
    oracle="""
    SELECT event_id,
           CAST(props->>'k' AS INTEGER) AS k,
           CAST(props->>'missing' AS INTEGER) AS absent,
           (props->>'k') IS NOT NULL AS has_k
    FROM events
    """,
    notes="typed JSON parsing: from_json with an explicit struct schema "
    "(missing keys -> typed NULL), vs get_json_object string extraction in q30",
)
def q62_from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("missing", T.IntegerType()),
        ]
    )
    parsed = events.withColumn("j", F.from_json("props", schema))
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k"),
        F.col("j.missing").alias("absent"),
        F.col("j.k").isNotNull().alias("has_k"),
    )


@register(
    "q64_salted_join_skew",
    oracle=f"""
    SELECT e.event_type, COUNT(*) AS n, {stable_sum_sql("e.value")} AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_acctbal > 0
    GROUP BY e.event_type
    """,
    notes="salted skew join (operators/joins.salted_join): deterministic "
    "left-side salt + bounded right replication; result identical to the "
    "plain equi-join oracle",
)
def q64_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import salted_join

    events = read_table(spark, sf_dir, "events").withColumnRenamed(
        "user_id", "c_custkey"
    )
    customer = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey")
    )
    joined = salted_join(events, customer, "c_custkey", salt_buckets=8)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n"), stable_sum("value").alias("total_value")
    )


@register(
    "q69_set_split_fused",
    oracle="""
    WITH a AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'A'),
         r AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'both' AS tag, l_orderkey FROM (SELECT l_orderkey FROM a INTERSECT SELECT l_orderkey FROM r)
    UNION ALL
    SELECT 'only_a' AS tag, l_orderkey FROM (SELECT l_orderkey FROM a EXCEPT SELECT l_orderkey FROM r)
    UNION ALL
    SELECT 'only_r' AS tag, l_orderkey FROM (SELECT l_orderkey FROM r EXCEPT SELECT l_orderkey FROM a)
    """,
    notes="fused single-shuffle rewrite of q05's 3-way set split "
    "(operators/setops.set_split_tags): one scan + one groupBy replaces 2 "
    "distincts + 3 set-op shuffles; same oracle as q05",
)
def q69_set_split_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.setops import set_split_tags

    li = read_table(spark, sf_dir, "lineitem")
    return set_split_tags(
        li.select("l_orderkey", "l_returnflag"),
        ["l_orderkey"],
        F.col("l_returnflag") == "A",
        F.col("l_returnflag") == "R",
        tags=("both", "only_a", "only_r"),
    )


@register(
    "q70_argminmax",
    oracle="""
    SELECT o_custkey,
           arg_min(o_orderkey, o_orderdate ORDER BY o_orderkey) AS first_order_key,
           arg_max(o_orderkey, o_orderdate ORDER BY o_orderkey DESC) AS last_order_key,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_custkey
    """,
    notes="deterministic first/last per group (§2.4): min_by/max_by == "
    "DuckDB arg_min/arg_max; F.first/F.last are order-nondeterministic in a "
    "distributed agg, so the engine's 'first' is value-ordered, not "
    "arrival-ordered",
)
def q70_argminmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    # tie-break on orderkey so min_by/max_by are total-order deterministic:
    # pack (date, key) into a struct and take min/max of the struct
    return orders.groupBy("o_custkey").agg(
        F.min(F.struct("o_orderdate", "o_orderkey"))["o_orderkey"].alias(
            "first_order_key"
        ),
        F.max(F.struct("o_orderdate", "o_orderkey"))["o_orderkey"].alias(
            "last_order_key"
        ),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


@register(
    "q71_python_udtf",
    oracle="""
    SELECT o.o_orderkey, s.part AS installment, round(o.o_totalprice / 4, 6) AS amount
    FROM orders o, (SELECT unnest(generate_series(1, 4)) AS part) s
    WHERE o.o_totalprice > 400000
    """,
    notes="Python UDTF (§2.10, table function): one input row -> 4 "
    "installment rows; lateral-join shape, mirrored by unnest in the oracle",
)
def q71_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="installment: long, amount: double")
    class Installments:
        """Arrow-evaluated table function: emits 4 equal installments per
        order — the UDTF analogue of the reference's batch expression
        cursor (one input batch -> many output rows)."""

        def eval(self, total: float):
            for i in range(1, 5):
                yield i, round(total / 4, 6)

    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    spark.udtf.register("installments", Installments)
    orders.select("o_orderkey", "o_totalprice").createOrReplaceTempView("big_orders")
    return spark.sql(
        """
        SELECT b.o_orderkey, t.installment, t.amount
        FROM big_orders b, LATERAL installments(b.o_totalprice) t
        """
    )


_EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"


def _bin(sec: int) -> str:
    return (
        f"{_EPOCH} + to_seconds(CAST(floor(epoch(ts) / {sec}) * {sec} AS BIGINT))"
    )


def _rollup_level_sql(sec: int, label: str) -> str:
    return f"""
    SELECT {_bin(sec)} AS bucket, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total,
           MIN(value) AS vmin, MAX(value) AS vmax,
           '{label}' AS resolution
    FROM events GROUP BY bucket, event_type
    """


@register(
    "q73_rollup_hierarchy",
    oracle=" UNION ALL ".join(
        [
            _rollup_level_sql(300, "5 minutes"),
            _rollup_level_sql(3600, "1 hour"),
            _rollup_level_sql(86400, "1 day"),
        ]
    ),
    notes="multi-resolution rollup (operators/rollup_hierarchy): 1h level "
    "aggregates the 5m partials, 1d aggregates 1h — each coarser level "
    "reads the previous level's output, not raw data (the continuous-"
    "aggregate trick; at 100 TB raw is scanned once, not once per level). "
    "Decimal-carried sums make hierarchical == direct, bit-exactly; the "
    "oracle computes each level directly from raw",
)
def q73_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import dec
    from ..operators.rollup_hierarchy import rollup_hierarchy

    events = read_table(spark, sf_dir, "events").withColumn(
        "value", dec("value", 6)
    )
    out = rollup_hierarchy(
        events, "ts", ["event_type"], "value",
        resolutions=("5 minutes", "1 hour", "1 day"),
    )
    # min/max of the decimal-cast input stays decimal(25,6) in Spark while
    # the oracle's MIN/MAX(value) is DOUBLE — cast all three value columns.
    return (
        out.withColumn("total", F.col("total").cast("double"))
        .withColumn("vmin", F.col("vmin").cast("double"))
        .withColumn("vmax", F.col("vmax").cast("double"))
    )


@register(
    "q74_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal
      FROM customer WHERE c_custkey < 50
      UNION ALL
      SELECT s_suppkey + 1000000 AS c_custkey, s_name AS c_name,
             s_acctbal AS c_acctbal
      FROM supplier
    )
    SELECT t.c_custkey, t.c_name, t.c_acctbal
    FROM customer t
    WHERE t.c_custkey NOT IN (SELECT c_custkey FROM updates)
    UNION ALL
    SELECT c_custkey, c_name, c_acctbal FROM updates
    """,
    notes="MERGE/upsert as a DataFrame transform (operators/rollup_hierarchy"
    ".merge_upsert): updated keys replaced, new keys inserted, others pass "
    "through; key-uniqueness of updates enforced eagerly (multi-match MERGE "
    "is nondeterministic)",
)
def q74_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup_hierarchy import merge_upsert

    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    supplier = read_table(spark, sf_dir, "supplier")
    updates = (
        customer.filter(F.col("c_custkey") < 50)
        .withColumn("c_acctbal", F.col("c_acctbal") + 1000.0)
        .unionByName(
            supplier.select(
                (F.col("s_suppkey") + 1000000).alias("c_custkey"),
                F.col("s_name").alias("c_name"),
                F.col("s_acctbal").alias("c_acctbal"),
            )
        )
    )
    return merge_upsert(customer, updates, keys=["c_custkey"])


@register(
    "q80_tpch_q3_shipping",
    oracle=f"""
    SELECT l.l_orderkey, {stable_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    notes="TPC-H Q3-shaped (shipping priority): 3-way join, filtered both "
    "sides before the join (pushdown), top-10 by revenue via "
    "TakeOrderedAndProject; o_orderpriority stands in for the fixture's "
    "missing o_shippriority",
)
def q80_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("date")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    joined = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q81_tpch_q5_local_supplier",
    oracle=f"""
    SELECT n.n_name AS nation,
           {stable_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1995-01-01'
      AND o.o_orderdate < DATE '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC
    """,
    notes="TPC-H Q5-shaped (local supplier volume): 6-table join; "
    "nation+region broadcast, customer-supplier co-nationality predicate; "
    "fact joins shuffle on keys with AQE",
)
def q81_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("date"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(li, li["l_orderkey"] == orders["o_orderkey"])
        .join(
            supplier,
            (li["l_suppkey"] == supplier["s_suppkey"])
            & (customer["c_nationkey"] == supplier["s_nationkey"]),
        )
        .join(F.broadcast(nation), supplier["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc())
    )


@register(
    "q82_map_advanced",
    oracle="""
    SELECT event_id,
           cardinality(map_concat(MAP {'type': event_type},
                                  MAP {'uid': CAST(user_id AS VARCHAR)})) AS n_keys,
           (map_concat(MAP {'type': event_type},
                       MAP {'uid': CAST(user_id AS VARCHAR)})['uid'])[1] AS uid_val,
           len(list_filter(map_entries(map_concat(MAP {'type': event_type},
                                                  MAP {'uid': CAST(user_id AS VARCHAR)})),
               e -> e.key = 'type')) AS n_type_keys
    FROM events
    """,
    notes="advanced map surface (§2.8): map_concat + size + element_at + "
    "map_filter, scalar-projected for cross-engine compare (map VALUES "
    "render differently per engine; scalars don't)",
)
def q82_map_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    m1 = F.create_map(F.lit("type"), F.col("event_type"))
    m2 = F.create_map(F.lit("uid"), F.col("user_id").cast("string"))
    merged = F.map_concat(m1, m2)
    return events.select(
        "event_id",
        F.size(merged).alias("n_keys"),
        F.element_at(merged, "uid").alias("uid_val"),
        F.size(F.map_filter(merged, lambda k, v: k == "type")).alias("n_type_keys"),
    )


@register(
    "q93_tpch_q17_small_qty",
    oracle="""
    SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND 5 * CAST(l.l_quantity AS DECIMAL(18,2))
            * (SELECT COUNT(*) FROM lineitem l2
               WHERE l2.l_partkey = p.p_partkey)
          < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) FROM lineitem l2
             WHERE l2.l_partkey = p.p_partkey)
    """,
    notes="TPC-H Q17-shaped (small-quantity revenue): correlated scalar "
    "subqueries over the probe side — exercises Catalyst decorrelation "
    "(RewriteCorrelatedScalarSubquery -> aggregate + join, no per-row "
    "re-execution). The quantity threshold l_quantity < 0.2*avg is "
    "rewritten as 5*qty*cnt < sum in DECIMAL so the cutoff is exact "
    "integer-ish arithmetic in both engines (a double avg could flip a "
    "boundary row); revenue decimal-stabilized",
)
def q93_tpch_q17_small_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    # via spark.sql on temp views: the correlated-subquery surface is the
    # point — the DataFrame rewrite (join against a groupBy) is what
    # Catalyst decorrelates this into anyway
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q93_lineitem")
    read_table(spark, sf_dir, "part").createOrReplaceTempView("q93_part")
    return spark.sql("""
        SELECT round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     / 7.0, 6) AS avg_yearly,
               COUNT(*) AS n_small
        FROM q93_lineitem l JOIN q93_part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#11'
          AND 5 * CAST(l.l_quantity AS DECIMAL(18,2))
                * (SELECT COUNT(*) FROM q93_lineitem l2
                   WHERE l2.l_partkey = p.p_partkey)
              < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                 FROM q93_lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """)


# --- TPC-H Q13: customer order-count distribution --------------------------
@register(
    "q103_tpch_q13_custdist",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority NOT LIKE '%URGENT%'
      GROUP BY c.c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    notes="TPC-H Q13 shape: left outer join with a filtered JOIN CONDITION "
    "(not a WHERE — zero-order customers must survive), then a second "
    "aggregation over the first's output; the histogram agg input is "
    "|customer| rows, so the second shuffle is tiny",
)
def q103_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    per_cust = (
        customer.join(
            orders,
            (customer.c_custkey == orders.o_custkey)
            & (~orders.o_orderpriority.like("%URGENT%")),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --- TPC-H Q18: large-volume customers --------------------------------------
@register(
    "q104_tpch_q18_large_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM customer c, orders o, lineitem l
    WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
          )
      AND c.c_custkey = o.o_custkey
      AND o.o_orderkey = l.l_orderkey
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
    notes="TPC-H Q18 shape: HAVING-subquery membership rewritten as a "
    "semi-join against the pre-aggregated keys — lineitem is scanned "
    "for the agg and for the detail join, but the IN-list never "
    "materializes driver-side; quantity sums are integral doubles "
    "(exact in FP) so no decimal carry is needed",
)
def q104_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey")
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    )


# --- TPC-H Q22: dormant high-balance customers ------------------------------
@register(
    "q105_tpch_q22_dormant",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderpriority = 'URGENT'
          )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
    notes="TPC-H Q22 shape: scalar-subquery threshold (computed once, "
    "broadcast into the filter) + NOT EXISTS as a left anti join; "
    "AVG threshold comparison is engine-exact because both engines "
    "compute the same double and compare with > (no accumulation in "
    "the output); output sums decimal-carried",
)
def q105_tpch_q22_dormant(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    # Scalar subquery: one tiny agg, cross-joined (broadcast, 1 row) as a
    # threshold column — never collected to the driver.
    thresh = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    return (
        customer.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(
            orders.filter(F.col("o_orderpriority") == "URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            stable_sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )


# --- regexp surface (§2.8) ---------------------------------------------------
@register(
    "q106_regexp_funcs",
    oracle="""
    SELECT event_id,
           regexp_extract(props, '"k": ([0-9]+)', 1) AS k_str,
           regexp_replace(props, '[0-9]', '#', 'g') AS masked,
           CAST(length(regexp_extract_all(props, '[0-9]')) AS BIGINT)
             AS n_digits,
           regexp_matches(props, '"k": [0-9][0-9]}') AS is_2digit
    FROM events
    """,
    notes="regexp surface (§2.8): extract with capture group, global "
    "replace (DuckDB needs the 'g' flag to match Spark's "
    "replace-all), match counting via extract_all length, boolean "
    "rlike; patterns restricted to the RE2/Java-regex common subset",
)
def q106_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.regexp_extract("props", '"k": ([0-9]+)', 1).alias("k_str"),
        F.regexp_replace("props", "[0-9]", "#").alias("masked"),
        F.size(F.expr(r"regexp_extract_all(props, '[0-9]', 0)"))
        .cast("long")
        .alias("n_digits"),
        F.col("props").rlike('"k": [0-9][0-9]\\}').alias("is_2digit"),
    )


# --- TPC-H Q21: suppliers who kept orders waiting ----------------------------
@register(
    "q113_tpch_q21_waiting",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s, lineitem l1, orders o
    WHERE s.s_suppkey = l1.l_suppkey
      AND o.o_orderkey = l1.l_orderkey
      AND o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20
    """,
    notes="TPC-H Q21 shape (lateness = shipped >60d after order date — "
    "the fixture has no commit/receipt dates): correlated EXISTS + "
    "NOT EXISTS decorrelated into two per-order aggregates — "
    "distinct-supplier count >= 2 replaces EXISTS(other supplier), "
    "distinct-LATE-supplier count == 1 replaces NOT EXISTS(other late "
    "supplier) given l1 itself is late; both aggs are order-keyed "
    "single shuffles instead of per-row subquery probes",
)
def q113_tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    late = (
        lineitem.join(
            orders.filter(F.col("o_orderstatus") == "F"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
    )
    nsupp = lineitem.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("__nsupp")
    )
    nlate = late.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("__nlate")
    )
    return (
        late.join(nsupp, "l_orderkey")
        .join(nlate, "l_orderkey")
        .filter((F.col("__nsupp") >= 2) & (F.col("__nlate") == 1))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


# --- higher-order array functions II (§2.8: filter/exists/forall) -----------
@register(
    "q114_hof_array_surface",
    oracle="""
    WITH a AS (
      SELECT event_id, generate_series(1, CAST(event_id % 5 AS INTEGER) + 2) AS arr
      FROM events
    )
    SELECT event_id,
           array_to_string(list_filter(arr, x -> x % 2 = 0), ',') AS evens,
           CAST(length(list_filter(arr, x -> x % 2 = 0)) AS BIGINT) AS n_even,
           length(list_filter(arr, x -> x > 3)) > 0 AS has_gt3,
           length(list_filter(arr, x -> NOT (x > 0))) = 0 AS all_pos,
           CAST(list_sum(list_transform(arr, x -> x * 2)) AS BIGINT) AS doubled_sum
    FROM a
    """,
    notes="higher-order array functions, part II of q31 (§2.8): "
    "filter / exists / forall / transform-then-fold lambdas, all "
    "JVM-side codegen; array outputs projected to joined strings (q57 "
    "lesson: the driver's pandas canonicalization cannot sort "
    "list-valued columns); integer folds so sums are exact",
)
def q114_hof_array_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    arr = F.sequence(F.lit(1), (F.col("event_id") % 5 + 2).cast("int"))
    evens = F.filter(arr, lambda x: x % 2 == 0)
    return events.select(
        "event_id",
        F.array_join(evens.cast("array<string>"), ",").alias("evens"),
        F.size(evens).cast("long").alias("n_even"),
        F.exists(arr, lambda x: x > 3).alias("has_gt3"),
        F.forall(arr, lambda x: x > 0).alias("all_pos"),
        F.aggregate(
            F.transform(arr, lambda x: x * 2),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("doubled_sum"),
    )


# --- robust statistics (MAD / IQR / trimmed mean) ----------------------------
@register(
    "q116_robust_stats",
    oracle="""
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med,
             quantile_cont(value, 0.25) AS p25,
             quantile_cont(value, 0.75) AS p75
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(ANY_VALUE(m.med), 6) AS median_value,
           ROUND(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad,
           ROUND(ANY_VALUE(m.p75) - ANY_VALUE(m.p25), 6) AS iqr,
           ROUND(CAST(SUM(CASE WHEN e.value BETWEEN m.p25 AND m.p75
                               THEN CAST(e.value AS DECIMAL(25,6)) END)
                      AS DOUBLE)
                 / COUNT(CASE WHEN e.value BETWEEN m.p25 AND m.p75
                              THEN 1 END), 6) AS trimmed_mean
    FROM events e JOIN med m USING (event_type)
    GROUP BY e.event_type
    """,
    notes="robust statistics: median absolute deviation, interquartile "
    "range, IQR-trimmed mean — the outlier-resistant profile a data "
    "pipeline wants before z-scores; two passes (per-group quantiles, "
    "then deviation/trim agg over a broadcast-joined quantile row), "
    "decimal-carried trimmed sum, 6dp rounding (interpolated "
    "percentiles are order-sensitive in the last bits)",
)
def q116_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import dec, rounded

    events = read_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("__med"),
        F.percentile("value", 0.25).alias("__p25"),
        F.percentile("value", 0.75).alias("__p75"),
    )
    in_iqr = F.col("value").between(F.col("__p25"), F.col("__p75"))
    return (
        events.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            rounded(F.any_value("__med")).alias("median_value"),
            rounded(
                F.percentile(F.abs(F.col("value") - F.col("__med")), 0.5)
            ).alias("mad"),
            rounded(F.any_value("__p75") - F.any_value("__p25")).alias("iqr"),
            rounded(
                F.sum(F.when(in_iqr, dec("value", 6))).cast("double")
                / F.count(F.when(in_iqr, F.lit(1)))
            ).alias("trimmed_mean"),
        )
    )


# --- TPC-H Q2: min-cost supplier per part ------------------------------------
@register(
    "q117_tpch_q2_min_cost",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY 1, 2
    ), best AS (
      SELECT l_partkey, MIN(cost) AS mincost FROM ps GROUP BY 1
    )
    SELECT p.p_partkey, p.p_brand, s.s_name, ROUND(ps.cost, 6) AS cost
    FROM ps
    JOIN best ON ps.l_partkey = best.l_partkey AND ps.cost = best.mincost
    JOIN part p ON p.p_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE p.p_size <= 10
    ORDER BY cost, p.p_partkey, s.s_name
    LIMIT 100
    """,
    notes="TPC-H Q2 shape (lineitem unit price stands in for partsupp "
    "supplycost): correlated MIN subquery decorrelated into a per-part "
    "min agg joined back on (part, cost) equality — ALL tied best "
    "suppliers survive, matching Q2 semantics; the min-cost compare is "
    "on raw doubles (MIN selects an element, no accumulation) with "
    "rounding only at output; part/supplier dims broadcast",
)
def q117_tpch_q2_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    supplier = read_table(spark, sf_dir, "supplier")
    lineitem = read_table(spark, sf_dir, "lineitem")
    ps = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("__cost")
    )
    # rename the agg's key: a self-derived join on same-named columns can
    # resolve both sides to one attribute (trivially-true predicate)
    best = ps.groupBy("l_partkey").agg(F.min("__cost").alias("__mincost")) \
        .withColumnRenamed("l_partkey", "__bk")
    return (
        ps.join(
            best,
            (F.col("l_partkey") == F.col("__bk"))
            & (F.col("__cost") == F.col("__mincost")),
        )
        .drop("__bk")
        .join(
            F.broadcast(part.filter(F.col("p_size") <= 10)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.round("__cost", 6).alias("cost"),
        )
        .orderBy("cost", "p_partkey", "s_name")
        .limit(100)
    )


# --- three-valued logic semantics (§2.2/§2.8 correctness showcase) -----------
@register(
    "q119_three_valued_logic",
    oracle="""
    WITH t AS (SELECT NULLIF(o_orderstatus, 'O') AS s FROM orders)
    SELECT
      COUNT(*) AS n_rows,
      CAST(COUNT(s) AS BIGINT) AS n_non_null,
      CAST(COUNT(CASE WHEN s IN ('F', 'P') THEN 1 END) AS BIGINT) AS n_in,
      CAST(COUNT(CASE WHEN s NOT IN ('F', NULL) THEN 1 END) AS BIGINT)
        AS n_not_in_null_list,
      CAST(COUNT(CASE WHEN (s = 'F') IS NULL THEN 1 END) AS BIGINT)
        AS n_unknown_cmp,
      CAST(COUNT(CASE WHEN (s = 'F' OR TRUE) THEN 1 END) AS BIGINT)
        AS n_or_true,
      CAST(COUNT(CASE WHEN NOT (s = 'F' AND FALSE) THEN 1 END) AS BIGINT)
        AS n_and_false,
      CAST(COUNT(CASE WHEN s IS DISTINCT FROM 'F' THEN 1 END) AS BIGINT)
        AS n_distinct_from
    FROM t
    """,
    notes="three-valued-logic semantics over data-manufactured NULLs "
    "(NULLIF): COUNT skips NULL, x IN list is UNKNOWN for NULL x, "
    "NOT IN against a list containing NULL matches NOTHING (the classic "
    "silent-wrong-results trap), UNKNOWN OR TRUE = TRUE, UNKNOWN AND "
    "FALSE = FALSE, IS DISTINCT FROM treats NULL as comparable — "
    "engines that cut corners on 3VL diverge on every one of these "
    "counts",
)
def q119_three_valued_logic(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    s = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    t = orders.select(s.alias("s"))

    def cnt(cond):
        return F.count(F.when(cond, F.lit(1))).cast("long")

    return t.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("s").cast("long").alias("n_non_null"),
        cnt(F.col("s").isin("F", "P")).alias("n_in"),
        cnt(F.expr("s NOT IN ('F', NULL)")).alias("n_not_in_null_list"),
        cnt((F.col("s") == "F").isNull()).alias("n_unknown_cmp"),
        cnt((F.col("s") == "F") | F.lit(True)).alias("n_or_true"),
        cnt(~((F.col("s") == "F") & F.lit(False))).alias("n_and_false"),
        cnt(~F.col("s").eqNullSafe("F")).alias("n_distinct_from"),
    )


# --- generated date dimension + activity calendar ---------------------------
@register(
    "q120_date_dim_activity",
    oracle="""
    WITH b AS (
      SELECT MIN(o_orderdate) AS mn, MAX(o_orderdate) AS mx FROM orders
    ), spine AS (
      SELECT UNNEST(generate_series(mn, mx, INTERVAL 1 DAY)) AS dt FROM b
    ), act AS (
      SELECT o_orderdate AS dt, COUNT(*) AS n_orders FROM orders GROUP BY 1
    )
    SELECT s.dt,
           CAST(year(s.dt) AS BIGINT) AS y,
           CAST(quarter(s.dt) AS BIGINT) AS q,
           CAST(month(s.dt) AS BIGINT) AS m,
           CAST(dayofweek(s.dt) + 1 AS BIGINT) AS dow,
           dayofweek(s.dt) IN (0, 6) AS is_weekend,
           COALESCE(a.n_orders, 0) AS n_orders
    FROM spine s LEFT JOIN act a USING (dt)
    """,
    notes="generated date dimension (warehouse dim_date): daily spine from "
    "the fact table's own min/max (agg + sequence explode — NO 1-row "
    "cross join, no static calendar table), calendar attributes "
    "(year/quarter/month/day-of-week/weekend), zero-filled activity "
    "counts; dow normalized to Spark's 1=Sunday convention (DuckDB "
    "dayofweek is 0=Sunday)",
)
def q120_date_dim_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    spine = orders.agg(
        F.min("o_orderdate").alias("__mn"), F.max("o_orderdate").alias("__mx")
    ).select(
        F.explode(
            F.sequence(F.col("__mn"), F.col("__mx"), F.expr("INTERVAL 1 DAY"))
        ).alias("dt")
    )
    act = orders.groupBy(F.col("o_orderdate").alias("dt")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return spine.join(act, "dt", "left").select(
        "dt",
        F.year("dt").cast("long").alias("y"),
        F.quarter("dt").cast("long").alias("q"),
        F.month("dt").cast("long").alias("m"),
        F.dayofweek("dt").cast("long").alias("dow"),
        F.dayofweek("dt").isin(1, 7).alias("is_weekend"),
        F.coalesce(F.col("__n"), F.lit(0)).alias("n_orders"),
    )


# --- union by name with missing columns (§2.7) -------------------------------
@register(
    "q121_union_by_name",
    oracle="""
    SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority, 'price' AS src
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL BY NAME
    SELECT o_orderkey, o_orderpriority, 'prio' AS src
    FROM orders WHERE o_orderkey % 3 = 1
    """,
    notes="unionByName(allowMissingColumns=True) (§2.7): heterogeneous "
    "inputs align by COLUMN NAME, absent columns fill with typed NULL — "
    "positional UNION would silently zip mismatched columns; mirrored "
    "by DuckDB's UNION ALL BY NAME",
)
def q121_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    price = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "o_totalprice", F.lit("price").alias("src")
    )
    prio = orders.filter(F.col("o_orderkey") % 3 == 1).select(
        "o_orderkey", "o_orderpriority", F.lit("prio").alias("src")
    )
    return price.unionByName(prio, allowMissingColumns=True)


# --- percent-of-total (ratio_to_report) window -------------------------------
@register(
    "q122_percent_of_total",
    oracle="""
    WITH n AS (
      SELECT n.n_regionkey, n.n_name,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(25,2))) AS DOUBLE)
               AS revenue
      FROM nation n
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY n.n_regionkey, n.n_name
    )
    SELECT n_regionkey, n_name, ROUND(revenue, 2) AS revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY n_regionkey), 6)
             AS region_share
    FROM n
    """,
    notes="percent-of-total (ratio_to_report): per-nation revenue share "
    "within its region via value / SUM() OVER (PARTITION BY region) — "
    "the two-pass 'total then divide' anti-pattern collapsed into one "
    "windowed pass; numerators decimal-carried, the share rounded 6dp "
    "(window-sum order sensitivity)",
)
def q122_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    rev = (
        F.broadcast(nation)
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_regionkey", "n_name")
        .agg(F.sum(dec("o_totalprice", 2)).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("n_regionkey")
    return rev.select(
        "n_regionkey",
        "n_name",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
            "region_share"
        ),
    )


# --- first-seen cohorts: new + cumulative users per day ----------------------
@register(
    "q123_first_seen_cumulative",
    oracle="""
    WITH f AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS first_day
      FROM events GROUP BY user_id
    ), d AS (
      SELECT first_day, COUNT(*) AS n_new FROM f GROUP BY first_day
    )
    SELECT first_day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY first_day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM d
    """,
    notes="first-seen cohort curve: per-day NEW users (min event day per "
    "user) + cumulative running total — running COUNT DISTINCT over "
    "time collapsed to first-touch attribution + cumsum, turning an "
    "unbounded distinct-state window into two keyed aggs and a "
    "days-sized window; integer sums, exact",
)
def q123_first_seen_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    first = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    days = first.groupBy("first_day").agg(F.count(F.lit(1)).alias("n_new"))
    w = (
        Window.orderBy("first_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return days.select(
        "first_day", "n_new", F.sum("n_new").over(w).alias("cum_users")
    )


# --- deterministic mode (most-frequent value, value-ordered ties) ------------
@register(
    "q124_mode_deterministic",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ), r AS (
      SELECT user_id, event_type, n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT user_id, event_type AS mode_type, n AS mode_count
    FROM r WHERE rk = 1
    """,
    notes="deterministic MODE per group: engines' built-in mode() breaks "
    "frequency ties arbitrarily (partition-order-dependent), so the "
    "engine's mode is count-then-rank with a value tiebreak — one "
    "(group, value) agg + one group-keyed window, both on the same "
    "shuffle key",
)
def q124_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_type"),
            F.col("n").alias("mode_count"),
        )
    )


# --- ordered event funnel ----------------------------------------------------
@register(
    "q125_funnel",
    oracle="""
    WITH f AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      COUNT(*) AS n_users,
      CAST(COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS BIGINT)
        AS n_view,
      CAST(COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                      THEN 1 END) AS BIGINT) AS n_view_click,
      CAST(COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                       AND t_purchase > t_click
                      THEN 1 END) AS BIGINT) AS n_view_click_purchase
    FROM f
    """,
    notes="ordered funnel (view -> click -> purchase): first-touch "
    "timestamps per step via conditional MIN — ONE shuffle on user_id "
    "for the whole funnel, step ordering checked on the tiny per-user "
    "row (the sessionized-sequence alternative shuffles raw events per "
    "step); NULL comparisons make missing steps drop out via 3VL "
    "(q119's semantics, load-bearing here)",
)
def q125_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")

    def first_ts(step):
        return F.min(F.when(F.col("event_type") == step, F.col("ts")))

    f = events.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )

    def cnt(cond):
        return F.count(F.when(cond, F.lit(1))).cast("long")

    step1 = F.col("t_view").isNotNull()
    step2 = step1 & (F.col("t_click") > F.col("t_view"))
    step3 = step2 & (F.col("t_purchase") > F.col("t_click"))
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt(step1).alias("n_view"),
        cnt(step2).alias("n_view_click"),
        cnt(step3).alias("n_view_click_purchase"),
    )


# --- retention cohort matrix -------------------------------------------------
@register(
    "q126_retention_cohorts",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS wk
      FROM events GROUP BY user_id, wk
    ), c AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM d GROUP BY user_id
    )
    SELECT c.cohort_wk, d.wk - c.cohort_wk AS offset_wk,
           COUNT(*) AS n_active
    FROM d JOIN c USING (user_id)
    GROUP BY c.cohort_wk, offset_wk
    """,
    notes="retention cohort matrix: users bucketed by first-active week "
    "(epoch-aligned integer weeks — portable, no engine week-start "
    "convention), counted per (cohort, offset); raw events collapse to "
    "distinct (user, week) FIRST so the cohort join and matrix agg "
    "touch user-week rows, not events",
)
def q126_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    wk = F.floor(F.unix_timestamp(F.col("ts")) / 604800).cast("long")
    d = events.select("user_id", wk.alias("wk")).distinct()
    c = d.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        d.join(c, "user_id")
        .groupBy("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("offset_wk"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# --- TPC-H Q6: predicate-only revenue forecast -----------------------------
@register(
    "q131_tpch_q6_forecast",
    oracle=f"""
    SELECT {stable_sum_sql("l_extendedprice * l_discount", 4)} AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    notes="TPC-H Q6 shape: pure scan-side predicates + global agg — the "
    "canonical pushdown benchmark. All three filters reach the parquet "
    "scan (PushedFilters), the projection prunes to 4 columns, no "
    "shuffle beyond the single global-agg exchange; revenue "
    "decimal-carried at scale 4 (price x discount)",
)
def q131_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            stable_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


# --- TPC-H Q10: returned-item reporting ------------------------------------
@register(
    "q132_tpch_q10_returned",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {stable_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    notes="TPC-H Q10 shape (returned-item reporting): fact-side filters "
    "pushed before the joins, nation broadcast, customer-grouped revenue, "
    "top-20 via TakeOrderedAndProject (revenue DESC with custkey "
    "tiebreak so the cut is deterministic)",
)
def q132_tpch_q10_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = read_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        joined.groupBy("c_custkey", "c_name", "n_name")
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- TPC-H Q12: late-shipping priority classes -----------------------------
@register(
    "q133_tpch_q12_late_priority",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                      THEN 1 END) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    notes="TPC-H Q12 shape (shipping-mode priority split; the fixture "
    "has no l_shipmode/commitdate so late = shipped >60d after order "
    "date, as q113 defines lateness): conditional CASE aggregation over "
    "a fact-fact join — the late filter is a join-time predicate "
    "(depends on both sides), the CASE split is map-side before the "
    "final tiny groupBy",
)
def q133_tpch_q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


# --- TPC-H Q14: promotion effect -------------------------------------------
@register(
    "q134_tpch_q14_promo",
    oracle=f"""
    SELECT CAST(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))
                 ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,4))) AS DOUBLE)
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
    """,
    notes="TPC-H Q14 shape (promotion effect): conditional-ratio global "
    "agg over a month of lineitem broadcast-joined to part; both sums "
    "decimal-carried so the single output division is the only FP op "
    "(engine-exact); date filter pushed to the scan",
)
def q134_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = read_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).cast(
        "decimal(30,4)"
    )
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(30,4)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


# --- TPC-H Q19: disjunctive predicate join ---------------------------------
@register(
    "q135_tpch_q19_disjunctive",
    oracle=f"""
    SELECT {stable_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 21)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
    notes="TPC-H Q19 shape (discounted revenue, OR-of-ANDs): the "
    "disjunction spans both join sides so it stays a join-time "
    "predicate, but Catalyst extracts the common p_partkey equi-key -> "
    "broadcast hash join with residual condition, never a nested loop; "
    "single-side conjuncts (brand/size unions) are pushed to the part "
    "scan as an OR filter",
)
def q135_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 21)
        )
        | (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


# --- TPC-H Q4: order-priority checking (EXISTS) ----------------------------
@register(
    "q136_tpch_q4_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    notes="TPC-H Q4 shape (order-priority checking): EXISTS expressed "
    "as a LEFT SEMI join (one probe per order, no fanout — a regular "
    "join would double-count orders with several late lines); the "
    "correlated o_orderdate reference rides the join condition; date "
    "window pushed to the orders scan",
)
def q136_tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = read_table(spark, sf_dir, "lineitem")
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --- TPC-H Q20: nested semi-join chain -------------------------------------
@register(
    "q137_tpch_q20_supplier_parts",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
      GROUP BY l.l_suppkey
      HAVING SUM(l.l_quantity) > 300
    )
    ORDER BY s.s_suppkey
    """,
    notes="TPC-H Q20 shape (potential part promotion, adapted — no "
    "partsupp in the fixture): nested IN-subqueries become a semi-join "
    "CHAIN — part filter broadcast-semi-prunes lineitem, a suppkey "
    "aggregate applies the HAVING threshold, and the supplier probe is "
    "a final semi-join; no subquery ever re-executes per row",
)
def q137_tpch_q20_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    promo_parts = read_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    ).select("p_partkey")
    heavy = (
        li.join(
            F.broadcast(promo_parts), li["l_partkey"] == promo_parts["p_partkey"], "left_semi"
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# --- edit-distance near-dup pairs ------------------------------------------
@register(
    "q138_edit_distance_pairs",
    oracle="""
    WITH d AS (SELECT doc_id, substr(text, 1, 40) AS prefix,
                      length(substr(text, 1, 40)) AS plen
               FROM documents),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.prefix AS pa, b.prefix AS pb
      FROM d a JOIN d b
        ON substr(a.prefix, 1, 8) = substr(b.prefix, 1, 8)
       AND a.doc_id < b.doc_id
       AND abs(a.plen - b.plen) <= 4
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(pa, pb) AS BIGINT) AS edit_dist
    FROM cand
    WHERE levenshtein(pa, pb) <= 8
    """,
    notes="edit-distance near-dup pairs (dedup family, §2.11): "
    "Levenshtein is quadratic per pair and unindexable, so candidates "
    "are bucketed by 8-char prefix + length-difference bound (a "
    "length-filter lemma: |len(a)-len(b)| <= d is necessary for "
    "distance <= d) BEFORE any distance is computed — the equi-join on "
    "the prefix shards the n^2 problem exactly like LSH bands; both "
    "engines run the same full DP metric on survivors only",
)
def q138_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("prefix")
    ).withColumn("plen", F.length("prefix"))
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("prefix").alias("pa"),
        F.col("plen").alias("la"),
        F.substring("prefix", 1, 8).alias("bucket"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("prefix").alias("pb"),
        F.col("plen").alias("lb"),
        F.substring("prefix", 1, 8).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= 4)
        )
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 8)
    )


# --- skew-tolerant two-stage aggregation -----------------------------------
@register(
    "q139_salted_two_stage_agg",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {stable_sum_sql("value")} AS total_value
    FROM events GROUP BY event_type
    """,
    notes="skew-tolerant TWO-STAGE aggregation (the 100 TB pattern for "
    "heavy-hitter grouping keys, complementing q64's salted join): "
    "stage 1 groups by (key, salt=pmod(hash(row-id), 16)) so one hot "
    "key spreads over 16 reducers; stage 2 merges the 16 partials per "
    "key. The oracle is the plain one-stage groupBy — results are "
    "identical because count/decimal-sum are associative; only the "
    "shuffle layout differs (partial rows = 16 x |keys|, metadata-"
    "sized). Spark's own partial aggregation does this implicitly for "
    "built-in aggs; the explicit salt is the pattern for UDAFs and "
    "collect-style aggs where map-side combine can't help",
)
def q139_salted_two_stage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import dec

    ev = read_table(spark, sf_dir, "events")
    salted = ev.withColumn("__salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "__salt").agg(
        F.count("*").alias("__n"), F.sum(dec("value", 2)).alias("__s")
    )
    return partial.groupBy("event_type").agg(
        F.sum("__n").alias("n"), F.sum("__s").cast("double").alias("total_value")
    )


# --- event transition analysis ---------------------------------------------
@register(
    "q140_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY n DESC, event_type, next_type
    LIMIT 15
    """,
    notes="event-transition matrix (journey analysis over the events "
    "stream): per-user next-event via lead() — one user-keyed shuffle "
    "shared by the window — then a tiny transition-count agg; "
    "event_id tiebreak makes per-user order total so the lead() "
    "pairing is deterministic; top-15 with full tiebreak for a "
    "deterministic cut",
)
def q140_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return (
        seq.groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "event_type", "next_type")
        .limit(15)
    )


# --- bucketed co-located join ----------------------------------------------
def _ensure_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write-once-per-(session, sf_dir) bucketed orders/lineitem fixture.

    Kept OUT of q144's query function so the measured query is the
    co-located join, not the bucketed write: repeat invocations (bench
    reps, plan asserts) skip the write when the catalog tables and their
    external paths already exist. A fresh session re-registers by
    rewriting once (cheap at test SFs; a real deployment writes its
    bucketed tables once, ever).

    The path is scoped PER SPARK APPLICATION: a second concurrent
    session has a fresh (empty) catalog, so a shared path would make it
    rewrite the directory out from under the first session's in-flight
    scans (FAILED_READ_FILE.FILE_NOT_EXIST — hit when two pytest
    sessions overlapped). Session-scoped paths trade a rewrite per
    session for zero cross-session interference."""
    import os
    import tempfile

    from ..sources.writers import write_bucketed

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    app = spark.sparkContext.applicationId.replace("-", "_")
    base = os.path.join(
        tempfile.gettempdir(), f"dbkit_bucketed_{tag}_{app}"
    )
    names = (f"b4_orders_{tag}", f"b4_lineitem_{tag}")
    specs = [
        (names[0], "orders", "o_orderkey", f"{base}/orders"),
        (names[1], "lineitem", "l_orderkey", f"{base}/lineitem"),
    ]
    for table, src, key, path in specs:
        if spark.catalog.tableExists(table) and os.path.isdir(path):
            continue
        write_bucketed(read_table(spark, sf_dir, src), table, 8, [key], path=path)
    return names


def _ensure_partitioned_events(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write-once-per-(session, sf_dir) partitioned-events + dim fixture
    for q145 (same rationale as ``_ensure_bucketed_tables``). Returns
    (fact_path, dim_path)."""
    import os
    import tempfile

    from ..sources.writers import write_parquet

    from ._fixtures import fixture_once, source_stamp

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"dbkit_part_events_{tag}")
    dim_path = os.path.join(tempfile.gettempdir(), f"dbkit_event_dim_{tag}")

    # the marker records the source file's mtime: a driver-regenerated
    # /root/testdata (the known ts-encoding-drift scenario) invalidates
    # the cached fixture instead of silently serving stale rows; the
    # dim table rides the fact table's marker (written in one build)
    def build() -> None:
        write_parquet(read_table(spark, sf_dir, "events"), path,
                      partition_by=["event_type"])
        spark.createDataFrame(
            [("click", "paid"), ("purchase", "paid"), ("view", "free"),
             ("error", "free"), ("login", "free")],
            "event_type string, tier string",
        ).write.mode("overwrite").parquet(dim_path)

    fixture_once(path, source_stamp(sf_dir, "events"), build)
    return path, dim_path


@register(
    "q144_bucketed_colocated_join",
    oracle=f"""
    SELECT o.o_orderstatus,
           COUNT(*) AS n,
           {stable_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
    notes="bucketed CO-LOCATED join (sources/writers.write_bucketed, the "
    "100 TB pattern for repeated fact-fact joins): orders and lineitem "
    "are written bucketed+sorted by orderkey into the session catalog, "
    "then joined from the bucketed tables — both sides arrive "
    "pre-partitioned so the join plans ZERO exchanges (plan-asserted in "
    "tests/test_plans.py); the oracle is the plain join on the raw "
    "tables, proving bucketing changes layout, never results",
)
def q144_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders_t, lineitem_t = _ensure_bucketed_tables(spark, sf_dir)
    ob = spark.table(orders_t)
    lb = spark.table(lineitem_t)
    return (
        ob.join(lb, ob["o_orderkey"] == lb["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            stable_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


# --- dynamic partition pruning ---------------------------------------------
@register(
    "q145_dynamic_partition_pruning",
    oracle=f"""
    SELECT e.user_id, COUNT(*) AS n, {stable_sum_sql("e.value")} AS total_value
    FROM events e
    JOIN (VALUES ('click'), ('purchase')) AS d(event_type)
      ON e.event_type = d.event_type
    GROUP BY e.user_id
    """,
    notes="DYNAMIC partition pruning (the partitioned-fact ⋈ filtered-dim "
    "shape): events is written partitioned by event_type, then joined "
    "with a 2-row dim — Spark injects a runtime partition filter from "
    "the broadcast dim so only 2 of 5 partition directories are read "
    "(dynamicpruning expression plan-asserted in tests/test_plans.py); "
    "static pruning can't do this because the partition set comes from "
    "the dim side at runtime. Oracle is the plain join on raw events",
)
def q145_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import dec

    path, dim_path = _ensure_partitioned_events(spark, sf_dir)
    fact = spark.read.parquet(path)
    # DPP is injected only when the dim side carries a LIKELY-SELECTIVE
    # filter over a real scan (Catalyst's hasSelectivePredicate →
    # isLikelySelective gate). Two probed traps: a literal dim constant-
    # folds to a LocalRelation, erasing the filter before the
    # PartitionPruning rule runs; and a bare boolean attribute filter
    # (billable) is NOT in isLikelySelective's pattern list — only
    # literal comparisons/IN/LIKE qualify. So: dim persisted to parquet,
    # filtered by string equality.
    dim = (
        spark.read.parquet(dim_path)
        .filter(F.col("tier") == "paid")
        .select("event_type")
    )
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value", 2)).cast("double").alias("total_value"),
        )
    )


# --- string function surface II --------------------------------------------
@register(
    "q147_string_surface2",
    oracle="""
    SELECT doc_id,
           translate(substr(text, 1, 20), 'aeiou', '#####') AS devoweled,
           split_part(substr(text, 1, 30), ' ', 2) AS second_word,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS padded_id,
           rpad(left(lang, 2), 5, '_') AS lang_tag,
           reverse(left(source, 4)) AS rsrc,
           repeat(left(lang, 1), 3) AS lll,
           ascii(left(text, 1)) AS first_cp,
           CAST(length(text) AS BIGINT) AS n_chars2
    FROM documents
    """,
    notes="string function surface II (§2.8, beyond q26's basics): "
    "translate / split_part / lpad / rpad / reverse / repeat / left / "
    "ascii — all JVM codegen'd, whole query is one map-only projection; "
    "every function has an exact DuckDB twin so the oracle pins "
    "semantics (1-based split_part indexing, pad-truncation rules)",
)
def q147_string_surface2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.translate(F.substring("text", 1, 20), "aeiou", "#####").alias("devoweled"),
        F.split_part(F.substring("text", 1, 30), F.lit(" "), F.lit(2)).alias(
            "second_word"
        ),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("padded_id"),
        F.rpad(F.substring("lang", 1, 2), 5, "_").alias("lang_tag"),
        F.reverse(F.substring("source", 1, 4)).alias("rsrc"),
        F.repeat(F.substring("lang", 1, 1), 3).alias("lll"),
        F.ascii(F.substring("text", 1, 1)).cast("long").alias("first_cp"),
        F.length("text").cast("long").alias("n_chars2"),
    )


# --- grouped quantile sketch (exact-at-this-accuracy) ----------------------
@register(
    "q148_approx_percentile",
    oracle="""
    SELECT event_type,
           quantile_disc(value, 0.25) AS p25,
           quantile_disc(value, 0.5) AS p50,
           quantile_disc(value, 0.9) AS p90,
           quantile_disc(value, 0.99) AS p99
    FROM events GROUP BY event_type
    """,
    notes="approx_percentile / GK quantile sketch (§2.4, the mergeable-"
    "sketch twin of q21's exact interpolated percentiles): "
    "percentile_approx(accuracy=1e6) — with accuracy exceeding every "
    "group's row count the GK sketch's error bound collapses to 0 and "
    "the sketch returns exact discrete quantiles, so the DuckDB "
    "quantile_disc oracle pins the SAME code path a 100 TB run uses "
    "with bounded memory (the sketch is mergeable map-side state; at "
    "scale you lower accuracy, trading the proven rank-error bound)",
)
def q148_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    p = F.percentile_approx("value", [0.25, 0.5, 0.9, 0.99], 1_000_000)
    return ev.groupBy("event_type").agg(
        p.getItem(0).alias("p25"),
        p.getItem(1).alias("p50"),
        p.getItem(2).alias("p90"),
        p.getItem(3).alias("p99"),
    )


# --- analytic functions II: nth_value / ignoreNulls ------------------------
@register(
    "q149_nth_value_analytics",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           first_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                       IGNORE NULLS) OVER w AS first_final_price,
           CAST(count(*) OVER w AS BIGINT) AS n_so_far
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    notes="analytic surface II (§2.5, beyond q24's lag/lead/first/last): "
    "nth_value over a running frame (null until the frame holds n rows) "
    "and first_value(... IGNORE NULLS) as the 'first matching event' "
    "idiom — Spark expresses IGNORE NULLS via the ignoreNulls flag over "
    "a CASE projection; o_orderkey tiebreak keeps frames identical "
    "across engines; one customer-keyed shuffle shared by all three "
    "window functions",
)
def q149_nth_value_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    final_price = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.first(final_price, ignorenulls=True).over(w).alias("first_final_price"),
        F.count("*").over(w).cast("long").alias("n_so_far"),
    )


# --- date/time surface II ---------------------------------------------------
@register(
    "q150_datetime_surface2",
    oracle="""
    SELECT o_orderkey,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
           date_add(o_orderdate, INTERVAL 1 MONTH) AS next_month,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(isodow(o_orderdate) - 1 AS INT) AS weekday0,
           dayname(o_orderdate) AS dname,
           CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS week_start,
           CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS INT) AS days_since
    FROM orders
    """,
    notes="date/time surface II (§2.8, beyond q28's basics): last_day / "
    "add_months (month-end clamping: Jan 31 + 1 month = Feb 29) / "
    "quarter / ISO week / weekday / day name / week truncation / day "
    "diff. Engine alignment pinned by the oracle: Spark weekday() is "
    "0=Monday = DuckDB isodow-1 (Spark dayofweek()'s 1=Sunday would "
    "mismatch); both use ISO week numbering; map-only projection",
)
def q150_datetime_surface2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.add_months(d, 1).cast("timestamp").alias("next_month"),
        F.quarter(d).alias("q"),
        F.weekofyear(d).alias("iso_week"),
        F.weekday(d).alias("weekday0"),
        F.date_format(d, "EEEE").alias("dname"),
        F.date_trunc("week", d).alias("week_start"),
        F.datediff(d, F.lit("1995-01-01")).alias("days_since"),
    )


# --- CDC apply: changelog onto base snapshot --------------------------------
@register(
    "q153_cdc_apply",
    oracle=f"""
    WITH changes AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
               AS rn
      FROM events
    ),
    last_change AS (SELECT user_id, op, value FROM changes WHERE rn = 1)
    SELECT c.c_custkey AS user_id,
           CASE WHEN lc.user_id IS NULL THEN c.c_acctbal ELSE lc.value END
             AS acctbal,
           CASE WHEN lc.user_id IS NULL THEN 'base' ELSE 'updated' END AS src
    FROM customer c LEFT JOIN last_change lc ON c.c_custkey = lc.user_id
    WHERE lc.op IS NULL OR lc.op <> 'D'
    """,
    notes="CDC APPLY (the changelog-onto-snapshot merge every warehouse "
    "ingest runs): events act as a per-user change stream (error = "
    "delete, anything else = upsert of value), applied onto the "
    "customer base snapshot — last-writer-wins by (ts, event_id), "
    "deleted keys drop, untouched base rows survive. One window "
    "shuffle to pick each key's final op + one left join; the same "
    "plan shape as foreachBatch upsert (q107) but expressed as a "
    "single batch merge with a full SQL oracle",
)
def q153_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last_change = (
        ev.select(
            "user_id",
            F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "op", "value")
    )
    merged = cust.join(
        last_change, cust["c_custkey"] == last_change["user_id"], "left"
    )
    return (
        merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.when(F.col("op").isNull(), F.col("c_acctbal"))
            .otherwise(F.col("value"))
            .alias("acctbal"),
            F.when(F.col("op").isNull(), "base").otherwise("updated").alias("src"),
        )
    )


# --- bounded transitive closure --------------------------------------------
@register(
    "q154_transitive_closure",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT user_id AS src, (user_id * 7 + 3) % 150 AS dst
      FROM events
    ),
    reach AS (
      SELECT src AS start, dst AS node, 1 AS depth FROM edges WHERE src < 10
      UNION
      SELECT r.start, e.dst AS node, r.depth + 1 AS depth
      FROM reach r JOIN edges e ON r.node = e.src
      WHERE r.depth < 3
    )
    SELECT start, node, CAST(MIN(depth) AS INT) AS min_depth
    FROM reach GROUP BY start, node
    """,
    notes="bounded TRANSITIVE CLOSURE / recursive reachability (the "
    "iterative-join family next to connected components): 3-hop "
    "reachability from seed nodes over a deterministic functional graph "
    "derived from events. Spark expresses the recursion as an unrolled "
    "frontier loop — each hop is one equi-join against the edge table, "
    "min-depth dedup per round keeps the frontier from exploding (the "
    "exact label-propagation discipline connected_components uses); "
    "the oracle is DuckDB's native WITH RECURSIVE",
)
def q154_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    edges = (
        ev.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 7 + 3) % 150).alias("dst"),
        )
        .distinct()
        .persist()
    )
    frontier = (
        edges.filter(F.col("src") < 10)
        .select(F.col("src").alias("start"), F.col("dst").alias("node"))
        .withColumn("depth", F.lit(1))
    )
    all_reach = frontier
    for hop in (2, 3):
        nxt = (
            all_reach.filter(F.col("depth") == hop - 1)
            .join(edges, F.col("node") == edges["src"])
            .select("start", F.col("dst").alias("node"), F.lit(hop).alias("depth"))
        )
        all_reach = all_reach.unionByName(nxt)
    return all_reach.groupBy("start", "node").agg(
        F.min("depth").cast("int").alias("min_depth")
    )


# --- multi-format sink/source round-trip ------------------------------------
@register(
    "q155_format_roundtrip",
    oracle="""
    SELECT fmt, event_type, n FROM (
      SELECT 'csv' AS fmt, event_type, COUNT(*) AS n FROM events GROUP BY event_type
      UNION ALL
      SELECT 'json', event_type, COUNT(*) FROM events GROUP BY event_type
      UNION ALL
      SELECT 'orc', event_type, COUNT(*) FROM events GROUP BY event_type
    )
    """,
    notes="Tier-C format round-trip as a driver-visible query (§2.1, "
    "beyond the pytest round-trips): the events projection is written "
    "to CSV, JSON, and ORC sinks and read back through the explicit-"
    "schema readers; per-type counts from each re-read must equal the "
    "parquet-sourced oracle — a writer or reader corrupting rows, "
    "headers, or types under any format breaks the hash. Columns "
    "restricted to int/string (CSV has no binary-exact double "
    "round-trip contract)",
)
def q155_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..sources.readers import read_csv, read_json, read_orc
    from ..sources.writers import write_csv, write_json, write_orc

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"dbkit_fmt_{tag}")
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    write_csv(ev, f"{base}/csv")
    write_json(ev, f"{base}/json")
    write_orc(ev, f"{base}/orc")
    parts = [
        read_csv(spark, f"{base}/csv", schema).withColumn("fmt", F.lit("csv")),
        read_json(spark, f"{base}/json", schema).withColumn("fmt", F.lit("json")),
        read_orc(spark, f"{base}/orc", schema).withColumn("fmt", F.lit("orc")),
    ]
    un = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return un.groupBy("fmt", "event_type").agg(F.count("*").alias("n"))


# --- per-group IQR outlier detection ----------------------------------------
@register(
    "q157_iqr_outliers",
    oracle="""
    WITH fences AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_total,
           COUNT(CASE WHEN e.value > f.q3 + 1.5 * (f.q3 - f.q1)
                      THEN 1 END) AS n_outliers,
           ROUND(f.q3 + 1.5 * (f.q3 - f.q1), 6) AS upper_fence
    FROM events e JOIN fences f USING (event_type)
    GROUP BY e.event_type, f.q1, f.q3
    """,
    notes="per-group IQR outlier detection (Tukey fences, the join-back-"
    "aggregate idiom): exact interpolated quartiles per event_type "
    "(Spark percentile == DuckDB quantile_cont, as q21 pins), the tiny "
    "fence table broadcast back onto the stream, upper-fence flagging "
    "map-side. The fence expression q3 + 1.5*(q3 - q1) is written "
    "IDENTICALLY on both engines so the boundary comparison sees the "
    "same double; two shuffles total (quantile agg + final rollup)",
)
def q157_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    fences = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25)").alias("q1"),
        F.expr("percentile(value, 0.75)").alias("q3"),
    )
    joined = ev.join(F.broadcast(fences), "event_type")
    fence = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return joined.groupBy("event_type", "q1", "q3").agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("value") > fence, 1)).alias("n_outliers"),
    ).select(
        "event_type",
        "n_total",
        "n_outliers",
        F.round(fence, 6).alias("upper_fence"),
    )


# --- UINT64 fidelity --------------------------------------------------------
_U64_OFFSET = "9223372036854775808"  # 2^63: every derived value overflows i64
_U64_MAX = "18446744073709551615"    # 2^64 - 1: the full-range edge


def _ensure_uint64_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write-once-per-(sf_dir) parquet file whose ``uval`` column is
    PHYSICAL parquet uint64 (pyarrow) holding values > 2^63-1, derived
    deterministically from events.user_id (2^63 + user_id, plus the
    2^64-1 edge). mtime-stamped against driver testdata regeneration.
    The driver-side materialization is metadata-sized (distinct user
    ids), a fixture-construction step — bulk ingest goes through the
    file readers."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ._fixtures import fixture_once, source_stamp

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = os.path.join(tempfile.gettempdir(), f"dbkit_u64_{tag}")
    path = os.path.join(base, "u64.parquet")

    def build() -> None:
        users = sorted(
            r.user_id
            for r in read_table(spark, sf_dir, "events")
            .select("user_id").distinct().collect()
        )
        vals = [int(_U64_OFFSET) + u for u in users] + [int(_U64_MAX)]
        os.makedirs(base, exist_ok=True)
        pq.write_table(
            pa.table({"uval": pa.array(vals, type=pa.uint64())}), path
        )

    fixture_once(base, source_stamp(sf_dir, "events"), build)
    return path


@register(
    "q160_uint64_fidelity",
    oracle=f"""
    WITH u AS (
      SELECT CAST(CAST('{_U64_OFFSET}' AS HUGEINT) + user_id AS DECIMAL(20,0)) AS uval
      FROM (SELECT DISTINCT user_id FROM events)
      UNION ALL
      SELECT CAST('{_U64_MAX}' AS DECIMAL(20,0))
    )
    SELECT COUNT(*) AS n,
           CAST(MIN(uval) AS VARCHAR) AS umin,
           CAST(MAX(uval) AS VARCHAR) AS umax,
           CAST(CAST(SUM(uval) AS DECIMAL(38,0)) AS VARCHAR) AS usum
    FROM u
    """,
    notes="UINT64 fidelity (SURVEY §1.2: dbkit u64, types.rs:67-70, maps "
    "to DecimalType(20,0) where values exceed 2^63-1): a PHYSICAL "
    "parquet uint64 file (2^63 + user_id per distinct user, plus the "
    "2^64-1 full-range edge) is read through the explicit "
    "DecimalType(20,0) schema path and aggregated in decimal "
    "arithmetic; the oracle recomputes the same values in HUGEINT from "
    "the raw events table, so any reader truncation/i64-overflow "
    "breaks min/max/sum. Aggregation runs in decimal; only the FINAL "
    "scalars are emitted as strings because pandas narrows wide "
    "decimals to float64 (which cannot represent 2^64-1) on the "
    "compare path. The TableAppender accepts the same values as "
    "Python ints (round-trip pytest in tests/test_sources_sinks.py)",
)
def q160_uint64_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from ..sources.readers import read_parquet

    path = _ensure_uint64_fixture(spark, sf_dir)
    u = read_parquet(
        spark, path, T.StructType([T.StructField("uval", T.DecimalType(20, 0))])
    )
    return u.agg(
        F.count("*").alias("n"),
        F.min("uval").cast("string").alias("umin"),
        F.max("uval").cast("string").alias("umax"),
        F.sum("uval").cast("decimal(38,0)").cast("string").alias("usum"),
    )


# --- runtime bloom-filter join pruning --------------------------------------
@register(
    "q163_bloom_filter_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n,
           {stable_sum_sql("l.l_extendedprice", 2)} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderpriority
    """,
    notes="RUNTIME BLOOM-FILTER join pruning (Catalyst InjectRuntimeFilter, "
    "the shuffle-join sibling of q145's DPP): the selective dim-side "
    "predicate builds a bloom filter (bloom_filter_agg subquery) that "
    "prunes fact rows BEFORE the join shuffle (might_contain on the "
    "fact scan) — at 100 TB this drops most of the fact table's shuffle "
    "traffic for selective joins on non-partition keys, where DPP "
    "cannot help. Fixture-scale thresholds (applicationSideScanSize=0, "
    "raised creation cap) are set ONLY during plan construction and "
    "restored — at production scale the defaults trigger on their own; "
    "plan-gated in tests/test_plans.py (might_contain + "
    "bloom_filter_agg present). Broadcast disabled for this plan so the "
    "shuffle-join path (the one bloom filters exist for) is exercised; "
    "the filter is semantically transparent, so the oracle is the "
    "plain join",
)
def q163_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import stable_sum

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = read_table(spark, sf_dir, "lineitem")
        o = read_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        out = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                stable_sum(F.col("l_extendedprice"), 2).alias("revenue"),
            )
        )
        # force physical planning NOW so the runtime-filter injection
        # happens under these confs; the restored session is untouched
        out._jdf.queryExecution().executedPlan()
        return out
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# --- TPC-H Q7: volume shipping between two nations --------------------------
@register(
    "q164_tpch_q7_volume_shipping",
    oracle=f"""
    SELECT n2.n_name AS supp_nation,
           n1.n_name AS cust_nation,
           EXTRACT(year FROM l.l_shipdate) AS l_year,
           {stable_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n1   ON c.c_nationkey = n1.n_nationkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    notes="TPC-H Q7 shape (volume shipping between two trading nations): "
    "the 6-table star with TWO independent nation lookups (customer side "
    "and supplier side) and a symmetric nation-pair predicate. Both "
    "nation dims and supplier broadcast (tiny), so the only shuffles are "
    "the lineitem⋈orders⋈customer fact joins; the shipdate range is "
    "pushed to the parquet scan. The nation-pair filter applies AFTER "
    "the pair is assembled (it spans both branches) but Catalyst pushes "
    "each nation's IN ('NATION_1','NATION_2') residual to the dim scans",
)
def q164_tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_key"))
        .filter(
            (
                (F.col("cust_nation") == "NATION_1")
                & (F.col("supp_nation") == "NATION_2")
            )
            | (
                (F.col("cust_nation") == "NATION_2")
                & (F.col("supp_nation") == "NATION_1")
            )
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            stable_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- TPC-H Q8: national market share ----------------------------------------
@register(
    "q165_tpch_q8_market_share",
    oracle="""
    WITH all_sales AS (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount)
                  AS DECIMAL(25,4)) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o    ON l.l_orderkey = o.o_orderkey
      JOIN customer c  ON o.o_custkey = c.c_custkey
      JOIN nation n1   ON c.c_nationkey = n1.n_nationkey
      JOIN region r    ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s  ON l.l_suppkey = s.s_suppkey
      JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
      JOIN part p      ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(25,4)) END) AS DOUBLE)
           / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM all_sales
    GROUP BY o_year
    ORDER BY o_year
    """,
    notes="TPC-H Q8 shape (national market share): 8-table star — the "
    "widest join in the suite — reduced to ONE fact-side pipeline: every "
    "dim (nation x2, region, supplier, part after its p_type filter) "
    "broadcasts, so the plan is lineitem⋈orders⋈customer shuffles plus "
    "map-side hash lookups, then a single year-grouped agg computing "
    "share = conditional-sum / total-sum in one pass (no second scan, "
    "no self-join). Both sums decimal-carried; the final division is one "
    "deterministic double op identical on both engines",
)
def q165_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select("n_nationkey", "n_regionkey")
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    sales = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(F.broadcast(r), n1["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_key"))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            dec(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4
            ).alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(25,4)")
    return (
        sales.groupBy("o_year")
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                    .otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --- TPC-H Q9: product-type profit ------------------------------------------
@register(
    "q166_tpch_q9_product_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           EXTRACT(year FROM o.o_orderdate) AS o_year,
           {stable_sum_sql(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - 0.6 * p.p_retailprice * l.l_quantity", 4)} AS sum_profit
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    notes="TPC-H Q9 shape (product-type profit; the fixture has no "
    "partsupp, so supply cost = 0.6 x p_retailprice stands in for "
    "ps_supplycost exactly as extended4's Q20 adaptation does): profit "
    "per supplier-nation per year over parts matching a name substring. "
    "part (filtered by LIKE before the join), supplier, and nation all "
    "broadcast; lineitem⋈orders is the one real shuffle. The profit "
    "expression is written token-identically on both engines so the "
    "double arithmetic inside the decimal rounding matches bit-for-bit",
)
def q166_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    p = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    o = read_table(spark, sf_dir, "orders")
    n = read_table(spark, sf_dir, "nation")
    joined = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
    )
    profit = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        joined.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(stable_sum(F.col("profit"), 4).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# --- TPC-H Q11: important stock (scalar-subquery threshold) ------------------
@register(
    "q167_tpch_q11_important_stock",
    oracle="""
    WITH part_value AS (
      SELECT l.l_partkey AS p_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(25,4))) AS value_dec
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name IN ('NATION_1', 'NATION_2')
      GROUP BY l.l_partkey
    )
    SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM part_value
    WHERE CAST(value_dec AS DOUBLE) >
          0.001 * (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM part_value)
    ORDER BY part_value DESC, p_partkey
    """,
    notes="TPC-H Q11 shape (important stock; lineitem revenue stands in "
    "for ps_supplycost x ps_availqty since the fixture has no partsupp): "
    "per-part value over two nations' suppliers, kept only when it "
    "exceeds a fraction of the TOTAL value — the scalar-subquery-"
    "threshold shape. Spark computes the per-part agg ONCE, derives the "
    "global scalar by re-aggregating that (tiny) result, and broadcasts "
    "the one-row total back via crossJoin — the fact table is scanned "
    "and shuffled exactly once; the threshold compare happens on the "
    "already-reduced per-part rows. Both sides carry the value in "
    "decimal until the final compare so fraction-of-total is one "
    "deterministic double multiply on each engine",
)
def q167_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    per_part = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(dec("l_extendedprice", 4)).alias("value_dec"))
    )
    total = per_part.agg(
        F.sum("value_dec").cast("double").alias("total_value")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double") > F.lit(0.001) * F.col("total_value")
        )
        .select(
            "p_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey"))
    )


# --- TPC-H Q15: top supplier -------------------------------------------------
@register(
    "q168_tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,4)))
               AS total_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_dec AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_dec = (SELECT MAX(total_dec) FROM revenue)
    ORDER BY s.s_suppkey
    """,
    notes="TPC-H Q15 shape (top supplier via a max-of-aggregate view): "
    "quarterly revenue per supplier, keep the supplier(s) achieving the "
    "maximum. The revenue 'view' is computed once; the scalar max is "
    "derived from that reduced result and broadcast back (crossJoin of "
    "a 1-row frame), so lineitem is scanned once and the equality "
    "compare runs on DECIMAL — exact, so ties are real ties on both "
    "engines, never float noise. Supplier dim broadcasts onto the "
    "per-supplier rows",
)
def q168_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = read_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            dec(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")), 4)
        ).alias("total_dec")
    )
    mx = revenue.agg(F.max("total_dec").alias("max_dec"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_dec") == F.col("max_dec"))
        .join(F.broadcast(s), F.col("supplier_no") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name", F.col("total_dec").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


# --- TPC-H Q16: supplier relationship count ----------------------------------
@register(
    "q169_tpch_q16_supplier_cnt",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#2'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (2, 5, 11, 28, 29, 37, 42, 50)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
    notes="TPC-H Q16 shape (parts/supplier relationship; the "
    "lineitem bridge stands in for partsupp): distinct suppliers per "
    "(brand, type, size) over filtered parts, EXCLUDING suppliers on a "
    "complaint list (negative acctbal stands in for the comment LIKE). "
    "The NOT IN subquery becomes a broadcast LEFT ANTI join (s_suppkey "
    "is never null, so NOT IN == anti-join is semantics-safe); all three "
    "part predicates push to the dim scan which then broadcasts; the "
    "COUNT(DISTINCT) is Spark's two-phase distinct-expand over the one "
    "fact shuffle",
)
def q169_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = read_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#2")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(2, 5, 11, 28, 29, 37, 42, 50))
    )
    li = read_table(spark, sf_dir, "lineitem")
    bad = read_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# --- grouped least-squares regression ---------------------------------------
@register(
    "q170_grouped_regression",
    oracle="""
    SELECT event_type,
           regr_count(value, hr) AS n,
           ROUND(regr_slope(value, hr), 6) AS slope,
           ROUND(regr_intercept(value, hr), 6) AS intercept,
           ROUND(regr_r2(value, hr), 6) AS r2
    FROM (
      SELECT event_type, EXTRACT(hour FROM ts) AS hr, value
      FROM events WHERE value IS NOT NULL
    )
    GROUP BY event_type
    ORDER BY event_type
    """,
    notes="per-group ordinary-least-squares regression (§2.4 stats "
    "surface extension): regr_slope / regr_intercept / regr_r2 / "
    "regr_count of value against hour-of-day per event type — the "
    "trend-per-segment analytics shape. Spark's regr_* are Tungsten "
    "codegen'd single-pass moment aggregates with map-side partials "
    "(never a per-group sort or UDF), identical definitionally to "
    "DuckDB's; results rounded 6dp because moment accumulation order "
    "differs across partitions (SURVEY §7.4 canonicalization, same "
    "discipline as q15's stddev/corr)",
)
def q170_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    from ..operators.aggregate import rounded

    src = ev.select(
        "event_type", F.hour("ts").alias("hr"), "value"
    )
    return (
        src.groupBy("event_type")
        .agg(
            F.regr_count("value", "hr").alias("n"),
            rounded(F.regr_slope("value", "hr")).alias("slope"),
            rounded(F.regr_intercept("value", "hr")).alias("intercept"),
            rounded(F.regr_r2("value", "hr")).alias("r2"),
        )
        .orderBy("event_type")
    )


# --- winsorized robust mean --------------------------------------------------
@register(
    "q171_winsorized_stats",
    oracle="""
    WITH fences AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(LEAST(GREATEST(e.value, f.p05), f.p95)
                         AS DECIMAL(25,6))) AS DOUBLE)
             / COUNT(*) AS winsorized_mean,
           COUNT(CASE WHEN e.value < f.p05 OR e.value > f.p95 THEN 1 END)
             AS n_clipped
    FROM events e JOIN fences f ON e.event_type = f.event_type
    WHERE e.value IS NOT NULL
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    notes="winsorized (percentile-clipped) robust mean per group (§2.4 "
    "robust-stats family next to q116's MAD/IQR and q157's Tukey "
    "fences): exact interpolated p05/p95 per event type (Spark "
    "percentile == DuckDB quantile_cont, pinned by q21), the tiny "
    "fence table broadcast back onto the stream, clipping via "
    "LEAST/GREATEST map-side, then a decimal-stabilized mean so the "
    "clipped sum is order-independent. Two shuffles total (quantile "
    "agg + final agg) — the same join-back-aggregate idiom as q157, "
    "which at 100 TB beats any sort-based winsorization because the "
    "fences are O(groups) and the data never globally sorts",
)
def q171_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    fences = ev.groupBy(F.col("event_type").alias("f_type")).agg(
        F.percentile("value", 0.05).alias("p05"),
        F.percentile("value", 0.95).alias("p95"),
    )
    clipped = ev.join(
        F.broadcast(fences), ev["event_type"] == F.col("f_type")
    ).withColumn("w", F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")))
    return (
        clipped.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.sum(dec("w", 6)).cast("double") / F.count("*")).alias(
                "winsorized_mean"
            ),
            F.count(
                F.when(
                    (F.col("value") < F.col("p05"))
                    | (F.col("value") > F.col("p95")),
                    1,
                )
            ).alias("n_clipped"),
        )
        .orderBy("event_type")
    )


# --- mergeable HLL sketch rollup ---------------------------------------------
@register(
    "q176_hll_sketch_rollup",
    oracle=None,
    notes="rows-only (Datasketches HLL binary sketches have no DuckDB "
    "twin): MERGEABLE distinct-count rollup — hll_sketch_agg(user_id) "
    "per (event_type, day) produces one binary sketch per cell, then "
    "hll_union_agg merges day sketches into per-event-type totals "
    "WITHOUT rescanning the data — the 100 TB pattern for serving "
    "distinct counts at multiple granularities from one pass (daily "
    "sketches persist; any rollup is a metadata-sized union). Accuracy "
    "pinned by tests/test_llm.py::test_hll_rollup_error_bound: the "
    "merged estimate is within 5% of exact count_distinct at lgk=12 "
    "(expected relative error ~1.6%); exactness itself is q16/q20's "
    "territory",
)
def q176_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.count("*").alias("n_days"),
        )
        .orderBy("event_type")
    )


# --- native SQL recursive CTE ------------------------------------------------
@register(
    "q178_sql_recursive_cte",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT user_id AS src, (user_id * 7 + 3) % 150 AS dst
      FROM events
    ),
    reach(start, node, depth) AS (
      SELECT src AS start, dst AS node, 1 AS depth FROM edges WHERE src < 5
      UNION ALL
      SELECT r.start, e.dst AS node, r.depth + 1
      FROM reach r JOIN edges e ON r.node = e.src
      WHERE r.depth < 20
    )
    SELECT DISTINCT start, node FROM reach
    ORDER BY start, node
    """,
    notes="NATIVE SQL recursion (Spark 4 WITH RECURSIVE — the "
    "declarative twin of q158's iterate_until_fixpoint loop, closing "
    "the reference's relational-calculus intent, README.md:14, at the "
    "SQL surface): depth-bounded reachability from seed nodes over the "
    "cyclic functional graph, UNION ALL + depth guard + outer DISTINCT "
    "(the out-degree-1 graph keeps path count linear, and depth 20 "
    "strictly covers the <=10-hop closure, so the bounded recursion "
    "EQUALS the fixpoint (asserted against the iterate_until_fixpoint closure on the same graph in tests/test_operators.py). The SQL text is executed verbatim by "
    "BOTH engines: Catalyst plans each recursive step as the same "
    "frontier⋈edges equi-join the operator loop builds by hand",
)
def q178_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("q178_events")
    return spark.sql("""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT user_id AS src, (user_id * 7 + 3) % 150 AS dst
      FROM q178_events
    ),
    reach(start, node, depth) AS (
      SELECT src AS start, dst AS node, 1 AS depth FROM edges WHERE src < 5
      UNION ALL
      SELECT r.start, e.dst AS node, r.depth + 1
      FROM reach r JOIN edges e ON r.node = e.src
      WHERE r.depth < 20
    )
    SELECT DISTINCT start, node FROM reach
    ORDER BY start, node
    """)


# --- VARIANT semi-structured extraction --------------------------------------
@register(
    "q179_variant_extraction",
    oracle="""
    WITH payload AS (
      SELECT event_id,
             concat('{"user":{"id":', CAST(user_id AS VARCHAR),
                    ',"type":"', event_type,
                    '"},"k":', CAST(props->>'k' AS VARCHAR),
                    ',"vals":[', CAST(event_id % 7 AS VARCHAR),
                    ',', CAST(event_id % 11 AS VARCHAR), ']}') AS doc
      FROM events
    )
    SELECT CAST(doc->'user'->>'type' AS VARCHAR) AS etype,
           COUNT(*) AS n,
           CAST(SUM(CAST(doc->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(doc->'vals'->>1 AS BIGINT)) AS BIGINT) AS sum_val1
    FROM payload
    WHERE CAST(doc->'user'->>'id' AS BIGINT) % 2 = 0
    GROUP BY etype
    ORDER BY etype
    """,
    notes="VARIANT semi-structured extraction (Spark 4's binary "
    "semi-structured type — parse ONCE into a shredded variant, then "
    "N typed variant_get path extractions, vs q30's "
    "get_json_object which re-parses the string per call): a nested "
    "payload (object-in-object + array) is built deterministically "
    "from events columns, parsed to VARIANT, and filtered/aggregated "
    "through typed path extraction including an array index "
    "($.vals[1]). The DuckDB oracle runs the same paths with JSON "
    "operators on the identical document string — engine-independent "
    "semantics for the training-metadata blobs every corpus pipeline "
    "carries. Map-only until the one grouped agg; at 100 TB the "
    "variant parse is the scan-side cost and each extra path is ~free, "
    "which is exactly why the parse-once type exists",
)
def q179_variant_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    doc = F.concat(
        F.lit('{"user":{"id":'),
        F.col("user_id").cast("string"),
        F.lit(',"type":"'),
        F.col("event_type"),
        F.lit('"},"k":'),
        F.get_json_object("props", "$.k"),
        F.lit(',"vals":['),
        (F.col("event_id") % 7).cast("string"),
        F.lit(","),
        (F.col("event_id") % 11).cast("string"),
        F.lit("]}"),
    )
    v = ev.select(F.parse_json(doc).alias("v"))
    return (
        v.filter(
            F.variant_get("v", "$.user.id", "bigint") % 2 == 0
        )
        .groupBy(F.variant_get("v", "$.user.type", "string").alias("etype"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.variant_get("v", "$.k", "bigint")).alias("sum_k"),
            F.sum(F.variant_get("v", "$.vals[1]", "bigint")).alias("sum_val1"),
        )
        .orderBy("etype")
    )


# --- bitwise surface ---------------------------------------------------------
@register(
    "q180_bitwise_surface",
    oracle="""
    SELECT event_type,
           bit_and(user_id) AS and_ids,
           bit_or(user_id) AS or_ids,
           bit_xor(user_id) AS xor_ids,
           CAST(bit_count(CAST(bit_or(user_id) AS BIGINT)) AS BIGINT)
             AS popcount_or,
           CAST(SUM(CAST(xor(user_id << 2, event_id >> 3) & 1023
                         AS BIGINT)) AS BIGINT) AS mixed_sum
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    notes="bitwise surface (§2.8 + §2.4: scalar shifts/xor/and/popcount "
    "AND the bit_and/bit_or/bit_xor aggregates — the flag-mask rollup "
    "idiom for permission/feature-bit columns): all JVM codegen'd "
    "integer ops with map-side-combinable aggregates (bitwise aggs are "
    "commutative+associative, so partial aggregation applies exactly "
    "like sum). Spark ^ == DuckDB xor(); both popcounts cast to BIGINT "
    "(Spark bit_count returns INT, DuckDB BIGINT)",
)
def q180_bitwise_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    mixed = F.shiftleft(F.col("user_id"), 2).bitwiseXOR(
        F.shiftright(F.col("event_id"), 3)
    ).bitwiseAND(F.lit(1023).cast("long"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("user_id").alias("and_ids"),
            F.bit_or("user_id").alias("or_ids"),
            F.bit_xor("user_id").alias("xor_ids"),
            F.bit_count(F.bit_or("user_id")).cast("long").alias("popcount_or"),
            F.sum(mixed.cast("long")).cast("long").alias("mixed_sum"),
        )
        .orderBy("event_type")
    )


# --- dynamic-gap session windows ---------------------------------------------
@register(
    "q181_dynamic_session_gap",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             CASE event_type WHEN 'click' THEN 300000000
                             WHEN 'view' THEN 600000000
                             ELSE 900000000 END AS gap_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts_us, gap_us,
             CASE WHEN ts_us >= MAX(ts_us + gap_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(ts_us + gap_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
    ),
    sessions AS (
      SELECT user_id, ts_us, gap_us,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us + gap_us) AS session_end_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    ORDER BY user_id, session_start_us
    """,
    notes="DYNAMIC-GAP session windows (§2.9: session_window with a "
    "per-event gap expression — engagement-dependent timeouts, e.g. "
    "clicks close fast, passive views linger; the generalization of "
    "q36/q95/q115's fixed-gap sessions): Spark merges each event's "
    "[ts, ts+gap) half-open window per user. The oracle derives the "
    "IDENTICAL partition from first principles: an event opens a new "
    "session iff its start >= the running max of all previous events' "
    "window ends (a cumulative-max window, not just lag — an early "
    "long-gap event can bridge past several short-gap ones), then a "
    "cumulative boundary sum labels sessions. Everything in integer "
    "microseconds, so the comparison is exact. One user-keyed shuffle "
    "on each engine; Spark's session merge is the same state machine "
    "a streaming run uses, so batch==stream semantics carry over",
)
def q181_dynamic_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "click", F.lit("300 seconds"))
        .when(F.col("event_type") == "view", F.lit("600 seconds"))
        .otherwise(F.lit("900 seconds"))
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
        .orderBy("user_id", "session_start_us")
    )


# --- URL parsing surface -----------------------------------------------------
@register(
    "q182_url_parsing",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             concat('https://', source, '.example.com/docs/',
                    CAST(doc_id AS VARCHAR), '?lang=', lang,
                    '&n=', CAST(n_chars AS VARCHAR), '#sec',
                    CAST(doc_id % 3 AS VARCHAR)) AS url
      FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '^[a-z]+://[^/?#]+[^?#]*\\?([^#]*)', 1)
             AS query,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(url, '#(.*)$', 1) AS fragment
    FROM urls
    ORDER BY doc_id
    """,
    notes="URL parsing surface (§2.8; the domain-extraction step of "
    "crawl curation — source filtering, per-host caps, robots "
    "bookkeeping all start at HOST): Spark's native parse_url "
    "(HOST/PATH/QUERY/REF and keyed QUERY extraction, one java.net.URI "
    "parse reused across parts) validated against ground truth — the "
    "oracle re-derives every component with regexes over the SAME "
    "deterministically-constructed URL string, so a parse_url quirk "
    "(encoding, fragment handling) would break the hash. Map-only "
    "projection, no shuffle",
)
def q182_url_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars").cast("string"),
        F.lit("#sec"),
        (F.col("doc_id") % 3).cast("string"),
    )
    u = docs.select("doc_id", url.alias("url"))
    return (
        u.select(
            "doc_id",
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY")).alias("query"),
            F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
            F.parse_url("url", F.lit("REF")).alias("fragment"),
        )
        .orderBy("doc_id")
    )


# --- time-weighted average ---------------------------------------------------
@register(
    "q183_time_weighted_avg",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS ts_us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_us
      FROM events WHERE value IS NOT NULL
    ),
    seg AS (
      SELECT user_id, value, (next_us - ts_us) AS dur_us
      FROM seq WHERE next_us IS NOT NULL
    )
    SELECT user_id,
           ROUND(CAST(SUM(CAST(value * dur_us AS DECIMAL(30,6))) AS DOUBLE)
                 / CAST(SUM(dur_us) AS DOUBLE), 6) AS twap,
           CAST(SUM(dur_us) AS BIGINT) AS span_us,
           COUNT(*) AS n_segments
    FROM seg
    GROUP BY user_id
    ORDER BY user_id
    """,
    notes="TIME-WEIGHTED average (§2.12 time-series: TWAP — the correct "
    "mean for irregularly sampled state, where each observation holds "
    "until the next one; an unweighted mean over-counts bursts): each "
    "event's weight is its holding duration (lead(ts) - ts per user, "
    "integer microseconds), the value x duration products are "
    "decimal-carried so the weighted sum is order-independent, and the "
    "final ratio is rounded 6dp (the q15 stats discipline: the summed "
    "unscaled decimal exceeds 2^53, and DuckDB's decimal->double goes "
    "through two roundings where Spark's BigDecimal rounds once). The last event per "
    "user has no duration and is excluded on both engines. One "
    "user-keyed window shuffle reused by the grouped agg — the "
    "sort-once-aggregate-once shape that scales",
)
def q183_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    )
    seg = seq.filter(F.col("next_us").isNotNull()).withColumn(
        "dur_us", F.col("next_us") - F.col("ts_us")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    (F.col("value") * F.col("dur_us")).cast("decimal(30,6)")
                ).cast("double")
                / F.sum("dur_us").cast("double"),
                6,
            ).alias("twap"),
            F.sum("dur_us").cast("long").alias("span_us"),
            F.count("*").alias("n_segments"),
        )
        .orderBy("user_id")
    )


# --- binary encodings / digests ----------------------------------------------
@register(
    "q185_binary_encodings",
    oracle="""
    SELECT doc_id,
           to_base64(encode(source)) AS b64,
           decode(from_base64(to_base64(encode(source))))
             AS b64_roundtrip,
           lower(hex(encode(source))) AS hexed,
           md5(source) AS md5_hex,
           sha256(source) AS sha256_hex,
           octet_length(encode(source)) AS n_bytes
    FROM documents
    ORDER BY doc_id
    """,
    notes="binary encodings & digests (§2.8: the content-addressing "
    "surface every artifact store / cache key / shard router uses): "
    "base64 encode + round-trip back through decode, hex, md5, sha-256, "
    "byte length — all JVM codegen'd, map-only, validated to the RFC by "
    "the DuckDB twins (Spark base64 vs to_base64, hex lowercased to "
    "match, unbase64 round-trip proving decode inverts encode "
    "byte-exactly). Digest parity here also underwrites every md5-based "
    "hash construction in the dedup/LSH family — if these rows hash "
    "equal, the engines' md5s agree byte-for-byte",
)
def q185_binary_encodings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    src_bin = F.encode("source", "UTF-8")
    return (
        docs.select(
            "doc_id",
            F.base64(src_bin).alias("b64"),
            F.decode(F.unbase64(F.base64(src_bin)), "UTF-8").alias(
                "b64_roundtrip"
            ),
            F.lower(F.hex(src_bin)).alias("hexed"),
            F.md5(src_bin).alias("md5_hex"),
            F.sha2(src_bin, 256).alias("sha256_hex"),
            F.length(src_bin).cast("long").alias("n_bytes"),
        )
        .orderBy("doc_id")
    )


# --- array set operations ----------------------------------------------------
@register(
    "q188_array_set_ops",
    oracle="""
    WITH a AS (
      SELECT event_id,
             list_transform(generate_series(0, CAST(event_id % 4 AS BIGINT) + 2),
                            i -> (event_id + i * 3) % 10) AS xs,
             list_transform(generate_series(0, CAST(event_id % 3 AS BIGINT) + 2),
                            i -> (event_id + i * 2) % 10) AS ys
      FROM events
    )
    SELECT event_id,
           array_to_string(list_sort(list_distinct(list_concat(xs, ys))), ',')
             AS union_csv,
           array_to_string(list_sort(list_intersect(xs, ys)), ',')
             AS intersect_csv,
           array_to_string(list_sort(list_filter(list_distinct(xs),
                                                 x -> NOT list_contains(ys, x))), ',')
             AS except_csv,
           len(list_distinct(list_concat(xs, ys))) AS n_union
    FROM a
    ORDER BY event_id
    """,
    notes="array SET operations (§2.8 surface III: array_union / "
    "array_intersect / array_except — per-row set algebra, the tag/"
    "label-column idiom): derived integer arrays so contents are "
    "deterministic; outputs canonicalized via sort_array + joined "
    "strings (the q57/q114 lesson — the driver's pandas hash cannot "
    "sort list-valued cells, and Spark's array_* preserve first-seen "
    "order while DuckDB's sort, so ONLY the sorted-string projection "
    "is engine-portable). Map-only, the single exchange is the "
    "presentation orderBy",
)
def q188_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    xs = F.transform(
        F.sequence(F.lit(0), (F.col("event_id") % 4 + 2)),
        lambda i: (F.col("event_id") + i * 3) % 10,
    )
    ys = F.transform(
        F.sequence(F.lit(0), (F.col("event_id") % 3 + 2)),
        lambda i: (F.col("event_id") + i * 2) % 10,
    )
    a = ev.select("event_id", xs.alias("xs"), ys.alias("ys"))
    return (
        a.select(
            "event_id",
            F.array_join(
                F.sort_array(F.array_union("xs", "ys")).cast("array<string>"), ","
            ).alias("union_csv"),
            F.array_join(
                F.sort_array(F.array_intersect("xs", "ys")).cast("array<string>"),
                ",",
            ).alias("intersect_csv"),
            F.array_join(
                F.sort_array(F.array_except("xs", "ys")).cast("array<string>"), ","
            ).alias("except_csv"),
            F.size(F.array_union("xs", "ys")).cast("long").alias("n_union"),
        )
        .orderBy("event_id")
    )


# --- last-touch attribution --------------------------------------------------
@register(
    "q189_last_touch_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             last_value(CASE WHEN event_type = 'click' THEN event_id END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_id,
             last_value(CASE WHEN event_type = 'click' THEN ts END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_ts
      FROM events
    )
    SELECT user_id, event_id AS purchase_id,
           CASE WHEN last_click_ts IS NOT NULL
                 AND ts - last_click_ts <= INTERVAL 1 HOUR
                THEN last_click_id END AS attributed_click,
           last_click_ts IS NOT NULL
             AND ts - last_click_ts <= INTERVAL 1 HOUR AS attributed
    FROM ordered
    WHERE event_type = 'purchase'
    ORDER BY user_id, purchase_id
    """,
    notes="LAST-TOUCH ATTRIBUTION (the conversion-credit idiom: each "
    "purchase credits the most recent click by the same user within a "
    "1-hour lookback): last_value(... IGNORE NULLS) over a "
    "1-PRECEDING-bounded frame carries the latest click forward "
    "without a self-join — the window-carry formulation is one "
    "user-keyed shuffle where the naive as-of self-join is two inputs "
    "shuffled plus join state (the same rewrite argument as q12's "
    "as-of union+window). The attribution window (<= 1 h) applies "
    "map-side after the carry; unattributed purchases surface with "
    "NULL credit rather than vanishing",
)
def q189_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    carried = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("last_click_ts"),
    )
    in_window = F.col("last_click_ts").isNotNull() & (
        F.col("ts") - F.col("last_click_ts") <= F.expr("INTERVAL 1 HOUR")
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.when(in_window, F.col("last_click_id")).alias("attributed_click"),
            in_window.alias("attributed"),
        )
        .orderBy("user_id", "purchase_id")
    )


# --- point-in-time feature-store join ----------------------------------------
@register(
    "q190_feature_store_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT user_id, ts, MAX(value) AS feat_click
      FROM events WHERE event_type = 'click' AND value IS NOT NULL
      GROUP BY user_id, ts
    ),
    v AS (
      SELECT user_id, ts, MAX(event_id) AS last_view
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    )
    SELECT p.user_id AS user_id, p.event_id AS purchase_id,
           ROUND(c.feat_click, 6) AS feat_click,
           v.last_view
    FROM p
    ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    ORDER BY p.user_id, purchase_id
    """,
    notes="POINT-IN-TIME feature-store join (the training-data "
    "correctness primitive: every label row joins each feature table "
    "AS OF the label timestamp — any later feature value is leakage): "
    "purchases are the entity spine, two independent feature tables "
    "(latest click value, latest view id) attach via CHAINED as-of "
    "joins — operators/joins.asof_join twice, each one union+window "
    "carry = one key shuffle, so N feature tables cost N keyed "
    "shuffles and never a range explosion. Feature snapshots are "
    "deduped to one row per (user, ts) first (max payload) so "
    "equal-time ties are defined identically on both engines; the "
    "oracle is DuckDB's NATIVE ASOF LEFT JOIN — an independent "
    "implementation of the same semantics, the strongest cross-check "
    "the as-of family has",
)
def q190_feature_store_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import asof_join

    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    c = (
        ev.filter((F.col("event_type") == "click") & F.col("value").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("feat_click"))
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("last_view"))
    )
    step1 = asof_join(p, c, on_key="user_id", on_time="ts")
    step2 = asof_join(
        step1.select("user_id", "ts", "purchase_id", "feat_click"),
        v,
        on_key="user_id",
        on_time="ts",
    )
    return (
        step2.select(
            "user_id",
            "purchase_id",
            F.round("feat_click", 6).alias("feat_click"),
            "last_view",
        )
        .orderBy("user_id", "purchase_id")
    )


# --- distribution entropy / concentration ------------------------------------
@register(
    "q191_mix_entropy",
    oracle="""
    WITH counts AS (
      SELECT source, lang, COUNT(*) AS n
      FROM documents GROUP BY source, lang
    ),
    tot AS (
      SELECT source, SUM(n) AS tot FROM counts GROUP BY source
    )
    SELECT c.source,
           CAST(t.tot AS BIGINT) AS n_docs,
           COUNT(*) AS n_langs,
           ROUND(SUM(-(CAST(c.n AS DOUBLE) / t.tot)
                     * ln(CAST(c.n AS DOUBLE) / t.tot)), 6) AS entropy,
           ROUND(SUM((CAST(c.n AS DOUBLE) / t.tot)
                     * (CAST(c.n AS DOUBLE) / t.tot)), 6) AS hhi
    FROM counts c JOIN tot t ON c.source = t.source
    GROUP BY c.source, t.tot
    ORDER BY c.source
    """,
    notes="corpus MIX health metrics (the §2.11 curation dashboard: "
    "per-source Shannon entropy and Herfindahl concentration of the "
    "language distribution — a source with entropy ~0 / HHI ~1 is "
    "monolingual, and sudden shifts flag crawl drift): two-level "
    "aggregation (cell counts, then per-group totals joined back — "
    "the counts table is O(groups x categories), so the join-back is "
    "metadata-sized) with the -p·ln(p) fold written token-identically "
    "on both engines, 6dp-rounded (q27 rule: libm ln differs in the "
    "last bit across implementations). Everything after the first "
    "count agg is vocabulary-sized — scales as a pure post-aggregate",
)
def q191_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    tot = counts.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    return (
        counts.join(tot, "source")
        .groupBy("source", "tot")
        .agg(
            F.count("*").alias("n_langs"),
            F.round(F.sum(-p * F.log(p)), 6).alias("entropy"),
            F.round(F.sum(p * p), 6).alias("hhi"),
        )
        .select(
            "source",
            F.col("tot").cast("long").alias("n_docs"),
            "n_langs",
            "entropy",
            "hhi",
        )
        .orderBy("source")
    )


# --- balanced class downsampling ---------------------------------------------
@register(
    "q192_balanced_downsample",
    oracle="""
    WITH target AS (
      SELECT MIN(n) AS floor_n FROM (
        SELECT COUNT(*) AS n FROM events GROUP BY event_type
      )
    ),
    ranked AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(concat(CAST(event_id AS VARCHAR), ':balance')),
                        event_id) AS rk
      FROM events
    )
    SELECT r.event_type, COUNT(*) AS n_kept,
           CAST(SUM(r.event_id) AS BIGINT) AS id_checksum
    FROM ranked r, target t
    WHERE r.rk <= t.floor_n
    GROUP BY r.event_type
    ORDER BY r.event_type
    """,
    notes="BALANCED class downsampling (the class-rebalance step of "
    "training-set construction: every class cut to the minority-class "
    "count, selection by deterministic md5 rank so the kept set is a "
    "uniform per-class sample reproducible across engines and "
    "layouts): the target count is a 1-row scalar from the per-class "
    "counts (broadcast), then one class-keyed window rank — the same "
    "machinery as q174's quota cap but with a DATA-DERIVED quota. "
    "Verified here by per-class counts + an id checksum so the exact "
    "kept SET is pinned, not just its size",
)
def q192_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    floor_n = (
        ev.groupBy("event_type")
        .count()
        .agg(F.min("count").alias("floor_n"))
    )
    rk = F.row_number().over(
        Window.partitionBy("event_type").orderBy(
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":balance"))),
            F.col("event_id"),
        )
    )
    return (
        ev.select("event_id", "event_type")
        .withColumn("rk", rk)
        .crossJoin(F.broadcast(floor_n))
        .filter(F.col("rk") <= F.col("floor_n"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
        .orderBy("event_type")
    )


# --- group-wise min-max normalization ----------------------------------------
@register(
    "q193_minmax_normalize",
    oracle="""
    WITH bounds AS (
      SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    )
    SELECT e.event_id,
           e.event_type,
           ROUND(CASE WHEN b.hi = b.lo THEN 0.5
                      ELSE (e.value - b.lo) / (b.hi - b.lo) END, 6) AS scaled
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    WHERE e.value IS NOT NULL
    ORDER BY e.event_id
    """,
    notes="group-wise MIN-MAX feature normalization (the classic "
    "per-segment feature-scaling op; degenerate constant groups pin to "
    "0.5 rather than dividing by zero): per-group bounds are O(groups) "
    "rows broadcast back onto the stream, scaling is map-side — the "
    "q157/q171 join-back-aggregate idiom again, one agg shuffle total. "
    "The scaling expression is written token-identically on both "
    "engines; 6dp rounding because (x-lo)/(hi-lo) hits the one "
    "division whose double result is engine-identical but whose "
    "pandas float64 repr the driver hashes",
)
def q193_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bounds = ev.groupBy(F.col("event_type").alias("b_type")).agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.5)).otherwise(
        (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    return (
        ev.join(F.broadcast(bounds), ev["event_type"] == F.col("b_type"))
        .select(
            "event_id", "event_type", F.round(scaled, 6).alias("scaled")
        )
        .orderBy("event_id")
    )


# --- weighted median ---------------------------------------------------------
@register(
    "q194_weighted_median",
    oracle="""
    WITH w AS (
      SELECT event_type, value, CAST(1 + event_id % 5 AS BIGINT) AS wt
      FROM events WHERE value IS NOT NULL
    ),
    cum AS (
      SELECT event_type, value, wt,
             SUM(wt) OVER (PARTITION BY event_type
                           ORDER BY value, wt
                           ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(wt) OVER (PARTITION BY event_type) AS tw
      FROM w
    )
    SELECT event_type,
           ROUND(MIN(value), 6) AS weighted_median,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM cum
    WHERE cw * 2 >= tw
    GROUP BY event_type
    ORDER BY event_type
    """,
    notes="WEIGHTED MEDIAN per group (lower weighted median: the "
    "smallest value whose cumulative weight reaches half the total — "
    "duplicate-aware corpus stats where each row carries a "
    "multiplicity, e.g. dedup-cluster sizes): one group-keyed window "
    "computes the running weight and the group total in the same "
    "shuffle, the crossing point is a filter + MIN — no second scan, "
    "no sort beyond the one per-group window order. Integer weights "
    "and the *2 comparison keep the crossing test exact (no 0.5*tw "
    "float). Deterministic (value, wt) tiebreak",
)
def q194_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = ev.select(
        "event_type",
        "value",
        (F.lit(1) + F.col("event_id") % 5).cast("long").alias("wt"),
    )
    cum = w.select(
        "event_type",
        "value",
        "wt",
        F.sum("wt")
        .over(
            Window.partitionBy("event_type")
            .orderBy("value", "wt")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cw"),
        F.sum("wt").over(Window.partitionBy("event_type")).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("event_type")
        .agg(
            F.round(F.min("value"), 6).alias("weighted_median"),
            F.max("tw").cast("long").alias("total_weight"),
        )
        .orderBy("event_type")
    )


# --- interval union / coverage -----------------------------------------------
@register(
    "q195_interval_union",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + (300 + (event_id % 10) * 60) * 1000000 AS e
      FROM events
    ),
    flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                   ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    merged AS (
      SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me, COUNT(*) AS n_iv
      FROM islands GROUP BY user_id, island
    )
    SELECT user_id,
           COUNT(*) AS n_islands,
           CAST(SUM(me - ms) AS BIGINT) AS covered_us,
           CAST(SUM(n_iv) AS BIGINT) AS n_intervals
    FROM merged
    GROUP BY user_id
    ORDER BY user_id
    """,
    notes="INTERVAL UNION / coverage (merge overlapping per-key "
    "intervals, total covered time — billing/uptime/active-time "
    "arithmetic where raw durations double-count overlaps): each event "
    "opens a variable-length interval, islands form where an interval "
    "starts after the running MAX of previous ends (cumulative max, "
    "not lag — an early long interval can swallow several later ones: "
    "the q181 merge discipline applied to explicit intervals), then "
    "per-island min/max collapse. Strict inequality = touching "
    "intervals merge. ONE user-keyed window shuffle reused by both "
    "aggregations; integer microseconds end-to-end so coverage sums "
    "are exact",
)
def q195_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + (F.lit(300) + (F.col("event_id") % 10) * 60) * 1000000
        ).alias("e"),
    )
    prev_max_e = F.max("e").over(
        Window.partitionBy("user_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), 1
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            Window.partitionBy("user_id")
            .orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"), F.count("*").alias("n_iv")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count("*").alias("n_islands"),
            F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
            F.sum("n_iv").cast("long").alias("n_intervals"),
        )
        .orderBy("user_id")
    )


# --- k-anonymity audit -------------------------------------------------------
@register(
    "q197_k_anonymity",
    oracle="""
    WITH cells AS (
      SELECT lang, source,
             CAST(floor(n_chars / 500.0) AS BIGINT) AS size_bucket,
             COUNT(*) AS n
      FROM documents
      GROUP BY lang, source, size_bucket
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_cells,
      CAST(COUNT(CASE WHEN n < 5 THEN 1 END) AS BIGINT) AS cells_below_k,
      CAST(COALESCE(SUM(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
        AS rows_at_risk,
      CAST(MIN(n) AS BIGINT) AS min_cell
    FROM cells
    """,
    notes="K-ANONYMITY audit (the privacy gate before releasing or "
    "training on quasi-identifier combinations: any (lang, source, "
    "size-bucket) cell with fewer than k=5 members re-identifies its "
    "rows): one grouped count over the quasi-identifier tuple, then an "
    "O(cells) summary — cells below k, total rows at risk, the "
    "minimum cell size (the dataset's actual k). Bucketing goes "
    "through an explicit floor() on both engines: DuckDB CASTs double "
    "to BIGINT by ROUNDING where Spark truncates, so a bare cast "
    "silently shifts every odd half-bucket. Map-side-combinable count, summary is "
    "metadata-sized — the audit costs one scan at any corpus size",
)
def q197_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 500.0).cast("long").alias("size_bucket"),
    ).agg(F.count("*").alias("n"))
    return cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.count(F.when(F.col("n") < 5, 1)).cast("long").alias("cells_below_k"),
        F.coalesce(F.sum(F.when(F.col("n") < 5, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("n").cast("long").alias("min_cell"),
    )


# --- top-k WITH TIES ---------------------------------------------------------
@register(
    "q199_topk_with_ties",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             RANK() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC) AS rk
      FROM orders
    ) WHERE rk <= 3
    ORDER BY o_custkey, o_totalprice DESC, o_orderkey
    """,
    notes="per-group top-k WITH TIES (§2.6, the FETCH FIRST k WITH TIES "
    "semantics q22's row_number cut cannot express: rank() keeps every "
    "row tied with the k-th, so equal-value rows never drop "
    "arbitrarily — result size is data-dependent, correctness is "
    "order-independent): same single group-keyed window shuffle as "
    "q22; the two queries together pin the rank/row_number cut "
    "distinction on both engines",
)
def q199_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return (
        orders.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", F.col("o_totalprice").desc(), "o_orderkey")
    )


# --- per-key volatility ------------------------------------------------------
@register(
    "q200_value_volatility",
    oracle="""
    WITH seq AS (
      SELECT user_id, value,
             lag(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM events WHERE value IS NOT NULL
    ),
    diffs AS (
      SELECT user_id,
             CAST(abs(value - prev) AS DECIMAL(25,6)) AS d
      FROM seq WHERE prev IS NOT NULL
    )
    SELECT user_id,
           COUNT(*) AS n_steps,
           CAST(SUM(d) AS DOUBLE) / COUNT(*) AS mean_abs_step,
           CAST(MAX(d) AS DOUBLE) AS max_abs_step
    FROM diffs
    GROUP BY user_id
    ORDER BY user_id
    """,
    notes="per-key VOLATILITY (mean/max absolute consecutive change — "
    "the signal-stability stat for irregularly sampled series, the "
    "lag-based sibling of q118's EWMA and q183's TWAP): one user-keyed "
    "window order shared by lag and the grouped agg, consecutive "
    "diffs decimal-carried so the mean is order-independent, first "
    "observation per key excluded identically on both engines (lag "
    "IS NULL)",
)
def q200_value_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "value", F.lag("value").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    d = F.abs(F.col("value") - F.col("prev")).cast("decimal(25,6)")
    return (
        seq.select("user_id", d.alias("d"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_steps"),
            (F.sum("d").cast("double") / F.count("*")).alias("mean_abs_step"),
            F.max("d").cast("double").alias("max_abs_step"),
        )
        .orderBy("user_id")
    )


def q222_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    cells = docs.groupBy(
        "lang",
        F.floor(F.col("n_chars") / F.lit(500.0)).cast("long").alias("size_bucket"),
    ).agg(
        F.countDistinct("source").alias("diversity"),
        F.count("*").alias("n"),
    )
    return cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.when(F.col("diversity") < 3, 1).otherwise(0))
        .cast("long")
        .alias("cells_below_l"),
        F.coalesce(F.sum(F.when(F.col("diversity") < 3, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("diversity").cast("long").alias("min_diversity"),
    )


_Q222_ORACLE = """
    WITH cells AS (
      SELECT lang, CAST(floor(n_chars / 500.0) AS BIGINT) AS size_bucket,
             COUNT(DISTINCT source) AS diversity, COUNT(*) AS n
      FROM documents GROUP BY lang, size_bucket
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(COUNT(CASE WHEN diversity < 3 THEN 1 END) AS BIGINT)
             AS cells_below_l,
           CAST(COALESCE(SUM(CASE WHEN diversity < 3 THEN n END), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(MIN(diversity) AS BIGINT) AS min_diversity
    FROM cells
"""

_Q222_NOTES = (
    "L-DIVERSITY audit — q197 k-anonymity's companion (k-anonymity "
    "bounds cell SIZE; a large cell whose members all share one "
    "sensitive value still leaks it — l-diversity requires >= l "
    "DISTINCT sensitive values per quasi-identifier cell): distinct "
    "sources per (lang, size-bucket) cell, reduced to the O(cells) "
    "summary (cells below l=3, rows at risk, the dataset's actual l). "
    "COUNT DISTINCT inside a grouped agg = Spark's two-phase "
    "partial-distinct expansion, map-side combinable; floor() is "
    "explicit on both engines (the q197 DuckDB-rounds-Spark-truncates "
    "cast trap)"
)


def q224_returns_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.aggregate import dec

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rets = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.sum(
                dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            ).alias("ret_dec")
        )
    )
    withnat = (
        rets.join(cust, rets["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select("c_custkey", "n_name", "ret_dec")
    )
    w = Window.partitionBy("n_name")
    out = withnat.select(
        "c_custkey",
        "n_name",
        F.col("ret_dec").cast("double").alias("return_total"),
        (
            F.sum("ret_dec").over(w).cast("double") / F.count("*").over(w)
        ).alias("nation_avg"),
    )
    return out.filter(
        F.col("return_total") > F.lit(1.2) * F.col("nation_avg")
    ).orderBy("c_custkey")


_Q224_ORACLE = """
    WITH rets AS (
      SELECT o.o_custkey AS custkey,
             SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(25,4))) AS ret_dec
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
      GROUP BY o.o_custkey
    ),
    withnat AS (
      SELECT c.c_custkey, n.n_name, r.ret_dec
      FROM rets r
      JOIN customer c ON r.custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    winavg AS (
      SELECT c_custkey, n_name, CAST(ret_dec AS DOUBLE) AS return_total,
             CAST(SUM(ret_dec) OVER (PARTITION BY n_name) AS DOUBLE)
               / COUNT(*) OVER (PARTITION BY n_name) AS nation_avg
      FROM withnat
    )
    SELECT c_custkey, n_name, return_total, nation_avg
    FROM winavg WHERE return_total > 1.2 * nation_avg
    ORDER BY c_custkey
"""

_Q224_NOTES = (
    "TPC-DS Q1 SHAPE (customers whose return total exceeds 1.2x their "
    "nation's average — the correlated-subquery-against-group-average "
    "pattern, decorrelated into a window average so the returns "
    "aggregate is computed ONCE): returned lineitems -> per-customer "
    "decimal-exact sum -> broadcast nation join -> per-nation window "
    "avg (exact decimal window sum / count, one IEEE division — "
    "engine-identical without rounding) -> threshold filter. "
    "Complements the 22 covered TPC-H shapes with the TPC-DS "
    "flagship's plan shape; per-nation window partitions are "
    "customer-sized, shuffled once on n_name"
)


register("q222_l_diversity", _Q222_ORACLE, _Q222_NOTES)(q222_l_diversity)


register("q224_returns_above_nation_avg", _Q224_ORACLE, _Q224_NOTES)(
    q224_returns_above_nation_avg
)


def _ensure_range_files(spark: SparkSession, sf_dir: str) -> str:
    """Write-once-per-(session, sf_dir) range-file fixture for q231:
    events re-written as 16 range-partitioned files on event_id so each
    file carries a tight footer min/max — the layout a time/id-ordered
    ingest produces naturally. Same mtime-stamped guard as q145's
    fixture (a regenerated testdata invalidates the cache)."""
    import os
    import tempfile

    from ._fixtures import fixture_once, source_stamp

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"dbkit_range_events_{tag}")
    return fixture_once(
        path,
        source_stamp(sf_dir, "events"),
        lambda: (
            read_table(spark, sf_dir, "events")
            .repartitionByRange(16, F.col("event_id"))
            .write.mode("overwrite")
            .parquet(path)
        ),
    )


def q231_file_stats_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import stable_sum
    from ..sources.fileindex import (
        build_file_stats_index,
        list_parquet_files,
        prune_files,
        read_pruned,
    )

    path = _ensure_range_files(spark, sf_dir)
    index = build_file_stats_index(spark, path, ["event_id", "value"])
    index = index.localCheckpoint(eager=True)  # harvested once, probed twice
    mx = read_table(spark, sf_dir, "events").agg(
        F.max("event_id").alias("m")
    ).collect()[0]["m"]
    lo, hi = (mx * 25) // 100, (mx * 35) // 100
    pruned = read_pruned(spark, index, "event_id", float(lo), float(hi))
    n_total = len(list_parquet_files(path))
    n_scanned = len(prune_files(index, "event_id", float(lo), float(hi)))
    return pruned.agg(
        F.count("*").cast("long").alias("n"),
        F.min("event_id").cast("long").alias("min_id"),
        F.max("event_id").cast("long").alias("max_id"),
        stable_sum("value").alias("total_value"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    ).select(
        "*",
        F.lit(n_scanned < n_total).alias("files_were_pruned"),
    )


_Q231_ORACLE = """
    WITH bounds AS (
      SELECT (MAX(event_id) * 25) // 100 AS lo,
             (MAX(event_id) * 35) // 100 AS hi
      FROM events
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id,
           CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           TRUE AS files_were_pruned
    FROM events CROSS JOIN bounds
    WHERE event_id >= lo AND event_id <= hi
"""

_Q231_NOTES = (
    "PARQUET FOOTER-STATS data skipping (sources/fileindex — the "
    "Iceberg/Delta manifest primitive rebuilt for raw parquet "
    "directories): a DISTRIBUTED map-only harvest reads ONLY footers "
    "(never data pages) into an O(files x columns) min/max/null index, "
    "and a range predicate becomes a pruned file list before the scan "
    "— at 100 TB this is the difference between opening a million "
    "files and opening the dozens whose range intersects. Files with "
    "unknown stats are conservatively kept (pruning only ever skips "
    "provably-empty files), the residual predicate still applies, and "
    "the oracle is the plain full-table filter — layout changes "
    "results never. files_were_pruned asserts the index actually "
    "skipped files on the 16-file range layout; the scale-covariant "
    "bounds derive from MAX(event_id) by integer arithmetic"
)


register("q231_file_stats_pruning", _Q231_ORACLE, _Q231_NOTES)(q231_file_stats_pruning)


def q233_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 4).alias("cohort")
    ).agg(F.count("*").alias("o"))
    rm = cells.groupBy("event_type").agg(F.sum("o").alias("rm"))
    cm = cells.groupBy("cohort").agg(F.sum("o").alias("cm"))
    tot = cells.agg(
        F.sum("o").alias("nn"),
        F.countDistinct("event_type").alias("r"),
        F.countDistinct("cohort").alias("c"),
    )
    j = (
        cells.join(F.broadcast(rm), "event_type")
        .join(F.broadcast(cm), "cohort")
        .crossJoin(F.broadcast(tot))
    )
    e = (F.col("rm") * F.col("cm")) / F.col("nn")
    # per-cell terms are 3 IEEE ops on exact integers (engine-identical);
    # rounding to 9dp + decimal carry makes the cell SUM order-free
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 9).cast(
        "decimal(25,9)"
    )
    return j.agg(
        F.round(F.sum(term).cast("double"), 6).alias("chi2"),
        ((F.max("r") - 1) * (F.max("c") - 1)).cast("long").alias("dof"),
        F.max("nn").cast("long").alias("n"),
    )


_Q233_ORACLE = """
    WITH cells AS (
      SELECT event_type, user_id % 4 AS cohort, COUNT(*) AS o
      FROM events GROUP BY event_type, cohort
    ),
    rm AS (SELECT event_type, SUM(o) AS rm FROM cells GROUP BY event_type),
    cm AS (SELECT cohort, SUM(o) AS cm FROM cells GROUP BY cohort),
    tot AS (
      SELECT SUM(o) AS nn,
             COUNT(DISTINCT event_type) AS r,
             COUNT(DISTINCT cohort) AS c
      FROM cells
    )
    SELECT round(CAST(SUM(CAST(round(
             (cells.o - (rm.rm * cm.cm) / tot.nn)
             * (cells.o - (rm.rm * cm.cm) / tot.nn)
             / ((rm.rm * cm.cm) / tot.nn), 9) AS DECIMAL(25,9)))
             AS DOUBLE), 6) AS chi2,
           CAST((MAX(tot.r) - 1) * (MAX(tot.c) - 1) AS BIGINT) AS dof,
           CAST(MAX(tot.nn) AS BIGINT) AS n
    FROM cells
    JOIN rm ON cells.event_type = rm.event_type
    JOIN cm ON cells.cohort = cm.cohort
    CROSS JOIN tot
"""

_Q233_NOTES = (
    "CHI-SQUARE INDEPENDENCE TEST over a contingency table (is "
    "event_type independent of user cohort? — the categorical "
    "counterpart to q170's OLS and q218's AUC in the statistical "
    "surface): observed cell counts vs rm*cm/N expected margins, "
    "chi2 = sum((o-e)^2/e) with (r-1)(c-1) degrees of freedom. The "
    "contingency table is one grouped count (map-side combinable); "
    "margins and totals are metadata-sized broadcasts; each cell term "
    "is three IEEE ops on exact integers (engine-identical) and the "
    "cell sum rides a 9dp decimal so the reduction is order-free at "
    "any parallelism — chi2 emitted at 6dp (q27 rule)"
)


register("q233_chi_square", _Q233_ORACLE, _Q233_NOTES)(q233_chi_square)


def q235_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-20, -1)
    )
    # decimal-carried rolling sums: mean and variance derive from exact
    # per-frame sums, so the only FP ops are two divisions + one sqrt
    # (both IEEE-exact on identical operands)
    s1 = F.sum(F.col("value").cast("decimal(25,2)")).over(w).cast("double")
    s2 = (
        F.sum(
            (F.col("value") * F.col("value")).cast("decimal(25,4)")
        ).over(w).cast("double")
    )
    cnt = F.count("value").over(w)
    mean = s1 / cnt
    var = (s2 - s1 * s1 / cnt) / (cnt - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    out = (
        ev.withColumn("_n_prev", cnt)
        .withColumn("_z", z)
        .filter((F.col("_n_prev") >= 10) & (F.abs(F.col("_z")) > F.lit(3.0)))
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        F.round("_z", 6).alias("zscore"),
        F.col("_n_prev").cast("long").alias("n_prev"),
    ).orderBy("event_id")


_Q235_ORACLE = """
    WITH base AS (
      SELECT event_id, user_id, ts, value FROM events WHERE value IS NOT NULL
    ),
    rolled AS (
      SELECT event_id, user_id, value,
             CAST(SUM(CAST(value AS DECIMAL(25,2))) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(25,4))) OVER w AS DOUBLE)
               AS s2,
             COUNT(value) OVER w AS cnt
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value,
           round((value - s1 / cnt)
                 / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1)), 6) AS zscore,
           CAST(cnt AS BIGINT) AS n_prev
    FROM rolled
    WHERE cnt >= 10
      AND abs((value - s1 / cnt)
              / sqrt((s2 - s1 * s1 / cnt) / (cnt - 1))) > 3.0
    ORDER BY event_id
"""

_Q235_NOTES = (
    "PER-KEY ROLLING ANOMALY detection (each event scored against its "
    "own user's trailing-20 window: z = (x - mean)/std over ROWS "
    "BETWEEN 20 PRECEDING AND 1 PRECEDING — the leave-current-out "
    "frame, so an outlier can't mask itself; flagged at |z|>3 with a "
    "10-observation warm-up): ONE window shuffle on user_id computes "
    "both rolling moments from decimal-carried exact frame sums, so "
    "the only floating ops are divisions and sqrt on engine-identical "
    "operands (zscore at 6dp for the boundary). The streaming-era "
    "cousin of q157's batch IQR outliers and q200's per-key "
    "volatility; at 100 TB the state is one frame per user — Spark's "
    "bounded ROWS frame, no unbounded history"
)


register("q235_rolling_anomaly", _Q235_ORACLE, _Q235_NOTES)(q235_rolling_anomaly)


def q236_storage_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.fileindex import build_storage_profile

    prof = build_storage_profile(
        spark, os.path.join(sf_dir, "events.parquet")
    )
    agg = prof.groupBy("column").agg(
        F.count("*").cast("long").alias("n_files"),
        F.sum("compressed_bytes").cast("long").alias("compressed"),
        F.sum("uncompressed_bytes").cast("long").alias("uncompressed"),
        F.round(
            F.sum("compressed_bytes") / F.sum("uncompressed_bytes"), 6
        ).alias("ratio"),
    )
    return agg.orderBy("column")


_Q236_NOTES = (
    "PER-COLUMN STORAGE PROFILE from parquet footers (sources/"
    "fileindex.build_storage_profile — 'which column dominates my "
    "100 TB and how well does it compress', answered without reading "
    "one data page): the same distributed footer harvest as q231's "
    "stats index, emitting compressed/uncompressed bytes + value "
    "counts per column chunk. Rows-only BY HARNESS DESIGN: the oracle "
    "harness exposes tables, not file paths, and byte accounting has "
    "no tabular twin — instead tests/test_round7.py cross-validates "
    "the pyarrow harvest BYTE-EXACT against DuckDB's independent "
    "parquet_metadata() reader over the same files (two engines, one "
    "footer), which is a stronger check than a recomputed-SQL oracle"
)


register("q236_storage_profile", None, _Q236_NOTES)(q236_storage_profile)


def q240_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.col("text"), " ").alias("t"))
    uni = toks.select(F.explode("t").alias("w")).groupBy("w").agg(
        F.count("*").cast("long").alias("cw")
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), i -> "
                "struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    big = bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("cab")
    )
    tot = uni.agg(F.sum("cw").alias("nu")).crossJoin(
        big.agg(F.sum("cab").alias("nb"))
    )
    j = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("cw").alias("ca")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cw").alias("cb")), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cab") >= 5)
    )
    pmi = F.round(
        F.log(
            (F.col("cab") * F.col("nu") * F.col("nu"))
            / (F.col("nb") * F.col("ca") * F.col("cb"))
        ),
        6,
    )
    return (
        j.select("w1", "w2", "cab", "ca", "cb", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(25)
    )


_Q240_ORACLE = """
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
      FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ),
    big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cab
      FROM (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> struct_pack(w1 := t[i], w2 := t[i + 1])),
               recursive := true)
        FROM toks
      ) GROUP BY w1, w2
    ),
    tot AS (
      SELECT (SELECT SUM(cw) FROM uni) AS nu,
             (SELECT SUM(cab) FROM big) AS nb
    )
    SELECT b.w1, b.w2, b.cab, ua.cw AS ca, ub.cw AS cb,
           round(ln((b.cab * tot.nu * tot.nu)
                    / (tot.nb * ua.cw * ub.cw)), 6) AS pmi
    FROM big b
    JOIN uni ua ON b.w1 = ua.w
    JOIN uni ub ON b.w2 = ub.w
    CROSS JOIN tot
    WHERE b.cab >= 5
    ORDER BY pmi DESC, w1, w2
    LIMIT 25
"""

_Q240_NOTES = (
    "PMI COLLOCATION mining (which word pairs co-occur adjacently far "
    "beyond chance — the classic phrase-detection signal feeding "
    "tokenizer-vocabulary and boilerplate analysis): bigram counts "
    "from a map-side transform over the token array (no self-join), "
    "unigram margins joined back, pmi = ln(c_ab*N_u^2 / (N_b*c_a*c_b)) "
    "over exact-integer products (bounded: counts x corpus-size "
    "squared stays under 2^63 at fixture scales; production would "
    "carry log-counts), min-count 5 against PMI's rare-pair bias, "
    "6dp rounding for the libm ln. Top-25 fully tie-broken"
)


register("q240_pmi_collocations", _Q240_ORACLE, _Q240_NOTES)(q240_pmi_collocations)


def q241_unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    uni = toks.groupBy("w").agg(F.count("*").cast("long").alias("cw"))
    tot = uni.agg(F.sum("cw").alias("nu"))
    # per-token surprisal -ln(cw/N) rounded 9dp, decimal-carried so the
    # per-doc mean is order-independent; every token is in-vocab by
    # construction (the LM is fit on the same corpus)
    scored = (
        toks.join(uni, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(-F.log(F.col("cw") / F.col("nu")), 9)
            .cast("decimal(25,9)")
            .alias("_s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(
            (F.sum("_s").cast("double") / F.count("*")), 6
        ).alias("cross_entropy"),
    )
    return per_doc.orderBy(F.col("cross_entropy").desc(), "doc_id").limit(50)


_Q241_ORACLE = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY w),
    tot AS (SELECT SUM(cw) AS nu FROM uni),
    scored AS (
      SELECT t.doc_id,
             CAST(round(-ln(u.cw / tot.nu), 9) AS DECIMAL(25,9)) AS s
      FROM toks t JOIN uni u ON t.w = u.w CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS cross_entropy
    FROM scored GROUP BY doc_id
    ORDER BY cross_entropy DESC, doc_id
    LIMIT 50
"""

_Q241_NOTES = (
    "UNIGRAM CROSS-ENTROPY quality scoring (the perplexity-proxy "
    "filter: docs whose tokens are surprising under the corpus's own "
    "unigram LM are outliers — gibberish, wrong language, encoding "
    "damage; the cheap stand-in for a KenLM pass, same plan shape): "
    "token surprisals -ln(c_w/N) join in from the broadcast-scaled "
    "vocabulary table, ride 9dp decimals so per-doc means are "
    "order-independent (q27 ln rule at both the per-token round and "
    "the 6dp emit), and the top-50 most-surprising docs emerge from "
    "one TakeOrderedAndProject. Vocabulary and corpus are the same "
    "pass, so every token is in-vocab by construction"
)


def q242_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cw"))
    )
    tot = uni.agg(F.sum("cw").alias("nu"))
    w = Window.orderBy(F.col("cw").desc(), F.col("w").asc())
    ranked = (
        uni.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum_cov",
            F.sum("cw").over(w.rowsBetween(Window.unboundedPreceding, 0))
            / F.col("nu"),
        )
    )
    targets = [0.5, 0.8, 0.9, 0.95, 0.99]
    out = None
    for t in targets:
        vsize = ranked.filter(F.col("cum_cov") >= F.lit(t)).agg(
            F.min("rank").cast("long").alias("vocab_size")
        ).select(F.lit(t).alias("coverage"), "vocab_size")
        out = vsize if out is None else out.unionAll(vsize)
    return out.orderBy("coverage")


_Q242_ORACLE = """
    WITH uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    tot AS (SELECT SUM(cw) AS nu FROM uni),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY cw DESC, w) AS rank,
             SUM(cw) OVER (ORDER BY cw DESC, w
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / tot.nu AS cum_cov
      FROM uni CROSS JOIN tot
    )
    SELECT CAST(t.coverage AS DOUBLE) AS coverage,
           CAST(MIN(rank) AS BIGINT) AS vocab_size
    FROM (VALUES (0.5), (0.8), (0.9), (0.95), (0.99)) t(coverage)
    JOIN ranked r ON r.cum_cov >= CAST(t.coverage AS DOUBLE)
    GROUP BY t.coverage
    ORDER BY coverage
"""

_Q242_NOTES = (
    "VOCABULARY COVERAGE CURVE (how many types cover 50/80/90/95/99% "
    "of tokens — the tokenizer-budget question behind every vocab-size "
    "decision, and the Zipf-shape fingerprint of a corpus): the "
    "frequency-ordered cumulative-coverage window runs over the "
    "VOCABULARY table (types, not tokens — metadata-sized next to the "
    "corpus; the single-partition window is over that small table, "
    "the q238 risk-table discipline), and each coverage threshold is "
    "a min-rank lookup. cum_cov is exact-integer running sum / total "
    "— one IEEE division per row, engine-exact; thresholds compare "
    "against exact literals"
)


register("q241_unigram_cross_entropy", _Q241_ORACLE, _Q241_NOTES)(
    q241_unigram_cross_entropy
)
register("q242_vocab_coverage", _Q242_ORACLE, _Q242_NOTES)(q242_vocab_coverage)


def q249_stable_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rownumber import stable_row_number

    li = read_table(spark, sf_dir, "lineitem")
    key = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"]
    out = stable_row_number(li, key, out_col="row_num")
    return (
        out.filter((F.col("row_num") % 997) == 1)
        .select("l_orderkey", "l_linenumber", "row_num")
        .orderBy("row_num")
    )


_Q249_ORACLE = """
    WITH r AS (
      SELECT l_orderkey, l_linenumber,
             ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber,
                                         l_partkey, l_suppkey,
                                         l_extendedprice) AS row_num
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, CAST(row_num AS BIGINT) AS row_num
    FROM r WHERE row_num % 997 = 1 ORDER BY row_num
"""

_Q249_NOTES = (
    "STABLE GLOBAL ROW NUMBER (operators/rownumber.stable_row_number — "
    "the PRIMITIVE that retires the single-partition-window class the "
    "q184/q77 weak marks came from): range-exchange on the order key "
    "(disjoint ordered partitions, the distributed-ORDER-BY machinery), "
    "per-partition row_number windows that run in PARALLEL, and a "
    "#partitions-row count aggregation turned into broadcast prefix "
    "offsets. Where range boundaries fall never changes the answer "
    "under a total order key (rank = rows strictly before, boundary- "
    "invariant); the shuffled result is persisted so the offset map "
    "and the windowed pass see identical boundaries. Plan-gated: NO "
    "SinglePartition exchange anywhere (tests/test_round7.py). The "
    "5-column key makes the fixture order total (the synthetic "
    "lineitem duplicates (orderkey,linenumber))"
)


register("q249_stable_row_number", _Q249_ORACLE, _Q249_NOTES)(q249_stable_row_number)


def q250_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    doc_bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(t) - 2), i -> "
                "struct(t[i] AS w1, t[i + 1] AS w2))"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("cw"))
    )
    big = doc_bigrams.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("cab")
    )
    tot = uni.agg(F.sum("cw").alias("nu"))
    # p(w2|w1) = 0.7*c12/c1 + 0.3*c2/N  (interpolated backoff; every
    # term in-vocab by construction - the LM is fit on the same corpus)
    scored = (
        doc_bigrams.join(big, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), F.col("cw").alias("ca")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cw").alias("cb")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                -F.log(
                    F.lit(0.7) * F.col("cab") / F.col("ca")
                    + F.lit(0.3) * F.col("cb") / F.col("nu")
                ),
                9,
            )
            .cast("decimal(25,9)")
            .alias("_s"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.sum("_s").cast("double") / F.count("*"), 6).alias(
            "bigram_cross_entropy"
        ),
    )
    return per_doc.orderBy(F.col("bigram_cross_entropy").desc(), "doc_id").limit(50)


_Q250_ORACLE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    doc_big AS (
      SELECT doc_id, w1, w2
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> struct_pack(w1 := t[i], w2 := t[i + 1])),
               recursive := true)
        FROM toks
      )
    ),
    uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cw
      FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY w
    ),
    big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cab
      FROM doc_big GROUP BY w1, w2
    ),
    tot AS (SELECT SUM(cw) AS nu FROM uni),
    scored AS (
      SELECT d.doc_id,
             CAST(round(-ln(CAST(0.7 AS DOUBLE) * b.cab / ua.cw
                            + CAST(0.3 AS DOUBLE) * ub.cw / tot.nu), 9)
                  AS DECIMAL(25,9)) AS s
      FROM doc_big d
      JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
      JOIN uni ua ON d.w1 = ua.w
      JOIN uni ub ON d.w2 = ub.w
      CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(s) AS DOUBLE) / COUNT(*), 6) AS bigram_cross_entropy
    FROM scored GROUP BY doc_id
    ORDER BY bigram_cross_entropy DESC, doc_id
    LIMIT 50
"""

_Q250_NOTES = (
    "INTERPOLATED BIGRAM LM SCORING (the order-2 upgrade of q241's "
    "unigram perplexity proxy — the filter that catches word-salad "
    "docs whose unigrams are individually common but whose transitions "
    "are improbable): p(w2|w1) = 0.7*c12/c1 + 0.3*c2/N with both count "
    "tables from ONE tokenization pass (bigrams are a map-side "
    "transform over the token array, q240's zero-self-join shape); "
    "per-bigram surprisals ride 9dp decimals so per-doc means are "
    "order-independent (q241 rule); the count joins are plain hash "
    "joins on (w1,w2)/w — shuffle-partitioned, no broadcast assumption "
    "on the bigram vocabulary, which at 100 TB is large. Top-50 via "
    "TakeOrderedAndProject"
)


register("q250_bigram_lm_score", _Q250_ORACLE, _Q250_NOTES)(q250_bigram_lm_score)


def q268_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangular cohort-retention matrix: users cohorted by their
    first-activity month; each later month's retention is the distinct
    active share of the cohort. The analytics classic the KM survival
    curve (q238) summarizes — this is the full matrix form.

    Plan: one distinct (user, month) projection feeds BOTH the cohort
    assignment (min month per user) and the activity matrix — the
    cohort frame is user-sized and broadcasts; ratios are small-int
    divisions (sub-2^53 → raw doubles bit-portable)."""
    ev = read_table(spark, sf_dir, "events")
    um = (
        ev.select(
            "user_id",
            F.date_trunc("month", F.col("ts").cast("timestamp")).alias("m"),
        )
        .distinct()
    )
    cohorts = um.groupBy("user_id").agg(F.min("m").alias("cohort_month"))
    sizes = cohorts.groupBy("cohort_month").agg(
        F.count("*").alias("cohort_size")
    )
    mat = (
        um.join(F.broadcast(cohorts), "user_id")
        .select(
            "user_id",
            "cohort_month",
            F.months_between(F.col("m"), F.col("cohort_month"))
            .cast("int")
            .alias("month_offset"),
        )
        .groupBy("cohort_month", "month_offset")
        .agg(F.count("*").alias("n_active"))
    )
    return (
        mat.join(F.broadcast(sizes), "cohort_month")
        .select(
            "cohort_month",
            "month_offset",
            "n_active",
            "cohort_size",
            (
                F.col("n_active").cast("double") / F.col("cohort_size")
            ).alias("retention"),
        )
        .orderBy("cohort_month", "month_offset")
    )


_Q268_ORACLE = """
    WITH um AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('month', ts) AS TIMESTAMP) AS m
      FROM events
    ),
    cohorts AS (
      SELECT user_id, MIN(m) AS cohort_month FROM um GROUP BY 1
    ),
    sizes AS (
      SELECT cohort_month, COUNT(*) AS cohort_size FROM cohorts GROUP BY 1
    ),
    mat AS (
      SELECT c.cohort_month,
             CAST(date_diff('month', c.cohort_month, u.m) AS INTEGER)
               AS month_offset,
             COUNT(*) AS n_active
      FROM um u JOIN cohorts c USING (user_id)
      GROUP BY 1, 2
    )
    SELECT m.cohort_month, m.month_offset, m.n_active, s.cohort_size,
           CAST(m.n_active AS DOUBLE) / s.cohort_size AS retention
    FROM mat m JOIN sizes s USING (cohort_month)
    ORDER BY m.cohort_month, m.month_offset
"""

_Q268_NOTES = (
    "COHORT RETENTION MATRIX (first-activity-month cohorts x month "
    "offset, distinct-active share — the full-matrix form of q238's "
    "survival summary): ONE distinct (user, month) projection feeds "
    "both cohort assignment and the activity matrix; the cohort frame "
    "is user-sized and broadcasts, so the event corpus is scanned "
    "once and never re-shuffled. Month arithmetic is exact on "
    "truncated dates in both engines; retention ratios are small-int "
    "divisions — raw-double bit-portable per the SCALE.md taxonomy"
)


register("q268_cohort_retention", _Q268_ORACLE, _Q268_NOTES)(q268_cohort_retention)


def q299_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized-view maintenance differential: history (first
    ~80% of orders by key hash) is aggregated ONCE into a base table;
    the remaining delta folds in via merge_aggregates; the refreshed
    table must equal the oracle's full recompute over ALL orders —
    merge(agg(A), agg(B)) == agg(A ∪ B), pinned cross-engine."""
    from ..operators.aggregate import aggregate_table, merge_aggregates

    orders = read_table(spark, sf_dir, "orders").withColumn(
        "_p", F.col("o_totalprice").cast("decimal(28,2)")
    )
    specs = {
        "n_orders": ("count", None),
        "revenue": ("sum", "_p"),
        "first_date": ("min", "o_orderdate"),
        "last_date": ("max", "o_orderdate"),
    }
    hist = orders.filter(F.col("o_orderkey") % 5 != 0)
    delta = orders.filter(F.col("o_orderkey") % 5 == 0)
    base = aggregate_table(hist, ["o_orderpriority"], specs)
    merged = merge_aggregates(base, delta, ["o_orderpriority"], specs)
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.col("revenue").cast("double").alias("revenue"),
        "first_date",
        "last_date",
    ).orderBy("o_orderpriority")


_Q299_ORACLE = """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             AS revenue,
           MIN(o_orderdate) AS first_date,
           MAX(o_orderdate) AS last_date
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

_Q299_NOTES = (
    "INCREMENTAL AGGREGATE MAINTENANCE (operators/aggregate."
    "merge_aggregates — fold an append-only delta into a materialized "
    "aggregate table, cost |delta| + |table|, never a history rescan: "
    "the day's 100 GB refreshes a view over years): mergeable monoid "
    "aggs only (count/sum by SUM, min/max by themselves; avg derives "
    "from sum+count at read time, non-decomposable aggs routed to the "
    "sketch family by a ValueError). The DIFFERENTIAL is the whole "
    "point: the oracle recomputes from ALL raw rows while Spark merges "
    "base+delta — hash equality proves merge(agg(A), agg(B)) == "
    "agg(A UNION B) down to the decimal sums"
)


register("q299_incremental_agg", _Q299_ORACLE, _Q299_NOTES)(q299_incremental_agg)


# --- q325: XML source round-trip ---------------------------------------------


def q325_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML corpus ingestion end-to-end (sources.read_xml — Spark 4's
    built-in xml format, no external jar): write the documents table as
    XML (the writer escapes markup-significant text), read it back with
    an EXPLICIT schema per the §1.5 rule, and aggregate per (lang,
    source). The oracle runs the same aggregate on the parquet table
    directly — any loss/corruption in either XML pass (escaping,
    schema coercion, nulls) breaks the hash."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..sources import read_xml

    docs = read_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="q325_xml_")
    path = os.path.join(d, "docs")
    docs.write.format("xml").option("rootTag", "corpus").option(
        "rowTag", "doc"
    ).save(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = read_xml(spark, path, row_tag="doc", schema=schema)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
        .orderBy("lang", "source")
    )


_Q325_ORACLE = """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_text_len
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
"""

_Q325_NOTES = (
    "XML SOURCE ROUND-TRIP (sources.read_xml — Spark 4 built-in xml "
    "format, rowTag rows, explicit schema per the never-inferSchema "
    "rule; the feed/dump formats — RSS, wiki exports, PubMed — text "
    "ingestion still meets): write-then-read the documents table "
    "through XML and aggregate; the oracle aggregates the parquet "
    "directly, so any escaping/coercion loss in either XML pass "
    "hash-fails. Avro probed NOT bundled (external module) — "
    "documented boundary, not a stub"
)

register("q325_xml_source", _Q325_ORACLE, _Q325_NOTES)(q325_xml_source)


# --- q345: parquet bloom-filter write/read path --------------------------------


def _ensure_bloom_table(spark: SparkSession, sf_dir: str) -> str:
    """Write-once bloom-indexed copy of documents (the q144 fixture
    discipline: mtime-stamped marker invalidates on driver-regenerated
    testdata; _fixtures.fixture_once serializes concurrent builders)."""
    import os
    import tempfile

    from ..sources.writers import write_parquet_bloom
    from ._fixtures import fixture_once, source_stamp

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"dbkit_bloom_docs_{tag}")
    return fixture_once(
        path,
        source_stamp(sf_dir, "documents"),
        lambda: write_parquet_bloom(
            read_table(spark, sf_dir, "documents"),
            path,
            bloom_cols=["doc_id", "source"],
            expected_ndv=100_000,
        ),
    )


def q345_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective id-IN-list lookup against the bloom-indexed table —
    the workload the filter exists for. The oracle is the same lookup
    on the raw table: bloom filters change LAYOUT (row-group skips),
    never results; the size/plan evidence lives in
    tests/test_round10.py."""
    path = _ensure_bloom_table(spark, sf_dir)
    keys = [7, 113, 1009, 20011, 54321]
    return (
        spark.read.parquet(path)
        .filter(F.col("doc_id").isin(keys))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


_Q345_ORACLE = """
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE doc_id IN (7, 113, 1009, 20011, 54321)
    ORDER BY doc_id
"""

_Q345_NOTES = (
    "PARQUET SPLIT-BLOCK BLOOM FILTER write/read path (sources/writers."
    "write_parquet_bloom — the footer-adjacent point-lookup index next "
    "to the footer min/max index: stats prune ranges, blooms prune "
    "needle-in-haystack key lookups on high-cardinality unsorted "
    "columns where every row group spans the full key range): standard "
    "parquet-mr options, spec-conforming files any reader prunes with; "
    "the query round-trips a selective IN-list through the indexed "
    "table and the oracle proves semantic transparency on the raw "
    "table; pytest pins the filter bytes actually landing (footer size "
    "delta) and the predicate reaching the scan"
)

register("q345_bloom_point_lookup", _Q345_ORACLE, _Q345_NOTES)(q345_bloom_point_lookup)


# --- q348: schema-evolution merged read ----------------------------------------


def _ensure_evolved_dirs(spark: SparkSession, sf_dir: str) -> str:
    """Write-once two-generation parquet history (q144 fixture
    discipline; _fixtures.fixture_once serializes concurrent builders):
    generation 1 (even event_ids) predates the event_type column;
    generation 2 (odd) carries it."""
    import os
    import tempfile

    from ._fixtures import fixture_once, source_stamp

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"dbkit_evolved_events_{tag}")

    def build() -> None:
        ev = read_table(spark, sf_dir, "events")
        (
            ev.filter(F.col("event_id") % 2 == 0)
            .select("event_id", "user_id", "value")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "gen=1"))
        )
        (
            ev.filter(F.col("event_id") % 2 == 1)
            .select("event_id", "user_id", "value", "event_type")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "gen=2"))
        )

    return fixture_once(path, source_stamp(sf_dir, "events"), build)


def q348_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-footer read over an evolving parquet history
    (sources/readers.read_parquet_evolved): generation-1 files predate
    the event_type column and must surface NULLs for it, not silently
    drop the column when an old footer wins the listing race (the
    default-reader trap)."""
    import os

    from ..sources.readers import read_parquet_evolved

    path = _ensure_evolved_dirs(spark, sf_dir)
    merged = read_parquet_evolved(
        spark, os.path.join(path, "gen=1"), os.path.join(path, "gen=2")
    )
    return merged.select(
        "event_id", "user_id", "value", "event_type"
    ).orderBy("event_id")


_Q348_ORACLE = """
    SELECT event_id, user_id, value, CAST(NULL AS VARCHAR) AS event_type
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, user_id, value, event_type
    FROM events WHERE event_id % 2 = 1
    ORDER BY event_id
"""

_Q348_NOTES = (
    "SCHEMA-EVOLUTION MERGED READ (sources/readers.read_parquet_evolved "
    "— the long-lived-table reality: columns appear over months of "
    "appends and the reader must span the whole history): mergeSchema "
    "reconciles EVERY file footer (O(files) metadata, never data) so "
    "generation-1 files surface NULL for the late-added column instead "
    "of the default reader's silent column drop when an old footer "
    "wins the listing race. Fixture writes two generations write-once "
    "(mtime-stamped); the oracle derives the merged table from the "
    "generation rule, independent of the files"
)

register("q348_schema_evolution_read", _Q348_ORACLE, _Q348_NOTES)(
    q348_schema_evolution_read
)


# --- q349: last-touch marketing attribution -------------------------------------


def q349_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution (the asof-join applied to the
    question every growth team asks): each purchase attributes its value
    to the user's most recent click/view within a 7-day lookback, or
    'direct' when none — operators/joins.asof_join with tolerance does
    the whole thing in one key-sorted pass, no per-purchase scan."""
    from ..operators.aggregate import stable_sum
    from ..operators.joins import asof_join

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin(["click", "view"])).select(
        "user_id",
        "ts",
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("tid"),
    )
    joined = asof_join(
        purchases,
        touches,
        on_key="user_id",
        on_time="ts",
        direction="backward",
        tolerance="7 days",
    )
    return (
        joined.select(
            F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            stable_sum("value", 2).alias("revenue"),
        )
        .orderBy("channel")
    )


_Q349_ORACLE = """
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id, ts, event_type AS channel, event_id AS tid
      FROM events WHERE event_type IN ('click', 'view')
    ),
    ranked AS (
      SELECT p.event_id, p.value, t.channel,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY t.ts DESC, t.channel DESC, t.tid DESC
             ) AS rn
      FROM p JOIN t ON t.user_id = p.user_id
        AND t.ts <= p.ts
        AND t.ts >= p.ts - INTERVAL 7 DAY
    ),
    attributed AS (
      SELECT p.event_id, p.value, COALESCE(r.channel, 'direct') AS channel
      FROM p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
        ON r.event_id = p.event_id
    )
    SELECT channel, COUNT(*) AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(38,2))) AS DOUBLE) AS revenue
    FROM attributed GROUP BY channel ORDER BY channel
"""

_Q349_NOTES = (
    "LAST-TOUCH REVENUE ATTRIBUTION (operators/joins.asof_join applied "
    "to marketing attribution — each purchase credits the user's most "
    "recent click/view inside a 7-day lookback, else 'direct'): the "
    "asof union-sort-carry pattern does every purchase in ONE "
    "user-keyed sorted pass (no per-purchase probe, no range "
    "explosion); tolerance nulls matches beyond the lookback map-side; "
    "same-ts touch ties break on the greatest payload tuple (the asof "
    "determinism contract), which the oracle's rank replays; revenue "
    "rides 2dp decimals"
)

register("q349_last_touch_attribution", _Q349_ORACLE, _Q349_NOTES)(
    q349_last_touch_attribution
)


# --- q350: RFM customer segmentation --------------------------------------------


def q350_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintile scores
    + rule segments) — scored against BROADCAST exact-quantile
    boundaries instead of a global ntile window: ntile needs one total
    order (a SinglePartition sort over every customer); boundary
    scoring is one metadata-sized percentile agg + a map-side
    comparison, the q171 winsorize join-back shape, so customers never
    globally sort. Ties at a boundary share a score (strictly-greater
    counting), which is also more honest than ntile's arbitrary
    position split."""
    from ..operators.aggregate import stable_sum

    o = read_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("_anchor"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("_last"),
            F.count("*").cast("long").alias("n_orders"),
            stable_sum("o_totalprice", 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("_anchor", "_last").cast("long").alias("recency_days"),
            "n_orders",
            "monetary",
        )
    )
    probs = "array(0.2, 0.4, 0.6, 0.8)"
    bounds = cust.agg(
        F.expr(f"percentile(recency_days, {probs})").alias("_rb"),
        F.expr(f"percentile(n_orders, {probs})").alias("_fb"),
        F.expr(f"percentile(monetary, {probs})").alias("_mb"),
    )

    def score(v, arr):
        s = F.lit(1)
        for i in range(4):
            s = s + F.when(F.col(v) > F.element_at(F.col(arr), i + 1), 1).otherwise(0)
        return s.cast("int")

    scored = cust.crossJoin(F.broadcast(bounds)).select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        (F.lit(6) - score("recency_days", "_rb")).cast("int").alias("r_score"),
        score("n_orders", "_fb").alias("f_score"),
        score("monetary", "_mb").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
    )
    return scored.withColumn("segment", seg).orderBy("o_custkey")


_Q350_ORACLE = """
    WITH cust AS (
      SELECT o_custkey,
             date_diff('day',
                       MAX(CAST(o_orderdate AS DATE)),
                       (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders))
               AS recency_days,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
             quantile_cont(n_orders, [0.2, 0.4, 0.6, 0.8]) AS fb,
             quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
      FROM cust
    ),
    scored AS (
      SELECT c.o_custkey, c.recency_days, c.n_orders, c.monetary,
             CAST(6 - (1 + (c.recency_days > b.rb[1])::INT
                         + (c.recency_days > b.rb[2])::INT
                         + (c.recency_days > b.rb[3])::INT
                         + (c.recency_days > b.rb[4])::INT) AS INTEGER)
               AS r_score,
             CAST(1 + (c.n_orders > b.fb[1])::INT
                    + (c.n_orders > b.fb[2])::INT
                    + (c.n_orders > b.fb[3])::INT
                    + (c.n_orders > b.fb[4])::INT AS INTEGER) AS f_score,
             CAST(1 + (c.monetary > b.mb[1])::INT
                    + (c.monetary > b.mb[2])::INT
                    + (c.monetary > b.mb[3])::INT
                    + (c.monetary > b.mb[4])::INT AS INTEGER) AS m_score
      FROM cust c, b
    )
    SELECT *,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored ORDER BY o_custkey
"""

_Q350_NOTES = (
    "RFM CUSTOMER SEGMENTATION (recency/frequency/monetary quintile "
    "scores + rule segments — the standard marketing-analytics readout "
    "next to q268 retention and q283 funnel): scored against BROADCAST "
    "exact-percentile boundaries (one metadata-sized agg + map-side "
    "comparisons, the q171 join-back-aggregate shape) instead of a "
    "global ntile — no SinglePartition sort at any customer count; "
    "Spark percentile == DuckDB quantile_cont (the q21/q171 parity "
    "pin); monetary rides 2dp decimals; boundary ties share a score "
    "(strictly-greater counting, engine-exact)"
)

register("q350_rfm_segments", _Q350_ORACLE, _Q350_NOTES)(q350_rfm_segments)


# --- q352: lift / gains chart ------------------------------------------------


def q352_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & gains table — the model-evaluation readout next to
    q336 PR-AP and q299-family calibration: customers ranked by score
    (acctbal as the stand-in model score), positives = placed an urgent
    order; per decile the cumulative capture rate and lift. Deciles are
    assigned against BROADCAST exact-percentile boundaries (the q350
    discipline — no global ntile sort); the cumulative window runs over
    the 10-row decile table (the q238 risk-table discipline)."""
    from pyspark.sql import Window

    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    cust = c.join(
        o.select("o_custkey").distinct().withColumn("_pos", F.lit(1)),
        c["c_custkey"] == F.col("o_custkey"),
        "left",
    ).select(
        "c_custkey",
        F.col("c_acctbal").alias("score"),
        F.coalesce("_pos", F.lit(0)).alias("label"),
    )
    probs = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"
    bounds = cust.agg(F.expr(f"percentile(score, {probs})").alias("_b"))
    bucket = F.lit(1)
    for i in range(9):
        bucket = bucket + F.when(
            F.col("score") > F.element_at(F.col("_b"), i + 1), 1
        ).otherwise(0)
    per = (
        cust.crossJoin(F.broadcast(bounds))
        .select((F.lit(11) - bucket).cast("int").alias("decile"), "label")
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("label").cast("long").alias("positives"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.select(
            "decile",
            "n",
            "positives",
            F.sum("n").over(w).alias("cum_n"),
            F.sum("positives").over(w).alias("cum_pos"),
            F.sum("n").over(tot).alias("_tn"),
            F.sum("positives").over(tot).alias("_tp"),
        )
        .select(
            "decile",
            "n",
            "positives",
            "cum_n",
            "cum_pos",
            (F.col("cum_pos").cast("double") / F.col("_tp")).alias("gain"),
            (
                (F.col("cum_pos") * F.col("_tn")).cast("double")
                / (F.col("cum_n") * F.col("_tp"))
            ).alias("lift"),
        )
        .orderBy("decile")
    )


_Q352_ORACLE = """
    WITH pos AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderpriority = '1-URGENT'
    ),
    cust AS (
      SELECT c.c_custkey, c.c_acctbal AS score,
             CASE WHEN p.o_custkey IS NULL THEN 0 ELSE 1 END AS label
      FROM customer c LEFT JOIN pos p ON p.o_custkey = c.c_custkey
    ),
    b AS (
      SELECT quantile_cont(score,
               [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qb
      FROM cust
    ),
    bucketed AS (
      SELECT CAST(11 - (1 + (score > qb[1])::INT + (score > qb[2])::INT
               + (score > qb[3])::INT + (score > qb[4])::INT
               + (score > qb[5])::INT + (score > qb[6])::INT
               + (score > qb[7])::INT + (score > qb[8])::INT
               + (score > qb[9])::INT) AS INTEGER) AS decile, label
      FROM cust, b
    ),
    per AS (
      SELECT decile, COUNT(*) AS n, SUM(label) AS positives
      FROM bucketed GROUP BY decile
    ),
    cum AS (
      SELECT decile, n, positives,
             SUM(n) OVER (ORDER BY decile) AS cum_n,
             SUM(positives) OVER (ORDER BY decile) AS cum_pos,
             SUM(n) OVER () AS tn,
             SUM(positives) OVER () AS tp
      FROM per
    )
    SELECT decile, CAST(n AS BIGINT) AS n,
           CAST(positives AS BIGINT) AS positives,
           CAST(cum_n AS BIGINT) AS cum_n,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST(cum_pos AS DOUBLE) / tp AS gain,
           CAST(cum_pos * tn AS DOUBLE) / (cum_n * tp) AS lift
    FROM cum ORDER BY decile
"""

_Q352_NOTES = (
    "DECILE LIFT / GAINS TABLE (the campaign-targeting readout next to "
    "q336 PR-AP and the calibration family: how much of the positive "
    "class does the top-k%% scored population capture, and at what "
    "multiple of random): deciles assigned against BROADCAST exact-"
    "percentile boundaries — one metadata-sized agg + map-side "
    "comparisons, never a global ntile sort (the q350 discipline; "
    "boundary ties share a decile, engine-exact) — then the cumulative "
    "window runs over the 10-row decile table (q238 risk-table "
    "discipline). gain and lift are single IEEE divisions of exact "
    "integer products"
)

register("q352_lift_gains", _Q352_ORACLE, _Q352_NOTES)(q352_lift_gains)


# --- q369: multi-touch (linear) attribution ---------------------------------------


def q369_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution — the fractional-credit
    complement of q349's last-touch: each purchase splits its value
    EQUALLY across every click/view in the 7-day lookback (winner-
    take-all last-touch over-credits the final retargeting click; the
    linear model is the standard first alternative). Purchases with no
    touch credit 'direct' in full."""
    from pyspark.sql import Window

    from ..operators.aggregate import dec

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin(["click", "view"])).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    joined = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") <= F.col("ts"))
        & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    w = Window.partitionBy("pid")
    credited = joined.select(
        F.coalesce("channel", F.lit("direct")).alias("channel"),
        F.round(
            F.col("value") / F.count("*").over(w).cast("double"), 6
        ).alias("credit"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_credits"),
            F.sum(dec("credit", 6)).cast("double").alias("revenue"),
        )
        .orderBy("channel")
    )


_Q369_ORACLE = """
    WITH p AS (
      SELECT event_id AS pid, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id AS t_user, ts AS t_ts, event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    joined AS (
      SELECT p.pid, p.value, t.channel
      FROM p LEFT JOIN t ON t.t_user = p.user_id
        AND t.t_ts <= p.ts
        AND t.t_ts >= p.ts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT COALESCE(channel, 'direct') AS channel,
             round(value / CAST(COUNT(*) OVER (PARTITION BY pid) AS DOUBLE),
                   6) AS credit
      FROM joined
    )
    SELECT channel, COUNT(*) AS n_credits,
           CAST(SUM(CAST(credit AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM credited GROUP BY channel ORDER BY channel
"""

_Q369_NOTES = (
    "MULTI-TOUCH LINEAR ATTRIBUTION (the fractional-credit complement "
    "of q349's last-touch asof — winner-take-all over-credits the "
    "final retargeting click; linear is the standard first multi-touch "
    "model): ONE user-keyed equi-join with the 7-day lookback as a "
    "residual range predicate (hash join, never NLJ — fanout bounded "
    "by per-user touch activity inside the window), one purchase-keyed "
    "count window for the equal split, one channel agg. Credit = "
    "value/n is a pure IEEE division of exact inputs, 6dp-rounded "
    "before the decimal-stabilized sum — hash-identical in DuckDB; "
    "credit conservation (sum of credits == sum of purchase values) "
    "pytest-pinned"
)

register("q369_linear_attribution", _Q369_ORACLE, _Q369_NOTES)(q369_linear_attribution)

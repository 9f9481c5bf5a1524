"""Analytics queries: profiling and data quality, time series (gap-fill,
SCD2, EWMA, CUSUM, forecasting), sketches and histograms, graph
algorithms, drift and distribution tests, feature engineering, privacy
(k-anonymity, DP counts) and the statistics over them.

Placement rule row 5: a query lands here when it references an
``operators.*`` module outside the relational core (aggregate, joins,
setops, window, rownumber, sort, filter, project, grouped,
rollup_hierarchy) and no streaming, evaluation, similarity or LLM/text
module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..functions.portable_hash import salted
from ..functions.text import token_hash24
from ..operators.aggregate import stable_sum, stable_sum_sql
from ..operators.timeseries import gapfill_locf, scd2_history
from ..sources import read_table
from ._sql import (
    _DENS,
    _Q256_ORACLE,
    _hash_mod,
    _hash_mod_sql,
    _multi_sql,
    _multi_sys_scores,
    _shard_sql,
)


def _profile_col_sql(c: str) -> str:
    return f"""
    SELECT '{c}' AS "column", COUNT(*) AS n,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_str,
           CAST(MAX({c}) AS VARCHAR) AS max_str
    FROM orders
    """


@register(
    "q75_profile_table",
    oracle=" UNION ALL ".join(
        _profile_col_sql(c)
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    ),
    notes="one-pass per-column data-quality profile (operators/profile): "
    "all columns' n/null/distinct/min/max in a single aggregation + "
    "explode-unpivot (a union-of-projections would re-run the agg per "
    "column); ingest-gating tool for training pipelines",
)
def q75_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_table

    orders = read_table(spark, sf_dir, "orders")
    # exact_distinct opt-in: the API default is approx (the 100 TB path);
    # the oracle computes exact COUNT(DISTINCT), so this query pins exact.
    return profile_table(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
        exact_distinct=True,
    )


@register(
    "q79_zorder_clustering",
    # Oracle (r10, VERDICT item 6 — formerly rows-only): the replayable
    # z-order variant derives boundaries from an md5-deterministic
    # sample (u32(md5(key ':zorder')) < floor(0.3*2^32) = 1288490188)
    # and type-1 quantile ORDER STATISTICS (rank ceil(i*n/256) — exact:
    # i*n fits a double and /256 is a power-of-two division), so DuckDB
    # replays sample, boundaries, bisect count, and Morton interleave
    # bit-for-bit. The default zorder_value (random bounded sample)
    # stays the rewrite throughput path; its pruning win is
    # pytest-measured in tests/test_scale.py.
    oracle="""
    WITH samp AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v1,
             CAST(o_custkey AS DOUBLE) AS v2
      FROM orders
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)
                                     || ':zorder'), 1, 8)) AS BIGINT)
            < 1288490188
    ),
    nn AS (SELECT COUNT(*) AS n FROM samp),
    idx AS (SELECT UNNEST(generate_series(1, 255)) AS i),
    r1 AS (SELECT v1 AS v, row_number() OVER (ORDER BY v1) AS rn FROM samp),
    r2 AS (SELECT v2 AS v, row_number() OVER (ORDER BY v2) AS rn FROM samp),
    b1 AS (
      SELECT i, (SELECT MIN(v) FROM r1
                 WHERE rn = CAST(ceil(i * nn.n / 256.0) AS BIGINT)) AS b
      FROM idx, nn
    ),
    b2 AS (
      SELECT i, (SELECT MIN(v) FROM r2
                 WHERE rn = CAST(ceil(i * nn.n / 256.0) AS BIGINT)) AS b
      FROM idx, nn
    ),
    bk AS (
      SELECT o.o_orderkey,
             LEAST((SELECT COUNT(*) FROM b1
                    WHERE b1.b <= CAST(o.o_totalprice AS DOUBLE)),
                   255) AS k1,
             LEAST((SELECT COUNT(*) FROM b2
                    WHERE b2.b <= CAST(o.o_custkey AS DOUBLE)),
                   255) AS k2
      FROM orders o
    )
    SELECT o_orderkey,
           CAST((
             (((k1 >> 0) & 1) << 0)  + (((k2 >> 0) & 1) << 1)  +
             (((k1 >> 1) & 1) << 2)  + (((k2 >> 1) & 1) << 3)  +
             (((k1 >> 2) & 1) << 4)  + (((k2 >> 2) & 1) << 5)  +
             (((k1 >> 3) & 1) << 6)  + (((k2 >> 3) & 1) << 7)  +
             (((k1 >> 4) & 1) << 8)  + (((k2 >> 4) & 1) << 9)  +
             (((k1 >> 5) & 1) << 10) + (((k2 >> 5) & 1) << 11) +
             (((k1 >> 6) & 1) << 12) + (((k2 >> 6) & 1) << 13) +
             (((k1 >> 7) & 1) << 14) + (((k2 >> 7) & 1) << 15)
           ) AS BIGINT) AS __z
    FROM bk
    """,
    notes="z-order/Morton clustering (operators/zorder."
    "zorder_value_replayable): equi-depth rank buckets from "
    "md5-deterministic-sample ORDER-STATISTIC boundaries (type-1 "
    "quantiles at rank ceil(i*n/256) — element picks, never "
    "interpolation, so every boundary is bit-exact cross-engine) + "
    "map-side 8-bit bisect + Morton interleave -> multi-dimensional "
    "data skipping; the oracle replays sample, boundaries, bucket "
    "counts and the interleave exactly. The random-sample "
    "zorder_value stays the table-rewrite throughput path "
    "(tests/test_scale.py measures its pruning win)",
)
def q79_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.zorder import zorder_value_replayable

    orders = read_table(spark, sf_dir, "orders")
    return zorder_value_replayable(
        orders, ["o_totalprice", "o_custkey"], key_col="o_orderkey"
    ).select("o_orderkey", "__z")


_EPOCH = "TIMESTAMP '1970-01-01 00:00:00'"


# --- time-series gap-fill + LOCF ------------------------------------------
@register(
    "q101_gapfill_locf",
    oracle=f"""
    WITH agg AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS be,
             COUNT(*) AS n_events,
             {stable_sum_sql("value", 6)} AS total_value
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, MIN(be) AS mn, MAX(be) AS mx FROM agg GROUP BY 1
    ), spine AS (
      SELECT b.event_type, gs.be
      FROM bounds b, UNNEST(generate_series(b.mn, b.mx, 3600)) AS gs(be)
    )
    SELECT s.event_type,
           {_EPOCH} + to_seconds(s.be) AS bucket_ts,
           COALESCE(a.n_events, 0) AS n_events,
           a.n_events IS NULL AS is_gap,
           last_value(a.total_value IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.be
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS total_value_locf
    FROM spine s LEFT JOIN agg a USING (event_type, be)
    """,
    notes="time_bucket_gapfill + LOCF (operators/timeseries.gapfill_locf): "
    "hourly buckets per event_type densified to a per-key spine "
    "(integer sequence explode from a min/max agg — no calendar cross "
    "join), gaps filled by last-observation-carried-forward window; "
    "raw events aggregated exactly once",
)
def q101_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return gapfill_locf(
        events,
        "ts",
        ["event_type"],
        {"total_value": stable_sum("value", 6)},
        bucket="1 hour",
    )


# --- SCD2 dimension history -----------------------------------------------
@register(
    "q102_scd2_user_state",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev IS NULL OR event_type <> prev
    )
    SELECT user_id, event_type,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           row_number() OVER w AS version,
           lead(ts) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    notes="SCD type-2 builder (operators/timeseries.scd2_history): the "
    "per-user event_type feed collapses into versioned validity "
    "intervals (valid_from/valid_to/version/is_current); change "
    "detection and interval assignment share one (user_id, ts) "
    "shuffle+sort; event_id tiebreaks same-ts rows (ADVICE r1 asof "
    "lesson)",
)
def q102_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_table(spark, sf_dir, "events")
    return scd2_history(
        events, "user_id", ["event_type"], "ts", tiebreak="event_id"
    )


# --- declarative data-quality audit ------------------------------------------
@register(
    "q108_quality_audit",
    oracle="""
    SELECT 'not_null:customer.c_name' AS constraint, 'not_null' AS kind,
           COUNT(*) AS n_checked,
           CAST(COUNT(*) FILTER (WHERE c_name IS NULL) AS BIGINT) AS n_violations,
           COUNT(*) FILTER (WHERE c_name IS NULL) = 0 AS ok
    FROM customer
    UNION ALL
    SELECT 'unique:orders.o_orderkey', 'unique',
           COUNT(*), CAST(COUNT(*) FILTER (WHERE n > 1) AS BIGINT),
           COUNT(*) FILTER (WHERE n > 1) = 0
    FROM (SELECT o_orderkey, COUNT(*) AS n FROM orders GROUP BY 1) g
    UNION ALL
    SELECT 'foreign_key:lineitem.l_orderkey->orders.o_orderkey', 'foreign_key',
           COUNT(*),
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT),
           COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) = 0
    FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'foreign_key:orders.o_custkey->customer.c_custkey', 'foreign_key',
           COUNT(*),
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT),
           COUNT(*) FILTER (WHERE c.c_custkey IS NULL) = 0
    FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'in_range:lineitem.l_discount[0.0,0.1]', 'in_range',
           COUNT(l_discount),
           CAST(COUNT(*) FILTER (WHERE l_discount IS NOT NULL
                                   AND (l_discount < 0.0 OR l_discount > 0.1))
                AS BIGINT),
           COUNT(*) FILTER (WHERE l_discount IS NOT NULL
                              AND (l_discount < 0.0 OR l_discount > 0.1)) = 0
    FROM lineitem
    """,
    notes="declarative data-quality audit (operators/quality_audit): "
    "not-null / key-uniqueness / referential-integrity / range "
    "constraints reported as one O(constraints)-sized violations table "
    "— each check is a single-pass aggregate (FK = left join with hit "
    "marker, counted in the same pass), never a per-row failure dump",
)
def q108_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality_audit import (
        audit,
        foreign_key,
        in_range,
        not_null,
        unique,
    )

    tables = {
        t: read_table(spark, sf_dir, t)
        for t in ["customer", "orders", "lineitem"]
    }
    return audit(
        tables,
        [
            not_null("customer", "c_name"),
            unique("orders", "o_orderkey"),
            foreign_key("lineitem", "l_orderkey", "orders", "o_orderkey"),
            foreign_key("orders", "o_custkey", "customer", "c_custkey"),
            in_range("lineitem", "l_discount", 0.0, 0.1),
        ],
    )


# --- equi-width histogram ----------------------------------------------------
@register(
    "q111_histogram",
    oracle="""
    WITH binned AS (
      SELECT o_orderstatus,
             CAST(CASE WHEN o_totalprice < 0 THEN -1
                       WHEN o_totalprice >= 500000 THEN 20
                       ELSE floor(o_totalprice / 25000.0)
                  END AS BIGINT) AS bin
      FROM orders
      WHERE o_totalprice IS NOT NULL
    )
    SELECT o_orderstatus, bin,
           bin * 2.5e4 AS bin_lo,
           (bin + 1) * 2.5e4 AS bin_hi,
           COUNT(*) AS n
    FROM binned
    GROUP BY o_orderstatus, bin
    """,
    notes="equi-width histogram (operators/histogram.equi_width_histogram): "
    "one map-side bucket expression + one hash agg; explicit "
    "underflow/overflow sentinel bins (-1/nbins) instead of silent "
    "clamping; 20 bins of 25k over o_totalprice per order status",
)
def q111_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import equi_width_histogram

    orders = read_table(spark, sf_dir, "orders")
    return equi_width_histogram(
        orders, "o_totalprice", 0.0, 500_000.0, 20, keys=["o_orderstatus"]
    )


# --- EWMA smoothing (grouped-map) ---------------------------------------------
@register(
    "q118_ewma",
    oracle="""
    WITH RECURSIVE s AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, ts, value, rn, CAST(value AS DOUBLE) AS e
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.ts, s.value, s.rn, 0.2 * s.value + 0.8 * r.e
      FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, ts, value, round(e, 6) AS ewma FROM r
    """,
    notes="per-user EWMA smoothing (operators/timeseries.ewma, "
    "alpha=0.2): the y_t = a*x_t + (1-a)*y_(t-1) recursion is "
    "sequential within a key and not window-expressible without "
    "unstable pow() rescaling -> grouped-map applyInPandas (the "
    "declared Arrow boundary). Converted from rows-only in round 11 "
    "(VERDICT r10 item 4): a recursive CTE replays the recurrence in "
    "the identical (ts, event_id) order, one step per iteration across "
    "all users at once — iteration depth = the deepest per-user "
    "series, fixture-bounded; 6dp canonicalization on both legs "
    "absorbs the pandas-vs-sequential float summation ulp (verified "
    "hash-identical at all three fixture scales). Exact parity with a "
    "pure-Python reference recursion stays asserted in "
    "tests/test_timeseries.py",
)
def q118_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import ewma

    events = read_table(spark, sf_dir, "events")
    return ewma(
        events, "ts", ["user_id"], "value", 0.2, tiebreak=["event_id"]
    ).withColumn("ewma", F.round("ewma", 6))


# --- general-depth reachability on iterate_until_fixpoint -------------------
@register(
    "q158_reachability_fixpoint",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT user_id AS src, (user_id * 7 + 3) % 150 AS dst FROM events
        UNION ALL
        SELECT user_id AS src, user_id + 1 AS dst FROM events WHERE user_id < 8
      )
    ),
    reach AS (
      SELECT src AS start, dst AS node FROM edges WHERE src < 5
      UNION
      SELECT r.start, e.dst AS node
      FROM reach r JOIN edges e ON r.node = e.src
    )
    SELECT start, node FROM reach
    """,
    notes="UNBOUNDED transitive closure (WITH RECURSIVE parity, "
    "completing q154's fixed-3-hop unroll): reachability from seed "
    "nodes over a cyclic graph whose closure needs 8-10 hops at every "
    "fixture SF, iterated to an actual fixpoint by "
    "operators/iterate.iterate_until_fixpoint — the generic loop "
    "(eager checkpoint barriers, scalar-measure convergence, max_iter "
    "rail) that also powers connected_components. SEMI-NAIVE "
    "evaluation: each round joins only the frontier (rows added last "
    "round, tracked by a flag column) against the edge table, not the "
    "whole reach set — at 100 TB the per-round join cost tracks the "
    "delta, the datalog discipline. Convergence = row count unchanged "
    "(the reach set only grows, so the monotone scalar measure is "
    "sound). Cycles terminate naturally: the anti-join drops already-"
    "reached pairs, so a cycle produces an empty frontier, exactly as "
    "DuckDB's UNION-distinct recursion terminates",
)
def q158_reachability_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.iterate import held, iterate_until_fixpoint

    ev = read_table(spark, sf_dir, "events")
    fun = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 150).alias("dst"),
    )
    chain = ev.filter(F.col("user_id") < 8).select(
        F.col("user_id").alias("src"), (F.col("user_id") + 1).alias("dst")
    )
    edges = fun.unionByName(chain).distinct()

    seeds = (
        edges.filter(F.col("src") < 5)
        .select(F.col("src").alias("start"), F.col("dst").alias("node"))
        .distinct()
        .withColumn("frontier", F.lit(True))
    )

    def step(state: DataFrame) -> DataFrame:
        frontier = state.filter(F.col("frontier")).select("start", "node")
        nxt = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select("start", F.col("dst").alias("node"))
            .distinct()
            .join(state.select("start", "node"), ["start", "node"], "left_anti")
            .withColumn("frontier", F.lit(True))
        )
        return state.withColumn("frontier", F.lit(False)).unionByName(nxt)

    with held(edges):
        out = iterate_until_fixpoint(
            seeds, step, measure=lambda df: df.count(), max_iter=40
        )
    return out.select("start", "node")


# --- bucketed table reconciliation -------------------------------------------
_RECON_FP_SQL = (
    "list_sum(list_transform(generate_series(1, 12), i -> "
    "CAST((strpos('0123456789abcdef', substr(h, i, 1)) - 1) AS BIGINT)"
    " * CAST(power(16, 12 - i) AS BIGINT)))"
)


@register(
    "q175_table_reconciliation",
    oracle=f"""
    WITH canon AS (
      SELECT event_id,
             md5(concat_ws('|',
               COALESCE(CAST(event_id AS VARCHAR), '␀'),
               COALESCE(CAST(user_id AS VARCHAR), '␀'),
               COALESCE(event_type, '␀'),
               COALESCE(CAST(COALESCE(CAST(ROUND(value * 1000000) AS BIGINT),
                                      -1) AS VARCHAR), '␀'))) AS h
      FROM events
    ),
    fp AS (
      SELECT event_id, {_RECON_FP_SQL} AS f FROM canon
    ),
    left_sum AS (
      SELECT event_id % 256 AS bucket, COUNT(*) AS cnt,
             SUM(CAST(f AS DECIMAL(38,0))) AS checksum
      FROM fp GROUP BY bucket
    ),
    rcanon AS (
      SELECT event_id,
             md5(concat_ws('|',
               COALESCE(CAST(event_id AS VARCHAR), '␀'),
               COALESCE(CAST(user_id AS VARCHAR), '␀'),
               COALESCE(event_type, '␀'),
               COALESCE(CAST(COALESCE(CAST(ROUND(
                 (CASE WHEN event_id % 997 = 0 THEN value + 1.0 ELSE value END)
                 * 1000000) AS BIGINT), -1) AS VARCHAR), '␀'))) AS h
      FROM events WHERE event_id % 1009 <> 0
    ),
    rfp AS (
      SELECT event_id, {_RECON_FP_SQL} AS f FROM rcanon
    ),
    right_sum AS (
      SELECT event_id % 256 AS bucket, COUNT(*) AS cnt,
             SUM(CAST(f AS DECIMAL(38,0))) AS checksum
      FROM rfp GROUP BY bucket
    )
    SELECT COALESCE(l.bucket, r.bucket) AS bucket,
           COALESCE(l.cnt, 0) AS left_cnt,
           COALESCE(r.cnt, 0) AS right_cnt,
           COALESCE(l.cnt, 0) = COALESCE(r.cnt, 0) AS counts_match,
           COALESCE(l.checksum, CAST(0 AS DECIMAL(38,0)))
             = COALESCE(r.checksum, CAST(0 AS DECIMAL(38,0))) AS sums_match
    FROM left_sum l FULL OUTER JOIN right_sum r ON l.bucket = r.bucket
    WHERE COALESCE(l.cnt, 0) <> COALESCE(r.cnt, 0)
       OR COALESCE(l.checksum, CAST(0 AS DECIMAL(38,0)))
          <> COALESCE(r.checksum, CAST(0 AS DECIMAL(38,0)))
    ORDER BY bucket
    """,
    notes="bucketed TABLE RECONCILIATION (operators/reconcile — the "
    "anti-entropy/Merkle-bucket primitive for validating a backfill, "
    "CDC re-sync, or engine migration WITHOUT a row-level join): each "
    "row md5-fingerprints to a 48-bit integer, rows hash into 256 "
    "buckets by key, each side reduces to (count, DECIMAL(38,0) sum of "
    "fingerprints) — decimal because 2^48 x 10^12 rows overflows "
    "BIGINT and Spark wraps where other engines widen — and the two "
    "metadata-sized summaries full-outer join to emit only damaged "
    "buckets. The 'replica' here is events with a deterministic fault "
    "injection (value perturbed on event_id%997=0, rows dropped on "
    "event_id%1009=0) so exactly those buckets surface. At 100 TB: one "
    "scan + map-side-combined agg per side, commutative order-"
    "independent checksums, join cost O(buckets)",
)
def q175_table_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.reconcile import (
        bucket_summary,
        reconcile_buckets,
        row_fingerprint,
    )

    ev = read_table(spark, sf_dir, "events")

    def canon_value(value_col):
        return F.coalesce(
            F.round(value_col * 1000000, 0).cast("long"), F.lit(-1)
        )

    left_fp = row_fingerprint(
        [
            F.col("event_id"),
            F.col("user_id"),
            F.col("event_type"),
            canon_value(F.col("value")),
        ]
    )
    left = bucket_summary(ev, F.col("event_id"), left_fp, 256)

    replica = ev.filter(F.col("event_id") % 1009 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 997 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    right_fp = row_fingerprint(
        [
            F.col("event_id"),
            F.col("user_id"),
            F.col("event_type"),
            canon_value(F.col("value")),
        ]
    )
    right = bucket_summary(replica, F.col("event_id"), right_fp, 256)
    return reconcile_buckets(left, right).orderBy("bucket")


# --- PageRank (fixed-iteration numeric recursion) ----------------------------
def _pagerank_oracle(n_iter: int = 10) -> str:
    """Unrolled-CTE PageRank oracle: one CTE per iteration, every
    floating-point op written token-identically to the Spark side so
    ranks match bit-for-bit (contributions decimal-summed; see q177
    notes)."""
    head = """
    WITH edges AS (
      SELECT DISTINCT user_id AS src, (user_id * 7 + 3) % 150 AS dst
      FROM events
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS rank
      FROM nodes CROSS JOIN nn
    )"""
    steps = []
    for i in range(1, n_iter + 1):
        steps.append(f""",
    r{i} AS (
      SELECT nd.node,
             CAST(0.15 AS DOUBLE) / CAST(nn.n AS DOUBLE)
               + CAST(0.85 AS DOUBLE)
                 * CAST(COALESCE(s.csum, CAST(0 AS DECIMAL(25,18)))
                        AS DOUBLE) AS rank
      FROM nodes nd CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst AS node,
               SUM(CAST(r.rank / d.deg AS DECIMAL(25,18))) AS csum
        FROM r{i - 1} r
        JOIN edges e ON r.node = e.src
        JOIN deg d ON d.src = e.src
        GROUP BY e.dst
      ) s ON s.node = nd.node
    )""")
    return (
        head
        + "".join(steps)
        + f"""
    SELECT node, ROUND(rank, 12) AS rank FROM r{n_iter} ORDER BY node
    """
    )


@register(
    "q177_pagerank",
    oracle=_pagerank_oracle(10),
    notes="PAGERANK, 10 fixed iterations (operators/iterate.iterate_fixed "
    "— the numeric-recursion sibling of q158's fixpoint closure; bounded "
    "iteration count IS the spec for power-iteration algorithms, and "
    "the per-round checkpoint barrier keeps the plan tree linear where "
    "naive loop composition grows it geometrically): damping 0.85 over "
    "the deterministic functional graph from events. Cross-engine "
    "bit-parity engineering: per-edge contributions rank/out_deg are "
    "rounded to DECIMAL(25,18) BEFORE the per-node sum, so the one "
    "order-sensitive reduction becomes exact decimal addition; every "
    "other op (divisions, 0.85 multiply, base add) is a deterministic "
    "double op written token-identically in the unrolled-CTE oracle. "
    "Per round: one ranks⋈edges shuffle + one dst-keyed agg + a "
    "broadcast left join back onto the node set — O(edges) per round, "
    "the exact cost profile of a production 100 TB PageRank; the "
    "node-count scalar is computed once, never per round",
)
def q177_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.iterate import held, iterate_fixed

    ev = read_table(spark, sf_dir, "events")
    edges = (
        ev.select(
            F.col("user_id").alias("src"),
            ((F.col("user_id") * 7 + 3) % 150).alias("dst"),
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edges_deg = edges.join(deg, "src")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    with held(edges, edges_deg, nodes):
        n = nodes.count()
        base = F.lit(0.15).cast("double") / F.lit(n).cast("double")
        init = nodes.withColumn(
            "rank", F.lit(1.0).cast("double") / F.lit(n).cast("double")
        )

        def step(ranks: DataFrame) -> DataFrame:
            contribs = (
                ranks.join(edges_deg, ranks["node"] == edges_deg["src"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") / F.col("deg")).cast("decimal(25,18)").alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("csum"))
            )
            zero = F.lit(0).cast("decimal(25,18)")
            return nodes.join(contribs, "node", "left").select(
                "node",
                (
                    base
                    + F.lit(0.85).cast("double")
                    * F.coalesce("csum", zero).cast("double")
                ).alias("rank"),
            )

        out = iterate_fixed(init, step, 10)
    return out.select("node", F.round("rank", 12).alias("rank")).orderBy("node")


# --- quantile binning (feature discretization) -------------------------------
@register(
    "q184_quantile_binning",
    oracle="""
    WITH binned AS (
      SELECT event_type, value,
             ntile(8) OVER (ORDER BY value, event_id) AS bin
      FROM events WHERE value IS NOT NULL
    )
    SELECT bin,
           COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_click
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    notes="QUANTILE BINNING / equi-depth feature discretization (§2.4, "
    "the ML-preprocessing twin of q111's equi-width histogram and the "
    "exact small-N form of QuantileDiscretizer): ntile(8) over "
    "(value, event_id) — the unique tiebreak makes the bin assignment "
    "total-order deterministic, so bin populations match across engines "
    "exactly, not just approximately. This query is the opt-in "
    "EXACT-NTILE BASELINE (operators/histogram.quantile_bin "
    "exact=True — a single-partition sort, fixture-scale only); the "
    "operator DEFAULT is the 100 TB path: approxQuantile boundaries "
    "broadcast as literals + map-side comparison assignment, no "
    "single-partition window (plan-gated + sampled-vs-exact agreement "
    "pinned in tests/test_histogram.py) — same trade Spark's own "
    "QuantileDiscretizer makes",
)
def q184_quantile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import quantile_bin

    ev = read_table(spark, sf_dir, "events")
    binned = quantile_bin(
        ev, "value", 8, exact=True, tiebreak_col="event_id"
    ).select("event_type", "value", "bin")
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        )
        .orderBy("bin")
    )


def q204_quantile_bin_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import quantile_bin

    ev = read_table(spark, sf_dir, "events")
    # rel_err=0 drives the SAME sampled-path plan (GK summary pass ->
    # boundaries broadcast as a literal comparison chain; no sort, no
    # window) but makes the boundaries exact-rank selections, which the
    # oracle reproduces via ceil(p*n) rank arithmetic (r12 rows-only ->
    # oracle conversion; the rank rule was probed at n=3/5/7/8/100/101).
    # The operator DEFAULT (rel_err=0.001) stays the 100 TB path and
    # keeps its >=95% agreement law in tests/test_histogram.py.
    binned = quantile_bin(ev, "value", 8, rel_err=0.0)
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
        .orderBy("bin")
    )


_Q204_ORACLE = """
    WITH base AS (SELECT value FROM events WHERE value IS NOT NULL),
    tot AS (SELECT COUNT(*) AS n FROM base),
    ranked AS (
      SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rk FROM base
    ),
    bnds AS (
      SELECT list(r.value ORDER BY g.i) AS bs
      FROM ranked r, tot t, generate_series(1, 7) g(i)
      WHERE r.rk = CAST(ceil(g.i * t.n / 8.0) AS BIGINT)
    ),
    binned AS (
      SELECT value,
             CAST(1 + len(list_filter(bs, x -> value > x)) AS INTEGER)
               AS bin
      FROM base CROSS JOIN bnds
    )
    SELECT bin, COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM binned GROUP BY bin ORDER BY bin
"""

_Q204_NOTES = (
    "quantile binning through the operator's SAMPLED plan shape "
    "(approxQuantile boundaries broadcast as a literal comparison "
    "chain + map-side assignment, no global sort or single-partition "
    "window — plan-gated in tests/test_histogram.py) pinned at "
    "rel_err=0, where the GK summary returns exact ceil(p*n)-rank "
    "selections that the oracle replays with ROW_NUMBER rank "
    "arithmetic (r12 conversion; rank rule empirically pinned). q184 "
    "keeps the exact-ntile baseline; the default-rel_err >=95% "
    "sampled-vs-exact agreement law stays pytest-pinned"
)


def q213_reconcile_row_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.reconcile import (
        bucket_summary,
        reconcile_buckets,
        reconcile_rows,
        row_fingerprint,
    )

    ev = read_table(spark, sf_dir, "events")
    fp_cols = [F.col("event_id"), F.col("user_id"), F.col("event_type")]
    replica = ev.filter(F.col("event_id") % 1009 != 0).withColumn(
        "event_type",
        F.when(F.col("event_id") % 997 == 0, F.lit("TAMPERED")).otherwise(
            F.col("event_type")
        ),
    )
    left = bucket_summary(ev, F.col("event_id"), row_fingerprint(fp_cols), 256)
    right = bucket_summary(
        replica, F.col("event_id"), row_fingerprint(fp_cols), 256
    )
    damaged = reconcile_buckets(left, right)
    return reconcile_rows(
        ev, replica, F.col("event_id"), row_fingerprint(fp_cols), damaged, 256
    ).orderBy("bucket", "key")


def _q213_oracle() -> str:

    canon = (
        "md5(concat_ws('|', COALESCE(CAST(event_id AS VARCHAR), '␀'), "
        "COALESCE(CAST(user_id AS VARCHAR), '␀'), "
        "COALESCE(event_type, '␀')))"
    )
    rcanon = (
        "md5(concat_ws('|', COALESCE(CAST(event_id AS VARCHAR), '␀'), "
        "COALESCE(CAST(user_id AS VARCHAR), '␀'), "
        "COALESCE(CASE WHEN event_id % 997 = 0 THEN 'TAMPERED' "
        "ELSE event_type END, '␀')))"
    )
    return f"""
    WITH lfp AS (
      SELECT event_id % 256 AS bucket, event_id AS key, {_RECON_FP_SQL} AS fp
      FROM (SELECT event_id, {canon} AS h FROM events)
    ),
    rfp AS (
      SELECT event_id % 256 AS bucket, event_id AS key, {_RECON_FP_SQL} AS fp
      FROM (SELECT event_id, {rcanon} AS h FROM events
            WHERE event_id % 1009 <> 0)
    ),
    lsum AS (
      SELECT bucket, COUNT(*) AS cnt,
             SUM(CAST(fp AS DECIMAL(38,0))) AS checksum
      FROM lfp GROUP BY bucket
    ),
    rsum AS (
      SELECT bucket, COUNT(*) AS cnt,
             SUM(CAST(fp AS DECIMAL(38,0))) AS checksum
      FROM rfp GROUP BY bucket
    ),
    damaged AS (
      SELECT COALESCE(l.bucket, r.bucket) AS bucket
      FROM lsum l FULL OUTER JOIN rsum r ON l.bucket = r.bucket
      WHERE COALESCE(l.cnt, 0) <> COALESCE(r.cnt, 0)
         OR COALESCE(l.checksum, CAST(0 AS DECIMAL(38,0)))
            <> COALESCE(r.checksum, CAST(0 AS DECIMAL(38,0)))
    )
    SELECT COALESCE(l.bucket, r.bucket) AS bucket,
           COALESCE(l.key, r.key) AS key,
           CASE WHEN r.fp IS NULL THEN 'missing_right'
                WHEN l.fp IS NULL THEN 'missing_left'
                ELSE 'changed' END AS status
    FROM (SELECT * FROM lfp WHERE bucket IN (SELECT bucket FROM damaged)) l
    FULL OUTER JOIN
         (SELECT * FROM rfp WHERE bucket IN (SELECT bucket FROM damaged)) r
      ON l.bucket = r.bucket AND l.key = r.key
    WHERE r.fp IS NULL OR l.fp IS NULL OR l.fp <> r.fp
    ORDER BY bucket, key
"""


_Q213_NOTES = (
    "STAGE-2 row-level reconciliation (operators/reconcile."
    "reconcile_rows — completing q175's anti-entropy story: stage 1 "
    "localizes damage to K of 256 buckets by (count, DECIMAL checksum); "
    "stage 2 row-diffs ONLY those buckets via a broadcast semi-join "
    "filter that rides the scan, then a keyed full-outer within the "
    "damaged slice — at 100 TB the expensive row join touches "
    "~K/n_buckets of the table instead of all of it). Emits "
    "(bucket, key, missing_left/missing_right/changed); the oracle "
    "reproduces BOTH stages from the portable md5 fingerprint rule"
)


def q212_quantile_bin_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.histogram import quantile_bin_grouped

    ev = read_table(spark, sf_dir, "events")
    # accuracy >> any fixture group size pins percentile_approx's GK
    # rank error below one row, so each group's boundaries are exact
    # ceil(p*n_g)-rank selections the oracle replays per group (r12
    # rows-only -> oracle conversion, same rank rule as q204). The
    # operator default (accuracy=10_000) remains the 100 TB path.
    binned = quantile_bin_grouped(
        ev, "value", 4, ["event_type"], accuracy=100_000_000
    )
    return (
        binned.groupBy("event_type", "bin")
        .agg(
            F.count("*").alias("n"),
            F.min("value").cast("double").alias("lo"),
            F.max("value").cast("double").alias("hi"),
        )
        .orderBy("event_type", "bin")
    )


_Q212_ORACLE = """
    WITH base AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value)
               AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM base
    ),
    bnds AS (
      SELECT event_type, list(r.value ORDER BY g.i) AS bs
      FROM ranked r, generate_series(1, 3) g(i)
      WHERE r.rk = CAST(ceil(g.i * r.n / 4.0) AS BIGINT)
      GROUP BY event_type
    ),
    binned AS (
      SELECT b.event_type, b.value,
             CAST(1 + len(list_filter(bs, x -> b.value > x)) AS INTEGER)
               AS bin
      FROM base b JOIN bnds USING (event_type)
    )
    SELECT event_type, bin, COUNT(*) AS n,
           CAST(MIN(value) AS DOUBLE) AS lo,
           CAST(MAX(value) AS DOUBLE) AS hi
    FROM binned GROUP BY event_type, bin ORDER BY event_type, bin
"""

_Q212_NOTES = (
    "PER-GROUP equi-depth binning (operators/histogram."
    "quantile_bin_grouped — per-event-type boundaries from "
    "percentile_approx as a real map-side-combined AGGREGATE, "
    "group-count-sized boundary table broadcast back, map-side "
    "higher-order bin assignment; no window over the fact table, no "
    "driver collect, no single partition), pinned at accuracy >> "
    "fixture group sizes so the GK boundaries are exact ceil(p*n_g) "
    "rank selections replayed by the oracle's partitioned ROW_NUMBER "
    "(r12 conversion; rank rule shared with q204). Per-group bin laws "
    "(own boundaries per group, near-equal populations, monotone bins, "
    "broadcast plan) stay pinned in tests/test_histogram.py"
)


def q216_scd2_point_in_time_enrich(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.timeseries import enrich_with_scd2

    ev = read_table(spark, sf_dir, "events")
    dim = scd2_history(ev, "user_id", ["event_type"], "ts", tiebreak="event_id")
    return enrich_with_scd2(
        ev.select("event_id", "user_id", "ts"),
        dim,
        "user_id",
        "ts",
        state_prefix="state_",
    ).select("event_id", "user_id", "state_event_type", "version").orderBy(
        "event_id"
    )


_Q216_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id
      FROM ordered
      WHERE prev IS NULL OR event_type <> prev
    ), dim AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             lead(ts) OVER w AS valid_to,
             row_number() OVER w AS version
      FROM changes
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e.event_id, e.user_id,
           d.event_type AS state_event_type,
           CAST(d.version AS BIGINT) AS version
    FROM events e LEFT JOIN dim d
      ON e.user_id = d.user_id
     AND d.valid_from <= e.ts
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    ORDER BY e.event_id
"""

_Q216_NOTES = (
    "SCD2 POINT-IN-TIME enrichment (operators/timeseries."
    "enrich_with_scd2 over the q102 scd2_history dim): each event "
    "left-joins the dimension version valid AT its event time "
    "(valid_from <= ts < valid_to; boundary events take the NEW "
    "version; SCD2 intervals partition time so the join never fans "
    "out — row count preserved). Equi-join on the key with the "
    "interval as a residual — hash join, never NLJ; the events side "
    "runs unchanged as a STREAM (stream-static enrichment, parity "
    "pinned in tests/test_timeseries.py)"
)


def q214_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import skew_profile

    li = read_table(spark, sf_dir, "lineitem")
    return skew_profile(li, ["l_suppkey"], top=20)


_Q214_ORACLE = """
    WITH counts AS (
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    summary AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
             MAX(n) AS max_n
      FROM counts
    )
    SELECT c.l_suppkey, c.n,
           round(CAST(c.n AS DOUBLE) / s.n_rows, 6) AS share,
           round(CAST(s.max_n AS DOUBLE)
                 / (CAST(s.n_rows AS DOUBLE) / s.n_keys), 6) AS skew_factor,
           s.n_keys, s.n_rows
    FROM counts c, summary s
    ORDER BY c.n DESC, c.l_suppkey ASC
    LIMIT 20
"""

_Q214_NOTES = (
    "JOIN-KEY SKEW PROFILE (operators/profile.skew_profile — the "
    "diagnosis that tells a pipeline when the q64 salted join is "
    "needed and what salt factor to use): top-k heaviest keys with "
    "share and skew_factor = max/mean key count, from ONE count "
    "aggregation + a broadcast 1-row summary + a TakeOrderedAndProject "
    "cut (plan-gated: no full sort, no collect). At 100 TB this costs "
    "one shuffle of (key, count) partials — the same partial-combine "
    "any groupBy pays"
)


register("q204_quantile_bin_sampled", _Q204_ORACLE, _Q204_NOTES)(
    q204_quantile_bin_sampled
)


register("q212_quantile_bin_grouped", _Q212_ORACLE, _Q212_NOTES)(
    q212_quantile_bin_grouped
)
register("q213_reconcile_row_diff", _q213_oracle(), _Q213_NOTES)(
    q213_reconcile_row_diff
)
register("q214_join_key_skew_profile", _Q214_ORACLE, _Q214_NOTES)(
    q214_join_key_skew_profile
)


register("q216_scd2_point_in_time_enrich", _Q216_ORACLE, _Q216_NOTES)(
    q216_scd2_point_in_time_enrich
)


def q219_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import canonical_edges, triangle_stats

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 997).alias("src"),
        (F.col("event_id") % 997).alias("dst"),
    )
    return triangle_stats(canonical_edges(pairs, "src", "dst"))


_Q219_ORACLE = """
    WITH base AS (
      SELECT DISTINCT LEAST(user_id % 997, event_id % 997) AS a,
                      GREATEST(user_id % 997, event_id % 997) AS b
      FROM events
      WHERE user_id % 997 <> event_id % 997
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM base UNION ALL SELECT b AS node FROM base
      ) GROUP BY node
    ),
    tri AS (
      SELECT COUNT(*) AS c
      FROM base e1
      JOIN base e2 ON e2.a = e1.b
      JOIN base e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_edges,
           (SELECT CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) FROM deg)
             AS n_wedges,
           (SELECT CAST(c AS BIGINT) FROM tri) AS n_triangles,
           round(3.0 * (SELECT c FROM tri)
                 / (SELECT SUM(deg * (deg - 1) // 2) FROM deg), 6)
             AS clustering
"""

_Q219_NOTES = (
    "TRIANGLE CENSUS + global clustering coefficient (operators/graph."
    "triangle_stats — the join-shaped graph kernel complementing the "
    "iterate family's PageRank/CC): edges are DEGREE-ORIENTED (lower "
    "(deg,id) -> higher), an acyclic orientation that counts each "
    "triangle exactly once at its apex and bounds the wedge self-join "
    "to O(m^1.5) — the node-iterator++ bound — where id-ordering alone "
    "blows up on hub nodes. Wedges are an exact-BIGINT degree-table "
    "reduction; the three 1-row stats meet in broadcast cross joins "
    "(no driver collect). The oracle counts the same triangles by the "
    "naive canonical 3-way self-join — orientation invariance is the "
    "cross-check, plus a K4/K5 closed-form pytest"
)


def q220_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cardinality import join_size_estimate

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    est = join_size_estimate(orders, li, "o_orderkey", "l_orderkey", hex_zeros=1)
    exact = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .agg(F.count("*").cast("long").alias("exact_pairs"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "sampled_pairs",
        "est_pairs",
        "exact_pairs",
        F.round(
            (F.col("est_pairs") - F.col("exact_pairs")) / F.col("exact_pairs"), 4
        ).alias("rel_err"),
    )


_Q220_ORACLE = """
    WITH ls AS (
      SELECT o_orderkey AS k FROM orders
      WHERE substr(md5(concat(CAST(o_orderkey AS VARCHAR), ':jcard')), 1, 1)
            = '0'
    ),
    rs AS (
      SELECT l_orderkey AS k FROM lineitem
      WHERE substr(md5(concat(CAST(l_orderkey AS VARCHAR), ':jcard')), 1, 1)
            = '0'
    ),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS sampled_pairs
          FROM ls JOIN rs USING (k)),
    x AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
    SELECT sampled_pairs,
           CAST(sampled_pairs * 16 AS BIGINT) AS est_pairs,
           exact_pairs,
           round((sampled_pairs * 16 - exact_pairs) / exact_pairs, 4) AS rel_err
    FROM s CROSS JOIN x
"""

_Q220_NOTES = (
    "sketch-based JOIN-SIZE ESTIMATION (operators/cardinality."
    "join_size_estimate — the optimizer primitive that answers 'how "
    "big is this join' before paying for it): KEY-HASH Bernoulli(1/16) "
    "sampling by the engine-wide md5 rule keeps a key's FULL "
    "contribution or none — unbiased for sum_k l(k)*o(k), unlike "
    "row-sampling whose p^2 pair survival has huge variance on heavy "
    "keys. Cost: two map-side filters + a sample-sized join; the "
    "16x-scaled count is the estimate. The full join here exists only "
    "to expose rel_err for the oracle — at 100 TB it is exactly the "
    "thing the estimate avoids; accuracy is additionally pinned by a "
    "pytest tolerance band"
)


def q223_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import psi_report, quantile_edges_exact

    ev = read_table(spark, sf_dir, "events")
    ref = ev.filter(
        F.col("event_type").isin("view", "click") & F.col("value").isNotNull()
    ).select("event_id", "value")
    cur = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select("event_id", "value")
    edges = quantile_edges_exact(ref, "value", 10, "event_id")
    return psi_report(ref, cur, "value", k=10, edges=edges).orderBy("bucket")


_Q223_ORACLE = """
    WITH ref AS (
      SELECT event_id, value FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL
    ),
    cur AS (
      SELECT event_id, value FROM events
      WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    nref AS (SELECT COUNT(*) AS n FROM ref),
    ranked AS (
      SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn FROM ref
    ),
    edges AS (
      SELECT value AS edge FROM ranked
      WHERE rn IN (SELECT (i * n + 9) // 10
                   FROM generate_series(1, 9) t(i) CROSS JOIN nref)
    ),
    rb AS (
      SELECT r.event_id,
             COUNT(CASE WHEN e.edge < r.value THEN 1 END) AS bucket
      FROM ref r CROSS JOIN edges e GROUP BY r.event_id
    ),
    cb AS (
      SELECT c.event_id,
             COUNT(CASE WHEN e.edge < c.value THEN 1 END) AS bucket
      FROM cur c CROSS JOIN edges e GROUP BY c.event_id
    ),
    rc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_ref FROM rb GROUP BY bucket),
    cc AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_cur FROM cb GROUP BY bucket),
    j AS (
      SELECT COALESCE(rc.bucket, cc.bucket) AS bucket,
             COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM rc FULL OUTER JOIN cc ON rc.bucket = cc.bucket
    ),
    tot AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM j),
    p AS (
      SELECT bucket, n_ref, n_cur,
             GREATEST(n_ref / tr, 0.000001) AS pr,
             GREATEST(n_cur / tc, 0.000001) AS pc
      FROM j CROSS JOIN tot
    ),
    pb AS (
      SELECT CAST(bucket AS INTEGER) AS bucket, n_ref, n_cur,
             round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
             round((pr - pc) * ln(pr / pc), 6) AS contrib
      FROM p
    )
    SELECT bucket, n_ref, n_cur, p_ref, p_cur, contrib,
           (SELECT round(SUM(contrib), 6) FROM pb) AS psi
    FROM pb ORDER BY bucket
"""

_Q223_NOTES = (
    "PSI DISTRIBUTION-DRIFT monitor (operators/drift.psi_report — the "
    "'did this week's crawl shift?' gate: reference period bucketed "
    "into equal-mass quantile bins, current period's mass measured "
    "against them, reduced to sum((p-q)*ln(p/q)) with the standard "
    "<0.1/0.25 bands): the k-1 edges are metadata-sized, so bucketing "
    "is a MAP-ONLY literal bisection chain (q79 sampled-boundaries "
    "discipline — no join, codegen'd) + one k-row agg per side. "
    "psi_report's DEFAULT edge grid is approxQuantile (bounded-memory "
    "GK, no global sort — the q184->q204 default-routing rule); this "
    "query passes exact rank-selected edges so the DuckDB oracle "
    "reproduces the grid digit-for-digit. Here ref=view/click spend vs "
    "cur=purchase spend — a real shift, PSI lands well above the 0.25 "
    "alarm band"
)


register("q219_triangle_count", _Q219_ORACLE, _Q219_NOTES)(q219_triangle_count)
register("q220_join_size_estimate", _Q220_ORACLE, _Q220_NOTES)(q220_join_size_estimate)


register("q223_psi_drift", _Q223_ORACLE, _Q223_NOTES)(q223_psi_drift)


def q225_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.assoc import association_rules

    li = read_table(spark, sf_dir, "lineitem")
    rules = association_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2, max_basket_size=20
    )
    return rules.orderBy(
        F.col("lift").desc(), F.col("item_a").asc(), F.col("item_b").asc()
    ).limit(50)


_Q225_ORACLE = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    kept AS (
      SELECT b, i FROM bi
      WHERE b IN (SELECT b FROM bi GROUP BY b HAVING COUNT(*) <= 20)
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n FROM kept),
    ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ni FROM kept GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, c.i AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
      GROUP BY a.i, c.i HAVING COUNT(*) >= 2
    )
    SELECT p.item_a, p.item_b, p.pair_cnt,
           ia.ni AS n_a, ib.ni AS n_b,
           p.pair_cnt / nb.n AS support,
           p.pair_cnt / ia.ni AS confidence_a_b,
           p.pair_cnt / ib.ni AS confidence_b_a,
           (p.pair_cnt * nb.n) / (ia.ni * ib.ni) AS lift
    FROM pairs p
    JOIN ic ia ON p.item_a = ia.i
    JOIN ic ib ON p.item_b = ib.i
    CROSS JOIN nb
    ORDER BY lift DESC, item_a, item_b
    LIMIT 50
"""

_Q225_NOTES = (
    "MARKET-BASKET association rules at the 2-itemset level (operators/"
    "assoc.association_rules — co-purchased parts per order, the "
    "join-shaped half of recommendation): support / confidence(both "
    "directions) / lift over item pairs, each a single IEEE division "
    "of exact integer counts (engine-exact, no rounding). The "
    "quadratic danger is per-basket C(s,2) fanout — baskets over "
    "max_basket_size=20 distinct items are dropped BEFORE pairing "
    "(the containment_pairs df-cap discipline: bot carts out, counts "
    "conservative never inflated). One distinct pass persisted to feed "
    "basket counts, item counts and the pair self-join; top-50 by "
    "(lift, pair) is fully tie-broken"
)


def q226_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import radius_join_pairs

    cust = read_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 37) % 1000).alias("x"),
        ((F.col("c_custkey") * 91) % 1000).alias("y"),
    )
    return radius_join_pairs(pts, "id", "x", "y", radius=15.0).orderBy(
        "id_a", "id_b"
    )


_Q226_ORACLE = """
    WITH pts AS (
      SELECT c_custkey AS id,
             (c_custkey * 37) % 1000 AS x,
             (c_custkey * 91) % 1000 AS y
      FROM customer
    ),
    cells AS (
      SELECT id, x, y,
             CAST(floor(x / 15.0) AS BIGINT) AS cx,
             CAST(floor(y / 15.0) AS BIGINT) AS cy
      FROM pts
    ),
    probe AS (
      SELECT c.id, c.x, c.y, c.cx + dx.i AS cx, c.cy + dy.i AS cy
      FROM cells c
      CROSS JOIN generate_series(-1, 1) dx(i)
      CROSS JOIN generate_series(-1, 1) dy(i)
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
    FROM probe a
    JOIN cells b ON a.cx = b.cx AND a.cy = b.cy AND a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 225
    ORDER BY id_a, id_b
"""

_Q226_NOTES = (
    "GRID-BUCKETED spatial radius self-join (operators/spatial."
    "radius_join_pairs — all point pairs within r without a cross "
    "join, the PostGIS-bucketing/Sedona-grid plan shape): cell size "
    ">= r means a match can only live in the 3x3 neighborhood, so ONE "
    "side replicates x9 and the join is a plain equi-join on cell id "
    "with an exact distance filter behind it. Coordinates here are "
    "integers synthesized from c_custkey, so dist_sq stays in exact "
    "BIGINT arithmetic end-to-end — no trig, no epsilon, engine-exact. "
    "Dense-area skew is an AQE skew-join case, not a plan rewrite"
)


register("q225_copurchase_lift", _Q225_ORACLE, _Q225_NOTES)(q225_copurchase_lift)
register("q226_radius_join", _Q226_ORACLE, _Q226_NOTES)(q226_radius_join)


def q229_windowed_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import (
        bucket_by_edges,
        quantile_edges_exact,
        windowed_psi,
    )

    ev = read_table(spark, sf_dir, "events")
    vals = ev.filter(F.col("value").isNotNull()).select(
        "event_id", "ts", "value"
    )
    edges = quantile_edges_exact(vals, "value", 8, "event_id")
    # corpus-wide reference proportions — metadata-sized (8 counts)
    rows = (
        vals.select(bucket_by_edges(F.col("value"), edges).alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("c"))
        .collect()
    )
    counts = {r["b"]: r["c"] for r in rows}
    n = sum(counts.values())
    ref_probs = [counts.get(i, 0) / n for i in range(8)]
    return windowed_psi(
        ev, "ts", "value", edges, ref_probs, window="10 minutes"
    ).orderBy("window_start")


def _q229_oracle() -> str:
    """k=8 windowed-PSI oracle: edges and reference proportions are
    recomputed in SQL exactly as the Spark side derives them (rank-
    selected edges; corpus bucket counts / n — the same IEEE division
    the driver-side Python performs), then per-window conditional
    counts fold into the identical PSI chain."""
    epoch = "TIMESTAMP '1970-01-01 00:00:00'"
    win = f"{epoch} + to_seconds(CAST(floor(epoch(ts) / 600) * 600 AS BIGINT))"
    cs = ",\n         ".join(
        f"CAST(COUNT(CASE WHEN b = {i} THEN 1 END) AS BIGINT) AS c{i}"
        for i in range(8)
    )
    prs = ",\n         ".join(
        f"CAST(COUNT(CASE WHEN b = {i} THEN 1 END) AS DOUBLE)"
        f" / COUNT(*) AS pr{i}"
        for i in range(8)
    )
    terms = " + ".join(
        f"(GREATEST(pr{i}, 0.000001) - GREATEST(c{i} / n, 0.000001))"
        f" * ln(GREATEST(pr{i}, 0.000001) / GREATEST(c{i} / n, 0.000001))"
        for i in range(8)
    )
    return f"""
    WITH vals AS (
      SELECT event_id, ts, value FROM events WHERE value IS NOT NULL
    ),
    nref AS (SELECT COUNT(*) AS n FROM vals),
    ranked AS (
      SELECT value, ROW_NUMBER() OVER (ORDER BY value, event_id) AS rn
      FROM vals
    ),
    edges AS (
      SELECT value AS edge FROM ranked
      WHERE rn IN (SELECT (i * n + 7) // 8
                   FROM generate_series(1, 7) t(i) CROSS JOIN nref)
    ),
    bucketed AS (
      SELECT v.event_id, v.ts, v.value,
             COUNT(CASE WHEN e.edge < v.value THEN 1 END) AS b
      FROM vals v CROSS JOIN edges e
      GROUP BY v.event_id, v.ts, v.value
    ),
    refp AS (
      SELECT {prs}
      FROM bucketed
    ),
    win AS (
      SELECT {win} AS window_start,
             CAST(COUNT(*) AS BIGINT) AS n,
         {cs}
      FROM bucketed GROUP BY window_start
    )
    SELECT w.window_start,
           w.window_start + to_seconds(600) AS window_end,
           w.n, {", ".join(f"w.c{i}" for i in range(8))},
           round({terms}, 6) AS psi
    FROM win w CROSS JOIN refp
    ORDER BY w.window_start
    """


_Q229_NOTES = (
    "WINDOWED PSI drift monitor (operators/drift.windowed_psi — the "
    "continuous form of q223: which 10-minute window of the feed "
    "drifted from the corpus-wide reference distribution): bucket id "
    "is a map-side literal-bisection, per-window bucket counts are k=8 "
    "conditional sums inside ONE groupBy(window(ts)) aggregation, and "
    "PSI folds over the count columns as a stateless post-agg "
    "projection with the reference proportions inlined as literals — "
    "deliberately a SINGLE stateful agg so the identical plan replays "
    "as a structured stream (batch==stream parity pinned in "
    "tests/test_round7.py the q37 way). The oracle recomputes edges, "
    "reference proportions, and the PSI chain in SQL; determinism "
    "reduces to the q27 ln rule (6dp)"
)


register("q229_windowed_psi", _q229_oracle(), _Q229_NOTES)(q229_windowed_psi)


def q230_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import canonical_edges, label_propagation

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 97).alias("src"),
        (F.col("event_id") % 89).alias("dst"),
    )
    edges = canonical_edges(pairs, "src", "dst")
    return label_propagation(edges, n_rounds=5).orderBy("node")


def _q230_oracle(n_rounds: int = 5) -> str:
    """Unrolled-CTE LPA oracle (the q177 PageRank discipline): one CTE
    per round, every rule written token-identically to the Spark side —
    most-frequent neighbor label, ties to the smallest label — so the
    5-round assignment matches bit-for-bit."""
    head = """
    WITH base AS (
      SELECT DISTINCT LEAST(user_id % 97, event_id % 89) AS a,
                      GREATEST(user_id % 97, event_id % 89) AS b
      FROM events
      WHERE user_id % 97 <> event_id % 89
    ),
    und AS (
      SELECT a AS src, b AS dst FROM base
      UNION ALL
      SELECT b AS src, a AS dst FROM base
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM und)"""
    rounds = []
    for i in range(1, n_rounds + 1):
        rounds.append(f""",
    l{i} AS (
      SELECT node, label FROM (
        SELECT u.src AS node, l.label,
               ROW_NUMBER() OVER (PARTITION BY u.src
                                  ORDER BY COUNT(*) DESC, l.label ASC) AS rk
        FROM und u JOIN l{i - 1} l ON u.dst = l.node
        GROUP BY u.src, l.label
      ) WHERE rk = 1
    )""")
    return (
        head
        + "".join(rounds)
        + f"\n    SELECT node, label FROM l{n_rounds} ORDER BY node\n    "
    )


_Q230_NOTES = (
    "LABEL-PROPAGATION community detection (operators/graph."
    "label_propagation — the clustering complement to the iterate "
    "family's CC/PageRank): synchronous LPA with the DETERMINISTIC "
    "rule 'most frequent neighbor label, ties to the smallest', run "
    "for a fixed 5 rounds on iterate_fixed (bounded rounds ARE the "
    "spec — raw LPA is order-dependent and oscillation-prone; the "
    "fixed rule makes the result a pure function of the graph). Per "
    "round one labels-by-edges shuffle + one (node,label) count + one "
    "node-keyed rank, lineage truncated per round. The oracle unrolls "
    "the five rounds as CTEs written token-identically (q177 "
    "discipline) and matches bit-for-bit"
)


register("q230_label_propagation", _q230_oracle(), _Q230_NOTES)(q230_label_propagation)


def q234_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import fd_discovery

    ev = read_table(spark, sf_dir, "events")
    return fd_discovery(
        ev, ["event_id", "user_id", "event_type"], exact=True
    ).orderBy("determinant", "dependent")


def _q234_oracle() -> str:
    cols = ["event_id", "user_id", "event_type"]
    parts = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            parts.append(f"""
    SELECT '{a}' AS determinant, '{b}' AS dependent,
           CAST(COUNT(DISTINCT {a}) AS BIGINT) AS n_det,
           CAST(COUNT(DISTINCT ({a}, {b})) AS BIGINT) AS n_pair,
           CAST(COUNT(DISTINCT ({a}, {b})) - COUNT(DISTINCT {a}) AS BIGINT)
             AS violations,
           COUNT(DISTINCT ({a}, {b})) = COUNT(DISTINCT {a}) AS holds
    FROM events""")
    for c in cols:
        parts.append(f"""
    SELECT '{c}' AS determinant, '*' AS dependent,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_det,
           CAST(COUNT(*) AS BIGINT) AS n_pair,
           CAST(COUNT(*) - COUNT(DISTINCT {c}) AS BIGINT) AS violations,
           COUNT(DISTINCT {c}) = COUNT(*) AS holds
    FROM events""")
    return (
        "\n    UNION ALL\n".join(parts)
        + "\n    ORDER BY determinant, dependent\n    "
    )


_Q234_NOTES = (
    "FUNCTIONAL-DEPENDENCY + candidate-key discovery (operators/"
    "profile.fd_discovery — the metadata-profiling step behind schema "
    "inference and join-key validation): A->B holds iff "
    "countDistinct(A,B) == countDistinct(A); key status iff "
    "countDistinct(A) == n. EVERY distinct count for every column and "
    "ordered pair is an expression of ONE aggregation over ONE scan — "
    "n columns never means n jobs — and exact=False swaps in HLL++ "
    "for the non-expanded screening pass at 100 TB (approximate FDs "
    "screen, exact verifies survivors — pinned agreeing on the "
    "fixture by pytest). On events the differential shows event_id "
    "is a key (and so determines everything) while user_id -> "
    "event_type fails with its violation count"
)


register("q234_fd_discovery", _q234_oracle(), _Q234_NOTES)(q234_fd_discovery)


def q238_retention_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.survival import kaplan_meier

    ev = read_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    subj = spans.select(
        F.floor(
            (
                F.unix_timestamp(
                    F.coalesce("first_purchase", "last_ts")
                )
                - F.unix_timestamp("first_ts")
            )
            / F.lit(3600)
        ).alias("duration_h"),
        F.col("first_purchase").isNotNull().cast("int").alias("converted"),
    )
    return kaplan_meier(subj, "duration_h", "converted").orderBy("duration")


_Q238_ORACLE = """
    WITH spans AS (
      SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id
    ),
    subj AS (
      SELECT CAST(floor((floor(epoch(COALESCE(first_purchase, last_ts)))
                         - floor(epoch(first_ts))) / 3600) AS BIGINT) AS t,
             CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS e
      FROM spans
    ),
    per_t AS (
      SELECT t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leave_cnt
      FROM subj GROUP BY t
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
    risk AS (
      SELECT t, d,
             n - COALESCE(SUM(leave_cnt) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_at_risk
      FROM per_t CROSS JOIN tot
    ),
    curve AS (
      SELECT t, d, n_at_risk,
             1.0 - CAST(d AS DOUBLE) / n_at_risk AS f,
             MAX(CASE WHEN 1.0 - CAST(d AS DOUBLE) / n_at_risk <= 0
                      THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS dead,
             SUM(CASE WHEN 1.0 - CAST(d AS DOUBLE) / n_at_risk > 0
                      THEN ln(1.0 - CAST(d AS DOUBLE) / n_at_risk) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS lnsum
      FROM risk
    )
    SELECT t AS duration, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lnsum), 6) END
             AS survival
    FROM curve WHERE d > 0
    ORDER BY duration
"""

_Q238_NOTES = (
    "KAPLAN-MEIER TIME-TO-CONVERSION CURVE (operators/survival."
    "kaplan_meier — conversion funnels ARE survival analysis, with the "
    "honest right-censoring treatment: a user who never purchased has "
    "a conversion time EXCEEDING their observed span, and dropping "
    "them biases the curve optimistic): per-user hours from first "
    "activity to first purchase (censored at last activity when none), "
    "then the product-limit estimator "
    "S(t) = prod(1 - d/n) over the distinct-duration RISK TABLE — the "
    "cumulative windows run on O(distinct durations) rows, metadata-"
    "sized next to the subject table, never on subjects. Exact-integer "
    "d/n per step; the running product rides exp(sum ln) rounded 6dp "
    "(q27 rule) with an explicit depleted-risk-set zero flag because "
    "Spark's log(0) is NULL where DuckDB's is -inf"
)


register("q238_retention_survival", _Q238_ORACLE, _Q238_NOTES)(q238_retention_survival)


def q239_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.assoc import item_similarity_topk

    li = read_table(spark, sf_dir, "lineitem")
    return item_similarity_topk(
        li, "l_orderkey", "l_partkey", k=5, min_pair_count=2,
        max_basket_size=20,
    ).orderBy("item", F.col("sim").desc(), "neighbor")


_Q239_ORACLE = """
    WITH bi AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    ),
    kept AS (
      SELECT b, i FROM bi
      WHERE b IN (SELECT b FROM bi GROUP BY b HAVING COUNT(*) <= 20)
    ),
    ic AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS ni FROM kept GROUP BY i),
    pairs AS (
      SELECT a.i AS item_a, c.i AS item_b, CAST(COUNT(*) AS BIGINT) AS pair_cnt
      FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
      GROUP BY a.i, c.i HAVING COUNT(*) >= 2
    ),
    both_dir AS (
      SELECT p.item_a AS item, p.item_b AS neighbor, p.pair_cnt,
             ia.ni AS n_self, ib.ni AS n_other
      FROM pairs p JOIN ic ia ON p.item_a = ia.i JOIN ic ib ON p.item_b = ib.i
      UNION ALL
      SELECT p.item_b AS item, p.item_a AS neighbor, p.pair_cnt,
             ib.ni AS n_self, ia.ni AS n_other
      FROM pairs p JOIN ic ia ON p.item_a = ia.i JOIN ic ib ON p.item_b = ib.i
    ),
    ranked AS (
      SELECT item, neighbor, pair_cnt,
             pair_cnt / sqrt(n_self * n_other) AS sim,
             ROW_NUMBER() OVER (PARTITION BY item
                                ORDER BY pair_cnt / sqrt(n_self * n_other)
                                         DESC, neighbor) AS rk
      FROM both_dir
    )
    SELECT item, neighbor, pair_cnt, sim FROM ranked WHERE rk <= 5
    ORDER BY item, sim DESC, neighbor
"""

_Q239_NOTES = (
    "ITEM-ITEM RECOMMENDER precompute (operators/assoc."
    "item_similarity_topk — 'customers who bought a also bought b': "
    "cosine over binary basket incidence, pair_cnt/sqrt(n_a*n_b), "
    "top-5 neighbors per item): builds on the fanout-capped pair "
    "table; both directions materialize from ONE pass via array-"
    "explode (no union re-execution), item frequencies come from the "
    "SAME capped population as the pair counts (mixing capped pairs "
    "with uncapped frequencies would skew giant-basket items), and "
    "per-item top-k is one window shuffle. sim is one IEEE "
    "sqrt+division of exact integers — engine-exact unrounded"
)


register("q239_item_similarity", _Q239_ORACLE, _Q239_NOTES)(q239_item_similarity)


def q245_ks_drift_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import ks_grid

    ev = read_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    return ks_grid(
        ev.filter(F.col("ts") < cut), ev.filter(F.col("ts") >= cut), "value", k=64
    )


_Q245_ORACLE = """
    WITH mm AS (SELECT min(CAST(value AS DOUBLE)) mn, max(CAST(value AS DOUBLE)) mx
                FROM events),
    grid AS (SELECT i FROM generate_series(1, 64) g(i)),
    a AS (SELECT CAST(value AS DOUBLE) v FROM events
          WHERE ts < TIMESTAMP '2024-01-16'),
    b AS (SELECT CAST(value AS DOUBLE) v FROM events
          WHERE ts >= TIMESTAMP '2024-01-16'),
    ca AS (SELECT i,
             SUM(CASE WHEN v <= mn + i*(mx-mn)/64.0 THEN 1 ELSE 0 END) c,
             COUNT(*) n
           FROM a, grid, mm GROUP BY i),
    cb AS (SELECT i,
             SUM(CASE WHEN v <= mn + i*(mx-mn)/64.0 THEN 1 ELSE 0 END) c,
             COUNT(*) n
           FROM b, grid, mm GROUP BY i),
    rows_ AS (
      SELECT CAST(ca.i AS INTEGER) AS bin_idx,
             mm.mn + ca.i*(mm.mx-mm.mn)/64.0 AS edge,
             round(ca.c / ca.n, 6) AS f_a,
             round(cb.c / cb.n, 6) AS f_b,
             round(abs(ca.c / ca.n - cb.c / cb.n), 6) AS ecdf_gap
      FROM ca JOIN cb ON ca.i = cb.i CROSS JOIN mm
    )
    SELECT bin_idx, edge, f_a, f_b, ecdf_gap,
           MAX(ecdf_gap) OVER () AS ks
    FROM rows_
    ORDER BY bin_idx
"""

_Q245_NOTES = (
    "TWO-SAMPLE KS DRIFT ON A GRID (operators/drift.ks_grid — the "
    "distribution-shift gate that complements PSI q223 and chi-square "
    "q233 with the sup-norm ECDF view): exact KS needs both samples "
    "globally SORTED (the q184 single-partition killer); the grid form "
    "replaces the sort with ONE aggregation per side — 64 conditional "
    "sums folded map-side in whole-stage codegen, shuffle = 64 partials "
    "per task, NO Sort operator in the plan (plan-gated). Grid KS "
    "lower-bounds exact KS and converges as the grid refines. Edges "
    "mn + i*(mx-mn)/64 are the identical IEEE expression tree both "
    "engines (and /64 is a power-of-two division — exact), so bucket "
    "membership is bit-identical; counts are exact integers. The edge "
    "column is the RAW double (6dp rounding of near-tie doubles is not "
    "cross-engine stable; the raw double is, by the expression-tree "
    "argument)"
)


def q247_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import benford_audit

    li = read_table(spark, sf_dir, "lineitem")
    return benford_audit(li, "l_extendedprice")


def _benford_values_sql() -> str:
    import math

    rows = ", ".join(
        f"({d}, {float(math.log10(1.0 + 1.0 / d))!r})" for d in range(1, 10)
    )
    return f"(VALUES {rows})"


_Q247_ORACLE = f"""
    WITH base AS (
      SELECT CAST(substr(CAST(CAST(floor(CAST(l_extendedprice AS DOUBLE)) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM lineitem WHERE CAST(l_extendedprice AS DOUBLE) >= 1.0
        AND CAST(l_extendedprice AS DOUBLE) < 9.2e18
    ),
    counts AS (SELECT digit, CAST(COUNT(*) AS BIGINT) cnt FROM base GROUP BY digit),
    tot AS (SELECT SUM(cnt) n FROM counts),
    expected AS (SELECT digit, CAST(p_exp AS DOUBLE) AS p_exp
                 FROM {_benford_values_sql()} e(digit, p_exp))
    SELECT c.digit, c.cnt,
           round(c.cnt / t.n, 6) AS p_observed,
           round(e.p_exp, 6) AS p_expected,
           round(c.cnt / t.n - e.p_exp, 6) AS deviation,
           round(t.n * (c.cnt / t.n - e.p_exp) * (c.cnt / t.n - e.p_exp)
                 / e.p_exp, 6) AS chi2_term
    FROM counts c JOIN expected e ON c.digit = e.digit CROSS JOIN tot t
    ORDER BY c.digit
"""

_Q247_NOTES = (
    "BENFORD FIRST-DIGIT AUDIT (operators/profile.benford_audit — the "
    "fabricated-/synthetic-data smell test for scale-spanning positive "
    "quantities, data-quality family next to q108/q197): one scan, one "
    "9-group map-side-combined aggregation; digit extraction is "
    "substring-on-CAST(BIGINT) with the input filtered to [1, 9.2e18) "
    "so the cast never leaves int64 (Spark non-ANSI NULLs >= 2^63 "
    "silently, DuckDB errors — the explicit bound removes the "
    "divergence), expected "
    "shares log10(1+1/d) are full-precision literals generated from "
    "the same repr both engines parse to the identical double (the "
    "oracle VALUES are built by the same Python expression the Spark "
    "literals use), per-digit chi-square contributions summable "
    "downstream. At 100 TB: scan + 9-row shuffle"
)


def q248_pattern_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import pattern_conversions

    ev = read_table(spark, sf_dir, "events")
    out = pattern_conversions(
        ev,
        partition_col="user_id",
        ts_col="ts",
        type_col="event_type",
        start_type="view",
        end_type="purchase",
        within_seconds=1800,
        blocker_type="error",
        tiebreak_col="event_id",
    )
    return out.select("user_id", "event_id", "ts", "start_ts", "latency_s").orderBy(
        "user_id", "event_id"
    )


_Q248_ORACLE = """
    WITH staged AS (
      SELECT user_id, event_id, ts, event_type,
        LAST_VALUE(CASE WHEN event_type = 'view' THEN epoch_us(ts) END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS start_us,
        LAST_VALUE(CASE WHEN event_type = 'error' THEN epoch_us(ts) END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS block_us
      FROM events
    )
    SELECT user_id, event_id, ts,
           make_timestamp(start_us) AS start_ts,
           round((epoch_us(ts) - start_us) / 1000000.0, 6) AS latency_s
    FROM staged
    WHERE event_type = 'purchase'
      AND start_us IS NOT NULL
      AND epoch_us(ts) - start_us <= 1800 * 1000000
      AND (block_us IS NULL OR block_us <= start_us)
    ORDER BY user_id, event_id
"""

_Q248_NOTES = (
    "EVENT-PATTERN DETECTION (operators/sequence.pattern_conversions — "
    "the MATCH_RECOGNIZE shape 'view then purchase within 30min with "
    "no error between', strictly stronger than funnel q125 which only "
    "orders stages): ONE window over (user, ts, event_id) carrying two "
    "conditional running-last-value columns (last view time, last "
    "error time) with an UNBOUNDED PRECEDING..1 PRECEDING frame — no "
    "self-join, no collect_list, everything after is a map-side "
    "filter. At 100 TB: a single hash-partitioned per-key sort, the "
    "sessionization cost class (skewed users salt the q64 way). Time "
    "bound compares exact integer MICROSECONDS (unix_micros/epoch_us) "
    "— no float time arithmetic; ties total-ordered by event_id"
)


register("q245_ks_drift_grid", _Q245_ORACLE, _Q245_NOTES)(q245_ks_drift_grid)


register("q247_benford_audit", _Q247_ORACLE, _Q247_NOTES)(q247_benford_audit)
register("q248_pattern_conversions", _Q248_ORACLE, _Q248_NOTES)(
    q248_pattern_conversions
)


def q251_interpolate_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import interpolate_linear

    ev = read_table(spark, sf_dir, "events")
    # sensor-dropout fixture: 'click' rows lose their reading
    holed = ev.withColumn(
        "reading",
        F.when(F.col("event_type") != "click", F.col("value")),
    )
    out = interpolate_linear(
        holed, "user_id", "ts", "reading", tiebreak_col="event_id"
    )
    return (
        out.filter(F.col("event_type") == "click")
        .select("user_id", "event_id", "ts", "filled_value")
        .orderBy("user_id", "event_id")
    )


_Q251_ORACLE = """
    WITH holed AS (
      SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type <> 'click' THEN value END AS reading
      FROM events
    ),
    staged AS (
      SELECT user_id, event_id, ts, event_type, reading,
        LAST_VALUE(CASE WHEN reading IS NOT NULL THEN reading END IGNORE NULLS)
          OVER w_prev AS pv,
        LAST_VALUE(CASE WHEN reading IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
          OVER w_prev AS pt,
        FIRST_VALUE(CASE WHEN reading IS NOT NULL THEN reading END IGNORE NULLS)
          OVER w_next AS nv,
        FIRST_VALUE(CASE WHEN reading IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS)
          OVER w_next AS nt
      FROM holed
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, ts,
      CASE
        WHEN reading IS NOT NULL THEN reading
        WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt <> pt THEN
          round(pv + (nv - pv) * ((epoch_us(ts) - pt) / (nt - pt)), 6)
        WHEN pv IS NOT NULL THEN pv
        ELSE nv
      END AS filled_value
    FROM staged
    WHERE event_type = 'click'
    ORDER BY user_id, event_id
"""

_Q251_NOTES = (
    "LINEAR GAP INTERPOLATION (operators/timeseries.interpolate_linear "
    "— the sensor-dropout repair LOCF q101/q102 only staircase-"
    "approximates): two conditional running-value window passes over "
    "ONE (user, ts, event_id) sort give the nearest non-null neighbor "
    "on each side with its timestamp; the fill is map-side arithmetic "
    "on exact integer microseconds (boundary gaps fall back to "
    "nearest-neighbor). One hash-partitioned per-key sort, no joins, "
    "no grid explosion — the sessionization cost class. 6dp rounding "
    "on the two float multiplies keeps it oracle-portable"
)


def q253_column_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.reconcile import column_diff

    orders = read_table(spark, sf_dir, "orders")
    # deterministic synthetic drift: price bump, status flip, deletions,
    # and a block of inserted keys - all derived map-side so the oracle
    # replays the identical snapshot pair
    new = (
        orders.filter((F.col("o_orderkey") % 997) != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_custkey") % 37 == 0, F.col("o_totalprice") + 100.0
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_custkey") % 41 == 0, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )
    inserted = (
        orders.filter(F.col("o_orderkey") % 991 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000)
    )
    return column_diff(
        orders,
        new.unionByName(inserted),
        ["o_orderkey"],
        ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"],
    )


_Q253_ORACLE = """
    WITH new_mod AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_custkey % 41 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_custkey % 37 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderdate
      FROM orders WHERE o_orderkey % 997 <> 0
    ),
    new_ins AS (
      SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey, o_orderstatus,
             o_totalprice, o_orderdate
      FROM orders WHERE o_orderkey % 991 = 0
    ),
    new_t AS (SELECT * FROM new_mod UNION ALL SELECT * FROM new_ins),
    j AS (
      SELECT o.o_orderkey AS ok_old, n.o_orderkey AS ok_new,
             o.o_custkey AS oc, n.o_custkey AS nc,
             o.o_orderstatus AS os, n.o_orderstatus AS ns,
             o.o_totalprice AS op, n.o_totalprice AS np,
             o.o_orderdate AS od, n.o_orderdate AS nd
      FROM orders o FULL OUTER JOIN new_t n ON o.o_orderkey = n.o_orderkey
    ),
    wide AS (
      SELECT
        CAST(SUM(CASE WHEN ok_old IS NOT NULL AND ok_new IS NOT NULL
                       AND oc IS DISTINCT FROM nc THEN 1 ELSE 0 END) AS BIGINT)
          AS chg_custkey,
        CAST(SUM(CASE WHEN ok_old IS NOT NULL AND ok_new IS NOT NULL
                       AND os IS DISTINCT FROM ns THEN 1 ELSE 0 END) AS BIGINT)
          AS chg_status,
        CAST(SUM(CASE WHEN ok_old IS NOT NULL AND ok_new IS NOT NULL
                       AND op IS DISTINCT FROM np THEN 1 ELSE 0 END) AS BIGINT)
          AS chg_price,
        CAST(SUM(CASE WHEN ok_old IS NOT NULL AND ok_new IS NOT NULL
                       AND od IS DISTINCT FROM nd THEN 1 ELSE 0 END) AS BIGINT)
          AS chg_date,
        CAST(SUM(CASE WHEN ok_old IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS added,
        CAST(SUM(CASE WHEN ok_new IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS removed
      FROM j
    )
    SELECT column_name, n_rows FROM (
      SELECT '__added__' AS column_name, added AS n_rows FROM wide
      UNION ALL SELECT '__removed__', removed FROM wide
      UNION ALL SELECT 'o_custkey', chg_custkey FROM wide
      UNION ALL SELECT 'o_orderstatus', chg_status FROM wide
      UNION ALL SELECT 'o_totalprice', chg_price FROM wide
      UNION ALL SELECT 'o_orderdate', chg_date FROM wide
    )
    ORDER BY column_name
"""

_Q253_NOTES = (
    "COLUMN-LEVEL SNAPSHOT DIFF (operators/reconcile.column_diff — the "
    "drill-down after reconcile_buckets q175 / reconcile_rows q213 "
    "flags a mismatch: WHICH columns drifted and how much): one full "
    "outer join on the key (the only shuffle) feeds a single "
    "aggregation whose per-column counters are null-safe IS DISTINCT "
    "FROM sums folded map-side — n columns never means n jobs/joins/"
    "scans (the profile_table discipline). Output long-format, "
    "|cols|+2 rows at any scale; __added__/__removed__ carry key "
    "churn. Fixture drift (price bump, status flip, deletes, key-"
    "shifted inserts) is derived map-side so both engines replay the "
    "identical snapshot pair"
)


register("q251_interpolate_gaps", _Q251_ORACLE, _Q251_NOTES)(q251_interpolate_gaps)


register("q253_column_diff", _Q253_ORACLE, _Q253_NOTES)(q253_column_diff)


def q255_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cm_estimate, cm_sketch

    li = read_table(spark, sf_dir, "lineitem")
    sk = cm_sketch(li, "l_suppkey", depth=4, width=64)
    exact = li.groupBy("l_suppkey").agg(F.count("*").alias("exact_cnt"))
    est = cm_estimate(
        sk, exact.select("l_suppkey"), "l_suppkey", depth=4, width=64
    )
    return (
        exact.join(est, "l_suppkey")
        .select("l_suppkey", "exact_cnt", "cm_est")
        .orderBy("l_suppkey")
    )


def _q255_oracle() -> str:
    from ..operators.sketch import cm_sketch_sql

    cells = cm_sketch_sql("lineitem", "CAST(l_suppkey AS VARCHAR)", 4, 64)
    probe_hash = (
        "CAST(list_sum(list_transform(generate_series(1, 6), i -> "
        "CAST((strpos('0123456789abcdef', substr(md5(concat("
        "CAST(l_suppkey AS VARCHAR), ':cm:', CAST(r AS VARCHAR))), i, 1))"
        " - 1) AS BIGINT) * CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT)"
        " % 64"
    )
    return f"""
    WITH cells AS ({cells}),
    exact AS (
      SELECT l_suppkey, COUNT(*) AS exact_cnt FROM lineitem GROUP BY 1
    ),
    pb AS (
      SELECT l_suppkey, exact_cnt, r, CAST({probe_hash} AS INTEGER) AS b
      FROM exact
      CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)
    )
    SELECT pb.l_suppkey, pb.exact_cnt,
           MIN(COALESCE(cells.cnt, 0)) AS cm_est
    FROM pb LEFT JOIN cells
      ON cells.row = pb.r AND cells.bucket = pb.b
    GROUP BY 1, 2
    ORDER BY pb.l_suppkey
    """


_Q255_NOTES = (
    "COUNT-MIN SKETCH frequency estimation (operators/sketch.py — the "
    "point-frequency member of the sketch family next to HLL/KMV/"
    "Misra-Gries/GK): depth x width counter table built by a map-side "
    "depth-way transform + ONE hash agg (shuffle carries cells per "
    "task, never per input row; the table is metadata-sized at any "
    "corpus size), estimates = MIN over a key's depth cells via a "
    "broadcast join of the sketch. Hashing is the engine-wide md5 rule "
    "(first 6 hex of md5(key:salt:row) mod width) so DuckDB replays "
    "the ENTIRE table and every estimate digit-for-digit — a fully "
    "deterministic, oracle-checkable sketch. The query pins "
    "est >= exact per key structurally (hash compare of both columns)"
)


def q256_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.drift import cusum_scores

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    capped = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 60)
        .select("user_id", "event_id", "value")
    )
    out = cusum_scores(
        capped, "user_id", "event_id", "value", k=0.25, h=2.0
    )
    return out.orderBy("user_id", "event_id")


_Q256_NOTES = (
    "TWO-SIDED TABULAR CUSUM changepoint detection per key (operators/"
    "drift.cusum_scores — the SEQUENTIAL drift detector next to the "
    "distributional PSI/KS: at which point did this series' level "
    "shift?). Inherently sequential recursion runs per key inside a "
    "grouped Arrow batch (keys parallelize, one key-shuffle — the same "
    "cost class as any per-key window); standardization means/stds "
    "come from 9dp-decimal sums and every derived double (mu, sigma, "
    "z, each max(0, .) recursion step) is RAW IEEE arithmetic on "
    "identical inputs — never re-rounded — so the DuckDB WITH "
    "RECURSIVE oracle matches BIT-FOR-BIT (repr-faithful hash), rare "
    "for a sequential operator. Series capped at 60 rows/key to bound "
    "the oracle's recursion depth; the operator itself has no cap"
)


def q258_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import mutual_information

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 5).alias("cohort")
    )
    return mutual_information(ev, "event_type", "cohort")


_Q258_ORACLE = """
    WITH cells AS (
      SELECT CAST(event_type AS VARCHAR) AS x,
             CAST(user_id % 5 AS VARCHAR) AS y, COUNT(*) AS nxy
      FROM events
      WHERE event_type IS NOT NULL AND user_id IS NOT NULL
      GROUP BY 1, 2
    ),
    mx AS (SELECT x, SUM(nxy) AS nx FROM cells GROUP BY 1),
    my AS (SELECT y, SUM(nxy) AS ny FROM cells GROUP BY 1),
    tot AS (SELECT SUM(nxy) AS n FROM cells),
    mi AS (
      SELECT COUNT(*) AS cells, MAX(CAST(t.n AS DOUBLE)) AS n,
             SUM(CAST(round(CAST(c.nxy AS DOUBLE) / t.n
                 * ln(CAST(c.nxy AS DOUBLE) * t.n
                      / (CAST(mx.nx AS DOUBLE) * CAST(my.ny AS DOUBLE))),
                 9) AS DECIMAL(38,9))) AS mi_d
      FROM cells c JOIN mx ON c.x = mx.x JOIN my ON c.y = my.y
      CROSS JOIN tot t
    ),
    hx AS (
      SELECT SUM(CAST(round(
               -(CAST(nx AS DOUBLE) / t.n) * ln(CAST(nx AS DOUBLE) / t.n),
               9) AS DECIMAL(38,9))) AS hx_d
      FROM mx CROSS JOIN tot t
    ),
    hy AS (
      SELECT SUM(CAST(round(
               -(CAST(ny AS DOUBLE) / t.n) * ln(CAST(ny AS DOUBLE) / t.n),
               9) AS DECIMAL(38,9))) AS hy_d
      FROM my CROSS JOIN tot t
    )
    SELECT mi.cells, CAST(mi.n AS BIGINT) AS n,
           round(CAST(mi_d AS DOUBLE), 6) AS mi,
           round(CAST(hx_d AS DOUBLE), 6) AS h_x,
           round(CAST(hy_d AS DOUBLE), 6) AS h_y,
           round(CAST(mi_d AS DOUBLE)
                 / sqrt(CAST(hx_d AS DOUBLE) * CAST(hy_d AS DOUBLE)), 6)
             + 0.0 AS nmi
    FROM mi CROSS JOIN hx CROSS JOIN hy
"""

_Q258_NOTES = (
    "MUTUAL INFORMATION + marginal entropies + NMI between two "
    "categorical columns (operators/profile.mutual_information — the "
    "feature-selection/redundancy readout next to FD discovery, which "
    "is its MI(X;Y)=H(Y) limit): one hash agg over (x,y) cells, "
    "marginals derived from the SAME cells (no second corpus scan), "
    "per-cell nats terms 9dp-rounded and decimal-summed so the "
    "reduction is order-independent and the oracle replays it "
    "digit-for-digit. Output one row at 6dp"
)


def q259_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import acf_by_key

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return acf_by_key(ev, "user_id", "event_id", "value").orderBy(
        "user_id", "lag"
    )


_Q259_ORACLE = """
    WITH base AS (
      SELECT user_id, event_id, value FROM events WHERE value IS NOT NULL
    ),
    stats AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CAST(round(value, 9) AS DECIMAL(38,9))) AS sx
      FROM base GROUP BY 1
    ),
    zs AS (
      SELECT b.user_id, b.event_id,
             round(b.value, 9) - CAST(s.sx AS DOUBLE) / s.n AS z
      FROM base b JOIN stats s USING (user_id)
    ),
    lagged AS (
      SELECT user_id, event_id, z,
             lag(z, 1) OVER w AS z1,
             lag(z, 2) OVER w AS z2,
             lag(z, 3) OVER w AS z3
      FROM zs
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ),
    num AS (
      SELECT user_id, u.lag,
             COUNT(*) AS n_pairs,
             SUM(CAST(round(z * CASE u.lag WHEN 1 THEN z1
                                          WHEN 2 THEN z2
                                          ELSE z3 END, 9)
                 AS DECIMAL(38,9))) AS num
      FROM lagged
      CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS lag) u
      WHERE CASE u.lag WHEN 1 THEN z1 WHEN 2 THEN z2 ELSE z3 END
            IS NOT NULL
      GROUP BY 1, 2
    ),
    den AS (
      SELECT user_id,
             SUM(CAST(round(z * z, 9) AS DECIMAL(38,9))) AS szz
      FROM zs GROUP BY 1
    )
    SELECT n.user_id, CAST(n.lag AS INTEGER) AS lag, n.n_pairs,
           round(CAST(n.num AS DOUBLE) / CAST(d.szz AS DOUBLE), 6)
             + 0.0 AS acf
    FROM num n JOIN den d USING (user_id)
    ORDER BY n.user_id, n.lag
"""

_Q259_NOTES = (
    "PER-KEY LAG-k AUTOCORRELATION (operators/timeseries.acf_by_key — "
    "the seasonality/persistence readout next to interpolation/SCD2): "
    "one (key, order) window sort shared by ALL lags (lag columns ride "
    "the same frame), one map-side array-of-structs explode (rows x "
    "|lags|, no self-join), one hash agg. Means from decimal sums; "
    "z-products 9dp-rounded decimals (order-independent reduction); "
    "the oracle replays the identical window + sums digit-for-digit. "
    "At 100 TB this is the sort-once multi-statistic pattern: adding a "
    "lag adds zero shuffles"
)


register("q255_count_min_sketch", _q255_oracle(), _Q255_NOTES)(q255_count_min_sketch)
register("q256_cusum_changepoints", _Q256_ORACLE, _Q256_NOTES)(q256_cusum_changepoints)


register("q258_mutual_information", _Q258_ORACLE, _Q258_NOTES)(q258_mutual_information)
register("q259_autocorrelation", _Q259_ORACLE, _Q259_NOTES)(q259_autocorrelation)


def q260_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import target_encode

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return (
        target_encode(li, "l_returnflag", "l_quantity", m=10.0)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "te")
        .orderBy("l_orderkey", "l_linenumber")
    )


_Q260_ORACLE = """
    WITH per AS (
      SELECT l_returnflag, COUNT(*) AS n_cat,
             SUM(CAST(round(CAST(l_quantity AS DOUBLE), 9)
                 AS DECIMAL(38,9))) AS sy
      FROM lineitem GROUP BY 1
    ),
    g AS (
      SELECT COUNT(*) AS n_all,
             SUM(CAST(round(CAST(l_quantity AS DOUBLE), 9)
                 AS DECIMAL(38,9))) AS sy_all
      FROM lineitem
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           (CAST(p.sy AS DOUBLE) - CAST(l.l_quantity AS DOUBLE)
            + 10.0 * (CAST(g.sy_all AS DOUBLE) / g.n_all))
             / (p.n_cat - 1 + 10.0) AS te
    FROM lineitem l JOIN per p USING (l_returnflag) CROSS JOIN g
    ORDER BY l.l_orderkey, l.l_linenumber
"""

_Q260_NOTES = (
    "LEAVE-ONE-OUT SMOOTHED TARGET ENCODING (operators/features."
    "target_encode — the leak-free categorical encoder: te_i = "
    "(sum_cat(y) - y_i + m*prior)/(n_cat - 1 + m), so a row can never "
    "see its own label and singleton categories shrink to the prior): "
    "one (cat) hash agg + one 1-row global agg, both broadcast back; "
    "the per-row encoding is a map-side expression over the original "
    "partitioning — zero row shuffles at any scale. Decimal label "
    "sums; te is the raw IEEE double of identical inputs, bit-matched "
    "by the oracle"
)


def q261_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import feature_hash

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 200
    )
    return feature_hash(docs, "doc_id", "text", dim=32).orderBy(
        "doc_id", "dim_idx"
    )


def _q261_oracle() -> str:
    bucket = _shard_sql("tok", ":fh", 32)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
      FROM documents WHERE doc_id < 200
    ),
    h AS (
      SELECT doc_id,
             CAST({bucket} AS INTEGER) AS dim_idx,
             CASE WHEN (strpos('0123456789abcdef',
                        substr(md5(concat(tok, ':fh')), 7, 1)) - 1) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM toks WHERE tok <> ''
    )
    SELECT doc_id, dim_idx, CAST(SUM(s) AS BIGINT) AS val
    FROM h GROUP BY 1, 2
    HAVING SUM(s) <> 0
    ORDER BY doc_id, dim_idx
    """


_Q261_NOTES = (
    "FEATURE HASHING / hashing trick (operators/features.feature_hash "
    "— unbounded token vocabularies into a fixed dimensionality, "
    "Weinberger et al. 2009: bucket = md5(tok:salt) mod d, a second "
    "md5 hex digit gives the +-1 sign so collisions cancel unbiased): "
    "map-side split+explode, ONE (id, dim) hash agg, no joins, no "
    "vocabulary state — the streaming-friendly encoder. Sparse "
    "(id, dim_idx, val) output is the 100 TB-honest shape. md5 rule "
    "makes every bucket and sign digit-replayable in the oracle"
)


def q262_woe_information_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import woe_iv

    orders = read_table(spark, sf_dir, "orders").withColumn(
        "bad", F.col("o_orderstatus") == "F"
    )
    out = woe_iv(orders, "o_orderpriority", "bad")
    # ln() is not correctly-rounded — JVM vs libm differ in the last
    # ulp — so the catalog surface rounds at 6dp (both engines round
    # the same double, far from any tie at this magnitude)
    return out.select(
        "o_orderpriority",
        "n_pos",
        "n_neg",
        F.round("woe", 6).alias("woe"),
        F.round("iv_term", 6).alias("iv_term"),
    ).orderBy("o_orderpriority")


_Q262_ORACLE = """
    WITH per AS (
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_neg
      FROM orders GROUP BY 1
    ),
    t AS (
      SELECT CAST(SUM(n_pos) AS BIGINT) AS p_all,
             CAST(SUM(n_neg) AS BIGINT) AS n_all
      FROM per
    )
    SELECT o_orderpriority, n_pos, n_neg,
           round(ln(((n_pos + 0.5) / (p_all + 1.0))
              / ((n_neg + 0.5) / (n_all + 1.0))), 6) AS woe,
           round((CAST(n_pos AS DOUBLE) / p_all
                  - CAST(n_neg AS DOUBLE) / n_all)
             * ln(((n_pos + 0.5) / (p_all + 1.0))
                  / ((n_neg + 0.5) / (n_all + 1.0))), 6) AS iv_term
    FROM per CROSS JOIN t
    ORDER BY o_orderpriority
"""

_Q262_NOTES = (
    "WEIGHT OF EVIDENCE + INFORMATION VALUE per category (operators/"
    "features.woe_iv — the monotone-risk categorical encoding and its "
    "feature-strength summary, Laplace-smoothed so empty cells stay "
    "finite): one (cat) hash agg with conditional counts; P/N totals "
    "derive from the SAME aggregate rows (broadcast 1-row — no second "
    "scan). woe/iv are raw IEEE doubles of exact integer counts, "
    "bit-matched by the oracle; SUM(iv_term) is the feature's IV"
)


register("q260_target_encoding", _Q260_ORACLE, _Q260_NOTES)(q260_target_encoding)
register("q261_feature_hashing", _q261_oracle(), _Q261_NOTES)(q261_feature_hashing)
register("q262_woe_information_value", _Q262_ORACLE, _Q262_NOTES)(
    q262_woe_information_value
)


def q266_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import gini_lorenz

    li = read_table(spark, sf_dir, "lineitem")
    return gini_lorenz(
        li, "l_returnflag", "l_extendedprice", "l_orderkey"
    ).orderBy("l_returnflag")


_Q266_ORACLE = """
    WITH ranked AS (
      SELECT l_returnflag,
             round(CAST(l_extendedprice AS DOUBLE), 9) AS x,
             CAST(row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey) AS DOUBLE) AS i
      FROM lineitem
    ),
    agg AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(x AS DECIMAL(38,9))) AS sx,
             SUM(CAST(round(i * x, 9) AS DECIMAL(38,9))) AS six
      FROM ranked GROUP BY 1
    )
    SELECT l_returnflag, n, CAST(sx AS DOUBLE) AS total,
           round(2.0 * CAST(six AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
             - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6)
             + 0.0 AS gini
    FROM agg ORDER BY l_returnflag
"""

_Q266_NOTES = (
    "GINI CONCENTRATION coefficient per group (operators/profile."
    "gini_lorenz — how unevenly a quantity is spread across members; "
    "the curation readout for token/domain imbalance): exact rank "
    "formula 2*Sum(i*x_i)/(n*Sum x) - (n+1)/n over ONE per-group "
    "window sort with deterministic tie order, one decimal agg — the "
    "sort-once pattern. 6dp output (the i*x decimal sum exceeds 2^53 "
    "at scale); row_number tie order pinned by the (value, id) sort "
    "in both engines"
)


register("q266_gini_concentration", _Q266_ORACLE, _Q266_NOTES)(q266_gini_concentration)


def q269_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import canonical_edges, k_core

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 397).alias("src"),
        (F.col("event_id") % 389).alias("dst"),
    )
    edges = canonical_edges(pairs, "src", "dst")
    return k_core(edges, k=4).orderBy("node")


def _q269_oracle(k: int = 4, rounds: int = 6) -> str:
    """Unrolled peeling oracle (the q230 LPA discipline): one
    degree+filter+join CTE chain per round. The Spark side iterates to
    the TRUE fixpoint; the unroll is safe because the fixture reaches
    it in ≤ 4 rounds at both driver scales (measured) and extra rounds
    are no-ops on a converged edge set."""
    head = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(user_id % 397, event_id % 389) AS a,
                      GREATEST(user_id % 397, event_id % 389) AS b
      FROM events
      WHERE user_id % 397 <> event_id % 389
    )"""
    parts = [head]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f""",
    d{r} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM e{p} UNION ALL SELECT b AS node FROM e{p}
      ) GROUP BY 1
    ),
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE deg >= {k}),
    e{r} AS MATERIALIZED (
      SELECT e.a, e.b
      FROM e{p} e
      JOIN k{r} ka ON e.a = ka.node
      JOIN k{r} kb ON e.b = kb.node
    )""")
    parts.append(f"""
    SELECT node, COUNT(*) AS degree FROM (
      SELECT a AS node FROM e{rounds}
      UNION ALL SELECT b AS node FROM e{rounds}
    ) GROUP BY 1 ORDER BY node""")
    return "".join(parts)


_Q269_NOTES = (
    "K-CORE DECOMPOSITION (operators/graph.k_core — the dense-backbone "
    "filter: iterative peeling of nodes with degree < k until "
    "fixpoint, next to triangles/LPA in the graph family): each round "
    "is one degree agg + two semi-joins (keyed shuffles only, no "
    "NLJ), the edge set only shrinks, lineage truncated per round "
    "(eager localCheckpoint) with an O(1) convergence count. Oracle "
    "is the q230-style unrolled-CTE peel (6 rounds > the measured "
    "fixpoint at both driver scales; extra rounds are no-ops)"
)


register("q269_kcore_decomposition", _q269_oracle(), _Q269_NOTES)(
    q269_kcore_decomposition
)


def q272_fd_violation_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import fd_repair

    # near-FD fixture: y = user_id % 7 corrupted on event_id % 97 == 0
    # rows (deterministic, replayed identically by the oracle) — the
    # repair must recover the majority (clean) value per user
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_id") % 97 == 0, (F.col("user_id") + 1) % 7)
        .otherwise(F.col("user_id") % 7)
        .alias("segment"),
    )
    return fd_repair(ev, ["user_id"], "segment").orderBy("user_id")


_Q272_ORACLE = """
    WITH fx AS (
      SELECT user_id,
             CASE WHEN event_id % 97 = 0 THEN (user_id + 1) % 7
                  ELSE user_id % 7 END AS segment
      FROM events
    ),
    pair AS (
      SELECT user_id, segment AS _y, COUNT(*) AS _c
      FROM fx WHERE segment IS NOT NULL
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, _y, _c,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY _c DESC, _y ASC) AS _rk,
             SUM(_c) OVER (PARTITION BY user_id) AS _n,
             COUNT(*) OVER (PARTITION BY user_id) AS _nd
      FROM pair
    )
    SELECT user_id, _y AS suggested, CAST(_n AS BIGINT) AS n_rows,
           CAST(_nd AS BIGINT) AS n_distinct,
           CAST(_c AS DOUBLE) / _n AS support
    FROM ranked WHERE _rk = 1 AND _nd > 1
    ORDER BY user_id
"""

_Q272_NOTES = (
    "FD VIOLATION REPAIR (operators/profile.fd_repair — the action "
    "step after q234's FD discovery flags X->Y as ALMOST holding: "
    "modal-value suggestions per violating determinant group, ties to "
    "the smallest value for determinism): one (X,Y) hash agg, then "
    "argmax/total windows over the DISTINCT-PAIR table (group "
    "cardinality, not row cardinality — metadata-shaped at 100 TB). "
    "Fixture corruption is a deterministic map-side CASE both engines "
    "replay identically; support ratios are small-int divisions"
)


register("q272_fd_violation_repair", _Q272_ORACLE, _Q272_NOTES)(
    q272_fd_violation_repair
)


def q276_corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import corpus_kl

    docs = read_table(spark, sf_dir, "documents")
    return corpus_kl(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


_Q276_ORACLE = """
    WITH ta AS (
      SELECT regexp_replace(u, '[^a-z0-9]', '', 'g') AS t
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
              AS u
            FROM documents WHERE doc_id % 2 = 0)
    ),
    tb AS (
      SELECT regexp_replace(u, '[^a-z0-9]', '', 'g') AS t
      FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
              AS u
            FROM documents WHERE doc_id % 2 = 1)
    ),
    ca AS (SELECT t, COUNT(*) AS ca FROM ta WHERE t <> '' GROUP BY 1),
    cb AS (SELECT t, COUNT(*) AS cb FROM tb WHERE t <> '' GROUP BY 1),
    j AS (
      SELECT COALESCE(ca.t, cb.t) AS t,
             COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
      FROM ca FULL OUTER JOIN cb ON ca.t = cb.t
    ),
    tot AS (
      SELECT COUNT(*) AS v, CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb
      FROM j
    ),
    terms AS (
      SELECT v, na, nb,
             (ca + 0.5) / (na + 0.5 * v) AS p,
             (cb + 0.5) / (nb + 0.5 * v) AS q
      FROM j CROSS JOIN tot
    )
    SELECT CAST(MAX(v) AS BIGINT) AS vocab,
           MAX(na) AS n_a, MAX(nb) AS n_b,
           round(CAST(SUM(CAST(round(p * ln(p / q), 9)
                 AS DECIMAL(38,9))) AS DOUBLE), 6) + 0.0 AS kl_ab,
           round(CAST(SUM(CAST(round(q * ln(q / p), 9)
                 AS DECIMAL(38,9))) AS DOUBLE), 6) + 0.0 AS kl_ba,
           round(CAST(SUM(CAST(round(
                 (p * ln(p / ((p + q) / 2.0))
                  + q * ln(q / ((p + q) / 2.0))) / 2.0, 9)
                 AS DECIMAL(38,9))) AS DOUBLE), 6) + 0.0 AS js
    FROM terms
"""

_Q276_NOTES = (
    "CORPUS KL / JENSEN-SHANNON DIVERGENCE (operators/drift.corpus_kl "
    "— the TEXT drift detector next to the numeric PSI/KS: smoothed "
    "unigram distributions of two corpora on the union vocabulary, "
    "KL both directions + symmetric JS): one tokenize+count agg per "
    "side, a token-keyed full-outer vocab join (no broadcast "
    "assumption on the vocabulary — the q250 rule), 9dp-decimal nats "
    "sums, 6dp output (ln). Fixture split is doc parity so both "
    "engines build identical corpora"
)


def q277_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import seasonal_naive_backtest

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return seasonal_naive_backtest(
        ev, "user_id", "event_id", "value", season=7
    ).orderBy("user_id")


_Q277_ORACLE = """
    WITH lagged AS (
      SELECT user_id,
             round(value - lag(value, 7) OVER (PARTITION BY user_id
                                               ORDER BY event_id), 9)
               AS e
      FROM events WHERE value IS NOT NULL
    ),
    errs AS (SELECT user_id, e FROM lagged WHERE e IS NOT NULL)
    SELECT user_id, COUNT(*) AS n_eval,
           CAST(SUM(CAST(round(abs(e), 9) AS DECIMAL(38,9))) AS DOUBLE)
             / COUNT(*) AS mae,
           sqrt(CAST(SUM(CAST(round(e * e, 9) AS DECIMAL(38,9)))
                AS DOUBLE) / COUNT(*)) AS rmse,
           CAST(SUM(CAST(e AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*)
             AS bias
    FROM errs GROUP BY 1 ORDER BY user_id
"""

_Q277_NOTES = (
    "SEASONAL-NAIVE FORECAST BACKTEST (operators/timeseries."
    "seasonal_naive_backtest — the baseline every forecasting model "
    "must beat: y_hat_t = y_(t-season), per-key MAE/RMSE/bias over "
    "rows with a season-lagged ancestor): ONE per-key window lag on "
    "the family's shared (key, order) sort, decimal error sums, "
    "raw-IEEE outputs (sums sub-2^53, ops correctly rounded). "
    "Opens the forecast-eval family next to drift/eval"
)


register("q276_corpus_kl_divergence", _Q276_ORACLE, _Q276_NOTES)(
    q276_corpus_kl_divergence
)
register("q277_seasonal_naive_backtest", _Q277_ORACLE, _Q277_NOTES)(
    q277_seasonal_naive_backtest
)


def q278_expectation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.expectations import expectation_report

    orders = read_table(spark, sf_dir, "orders")
    rules = [
        ("orderkey_not_null", "not_null", "o_orderkey", {}),
        ("orderkey_unique", "unique", "o_orderkey", {}),
        ("status_in_set", "in_set", "o_orderstatus",
         {"values": ["F", "O", "P"]}),
        ("price_in_range", "in_range", "o_totalprice",
         {"lo": 0, "hi": 1000000}),
        ("priority_format", "matches", "o_orderpriority",
         {"pattern": "^[1-5]-[A-Z ]+$"}),
        ("custkey_nonneg", "in_range", "o_custkey",
         {"lo": 0, "hi": 9223372036854775807}),
    ]
    return expectation_report(orders, rules).orderBy("rule")


_Q278_ORACLE = """
    WITH wide AS (
      SELECT COUNT(*) AS n_all,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS v_null,
             COUNT(o_orderkey) AS n_ok,
             COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v_uni,
             COUNT(o_orderstatus) AS n_st,
             CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                           AND o_orderstatus NOT IN ('F', 'O', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_st,
             COUNT(o_totalprice) AS n_pr,
             CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                           AND NOT (o_totalprice BETWEEN 0 AND 1000000)
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_pr,
             COUNT(o_orderpriority) AS n_fmt,
             CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                           AND NOT regexp_matches(o_orderpriority,
                                                  '^[1-5]-[A-Z ]+$')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_fmt,
             COUNT(o_custkey) AS n_ck,
             CAST(SUM(CASE WHEN o_custkey IS NOT NULL
                           AND NOT (o_custkey BETWEEN 0
                                    AND 9223372036854775807)
                      THEN 1 ELSE 0 END) AS BIGINT) AS v_ck
      FROM orders
    )
    SELECT rule, "column", n_checked, n_violations,
           CASE WHEN n_checked = 0 THEN 1.0
                ELSE 1.0 - CAST(n_violations AS DOUBLE) / n_checked
           END AS pass_rate,
           CASE WHEN n_checked = 0 THEN TRUE
                ELSE CAST(n_violations AS DOUBLE) / n_checked <= 0.0
           END AS passed
    FROM (
      SELECT 'custkey_nonneg' AS rule, 'o_custkey' AS "column",
             n_ck AS n_checked, v_ck AS n_violations FROM wide
      UNION ALL
      SELECT 'orderkey_not_null', 'o_orderkey', n_all, v_null FROM wide
      UNION ALL
      SELECT 'orderkey_unique', 'o_orderkey', n_ok, v_uni FROM wide
      UNION ALL
      SELECT 'price_in_range', 'o_totalprice', n_pr, v_pr FROM wide
      UNION ALL
      SELECT 'priority_format', 'o_orderpriority', n_fmt, v_fmt FROM wide
      UNION ALL
      SELECT 'status_in_set', 'o_orderstatus', n_st, v_st FROM wide
    )
    ORDER BY rule
"""

_Q278_NOTES = (
    "EXPECTATION-SUITE RUNNER / data contract gate (operators/"
    "expectations.expectation_report — the Great-Expectations-shaped "
    "ingest gate next to profiling: declarative not_null/unique/"
    "in_range/matches/in_set/min_length rules): ALL rules fold into "
    "ONE aggregation pass (conditional sums map-side; uniqueness as "
    "count - countDistinct in the SAME agg) — N rules never means N "
    "jobs or scans. Long-format one-row-per-rule output; pass_rate is "
    "a small-int division (raw-portable). NULL semantics: non-null "
    "rules skip NULLs (compose with not_null to forbid)"
)


register("q278_expectation_report", _Q278_ORACLE, _Q278_NOTES)(q278_expectation_report)


def q279_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.features import quantile_normalize

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return quantile_normalize(ev, "event_type", "value", "event_id").orderBy(
        "event_id"
    )


_Q279_ORACLE = """
    WITH base AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_id, event_type, v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v, event_id) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS ng
      FROM base
    ),
    gsorted AS (
      SELECT v AS gv,
             row_number() OVER (ORDER BY v, event_id) AS idx
      FROM base
    ),
    tot AS (SELECT COUNT(*) AS n FROM base)
    SELECT r.event_id, r.event_type, r.v AS value, g.gv AS normalized
    FROM ranked r
    CROSS JOIN tot
    JOIN gsorted g
      ON g.idx = LEAST(tot.n,
                       CAST(ceil((r.r - 0.5) / r.ng * tot.n) AS BIGINT))
    ORDER BY r.event_id
"""

_Q279_NOTES = (
    "PER-GROUP QUANTILE NORMALIZATION (operators/features."
    "quantile_normalize — cross-domain distribution harmonization, "
    "microarray heritage: each value maps to the GLOBAL observed value "
    "at its within-group quantile position, so every group ends up "
    "with the identical distribution — z-scoring can't do this when "
    "SHAPES differ, not just moments): within-group rank windows + a "
    "global index from stable_row_number (range exchange + local "
    "offsets — NO SinglePartition window) + one integer-keyed "
    "equi-join. Deterministic (value, id) tie order replayed by the "
    "oracle's row_number"
)


register("q279_quantile_normalize", _Q279_ORACLE, _Q279_NOTES)(q279_quantile_normalize)


def q280_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os as _os

    from ..operators.prefix import prefix_agg
    from ..sources.readers import footer_lead_boundaries

    # split=False: prefix_agg's bucket exchange is the first op and the
    # approxQuantile edge pass re-scans; the split exchange measured
    # net-negative (A/B 1.41 s vs 1.61 s)
    src = read_table(spark, sf_dir, "orders", split=False).select(
        "o_orderkey",
        "o_orderdate",
        F.col("o_totalprice").cast("decimal(28,2)").alias("_p"),
    )
    # Bucket boundaries from the row-group statistics in the footers of
    # every file of the orders dataset (OPTIMIZATION_r16): metadata-only,
    # replacing the approxQuantile pass that cost one full scan + one extra
    # driver-blocking job per execution. Results are identical for any
    # monotone boundary set (prefix_agg's combine is exact regardless of
    # balance); None falls back to the approxQuantile pass.
    bounds = footer_lead_boundaries(
        _os.path.join(sf_dir, "orders.parquet"),
        "o_orderdate",
        spark.sparkContext.defaultParallelism,
    )
    return (
        prefix_agg(
            src,
            ["o_orderdate", "o_orderkey"],
            "_p",
            agg="sum",
            out_col="_run",
            boundaries=bounds,
        )
        # exact decimal accumulation, double on the wire (the engine-wide
        # decimal-carry rule): cast-of-exact-decimal is the same nearest
        # double in both engines
        .select(
            "o_orderkey",
            "o_orderdate",
            F.col("_p").cast("double").alias("total_price"),
            F.col("_run").cast("double").alias("running_total"),
        )
        .orderBy("o_orderkey")
    )


_Q280_ORACLE = """
    SELECT o_orderkey, o_orderdate,
           CAST(CAST(o_totalprice AS DECIMAL(28,2)) AS DOUBLE) AS total_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_total
    FROM orders
    ORDER BY o_orderkey
"""

_Q280_NOTES = (
    "DISTRIBUTED PREFIX SCAN (operators/prefix.prefix_agg — cumulative "
    "SUM OVER a global ORDER BY with NO SinglePartition window, the "
    "two-phase Blelloch scan in DataFrame ops): approxQuantile edges "
    "bucket the lead key map-side (monotone literal chain, the q79 "
    "sampled-boundaries discipline), ONE balanced hash exchange computes "
    "bucket-local prefixes, a k-row totals agg prefix-combines through "
    "the bounded pmod(bucket,1) window and broadcasts back. Decimal "
    "accumulator so local+offset regrouping is exact (associative) — "
    "bit-identical to the oracle's sequential window"
)


def q281_skyline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import prefix_agg

    pts = (
        read_table(spark, sf_dir, "part")
        .groupBy("p_retailprice", "p_size")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    scanned = prefix_agg(
        pts,
        [("p_retailprice", "asc"), ("p_size", "desc")],
        "p_size",
        agg="max",
        inclusive=False,
        out_col="cm",
    )
    return (
        scanned.filter(F.col("cm").isNull() | (F.col("cm") < F.col("p_size")))
        .select("p_retailprice", "p_size", "n_parts")
        .orderBy("p_retailprice", "p_size")
    )


_Q281_ORACLE = """
    WITH pts AS (
      SELECT p_retailprice, p_size, COUNT(*) AS n_parts
      FROM part GROUP BY 1, 2
    ),
    scan AS (
      SELECT p_retailprice, p_size, n_parts,
             MAX(p_size) OVER (
               ORDER BY p_retailprice ASC, p_size DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS cm
      FROM pts
    )
    SELECT p_retailprice, p_size, n_parts
    FROM scan WHERE cm IS NULL OR cm < p_size
    ORDER BY p_retailprice, p_size
"""

_Q281_NOTES = (
    "SKYLINE / PARETO FRONTIER (minimize price, maximize size) via the "
    "classic sort-scan reduction: dedupe to distinct points (one hash "
    "agg), then a point is dominated iff the EXCLUSIVE running max of "
    "size over (price asc, size desc) reaches its size — equal-price "
    "ties are handled because distinct points at the same price sort "
    "larger-size-first. The running max is prefix_agg, so the whole "
    "skyline is two exchanges and never all-pairs; the oracle replays "
    "the identical scan with a window"
)


def q282_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import plan_shards

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return plan_shards(
        docs, "n_chars", 100_000, order_by=["doc_id"]
    ).orderBy("doc_id")


_Q282_ORACLE = """
    SELECT doc_id, n_chars,
           CAST(COALESCE(SUM(n_chars) OVER (
                  ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) // 100000 AS BIGINT) AS shard
    FROM documents
    ORDER BY doc_id
"""

_Q282_NOTES = (
    "EXPORT SHARD / COMPACTION PLANNING (operators/prefix.plan_shards): "
    "assign corpus items to ~target-byte output shards by cutting on the "
    "exclusive running size — the greedy writer loop made distributed "
    "and RERUNNABLE (pure function of order+sizes, identical plan on "
    "re-run or cross-engine, unlike stateful first-fit packing). "
    "Integer DIV on the exact long prefix (no double floor: 100 TB "
    "prefixes exceed 2^53). Same planner applies to small-file "
    "compaction over the footer index (sources/fileindex.py) — pytest "
    "covers that path; here the oracle replays the document-export form"
)


register("q280_running_revenue", _Q280_ORACLE, _Q280_NOTES)(q280_running_revenue)
register("q281_skyline_frontier", _Q281_ORACLE, _Q281_NOTES)(q281_skyline_frontier)
register("q282_export_shards", _Q282_ORACLE, _Q282_NOTES)(q282_export_shards)


def q283_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import window_funnel

    ev = read_table(spark, sf_dir, "events")
    return window_funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        window_seconds=7200,
    ).orderBy("user_id")


_Q283_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    keys AS (SELECT DISTINCT user_id FROM ev),
    s1 AS (
      SELECT user_id, MIN(us) AS t1 FROM ev
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.us) AS t2
      FROM ev e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click'
        AND e.us > s1.t1 AND e.us <= s1.t1 + 7200000000
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.us) AS t3
      FROM ev e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.us > s2.t2 AND e.us <= s1.t1 + 7200000000
      GROUP BY 1
    )
    SELECT k.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1
                ELSE 0 END AS funnel_level,
           make_timestamp(t1) AS anchor_ts
    FROM keys k
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    ORDER BY k.user_id
"""

_Q283_NOTES = (
    "MULTI-STEP WINDOW FUNNEL (operators/sequence.window_funnel — the "
    "windowFunnel shape: first-touch anchor at the earliest step-1 "
    "event, each later step the earliest strictly-after match within "
    "the anchor window): funnel-relevant events only into ONE "
    "groupBy(key) sorted collect_list, then a JVM higher-order "
    "aggregate fold walks each list once — one exchange, no window, no "
    "self-joins, no Python. Exact integer-microsecond time compares "
    "(unix_micros ≡ epoch_us); the oracle replays first-touch greedy "
    "as nested MIN() CTEs"
)


def q284_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import bfs_hops, canonical_edges

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 97).alias("src"),
        (F.col("event_id") % 89).alias("dst"),
    )
    edges = canonical_edges(pairs, "src", "dst")
    seeds = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .filter(F.col("node") < 5)
        .distinct()
    )
    return bfs_hops(edges, seeds, max_hops=3).orderBy("node")


_Q284_ORACLE = """
    WITH RECURSIVE base AS (
      SELECT DISTINCT LEAST(user_id % 97, event_id % 89) AS a,
                      GREATEST(user_id % 97, event_id % 89) AS b
      FROM events
      WHERE user_id % 97 <> event_id % 89
    ),
    und AS (
      SELECT a AS src, b AS dst FROM base
      UNION ALL
      SELECT b AS src, a AS dst FROM base
    ),
    seeds AS (
      SELECT DISTINCT src AS node FROM und WHERE src < 5
    ),
    walk(node, hops) AS (
      SELECT node, 0 FROM seeds
      UNION
      SELECT u.dst, w.hops + 1
      FROM walk w JOIN und u ON u.src = w.node
      WHERE w.hops < 3
    )
    SELECT node, MIN(hops) AS hops FROM walk GROUP BY node ORDER BY node
"""

_Q284_NOTES = (
    "MULTI-SOURCE BFS HOP DISTANCE (operators/graph.bfs_hops — "
    "min hops from any seed, the within-N-hops fraud/crawl sweep): "
    "level-synchronous FRONTIER expansion — each round the newly "
    "reached set (not the whole visited set) joins the edges once, "
    "left_anti vs visited, per-round localCheckpoint + O(1) "
    "empty-frontier stop — total work O(E), never O(E x rounds). "
    "Oracle = bounded WITH RECURSIVE walk + MIN(hops) rollup"
)


register("q283_window_funnel", _Q283_ORACLE, _Q283_NOTES)(q283_window_funnel)
register("q284_bfs_hops", _Q284_ORACLE, _Q284_NOTES)(q284_bfs_hops)


def q288_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import weighted_quantile

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("w"),
    )
    return weighted_quantile(
        li,
        "l_extendedprice",
        "w",
        [0.25, 0.5, 0.75, 0.9],
        tiebreak_cols=["l_orderkey", "l_linenumber"],
    ).orderBy("q")


_Q288_ORACLE = """
    WITH base AS (
      SELECT l_extendedprice AS v, CAST(l_quantity AS BIGINT) AS w,
             l_orderkey, l_linenumber
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND CAST(l_quantity AS BIGINT) > 0
        AND l_extendedprice IS NOT NULL
    ),
    cum AS (
      SELECT v, SUM(w) OVER (
               ORDER BY v, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cw
      FROM base
    ),
    tot AS (SELECT SUM(w) AS tw FROM base),
    grid(q) AS (VALUES (0.25), (0.5), (0.75), (0.9))
    SELECT CAST(g.q AS DOUBLE) AS q,
           MIN(CASE WHEN c.cw >= g.q * t.tw THEN c.v END) AS value
    FROM cum c CROSS JOIN tot t CROSS JOIN grid g
    GROUP BY g.q
    ORDER BY q
"""

_Q288_NOTES = (
    "EXACT WEIGHTED QUANTILES (operators/prefix.weighted_quantile — "
    "lower/type-1: smallest value whose cumulative weight reaches q*W; "
    "frequency-weighted percentiles, inexpressible by percentile_"
    "approx): one prefix_agg running weight (balanced exchange, no "
    "SinglePartition), 1-row total broadcast, ONE aggregate with |qs| "
    "conditional MINs map-side-combined. Integer weights keep the "
    "cumulative sum exact BIGINT; the only float op is the q*W "
    "threshold multiply — identical IEEE in both engines"
)


register("q288_weighted_quantiles", _Q288_ORACLE, _Q288_NOTES)(q288_weighted_quantiles)


def q291_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import mad_outliers

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return mad_outliers(ev, ["event_type"], "value", k=3.0).orderBy("event_id")


_Q291_ORACLE = """
    WITH base AS (
      SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT event_type, quantile_disc(value, 0.5) AS med
      FROM base GROUP BY event_type
    ),
    mad AS (
      SELECT b.event_type,
             quantile_disc(abs(b.value - m.med), 0.5) AS mad
      FROM base b JOIN med m USING (event_type)
      GROUP BY b.event_type
    )
    SELECT b.event_id, b.event_type, b.value, m.med, d.mad,
           abs(b.value - m.med) > (3.0 * 1.4826) * d.mad AS is_outlier
    FROM base b
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    ORDER BY b.event_id
"""

_Q291_NOTES = (
    "ROBUST MAD OUTLIER FLAGS (operators/profile.mad_outliers — "
    "|x-med| > k*1.4826*MAD, the detector whose yardstick outliers "
    "can't inflate, unlike mean/std z-scores): two group aggregations "
    "with group-count-sized results broadcast back, flagging map-side. "
    "percentile_disc keeps medians OBSERVED values (Spark "
    "percentile_disc == DuckDB quantile_disc, the q263 parity) so "
    "every comparison is exact IEEE — no interpolation ambiguity, no "
    "rounding slack"
)


def q292_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import k_anonymity_audit

    cust = read_table(spark, sf_dir, "customer")
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], k=10
    ).orderBy("c_nationkey", "c_mktsegment")


_Q292_ORACLE = """
    SELECT c_nationkey, c_mktsegment,
           COUNT(*) AS group_size,
           COUNT(*) < 10 AS violates
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
"""

_Q292_NOTES = (
    "K-ANONYMITY AUDIT (operators/privacy.k_anonymity_audit — the "
    "group-size half of the re-identification story beside q222's "
    "l-diversity: a quasi-identifier combination shared by fewer than "
    "k records narrows any of them to a small candidate set): ONE hash "
    "aggregation, NULL quasi patterns audited as their own group (the "
    "conservative choice)"
)


def q293_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.privacy import dp_counts

    orders = read_table(spark, sf_dir, "orders")
    return dp_counts(orders, ["o_orderpriority"], epsilon=0.5).orderBy(
        "o_orderpriority"
    )


_Q293_ORACLE = """
    WITH counts AS (
      SELECT o_orderpriority, COUNT(*) AS true_count
      FROM orders GROUP BY o_orderpriority
    ),
    noise AS (
      SELECT o_orderpriority, true_count,
        (CAST(list_sum(list_transform(generate_series(1, 6), i ->
           CAST((strpos('0123456789abcdef',
                 substr(md5(o_orderpriority || ':dp'), i, 1)) - 1) AS BIGINT)
           * CAST(power(16, 6 - i) AS BIGINT))) AS DOUBLE) + 0.5)
        / 16777216.0 AS u
      FROM counts
    )
    SELECT o_orderpriority, true_count,
           round(CAST(true_count AS DOUBLE)
                 + (-(1.0 / 0.5) * sign(u - 0.5)
                    * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS noisy_count
    FROM noise
    ORDER BY o_orderpriority
"""

_Q293_NOTES = (
    "DP NOISY COUNTS (operators/privacy.dp_counts — the epsilon-DP "
    "Laplace mechanism for sensitivity-1 counts, noise via the "
    "DETERMINISTIC inverse-CDF transform -(1/eps)*sign(u-1/2)*"
    "ln(1-2|u-1/2|) with u from the engine-wide md5 hash rule, so "
    "audits replay the exact release; salt is the release secret): "
    "one hash agg + map-side noise; 6dp because ln() is not "
    "correctly-rounded across libm implementations (the q262 lesson). "
    "The oracle re-derives u digit-by-digit from the same md5 hex"
)


register("q291_mad_outliers", _Q291_ORACLE, _Q291_NOTES)(q291_mad_outliers)
register("q292_k_anonymity", _Q292_ORACLE, _Q292_NOTES)(q292_k_anonymity)
register("q293_dp_counts", _Q293_ORACLE, _Q293_NOTES)(q293_dp_counts)


def q295_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import canonical_edges, link_prediction_features

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 97).alias("src"),
        (F.col("event_id") % 89).alias("dst"),
    )
    edges = canonical_edges(pairs, "src", "dst")
    return link_prediction_features(edges, max_degree=1000).orderBy("a", "b")


_Q295_ORACLE = """
    WITH base AS (
      SELECT DISTINCT LEAST(user_id % 97, event_id % 89) AS a,
                      GREATEST(user_id % 97, event_id % 89) AS b
      FROM events
      WHERE user_id % 97 <> event_id % 89
    ),
    und AS (
      SELECT a AS src, b AS dst FROM base
      UNION ALL
      SELECT b AS src, a AS dst FROM base
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
    wedges AS (
      SELECT e1.src AS u, e2.src AS v, d.deg AS deg_w
      FROM und e1
      JOIN deg d ON d.src = e1.dst AND d.deg <= 1000
      JOIN und e2 ON e2.dst = e1.dst
      WHERE e1.src < e2.src
    ),
    scored AS (
      SELECT u, v, COUNT(*) AS cn,
             SUM(CAST(round(1.0 / ln(deg_w), 9) AS DECIMAL(25,9))) AS aa
      FROM wedges GROUP BY u, v
    ),
    cand AS (
      SELECT s.* FROM scored s
      ANTI JOIN base b ON b.a = s.u AND b.b = s.v
    )
    SELECT c.u AS a, c.v AS b, c.cn AS common_neighbors,
           round(CAST(c.cn AS DOUBLE)
                 / CAST(du.deg + dv.deg - c.cn AS DOUBLE), 9) AS jaccard,
           round(CAST(c.aa AS DOUBLE), 6) AS adamic_adar
    FROM cand c
    JOIN deg du ON du.src = c.u
    JOIN deg dv ON dv.src = c.v
    ORDER BY a, b
"""

_Q295_NOTES = (
    "LINK PREDICTION FEATURES (operators/graph.link_prediction_features "
    "— common neighbors, neighborhood Jaccard, Adamic-Adar for "
    "NON-edges sharing a neighbor): one wedge self-join through "
    "degree-capped centers (hub mitigation: Sum deg(w)^2 wedge volume, "
    "and a celebrity shared neighbor is weak evidence anyway — exactly "
    "what 1/ln(deg) encodes), one degree agg, left_anti vs existing "
    "edges. Adamic-Adar terms 9dp-decimal-summed (order-free "
    "reduction), output 6dp per the libm-ln rule; common neighbor w "
    "always has deg>=2 so ln never hits zero"
)


register("q295_link_prediction", _Q295_ORACLE, _Q295_NOTES)(q295_link_prediction)


def q296_set_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cardinality import set_cardinality_estimates

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    return set_cardinality_estimates(
        orders, li, "o_custkey", "l_partkey", hex_zeros=1
    )


_Q296_ORACLE = """
    WITH ls AS (
      SELECT DISTINCT o_custkey AS k FROM orders
      WHERE substr(md5(CAST(o_custkey AS VARCHAR) || ':scard'), 1, 1) = '0'
    ),
    rs AS (
      SELECT DISTINCT l_partkey AS k FROM lineitem
      WHERE substr(md5(CAST(l_partkey AS VARCHAR) || ':scard'), 1, 1) = '0'
    ),
    c AS (
      SELECT (SELECT COUNT(*) FROM ls) AS na,
             (SELECT COUNT(*) FROM rs) AS nb,
             (SELECT COUNT(*) FROM ls JOIN rs USING (k)) AS ni
    )
    SELECT CAST(na * 16 AS BIGINT) AS est_left,
           CAST(nb * 16 AS BIGINT) AS est_right,
           CAST(ni * 16 AS BIGINT) AS est_intersection,
           CAST((na + nb - ni) * 16 AS BIGINT) AS est_union,
           round(CAST(ni AS DOUBLE) / CAST(na + nb - ni AS DOUBLE), 9)
             AS jaccard
    FROM c
"""

_Q296_NOTES = (
    "KMV SET-OPERATION CARDINALITIES (operators/cardinality."
    "set_cardinality_estimates — |A|, |B|, intersection, union, "
    "Jaccard between two key columns from ONE shared deterministic "
    "key-hash sample): the shared salt means a key survives on both "
    "sides or neither, so sampled-set intersection IS a Bernoulli "
    "sample of the true intersection (independent per-side samples "
    "would be quadratically wrong); Jaccard is a same-scale ratio, "
    "no scaling needed. Two map-side filters + sample-sized "
    "distincts/join; md5 rule replayed digit-for-digit by the oracle"
)


register("q296_set_cardinality", _Q296_ORACLE, _Q296_NOTES)(q296_set_cardinality)


def q300_geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.spatial import geo_radius_join_pairs

    cust = read_table(spark, sf_dir, "customer")
    # deterministic lat/lon: mid-latitude band, sub-degree jitter from
    # the key so distances vary smoothly
    pts = cust.select(
        F.col("c_custkey").alias("pid"),
        (
            (F.col("c_custkey") % 100).cast("double") / 10.0
            - 5.0
            + (F.col("c_custkey") % 977).cast("double") / 97700.0
        ).alias("lat"),
        (
            (F.col("c_custkey") % 73).cast("double") / 7.0
            + (F.col("c_custkey") % 353).cast("double") / 35300.0
        ).alias("lon"),
    )
    return geo_radius_join_pairs(
        pts, "pid", "lat", "lon", radius_m=25000.0
    ).orderBy("id_a", "id_b")


_Q300_ORACLE = """
    WITH pts AS (
      SELECT c_custkey AS pid,
             CAST(c_custkey % 100 AS DOUBLE) / 10.0 - 5.0
               + CAST(c_custkey % 977 AS DOUBLE) / 97700.0 AS lat,
             CAST(c_custkey % 73 AS DOUBLE) / 7.0
               + CAST(c_custkey % 353 AS DOUBLE) / 35300.0 AS lon
      FROM customer
    ),
    grid AS (
      SELECT pid, lat, lon,
             CAST(floor(lat / (25000.0 / 111194.92664455873)) AS BIGINT)
               AS cy,
             CAST(floor(lon / (25000.0 / (111194.92664455873
               * cos(radians(75.0))))) AS BIGINT) AS cx
      FROM pts WHERE abs(lat) <= 75.0
    ),
    rep AS (
      SELECT g.pid, g.lat, g.lon, g.cx + dx.d AS cx, g.cy + dy.d AS cy
      FROM grid g,
           (VALUES (-1), (0), (1)) dx(d),
           (VALUES (-1), (0), (1)) dy(d)
    ),
    cand AS (
      SELECT r.pid AS id_a, s.pid AS id_b,
             2.0 * 6371000.0 * asin(sqrt(
               sin(radians(s.lat - r.lat) / 2) * sin(radians(s.lat - r.lat) / 2)
               + cos(radians(r.lat)) * cos(radians(s.lat))
               * sin(radians(s.lon - r.lon) / 2)
               * sin(radians(s.lon - r.lon) / 2))) AS dist_m
      FROM rep r JOIN grid s ON s.cx = r.cx AND s.cy = r.cy
      WHERE r.pid < s.pid
    )
    SELECT id_a, id_b, round(dist_m, 6) AS dist_m
    FROM cand WHERE dist_m <= 25000.0
    ORDER BY id_a, id_b
"""

_Q300_NOTES = (
    "GEODESIC RADIUS SELF-JOIN (operators/spatial.geo_radius_join_pairs "
    "— the lat/lon twin of q226's planar grid join: latitude cells "
    "radius-tall, longitude cells radius-wide AT the worst-case "
    "latitude cap so every in-range cell stays >= radius wide; 3x3 "
    "replication on one side, equi-join on cell, exact haversine "
    "behind it — never a cross join, dense-city skew is an AQE "
    "skew-join concern not a plan concern). Haversine is raw IEEE "
    "trig in identical order both engines, 6dp output; pre-verified "
    "at every driver scale per the q257/q262 trig/libm convention"
)


register("q300_geo_radius_join", _Q300_ORACLE, _Q300_NOTES)(q300_geo_radius_join)


def q301_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-to-date curve WITHOUT a running COUNT(DISTINCT)
    (which no engine can window at scale): each user contributes at
    their FIRST event day (one user-keyed agg), days roll up new-user
    counts (one day-keyed agg, day-count-sized), and the cumulative
    curve is a prefix_agg sum — the audience-growth / vocabulary-growth
    shape on event data."""
    from ..operators.prefix import prefix_agg

    ev = read_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.min(F.to_date(F.col("ts").cast("timestamp"))).alias("day")
    )
    daily = first_day.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    return (
        prefix_agg(daily, ["day"], "new_users", agg="sum",
                   out_col="cumulative_users")
        .select(
            # date -> timestamp on the wire: pandas sees datetime64 on
            # both engines (Spark DATE collects as object-date)
            F.col("day").cast("timestamp").alias("day"),
            "new_users",
            F.col("cumulative_users").cast("long").alias("cumulative_users"),
        )
        .orderBy("day")
    )


_Q301_ORACLE = """
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT day, COUNT(*) AS new_users FROM first_day GROUP BY day
    )
    SELECT CAST(day AS TIMESTAMP) AS day, new_users,
           CAST(SUM(new_users) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM daily
    ORDER BY day
"""

_Q301_NOTES = (
    "CUMULATIVE DISTINCT CURVE (distinct-users-to-date, the audience/"
    "vocabulary growth shape): a running COUNT(DISTINCT) is "
    "unwindowable at scale in ANY engine — decomposed as first-"
    "occurrence attribution (one user-keyed agg) -> per-day new-user "
    "counts (day-count-sized) -> prefix_agg cumulative sum (no "
    "SinglePartition). Exact BIGINT throughout"
)


register("q301_cumulative_distinct", _Q301_ORACLE, _Q301_NOTES)(
    q301_cumulative_distinct
)


def q302_join_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.advisor import advise_join

    return advise_join(
        spark,
        f"{sf_dir}/orders.parquet",
        f"{sf_dir}/lineitem.parquet",
        "o_orderkey",
        "l_orderkey",
    )


_Q302_NOTES = (
    "JOIN-STRATEGY ADVISOR (operators/advisor.advise_join — composes "
    "the engine's own probes into the pre-shuffle decision: footer "
    "storage profile for compressed bytes (metadata-only), key-hash "
    "sampled OUTPUT-size estimate (the failure mode size-based "
    "planners miss), one-agg skew factor on the bigger side; emits "
    "broadcast_left/right, shuffle_salted, or shuffle_hash_or_merge). "
    "ROWS-ONLY: the byte probe reads THIS run's parquet footers, "
    "which a static SQL twin cannot path-parameterize; strategy laws "
    "pinned in pytest on known fixtures"
)


register("q302_join_advisor", None, _Q302_NOTES)(q302_join_advisor)


def q307_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly detection as a composition: per
    (event_type, hour-of-day) MEDIAN baseline (the seasonal profile)
    subtracts out the daily cycle, then the robust MAD flag
    (mad_outliers) runs on the RESIDUAL — a spike at 3am is judged
    against 3am's norm, not the whole day's. Two metadata-sized
    baseline broadcasts + the MAD pass; flagged rows only."""
    from ..operators.profile import mad_outliers

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    keyed = ev.select(
        "event_id",
        "event_type",
        F.hour(F.col("ts").cast("timestamp")).alias("hod"),
        "value",
    )
    baseline = keyed.groupBy("event_type", "hod").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias(
            "season_med"
        )
    )
    resid = keyed.join(F.broadcast(baseline), ["event_type", "hod"]).withColumn(
        "residual", F.col("value") - F.col("season_med")
    )
    flagged = mad_outliers(resid, ["event_type"], "residual", k=3.0)
    return (
        flagged.filter(F.col("is_outlier"))
        .select("event_id", "event_type", "hod", "value", "season_med",
                "residual")
        .orderBy("event_id")
    )


_Q307_ORACLE = """
    WITH keyed AS (
      SELECT event_id, event_type,
             CAST(extract(hour FROM ts) AS INTEGER) AS hod, value
      FROM events WHERE value IS NOT NULL
    ),
    baseline AS (
      SELECT event_type, hod,
             quantile_disc(value, 0.5) AS season_med
      FROM keyed GROUP BY event_type, hod
    ),
    resid AS (
      SELECT k.event_id, k.event_type, k.hod, k.value, b.season_med,
             k.value - b.season_med AS residual
      FROM keyed k JOIN baseline b USING (event_type, hod)
    ),
    med AS (
      SELECT event_type, quantile_disc(residual, 0.5) AS med
      FROM resid GROUP BY event_type
    ),
    mad AS (
      SELECT r.event_type,
             quantile_disc(abs(r.residual - m.med), 0.5) AS mad
      FROM resid r JOIN med m USING (event_type)
      GROUP BY r.event_type
    )
    SELECT r.event_id, r.event_type, r.hod, r.value, r.season_med,
           r.residual
    FROM resid r
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    WHERE abs(r.residual - m.med) > (3.0 * 1.4826) * d.mad
    ORDER BY r.event_id
"""

_Q307_NOTES = (
    "SEASONALITY-ADJUSTED ANOMALIES (composition showcase: per-(type, "
    "hour-of-day) MEDIAN baseline subtracts the daily cycle, robust "
    "MAD flags run on the RESIDUAL — a 3am spike judged against 3am's "
    "norm): two metadata-sized percentile_disc baselines broadcast "
    "back, flagging map-side; every comparison exact IEEE via the "
    "percentile_disc==quantile_disc parity — no rounding slack"
)


def q308_conversion_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on FUNNEL CONVERSION between hash-split
    variants: window_funnel levels per user, md5-rule A/B assignment,
    pooled-proportion z per step transition — the product-analytics
    readout (did the variant move view->click and click->purchase?)."""
    from ..operators.sequence import window_funnel

    ev = read_table(spark, sf_dir, "events")
    funnel = window_funnel(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], window_seconds=7200,
    )
    assigned = funnel.withColumn(
        "variant",
        F.when(
            token_hash24(salted(F.col("user_id"), "ab")) % 2 == 0, F.lit("A")
        ).otherwise(F.lit("B")),
    )
    # ONE no-grouping aggregate with per-variant conditional sums — no
    # per-variant frames, no join at all (a groupBy(variant) + self-join
    # would plan a non-scalar BNLJ the catalog-wide plan gate rightly flags)
    is_a = F.col("variant") == "A"

    def lv(cond, level):
        return F.sum(
            F.when(cond & (F.col("funnel_level") >= level), 1).otherwise(0)
        )

    j = assigned.agg(
        lv(is_a, 1).alias("a1"), lv(is_a, 2).alias("a2"),
        lv(is_a, 3).alias("a3"),
        lv(~is_a, 1).alias("b1"), lv(~is_a, 2).alias("b2"),
        lv(~is_a, 3).alias("b3"),
    )

    def ztest(sa, base_a, sb, base_b, step):
        # nullif guards: an empty step base (tiny fixtures) yields NULL
        # rates/z rather than a division error — mirrored in the oracle
        na = F.nullif(F.col(base_a).cast("double"), F.lit(0.0))
        nb = F.nullif(F.col(base_b).cast("double"), F.lit(0.0))
        pa = F.col(sa).cast("double") / na
        pb = F.col(sb).cast("double") / nb
        pool = (F.col(sa) + F.col(sb)).cast("double") / (
            F.col(base_a) + F.col(base_b)
        ).cast("double")
        se = F.nullif(
            F.sqrt(
                pool * (F.lit(1.0) - pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
            ),
            F.lit(0.0),
        )
        return F.struct(
            F.lit(step).alias("step"),
            F.col(base_a).cast("long").alias("n_a"),
            F.col(sa).cast("long").alias("conv_a"),
            F.col(base_b).cast("long").alias("n_b"),
            F.col(sb).cast("long").alias("conv_b"),
            F.round(pa, 9).alias("rate_a"),
            F.round(pb, 9).alias("rate_b"),
            F.round((pa - pb) / se, 6).alias("z"),
        )

    wide = j.select(
        F.explode(
            F.array(
                ztest("a2", "a1", "b2", "b1", "view_to_click"),
                ztest("a3", "a2", "b3", "b2", "click_to_purchase"),
            )
        ).alias("r")
    )
    return wide.select("r.*").orderBy("step")


_Q308_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM events WHERE event_type IN ('view', 'click', 'purchase')
    ),
    keys AS (SELECT DISTINCT user_id FROM ev),
    s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, MIN(e.us) AS t2 FROM ev e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click' AND e.us > s1.t1
             AND e.us <= s1.t1 + 7200000000 GROUP BY 1),
    s3 AS (SELECT e.user_id, MIN(e.us) AS t3
           FROM ev e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.us > s2.t2
             AND e.us <= s1.t1 + 7200000000 GROUP BY 1),
    lv AS (
      SELECT k.user_id,
             CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                  WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
             CASE WHEN CAST(list_sum(list_transform(generate_series(1, 6),
               i -> CAST((strpos('0123456789abcdef', substr(md5(
                 CAST(k.user_id AS VARCHAR) || ':ab'), i, 1)) - 1) AS BIGINT)
                 * CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT) % 2 = 0
               THEN 'A' ELSE 'B' END AS variant
      FROM keys k
      LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)
    ),
    pv AS (
      SELECT variant,
             SUM(CASE WHEN lvl >= 1 THEN 1 ELSE 0 END) AS l1,
             SUM(CASE WHEN lvl >= 2 THEN 1 ELSE 0 END) AS l2,
             SUM(CASE WHEN lvl >= 3 THEN 1 ELSE 0 END) AS l3
      FROM lv GROUP BY variant
    ),
    wide AS (
      SELECT
        (SELECT l1 FROM pv WHERE variant = 'A') AS a1,
        (SELECT l2 FROM pv WHERE variant = 'A') AS a2,
        (SELECT l3 FROM pv WHERE variant = 'A') AS a3,
        (SELECT l1 FROM pv WHERE variant = 'B') AS b1,
        (SELECT l2 FROM pv WHERE variant = 'B') AS b2,
        (SELECT l3 FROM pv WHERE variant = 'B') AS b3
    ),
    steps AS (
      SELECT 'view_to_click' AS step, a1 AS base_a, a2 AS conv_a,
             b1 AS base_b, b2 AS conv_b FROM wide
      UNION ALL
      SELECT 'click_to_purchase', a2, a3, b2, b3 FROM wide
    )
    SELECT step,
           CAST(base_a AS BIGINT) AS n_a, CAST(conv_a AS BIGINT) AS conv_a,
           CAST(base_b AS BIGINT) AS n_b, CAST(conv_b AS BIGINT) AS conv_b,
           round(CAST(conv_a AS DOUBLE) / nullif(base_a, 0), 9) AS rate_a,
           round(CAST(conv_b AS DOUBLE) / nullif(base_b, 0), 9) AS rate_b,
           round((CAST(conv_a AS DOUBLE) / nullif(base_a, 0)
                  - CAST(conv_b AS DOUBLE) / nullif(base_b, 0))
                 / nullif(sqrt((CAST(conv_a + conv_b AS DOUBLE)
                                / (base_a + base_b))
                        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                 / (base_a + base_b))
                        * (1.0 / nullif(base_a, 0)
                           + 1.0 / nullif(base_b, 0))), 0.0), 6) AS z
    FROM steps
    ORDER BY step
"""

_Q308_NOTES = (
    "FUNNEL CONVERSION A/B Z-TEST (composition: window_funnel levels "
    "per user + md5-rule variant assignment + pooled two-proportion z "
    "per step transition — the product-analytics readout): funnel is "
    "one fold exchange, variant counts are a 2-row aggregate, the z "
    "arithmetic is identical-order IEEE on exact integer counts (6dp "
    "for the sqrt). Column names step/n/conv per variant so the "
    "readout doubles as the sample-size report"
)


register("q307_seasonal_anomaly", _Q307_ORACLE, _Q307_NOTES)(q307_seasonal_anomaly)
register("q308_conversion_ab_test", _Q308_ORACLE, _Q308_NOTES)(q308_conversion_ab_test)


def q311_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import embedding_drift

    emb = read_table(spark, sf_dir, "embeddings")
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = emb.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift(ref, cur)


_Q311_ORACLE = """
    WITH e AS (
      SELECT vec_id, vec_id % 2 AS side,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    exploded AS (
      SELECT side, vec_id, u.dim, u.x
      FROM (
        SELECT side, vec_id,
               unnest(list_transform(v, (x, i) ->
                 struct_pack(dim := i - 1, x := x))) AS u
        FROM e
      )
    ),
    mu AS (
      SELECT side, dim,
             CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS m
      FROM exploded GROUP BY side, dim
    ),
    shift AS (
      SELECT sqrt(CAST(SUM(CAST(round((a.m - b.m) * (a.m - b.m), 12)
                   AS DECIMAL(38,14))) AS DOUBLE)) AS centroid_shift
      FROM mu a JOIN mu b ON a.dim = b.dim AND a.side = 0 AND b.side = 1
    ),
    norms AS (
      SELECT side, COUNT(*) AS n,
             CAST(SUM(CAST(round(nrm, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS mean_norm
      FROM (
        SELECT side,
               sqrt(list_sum(list_transform(v, x -> round(x * x, 9)))) AS nrm
        FROM e
      ) GROUP BY side
    ),
    dist AS (
      SELECT x.side, x.vec_id,
             sqrt(CAST(SUM(CAST(round((x.x - m.m) * (x.x - m.m), 9)
                  AS DECIMAL(38,12))) AS DOUBLE)) AS d
      FROM exploded x JOIN mu m ON m.side = x.side AND m.dim = x.dim
      GROUP BY x.side, x.vec_id
    ),
    disp AS (
      SELECT side,
             CAST(SUM(CAST(round(d, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS dispersion
      FROM dist GROUP BY side
    )
    SELECT CAST((SELECT n FROM norms WHERE side = 0) AS BIGINT) AS n_ref,
           CAST((SELECT n FROM norms WHERE side = 1) AS BIGINT) AS n_cur,
           round((SELECT centroid_shift FROM shift), 6) AS centroid_shift,
           round((SELECT mean_norm FROM norms WHERE side = 1)
                 / (SELECT mean_norm FROM norms WHERE side = 0), 6)
             AS norm_ratio,
           round((SELECT dispersion FROM disp WHERE side = 0), 6)
             AS dispersion_ref,
           round((SELECT dispersion FROM disp WHERE side = 1), 6)
             AS dispersion_cur
"""

_Q311_NOTES = (
    "EMBEDDING-SPACE DRIFT (operators/drift.embedding_drift — the "
    "semantic member of the drift family: PSI/KS watch scalar columns, "
    "KL/JS watches token text, this watches the vector space an index "
    "lives in): centroid L2 shift (content mix / encoder moved), mean-"
    "norm ratio (encoder rescale signature), per-side mean dispersion "
    "about the centroid (spread change without a d^2 covariance pass). "
    "One posexplode + d-row agg per side + broadcast recombination — "
    "never a corpus shuffle; every reduction decimal-summed"
)


register("q311_embedding_drift", _Q311_ORACLE, _Q311_NOTES)(q311_embedding_drift)


def q312_bot_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import bot_signature

    ev = read_table(spark, sf_dir, "events")
    return bot_signature(
        ev, "user_id", "ts", min_events=20, cv_threshold=0.1
    ).orderBy("user_id")


_Q312_ORACLE = """
    WITH gaps AS (
      SELECT user_id,
             CAST(epoch_us(ts)
                  - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY ts) AS DOUBLE)
               / 1e6 AS gap
      FROM events
    ),
    g AS (SELECT user_id, round(gap, 9) AS gd FROM gaps WHERE gap IS NOT NULL),
    stats AS (
      SELECT user_id, COUNT(*) + 1 AS n_events,
             SUM(CAST(gd AS DECIMAL(38,9))) AS sg,
             SUM(CAST(round(gd * gd, 9) AS DECIMAL(38,9))) AS sgg
      FROM g GROUP BY user_id
    ),
    calc AS (
      SELECT user_id, n_events,
             CAST(sg AS DOUBLE) / (n_events - 1) AS mean,
             CAST(sgg AS DOUBLE) / (n_events - 1)
               - (CAST(sg AS DOUBLE) / (n_events - 1))
               * (CAST(sg AS DOUBLE) / (n_events - 1)) AS var
      FROM stats WHERE n_events >= 20
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           floor(mean * 1e6 + 0.5) / 1e6 AS mean_gap_s,
           floor(CASE WHEN mean <= 0 THEN 0.0
                      ELSE sqrt(greatest(var, 0.0)) / mean END
                 * 1e6 + 0.5) / 1e6 AS cv_gap,
           floor(CASE WHEN mean <= 0 THEN 0.0
                      ELSE sqrt(greatest(var, 0.0)) / mean END
                 * 1e6 + 0.5) / 1e6 < 0.1 AS is_bot
    FROM calc
    ORDER BY user_id
"""

_Q312_NOTES = (
    "AUTOMATION-SIGNATURE DETECTION (operators/profile.bot_signature — "
    "inter-event-gap coefficient of variation: Poisson-ish humans sit "
    "near CV 1, metronomic schedulers near 0 — the traffic-quality "
    "triage heuristic): one per-key lag window, decimal-summed gap "
    "moments, raw-IEEE mean/CV of identical sums; emits stats so the "
    "threshold tunes downstream"
)


def q313_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import wasserstein_1d

    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    a = ev.filter(F.col("user_id") % 2 == 0)
    b = ev.filter(F.col("user_id") % 2 == 1)
    return wasserstein_1d(a, b, "value")


_Q313_ORACLE = """
    WITH tagged AS (
      SELECT CAST(value AS DOUBLE) AS v,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS ca,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS cb
      FROM events WHERE value IS NOT NULL
    ),
    counts AS (
      SELECT v, SUM(ca) AS ca, SUM(cb) AS cb FROM tagged GROUP BY v
    ),
    ordered AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
             SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
             LEAD(v) OVER (ORDER BY v) AS next_v
      FROM counts
    ),
    tot AS (SELECT CAST(COALESCE(SUM(ca), 0) AS BIGINT) AS n_a,
                   CAST(COALESCE(SUM(cb), 0) AS BIGINT) AS n_b
            FROM counts)
    SELECT t.n_a, t.n_b,
           CASE WHEN t.n_a > 0 AND t.n_b > 0 THEN
             round(COALESCE(CAST(SUM(CAST(round(
               abs(CAST(o.cum_a AS DOUBLE) / t.n_a
                   - CAST(o.cum_b AS DOUBLE) / t.n_b)
               * (o.next_v - o.v), 9) AS DECIMAL(38,12))) AS DOUBLE), 0.0), 6)
           END AS wasserstein
    FROM tot t LEFT JOIN ordered o ON o.next_v IS NOT NULL
    GROUP BY t.n_a, t.n_b
"""

_Q313_NOTES = (
    "EXACT 1-D WASSERSTEIN DRIFT (operators/drift.wasserstein_1d — the "
    "earth-mover member of the drift family: unlike KS's max CDF gap "
    "or binned PSI, W1 weighs HOW FAR mass moved): per-value counts, "
    "prefix_agg running CDFs for both sides, and the successor value "
    "as an EXCLUSIVE PREFIX MIN over the descending order (the suffix "
    "trick — no global lead() window, no SinglePartition); 9dp segment "
    "terms decimal-summed. Shift law pinned in pytest: uniform+7 -> "
    "W1 == 7 exactly"
)


register("q312_bot_signature", _Q312_ORACLE, _Q312_NOTES)(q312_bot_signature)
register("q313_wasserstein_drift", _Q313_ORACLE, _Q313_NOTES)(q313_wasserstein_drift)


# --- q316: Cohen's kappa ----------------------------------------------------


def q316_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synthetic raters over orders: rater r1 reads the true
    priority class; rater r2 agrees unless its hash draw (~30%) flips
    the label to a rotated class. cohen_kappa chance-corrects the
    agreement (operators/agreement.py)."""
    from ..operators.agreement import cohen_kappa

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("item"),
        F.substring("o_orderpriority", 1, 1).alias("cls"),
    )
    flip = _hash_mod(F.col("item"), 17, 10) < 3
    rot = F.concat(
        ((F.col("cls").cast("int") % 5) + 1).cast("string")
    )
    labels = o.select(
        "item", F.lit("r1").alias("rater"), F.col("cls").alias("label")
    ).unionByName(
        o.select(
            "item",
            F.lit("r2").alias("rater"),
            F.when(flip, rot).otherwise(F.col("cls")).alias("label"),
        )
    )
    return cohen_kappa(labels, "item", "rater", "label", "r1", "r2")


_Q316_ORACLE = f"""
    WITH o AS (
      SELECT o_orderkey AS item, substr(o_orderpriority, 1, 1) AS cls
      FROM orders
    ),
    pairs AS (
      SELECT item, cls AS la,
        CASE WHEN {_hash_mod_sql('item', 17, 10)} < 3
             THEN CAST((CAST(cls AS INTEGER) % 5) + 1 AS VARCHAR)
             ELSE cls END AS lb
      FROM o
    ),
    tot AS (
      SELECT COUNT(*) AS n_items,
             SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS agree
      FROM pairs
    ),
    ma AS (SELECT la, COUNT(*) AS na FROM pairs GROUP BY la),
    mb AS (SELECT lb, COUNT(*) AS nb FROM pairs GROUP BY lb),
    pe AS (
      SELECT SUM(ma.na * mb.nb) AS pe_num
      FROM ma JOIN mb ON ma.la = mb.lb
    )
    SELECT t.n_items,
           round(CAST(t.agree AS DOUBLE) / t.n_items, 9) AS po,
           round(CAST(p.pe_num AS DOUBLE)
                 / (CAST(t.n_items AS DOUBLE) * t.n_items), 9) AS pe,
           round(((CAST(t.agree AS DOUBLE) / t.n_items)
                  - (CAST(p.pe_num AS DOUBLE)
                     / (CAST(t.n_items AS DOUBLE) * t.n_items)))
                 / (1.0 - (CAST(p.pe_num AS DOUBLE)
                           / (CAST(t.n_items AS DOUBLE) * t.n_items))), 9)
             AS kappa
    FROM tot t, pe p
"""

_Q316_NOTES = (
    "COHEN'S KAPPA (operators/agreement.cohen_kappa — chance-corrected "
    "two-rater agreement, the gate every labeling pipeline runs before "
    "training on preference/moderation labels; asymmetric-marginals "
    "form per Cohen 1960): one item-equi join + ONE confusion-matrix "
    "hash agg; marginals and pe are metadata-sized scalar crossJoins "
    "that pass the structural NLJ gate. Exact integer counts, one IEEE "
    "division per term, 9dp"
)

register("q316_cohen_kappa", _Q316_ORACLE, _Q316_NOTES)(q316_cohen_kappa)


# --- q317: Fleiss' kappa ----------------------------------------------------


def q317_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3–5 synthetic raters per order (rater count varies by item so
    the unequal-n_i generalization is exercised), each rater flipping
    the true class on its own hash draw; fleiss_kappa aggregates
    per-item agreement vs chance."""
    from ..operators.agreement import fleiss_kappa

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("item"),
        F.substring("o_orderpriority", 1, 1).alias("cls"),
    )
    n_raters = (_hash_mod(F.col("item"), 3, 3) + 3).cast("int")  # 3..5
    exploded = o.select(
        "item", "cls", F.explode(F.sequence(F.lit(1), n_raters)).alias("rater")
    )
    flip = _hash_mod(F.col("item") * 7 + F.col("rater"), 29, 10) < 2
    rot = ((F.col("cls").cast("int") % 5) + 1).cast("string")
    labels = exploded.select(
        "item",
        "rater",
        F.when(flip, rot).otherwise(F.col("cls")).alias("label"),
    )
    return fleiss_kappa(labels, "item", "label")


_Q317_ORACLE = f"""
    WITH o AS (
      SELECT o_orderkey AS item, substr(o_orderpriority, 1, 1) AS cls,
             CAST({_hash_mod_sql('o_orderkey', 3, 3)} + 3 AS INTEGER) AS nr
      FROM orders
    ),
    labels AS (
      SELECT item,
        CASE WHEN {_hash_mod_sql('(item * 7 + r.rater)', 29, 10)} < 2
             THEN CAST((CAST(cls AS INTEGER) % 5) + 1 AS VARCHAR)
             ELSE cls END AS label
      FROM o, UNNEST(generate_series(1, o.nr)) AS r(rater)
    ),
    cell AS (
      SELECT item, label, COUNT(*) AS nic FROM labels GROUP BY item, label
    ),
    item AS (
      SELECT item, SUM(nic) AS ni, SUM(nic * nic) AS sq
      FROM cell GROUP BY item HAVING SUM(nic) >= 2
    ),
    pbar AS (
      SELECT COUNT(*) AS n_items, CAST(SUM(ni) AS BIGINT) AS n_ratings,
             SUM(CAST(sq - ni AS DOUBLE) / (ni * (ni - 1))) AS p_sum
      FROM item
    ),
    marg AS (
      SELECT c.label, SUM(c.nic) AS nc
      FROM cell c JOIN item i USING (item) GROUP BY c.label
    ),
    pe AS (
      SELECT SUM((CAST(m.nc AS DOUBLE) / p.n_ratings)
                 * (CAST(m.nc AS DOUBLE) / p.n_ratings)) AS pe
      FROM marg m, pbar p
    )
    SELECT p.n_items, p.n_ratings,
           round(p.p_sum / p.n_items, 9) AS p_bar,
           round(e.pe, 9) AS p_e,
           round((p.p_sum / p.n_items - e.pe) / (1.0 - e.pe), 9) AS kappa
    FROM pbar p, pe e
"""

_Q317_NOTES = (
    "FLEISS' KAPPA (operators/agreement.fleiss_kappa — multi-rater "
    "chance-corrected agreement, generalized to unequal raters-per-item "
    "with per-item n_i; items under 2 ratings excluded): two hash aggs "
    "((item,label) then item) + metadata-sized marginals; the fixture "
    "varies rater count 3-5 per item so the generalization is pinned. "
    "Scalar crossJoins only — passes the structural NLJ gate"
)

register("q317_fleiss_kappa", _Q317_ORACLE, _Q317_NOTES)(q317_fleiss_kappa)


# --- q319: null-pattern audit -----------------------------------------------


def q319_null_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint-missingness profile over events with two synthetic
    nullable columns correlated with the naturally-null value column —
    the pattern counts expose that correlation where per-column null
    rates cannot."""
    from ..operators.profile import null_pattern_audit

    ev = read_table(spark, sf_dir, "events").select(
        "value",
        F.when(_hash_mod(F.col("event_id"), 5, 7) != 0, F.col("user_id")).alias(
            "maybe_user"
        ),
        F.when(F.col("value").isNotNull() | (_hash_mod(F.col("event_id"), 11, 3) == 0),
               F.col("event_type")).alias("maybe_type"),
    )
    return null_pattern_audit(ev, ["value", "maybe_user", "maybe_type"], top_n=8)


_Q319_ORACLE = f"""
    WITH ev AS (
      SELECT value,
        CASE WHEN {_hash_mod_sql('event_id', 5, 7)} != 0
             THEN user_id END AS maybe_user,
        CASE WHEN value IS NOT NULL OR {_hash_mod_sql('event_id', 11, 3)} = 0
             THEN event_type END AS maybe_type
      FROM events
    ),
    pat AS (
      SELECT (CASE WHEN value IS NULL THEN '1' ELSE '0' END)
          || (CASE WHEN maybe_user IS NULL THEN '1' ELSE '0' END)
          || (CASE WHEN maybe_type IS NULL THEN '1' ELSE '0' END) AS pattern,
          COUNT(*) AS n_rows
      FROM ev GROUP BY 1
    ),
    tot AS (SELECT SUM(n_rows) AS total FROM pat)
    SELECT pattern, n_rows,
           round(CAST(n_rows AS DOUBLE) / t.total, 9) AS fraction
    FROM pat, tot t
    ORDER BY n_rows DESC, pattern
    LIMIT 8
"""

_Q319_NOTES = (
    "NULL-PATTERN AUDIT (operators/profile.null_pattern_audit — joint "
    "missingness: rows grouped by their NULL mask across chosen "
    "columns, top-n patterns with exact fractions; distinguishes "
    "independent 5%%-per-column nulls from 5%%-of-rows-all-null, which "
    "flips imputation/filter policy): ONE hash agg on a computed mask "
    "+ scalar total; deterministic (count desc, pattern) tiebreak"
)

register("q319_null_patterns", _Q319_ORACLE, _Q319_NOTES)(q319_null_patterns)


# --- q320: Theil–Sen robust trend -------------------------------------------


def q320_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust value trend over event sequences: median of
    pairwise slopes on the first ≤40 events per user (bounded-series
    contract), immune to the value outliers that wreck OLS."""
    from ..operators.timeseries import theil_sen_by_key

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    return theil_sen_by_key(
        ev, ["user_id"], "event_id", "value", max_points=40
    ).orderBy("user_id")


_Q320_ORACLE = """
    WITH capped AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
    ),
    pts AS (SELECT user_id, event_id, value FROM capped WHERE rn <= 40),
    slopes AS (
      SELECT a.user_id,
             (CAST(b.value AS DOUBLE) - CAST(a.value AS DOUBLE))
             / (CAST(b.event_id AS DOUBLE) - CAST(a.event_id AS DOUBLE))
             AS slope
      FROM pts a JOIN pts b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
    )
    SELECT user_id, COUNT(*) AS n_pairs,
           round(quantile_disc(slope, 0.5), 9) AS slope
    FROM slopes GROUP BY user_id ORDER BY user_id
"""

_Q320_NOTES = (
    "THEIL-SEN ROBUST TREND (operators/timeseries.theil_sen_by_key — "
    "median of pairwise slopes, ~29%% breakdown point vs OLS's zero): "
    "per-key series CAPPED at max_points (the q256/q273 bounded-series "
    "discipline, <=780 pairs/key), pair generation is a key-equi "
    "SELF-JOIN (one shuffle on key, never cross-key), median via "
    "percentile_disc so both engines pick an OBSERVED slope — exact "
    "IEEE parity, no interpolation ambiguity"
)

register("q320_theil_sen", _Q320_ORACLE, _Q320_NOTES)(q320_theil_sen)


# --- q327: Markov transition matrix -----------------------------------------


def q327_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix over per-user timelines with
    Laplace smoothing 0.5 — (ts, event_id) total order per the unique-
    tiebreaker rule."""
    from ..operators.sequence import markov_transitions

    ev = read_table(spark, sf_dir, "events")
    return markov_transitions(
        ev, "user_id", ["ts", "event_id"], "event_type", alpha=0.5
    ).orderBy("state", "next_state")


_Q327_ORACLE = """
    WITH seq AS (
      SELECT event_type AS state,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_state
      FROM events
    ),
    counts AS (
      SELECT state, next_state, COUNT(*) AS n
      FROM seq WHERE next_state IS NOT NULL GROUP BY 1, 2
    ),
    k AS (SELECT COUNT(DISTINCT event_type) AS _k FROM events)
    SELECT state, next_state, n,
           (CAST(n AS DOUBLE) + 0.5)
           / (CAST(SUM(n) OVER (PARTITION BY state) AS DOUBLE)
              + 0.5 * CAST(_k AS DOUBLE)) AS p
    FROM counts, k
    ORDER BY state, next_state
"""

_Q327_NOTES = (
    "FIRST-ORDER MARKOV TRANSITION MATRIX (operators/sequence."
    "markov_transitions — P(next|cur) over per-key timelines with "
    "Laplace smoothing, the behavioral model next to the funnels): one "
    "exchange on the key for the lead() window, then a map-side-"
    "combined agg on (state, next) — output O(K^2) metadata, smoothed "
    "mass implied not materialized (matrix stays sparse). K from one "
    "tiny broadcast agg, no collect"
)

register("q327_markov_transitions", _Q327_ORACLE, _Q327_NOTES)(q327_markov_transitions)


# --- q328: CDC log apply ----------------------------------------------------


def q328_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned CDC log onto the customer snapshot: superseded insert
    (v1) → update (v2) on the %7 keys, delete (v3) on the %11 keys
    (so %77 keys churn update-then-delete and vanish), fresh inserts on
    shifted %13 keys. The oracle derives the expected table from the
    SEMANTICS (CASE/UNION), not by mirroring the row_number plan — an
    independent derivation, the strongest oracle form."""
    from ..operators.cdc import cdc_apply

    base = read_table(spark, sf_dir, "customer")
    data = base.columns

    upd_keys = base.filter(F.col("c_custkey") % 7 == 0)
    superseded = upd_keys.select(
        *[
            F.lit(-1.0).alias("c_acctbal") if c == "c_acctbal" else F.col(c)
            for c in data
        ]
    ).select(
        *data, F.lit("I").alias("op"), F.lit(1).cast("long").alias("version")
    )
    updates = upd_keys.select(
        *[
            (F.col("c_acctbal") + 100.0).alias("c_acctbal")
            if c == "c_acctbal"
            else F.col(c)
            for c in data
        ]
    ).select(
        *data, F.lit("U").alias("op"), F.lit(2).cast("long").alias("version")
    )
    deletes = base.filter(F.col("c_custkey") % 11 == 0).select(
        *data, F.lit("D").alias("op"), F.lit(3).cast("long").alias("version")
    )
    inserts = base.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("c_custkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("c_custkey").cast("double") / 2).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("version"),
    )
    log = superseded.unionByName(updates).unionByName(deletes).unionByName(
        inserts
    )
    return cdc_apply(base, log, ["c_custkey"]).orderBy("c_custkey")


_Q328_ORACLE = """
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 11 <> 0
    UNION ALL
    SELECT c_custkey + 100000,
           'new_' || CAST(c_custkey AS VARCHAR),
           CAST(c_custkey % 25 AS INTEGER),
           CAST(c_custkey AS DOUBLE) / 2,
           'NEW'
    FROM customer WHERE c_custkey % 13 = 0
    ORDER BY c_custkey
"""

_Q328_NOTES = (
    "CDC LOG APPLY / MERGE INTO (operators/cdc.cdc_apply — versioned "
    "I/U/D change log applied latest-wins per key onto a base "
    "snapshot; completes the mutation story next to merge_upsert q74 "
    "and SCD2 q221): the row_number window and latest-wins filter "
    "exchange ONLY the delta log, the 100 TB base is touched by one "
    "AQE-broadcastable left-anti join on the key — the plan MERGE INTO "
    "compiles to. Fixture exercises superseded ops, update+delete "
    "churn, and fresh inserts; the oracle derives the expected table "
    "from semantics (CASE/UNION), independent of the plan"
)

register("q328_cdc_apply", _Q328_ORACLE, _Q328_NOTES)(q328_cdc_apply)


# --- q331: graph modularity -------------------------------------------------


def q331_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the node%7 partition over the q284 event
    graph (user_id%97 — event_id%89 canonical edges) — per-community
    decomposition (which communities are cohesive)."""
    from ..operators.graph import canonical_edges, modularity

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 97).alias("src"),
        (F.col("event_id") % 89).alias("dst"),
    )
    edges = canonical_edges(pairs, "src", "dst")
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    comms = nodes.select("node", (F.col("node") % 7).alias("community"))
    return modularity(edges, comms, "node", "community").orderBy("community")


_Q331_ORACLE = """
    WITH base AS (
      SELECT DISTINCT LEAST(user_id % 97, event_id % 89) AS a,
                      GREATEST(user_id % 97, event_id % 89) AS b
      FROM events
      WHERE user_id % 97 <> event_id % 89
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT a AS node FROM base UNION ALL SELECT b AS node FROM base
      )
    ),
    cmap AS (SELECT node, node % 7 AS community FROM nodes),
    m AS (SELECT COUNT(*) AS m FROM base),
    tagged AS (
      SELECT e.a, e.b, ca.community AS ca, cb.community AS cb
      FROM base e
      JOIN cmap ca ON ca.node = e.a
      JOIN cmap cb ON cb.node = e.b
    ),
    deg AS (
      SELECT community, COUNT(*) AS degree_sum FROM (
        SELECT ca AS community FROM tagged
        UNION ALL SELECT cb AS community FROM tagged
      ) GROUP BY 1
    ),
    intra AS (
      SELECT ca AS community, COUNT(*) AS intra_edges
      FROM tagged WHERE ca = cb GROUP BY 1
    ),
    per AS (
      SELECT c.community,
             COUNT(*) AS n_nodes,
             COALESCE(MAX(i.intra_edges), 0) AS intra_edges,
             COALESCE(MAX(d.degree_sum), 0) AS degree_sum
      FROM cmap c
      LEFT JOIN deg d ON d.community = c.community
      LEFT JOIN intra i ON i.community = c.community
      GROUP BY 1
    )
    SELECT community, n_nodes, intra_edges, degree_sum,
           CAST(intra_edges AS DOUBLE) / m.m
           - (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
             * (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
             AS q_contrib
    FROM per, m ORDER BY community
"""

_Q331_NOTES = (
    "NEWMAN MODULARITY of a given partition (operators/graph."
    "modularity — the quality score for any community assignment, "
    "decomposed per community: Q = sum(q_contrib)): two AQE-"
    "broadcastable node-map joins tag edge endpoints, then two "
    "map-side-combined aggs (degrees derived from edges directly); no "
    "window, no collect, output communities-sized"
)

register("q331_graph_modularity", _Q331_ORACLE, _Q331_NOTES)(q331_graph_modularity)


# --- q337: degree assortativity ---------------------------------------------


def q337_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortativity + degree summary of the q331 event graph
    (user_id%97 — event_id%89 canonical edges): all-integer Pearson
    numerator/denominator so r is one IEEE division."""
    from ..operators.graph import canonical_edges, degree_assortativity

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 97).alias("src"),
        (F.col("event_id") % 89).alias("dst"),
    )
    return degree_assortativity(canonical_edges(pairs, "src", "dst"))


_Q337_ORACLE = """
    WITH base AS (
      SELECT DISTINCT LEAST(user_id % 97, event_id % 89) AS a,
                      GREATEST(user_id % 97, event_id % 89) AS b
      FROM events
      WHERE user_id % 97 <> event_id % 89
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM base UNION ALL SELECT b AS node FROM base
      ) GROUP BY 1
    ),
    tagged AS (
      SELECT da.deg AS da, db.deg AS db
      FROM base e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    ),
    agg AS (
      SELECT COUNT(*) AS n_edges,
             SUM(da + db) AS s1,
             SUM(da * db) AS sxy,
             SUM(da * da + db * db) AS sxx
      FROM tagged
    ),
    nstats AS (
      SELECT COUNT(*) AS n_nodes, MAX(deg) AS max_degree FROM deg
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(max_degree AS BIGINT) AS max_degree,
           CASE WHEN (2 * n_edges * sxx - s1 * s1) <> 0 THEN
             CAST(4 * n_edges * sxy - s1 * s1 AS DOUBLE)
             / CAST(2 * n_edges * sxx - s1 * s1 AS DOUBLE)
           ELSE 0.0 END AS assortativity
    FROM nstats, agg
"""

_Q337_NOTES = (
    "DEGREE ASSORTATIVITY (operators/graph.degree_assortativity — "
    "Pearson correlation of endpoint degrees over the 2m edge stubs, "
    "Newman 2002: do hubs link to hubs? link-farm detection runs this "
    "next to the q269/q271 triangle/k-core kernels): stub symmetry "
    "reduces r to (4m*Sxy - S1^2)/(2m*Sxx - S1^2) with ALL-INTEGER "
    "sums over edges, so r is ONE IEEE division of exact longs, "
    "bit-portable unrounded. One degree agg + two node-keyed "
    "AQE-broadcastable joins + one global agg; the scalar two-row "
    "crossJoin is metadata-sized (q316 discipline)"
)

register("q337_degree_assortativity", _Q337_ORACLE, _Q337_NOTES)(
    q337_degree_assortativity
)


# --- q338: format inference profiler ----------------------------------------


def q338_format_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema sniffing over a deterministically mixed-format column
    (doc_id%10 rotates through int/decimal/date/uuid/email/url/json/
    bool/empty/free-text) PLUS the real lang column — per-(column,
    format) counts and coverage from ONE stacked scan."""
    from ..operators.profile import infer_formats

    d = F.col("doc_id").cast("string")
    h = F.md5(d)
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    m = F.col("doc_id") % 10
    v = (
        F.when(m == 0, d)
        .when(m == 1, F.concat(d, F.lit(".5")))
        .when(
            m == 2,
            F.concat(
                F.lit("2024-01-"),
                F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            ),
        )
        .when(m == 3, uuid)
        .when(m == 4, F.concat(F.lit("user"), d, F.lit("@example.com")))
        .when(m == 5, F.concat(F.lit("https://example.com/"), d))
        .when(m == 6, F.concat(F.lit('{"k": '), d, F.lit("}")))
        .when(
            m == 7,
            F.when(F.col("doc_id") % 2 == 0, "true").otherwise("false"),
        )
        .when(m == 8, F.lit(""))
        .otherwise(F.concat(F.lit("free text "), d))
    )
    docs = read_table(spark, sf_dir, "documents").select(
        v.alias("v"), "lang"
    )
    return infer_formats(docs, ["v", "lang"]).orderBy("col_name", "fmt")


_Q338_ORACLE = """
    WITH src AS (
      SELECT doc_id, lang,
        CASE doc_id % 10
          WHEN 0 THEN CAST(doc_id AS VARCHAR)
          WHEN 1 THEN CAST(doc_id AS VARCHAR) || '.5'
          WHEN 2 THEN '2024-01-'
                      || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
          WHEN 3 THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 21, 12)
          WHEN 4 THEN 'user' || CAST(doc_id AS VARCHAR) || '@example.com'
          WHEN 5 THEN 'https://example.com/' || CAST(doc_id AS VARCHAR)
          WHEN 6 THEN '{"k": ' || CAST(doc_id AS VARCHAR) || '}'
          WHEN 7 THEN CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END
          WHEN 8 THEN ''
          ELSE 'free text ' || CAST(doc_id AS VARCHAR)
        END AS v
      FROM documents
    ),
    stacked AS (
      SELECT 'v' AS col_name, v AS value FROM src
      UNION ALL
      SELECT 'lang' AS col_name, lang AS value FROM src
    ),
    classed AS (
      SELECT col_name,
        CASE
          WHEN value IS NULL THEN 'null'
          WHEN trim(value) = '' THEN 'empty'
          WHEN regexp_matches(value, '^(true|false|TRUE|FALSE|True|False)$')
            THEN 'bool'
          WHEN regexp_matches(value, '^[+-]?[0-9]+$') THEN 'integer'
          WHEN regexp_matches(value, '^[+-]?[0-9]+[.][0-9]+$')
            THEN 'decimal'
          WHEN regexp_matches(value, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
            THEN 'date_iso'
          WHEN regexp_matches(value,
            '^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}')
            THEN 'timestamp_iso'
          WHEN regexp_matches(value,
            '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
            THEN 'uuid'
          WHEN regexp_matches(value,
            '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}$')
            THEN 'email'
          WHEN regexp_matches(value, '^https?://') THEN 'url'
          WHEN regexp_matches(value, '^[{].*[}]$') THEN 'json_object'
          ELSE 'other'
        END AS fmt
      FROM stacked
    ),
    counted AS (
      SELECT col_name, fmt, COUNT(*) AS n FROM classed GROUP BY 1, 2
    )
    SELECT col_name, fmt, n,
           CAST(n AS DOUBLE)
           / CAST(SUM(n) OVER (PARTITION BY col_name) AS DOUBLE) AS frac
    FROM counted
    ORDER BY col_name, fmt
"""

_Q338_NOTES = (
    "FORMAT-INFERENCE PROFILER (operators/profile.infer_formats — "
    "classify every value of the named string columns into bool/int/"
    "decimal/date/timestamp/uuid/email/url/json/null/empty/other and "
    "report per-(column,format) coverage; the ingest gate that decides "
    "whether a landed VARCHAR is really a typed column): ONE scan (the "
    "columns unpivot through stack, never n jobs), the classifier is a "
    "JVM-side first-match regex chain (codegen, no UDF, patterns in "
    "the Java-regex/RE2 common subset so both engines match "
    "literally), one hash agg. frac = n/total exact-int IEEE division"
)

register("q338_format_inference", _Q338_ORACLE, _Q338_NOTES)(q338_format_inference)


# --- q342: t-digest quantile sketch ------------------------------------------


def q342_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type t-digest (delta=100) over event values, read out
    at the four probes a latency/length-budget dashboard actually asks
    for. Rows-only by design: the estimates are approximations (the
    HLL/q20 precedent); pytest pins rank-error <= 0.02 on randomized
    data plus bit-determinism under repartitioning."""
    from ..operators.sketch import tdigest_build, tdigest_quantiles

    ev = read_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    digest = tdigest_build(ev, "value", ["event_type"], delta=100)
    return (
        tdigest_quantiles(digest, ["event_type"], [0.1, 0.5, 0.9, 0.99])
        .select(
            "event_type",
            "p",
            F.round("est", 6).alias("est"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("event_type", "p")
    )


_Q342_NOTES = (
    "T-DIGEST MERGEABLE QUANTILE SKETCH (operators/sketch.tdigest_build "
    "/ tdigest_quantiles — the quantile member of the sketch family "
    "next to Count-Min/HLL/KMV/Misra-Gries, Dunning & Ertl 2019): "
    "k1-scale-function centroids (fine at the tails, where p99 budgets "
    "live), two-level build — (group, md5-data-salt) partials at 4x "
    "resolution, then a per-group merge of metadata-sized centroid "
    "rows; the shuffle never carries data rows. DETERMINISTIC under "
    "any partitioning (salt is data-derived, builds consume sorted "
    "streams). Rows-only: estimates are approximations; pytest pins "
    "rank error, mergeability, weight conservation, centroid bound"
)

register("q342_tdigest_quantiles", None, _Q342_NOTES)(q342_tdigest_quantiles)


# --- q344: identity stitching across id changes -------------------------------


def q344_identity_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-id identity stitching (operators/identity.stitch_identities
    — the identity-resolution twin of q232/q287 record linkage): events
    carry a device key (the props JSON field); two different user_ids
    appearing consecutively on one device within 10 minutes are the
    same identity (the login-transition heuristic); links close
    transitively; canonical identity = component min id."""
    from ..operators.identity import stitch_identities

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("device"),
    )
    return (
        stitch_identities(
            ev, "user_id", "device", "ts", "event_id", max_gap_s=600
        )
        .select(F.col("id").alias("user_id"), "identity_id")
        .orderBy("user_id")
    )


_Q344_ORACLE = """
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id, ts,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS dev
      FROM events
    ),
    seq AS (
      SELECT user_id, ts,
             lag(user_id) OVER w AS prev_id,
             lag(ts) OVER w AS prev_ts
      FROM ev WHERE dev IS NOT NULL
      WINDOW w AS (PARTITION BY dev ORDER BY ts, event_id)
    ),
    links AS (
      SELECT DISTINCT LEAST(user_id, prev_id) AS a,
                      GREATEST(user_id, prev_id) AS b
      FROM seq
      WHERE prev_id IS NOT NULL AND prev_id <> user_id
        AND epoch_us(ts) - epoch_us(prev_ts) <= 600000000
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM links
      UNION
      SELECT b, a FROM links
    ),
    ids AS (SELECT DISTINCT user_id AS id FROM ev),
    reach(id, r) AS (
      SELECT id, id FROM ids
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS user_id, MIN(r) AS identity_id
    FROM reach GROUP BY id ORDER BY user_id
"""

_Q344_NOTES = (
    "IDENTITY STITCHING ACROSS ID CHANGES (operators/identity."
    "stitch_identities — the identity-resolution twin of q232/q287: "
    "those link noisy RECORDS, this links IDS across time; without it "
    "sessionization/attribution/LTV fragment at every anonymous->login "
    "transition): one device-keyed window finds handoffs (different "
    "consecutive ids on a device within the gap, event_id tiebreak), "
    "the link table is tiny next to events, min-label components close "
    "the links transitively, singletons map to themselves. Oracle "
    "replays handoffs via the same window and the closure via "
    "recursive-CTE reachability, order-independently"
)

register("q344_identity_stitch", _Q344_ORACLE, _Q344_NOTES)(q344_identity_stitch)


# --- q351: t-closeness audit -----------------------------------------------------


def q351_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over the same quasi-identifier cells as the
    k-anonymity (q292) and l-diversity (q222) audits — the third leg of
    the release-audit trio: cells whose source distribution skews far
    (TVD > 0.3) from the corpus distribution leak even when large and
    diverse."""
    from ..operators.privacy import t_closeness_audit

    docs = read_table(spark, sf_dir, "documents").select(
        "lang", F.expr("n_chars DIV 100").alias("bucket"), "source"
    )
    return (
        t_closeness_audit(docs, ["lang", "bucket"], "source", t=0.3)
        .orderBy("lang", "bucket")
    )


_Q351_ORACLE = """
    WITH base AS (
      SELECT lang, n_chars // 100 AS bucket, source FROM documents
    ),
    cv AS (
      SELECT lang, bucket, source, COUNT(*) AS cv
      FROM base GROUP BY 1, 2, 3
    ),
    ct AS (SELECT lang, bucket, SUM(cv) AS ct FROM cv GROUP BY 1, 2),
    gv AS (SELECT source, COUNT(*) AS gv FROM base GROUP BY 1),
    gt AS (SELECT COUNT(*) AS gt FROM base),
    terms AS (
      SELECT cv.lang, cv.bucket, ct.ct,
             CAST(round(abs(CAST(cv.cv AS DOUBLE) / ct.ct
                            - CAST(gv.gv AS DOUBLE) / gt.gt), 9)
                  AS DECIMAL(38,9))
             - CAST(round(CAST(gv.gv AS DOUBLE) / gt.gt, 9)
                    AS DECIMAL(38,9)) AS term
      FROM cv
      JOIN ct USING (lang, bucket)
      JOIN gv USING (source), gt
    ),
    cell AS (
      SELECT lang, bucket, MAX(ct) AS n_rows, SUM(term) AS present
      FROM terms GROUP BY 1, 2
    )
    SELECT lang, bucket, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(present + CAST(1 AS DECIMAL(38,9)) AS DOUBLE) / 2.0 AS tvd,
           CAST(present + CAST(1 AS DECIMAL(38,9)) AS DOUBLE) / 2.0 > 0.3
             AS violates
    FROM cell ORDER BY lang, bucket
"""

_Q351_NOTES = (
    "T-CLOSENESS AUDIT (operators/privacy.t_closeness_audit — "
    "completes the release-audit trio: k-anonymity q292 bounds cell "
    "SIZE, l-diversity q222 bounds sensitive-value COUNT, t-closeness "
    "bounds the sensitive DISTRIBUTION; Li-Li-Venkatasubramanian 2007, "
    "TVD = categorical EMD): three map-side-combined aggs + one "
    "broadcast join; absent sensitive values contribute via the "
    "sum-to-one identity (present-term sum + 1)/2 so the cell never "
    "enumerates the full value domain; per-term divisions are "
    "engine-exact IEEE, 9dp-rounded onto decimals for an "
    "order-independent sum"
)

register("q351_t_closeness", _Q351_ORACLE, _Q351_NOTES)(q351_t_closeness)


# --- q355: keyed pseudonymization -------------------------------------------------


def q355_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-side pseudonymization (operators/privacy.pseudonymize):
    user_id becomes a keyed token, and the per-user analytics the
    release exists for (event counts, distinct types, revenue) still
    compute — grouped on the token, never the identifier."""
    from ..operators.privacy import pseudonymize

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    tok = pseudonymize(ev, ["user_id"], salt="r10-release")
    return (
        tok.groupBy(F.col("user_id").alias("user_token"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
            stable_sum("value", 6).alias("total_value"),
        )
        .orderBy("user_token")
    )


_Q355_ORACLE = """
    SELECT substr(md5('r10-release:' || CAST(user_id AS VARCHAR)), 1, 16)
             AS user_token,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           CAST(SUM(CAST(round(value, 6) AS DECIMAL(38,6))) AS DOUBLE)
             AS total_value
    FROM events
    GROUP BY 1 ORDER BY 1
"""

_Q355_NOTES = (
    "KEYED PSEUDONYMIZATION (operators/privacy.pseudonymize — the "
    "release-side companion of the k-anonymity/l-diversity/t-closeness "
    "audits and free-text redact_pii: direct identifiers become "
    "deterministic keyed tokens, so joins/group-bys/retention math on "
    "the released data still work while the identifier never appears; "
    "NULLs stay NULL, salt is the release secret — md5 is the portable "
    "stand-in for production HMAC, documented like dp_counts): "
    "map-only codegen'd hash per cell, zero shuffles; the analytics "
    "the release exists for compute on tokens and the oracle replays "
    "token and aggregates digit-for-digit"
)

register("q355_pseudonymize", _Q355_ORACLE, _Q355_NOTES)(q355_pseudonymize)


# --- q360: one-scan feature ranking by information gain ---------------------------


def q360_feature_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank three candidate features (source, size bucket, id parity)
    by information gain about the language label in ONE scan
    (operators/profile.information_gain_ranking — the feature-selection
    sweep generalizing q258's single-pair mutual information)."""
    from ..operators.profile import information_gain_ranking

    docs = read_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.expr("n_chars DIV 100").alias("bucket"),
        (F.col("doc_id") % 2).alias("parity"),
    )
    return information_gain_ranking(
        docs, "lang", ["source", "bucket", "parity"]
    ).orderBy("feature")


_Q360_ORACLE = """
    WITH base AS (
      SELECT lang AS y, 'source' AS feature, source AS value
      FROM documents
      UNION ALL
      SELECT lang, 'bucket', CAST(n_chars // 100 AS VARCHAR) FROM documents
      UNION ALL
      SELECT lang, 'parity', CAST(doc_id % 2 AS VARCHAR) FROM documents
    ),
    cells AS (
      SELECT feature, value, y, COUNT(*) AS c FROM base GROUP BY 1, 2, 3
    ),
    lbl AS (
      SELECT y, SUM(c) AS cy FROM cells WHERE feature = 'source' GROUP BY y
    ),
    lbl2 AS (SELECT y, cy, SUM(cy) OVER () AS n FROM lbl),
    hy AS (
      SELECT CAST(SUM(CAST(round(
               -(CAST(cy AS DOUBLE) / n) * ln(CAST(cy AS DOUBLE) / n), 9)
             AS DECIMAL(20,9))) AS DOUBLE) AS hy
      FROM lbl2
    ),
    vtot AS (
      SELECT feature, value, SUM(c) AS cv FROM cells GROUP BY 1, 2
    ),
    vtot2 AS (
      SELECT feature, value, cv,
             SUM(cv) OVER (PARTITION BY feature) AS n
      FROM vtot
    ),
    nv AS (SELECT feature, COUNT(*) AS n_values FROM vtot GROUP BY 1),
    hc AS (
      SELECT c.feature,
             CAST(SUM(CAST(round(
               -(CAST(c.c AS DOUBLE) / v.n)
               * ln(CAST(c.c AS DOUBLE) / v.cv), 9)
             AS DECIMAL(20,9))) AS DOUBLE) AS hc
      FROM cells c JOIN vtot2 v
        ON c.feature = v.feature
       AND c.value IS NOT DISTINCT FROM v.value
      GROUP BY 1
    )
    SELECT feature, round(hy, 6) AS h_label, round(hc, 6) AS h_cond,
           round(hy - hc, 6) AS info_gain,
           CAST(n_values AS BIGINT) AS n_values
    FROM hc JOIN nv USING (feature), hy ORDER BY feature
"""

_Q360_NOTES = (
    "ONE-SCAN FEATURE RANKING BY INFORMATION GAIN (operators/profile."
    "information_gain_ranking — the feature-selection sweep: q258 "
    "answers MI for ONE column pair, selection asks it of EVERY "
    "candidate, and per-column calls re-scan the corpus per feature): "
    "the stack unpivot (infer_formats discipline) turns n feature "
    "columns into rows map-side, ONE hash agg to (feature,value,label) "
    "cells, entropies reduce from those cells with lazy window-carried "
    "totals (never an eager count) — one corpus scan for any feature "
    "count. NULL feature values form their own category (missingness "
    "is informative, the q319 stance); 9dp-rounded decimal entropy "
    "terms, order-independent sums, 6dp outputs (the q258 rule)"
)

register("q360_feature_ranking", _Q360_ORACLE, _Q360_NOTES)(q360_feature_ranking)


# --- q364: incremental (merge-only) t-digest ------------------------------------


def q364_tdigest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-only t-digest maintenance (operators/sketch.tdigest_merge
    — VERDICT r10 candidate 2): per-generation digests over the events
    table (even/odd event_id halves standing in for daily batches) are
    UNIONED AS CENTROID ROWS and merged without re-touching data; the
    readout is per-event-type p50/p95/p99."""
    from ..operators.sketch import tdigest_build, tdigest_merge, tdigest_quantiles

    ev = read_table(spark, sf_dir, "events")
    gen1 = tdigest_build(
        ev.filter(F.col("event_id") % 2 == 0), "value", ["event_type"]
    )
    gen2 = tdigest_build(
        ev.filter(F.col("event_id") % 2 == 1), "value", ["event_type"]
    )
    merged = tdigest_merge(gen1.unionByName(gen2), ["event_type"])
    return (
        tdigest_quantiles(merged, ["event_type"], [0.5, 0.95, 0.99])
        .select(
            "event_type",
            "p",
            F.round("est", 6).alias("est"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("event_type", "p")
    )


_Q364_NOTES = (
    "INCREMENTAL T-DIGEST over micro-batches (operators/sketch."
    "tdigest_merge — the merge-only maintenance half of q342's sketch; "
    "Dunning & Ertl: digests form a commutative monoid under merge, so "
    "per-batch digests union as centroid ROWS and merge without "
    "re-touching data — streaming quantiles under the q353 watermark "
    "discipline, state = centroids per group): engine splits events "
    "into two generations, builds a digest per generation, merges. "
    "ROWS-ONLY (quantile estimates are sketch output, the q342/HLL "
    "precedent); pytests pin merged-readout rank error vs exact on "
    "randomized data, bit-determinism under repartitioning, exact "
    "weight conservation, and merge-vs-monolithic agreement"
)

register("q364_tdigest_incremental", None, _Q364_NOTES)(q364_tdigest_incremental)


# --- q368: Holt linear (double-exponential) smoothing ----------------------------


def q368_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt level+trend smoothing of event values
    (operators/timeseries.holt_smooth — the trend-aware sibling of
    q118's EWMA), 6dp at the catalog boundary."""
    from ..operators.timeseries import holt_smooth

    events = read_table(spark, sf_dir, "events")
    out = holt_smooth(
        events, "ts", ["user_id"], "value", alpha=0.3, beta=0.2,
        tiebreak=["event_id"],
    )
    return out.select(
        "user_id",
        "ts",
        "value",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    )


_Q368_ORACLE = """
    WITH RECURSIVE s AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, ts, value, rn,
             CAST(value AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
             CAST(value AS DOUBLE) AS l_prev
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.ts, s.value, s.rn,
             0.3 * s.value + (1.0 - 0.3) * (r.l + r.b),
             0.2 * ((0.3 * s.value + (1.0 - 0.3) * (r.l + r.b)) - r.l)
               + (1.0 - 0.2) * r.b,
             r.l
      FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, ts, value,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + b, 6) AS forecast
    FROM r
"""

_Q368_NOTES = (
    "HOLT LINEAR (double-exponential) SMOOTHING per key (operators/"
    "timeseries.holt_smooth — Holt 1957; the trend-aware upgrade of "
    "q118's EWMA, whose level-only recursion lags a trending series by "
    "a constant offset): l = a*y + (1-a)(l'+b'), b = B(l-l') + (1-B)b', "
    "init l1=y1, b1=0, plus the one-step forecast l+b the anomaly "
    "family compares against. Grouped-map applyInPandas (sequential "
    "within key, keys parallelize — the EWMA/CUSUM contract); the "
    "recurrence is plain ordered float arithmetic, so the recursive-"
    "CTE oracle replays it bit-for-bit stepping level/trend/l_prev "
    "state one row per iteration (the q118 conversion precedent), 6dp "
    "on both legs; trend-tracking law (on a pure ramp the forecast "
    "converges to the next point while EWMA lags) pytest-pinned"
)

register("q368_holt_smoothing", _Q368_ORACLE, _Q368_NOTES)(q368_holt_smoothing)


# --- q419-q421: preference-data trio (RLHF / arena readouts) ------------------------

# Deterministic preference matches from the events fixture: consecutive
# events per user ((ts, event_id) total order — the unique-tiebreaker
# rule) are a "match" between their event types; the one with the
# larger value wins. Ties and self-pairs carry no preference and are
# excluded. Shared by q419/q420/q421.
_PREF_MATCHES_SQL = """
  SELECT CASE WHEN va > vb THEN a ELSE b END AS winner,
         CASE WHEN va > vb THEN b ELSE a END AS loser
  FROM (
    SELECT event_type AS a, value AS va,
           LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS b,
           LEAD(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS vb
    FROM events
  )
  WHERE b IS NOT NULL AND a <> b AND va <> vb
"""


def _pref_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.col("value").alias("va"),
        F.lead("event_type").over(w).alias("b"),
        F.lead("value").over(w).alias("vb"),
    )
    return seq.filter(
        F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
        & (F.col("va") != F.col("vb"))
    ).select(
        F.when(F.col("va") > F.col("vb"), F.col("a"))
        .otherwise(F.col("b"))
        .alias("winner"),
        F.when(F.col("va") > F.col("vb"), F.col("b"))
        .otherwise(F.col("a"))
        .alias("loser"),
    )


def q419_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry leaderboard over the synthetic preference matches
    (operators/preference.bradley_terry): 5 fixed MM steps from the
    uniform start, mean-normalized — the arena-leaderboard estimator."""
    from ..operators.preference import bradley_terry

    return bradley_terry(
        _pref_matches(spark, sf_dir), "winner", "loser", iters=5
    ).orderBy("item")


def _q419_oracle(iters: int = 5) -> str:
    # Every CTE is MATERIALIZED: DuckDB re-inlines plain CTEs per
    # reference, and the MM recursion references each s{{t-1}} twice —
    # the same 4^iters blowup the Spark side solves with
    # localCheckpoint (an unmaterialized draft of this oracle ran for
    # minutes on 1,000 events).
    parts = [
        f"""m AS MATERIALIZED ({_PREF_MATCHES_SQL}),
    d AS MATERIALIZED (
      SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w
      FROM m GROUP BY 1, 2
    ),
    sym AS MATERIALIZED (
      SELECT i, j, CAST(SUM(w) AS BIGINT) AS wij FROM (
        SELECT i, j, w FROM d
        UNION ALL
        SELECT j AS i, i AS j, CAST(0 AS BIGINT) AS w FROM d
      ) GROUP BY i, j
    ),
    pn AS MATERIALIZED (
      SELECT a.i AS i, a.j AS j, a.wij + b.wij AS n
      FROM sym a JOIN sym b ON a.i = b.j AND a.j = b.i
    ),
    totals AS MATERIALIZED (SELECT i, CAST(SUM(wij) AS BIGINT) AS wins
                            FROM sym GROUP BY i),
    games AS MATERIALIZED (SELECT i, CAST(SUM(n) AS BIGINT) AS games
                           FROM pn GROUP BY i),
    s0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS s FROM totals)"""
    ]
    term = "round(CAST(pn.n AS DOUBLE) / (si.s + sj.s), 9)"
    for t in range(1, iters + 1):
        parts.append(
            f"""dn{t} AS MATERIALIZED (
      SELECT pn.i, {stable_sum_sql(term, 9)} AS denom
      FROM pn JOIN s{t - 1} si ON pn.i = si.i
              JOIN s{t - 1} sj ON pn.j = sj.i
      GROUP BY pn.i
    ),
    r{t} AS MATERIALIZED (
      SELECT tt.i, round(CAST(tt.wins AS DOUBLE) / dd.denom, 9) AS raw
      FROM totals tt JOIN dn{t} dd ON tt.i = dd.i
    ),
    mn{t} AS MATERIALIZED (SELECT {stable_sum_sql('raw', 9)} / COUNT(*) AS mean
                           FROM r{t}),
    s{t} AS MATERIALIZED (SELECT i, round(raw / mean, 9) AS s
                          FROM r{t} CROSS JOIN mn{t})"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT tt.i AS item, g.games, tt.wins AS wins,
           round(s.s, 6) AS strength,
           CAST(ROW_NUMBER() OVER (ORDER BY s.s DESC, tt.i ASC) AS BIGINT)
             AS rank
    FROM totals tt
    JOIN games g ON tt.i = g.i
    JOIN s{iters} s ON tt.i = s.i
    ORDER BY item
    """


_Q419_NOTES = (
    "BRADLEY-TERRY LEADERBOARD (operators/preference.bradley_terry — "
    "Bradley & Terry 1952; Hunter 2004 MM iteration, the Chatbot-Arena-"
    "class estimator for pairwise preference data): the ONLY corpus-"
    "sized step is the match-table groupBy (map-side combined); the MM "
    "loop runs a FIXED 5 steps on items-sized broadcast frames (items = "
    "models/policies — small by construction), each step one items2-"
    "sized equi-join + items-sized agg. Fixed iteration count keeps the "
    "result a pure function of the match table — the oracle unrolls the "
    "same 5 steps as generated CTEs. Per-term divisions round at 9dp "
    "and ride DECIMAL(25,9) sums; never-lose items grow monotonically "
    "instead of diverging (documented). Rank carries the item-name "
    "tiebreaker (SURVEY 5.3 rule 5)"
)

register("q419_bradley_terry", _q419_oracle(), _Q419_NOTES)(q419_bradley_terry)


def q420_preference_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the preference matches
    (operators/preference.preference_cycles): cyclic vs decided triads
    in the majority tournament."""
    from ..operators.preference import preference_cycles

    return preference_cycles(_pref_matches(spark, sf_dir), "winner", "loser")


_Q420_ORACLE = f"""
    WITH m AS ({_PREF_MATCHES_SQL}),
    d AS (
      SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w
      FROM m GROUP BY 1, 2
    ),
    duel AS (
      SELECT a.i AS u, a.j AS v, a.w AS wu, COALESCE(b.w, 0) AS wv
      FROM d a LEFT JOIN d b ON a.i = b.j AND a.j = b.i
    ),
    edges AS (SELECT u, v FROM duel WHERE wu > wv),
    items AS (
      SELECT DISTINCT x FROM (
        SELECT i AS x FROM d UNION ALL SELECT j AS x FROM d)
    ),
    pairs AS (SELECT DISTINCT least(i, j) AS a, greatest(i, j) AS b FROM d),
    und AS (SELECT least(u, v) AS a, greatest(u, v) AS b FROM edges),
    tri AS (
      SELECT p1.a AS x, p1.b AS y, p2.b AS z
      FROM und p1
      JOIN und p2 ON p1.a = p2.a AND p1.b < p2.b
      JOIN und p3 ON p1.b = p3.a AND p2.b = p3.b
    ),
    cyc AS (
      SELECT e1.u FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e2.v = e3.u AND e3.v = e1.u
      WHERE e1.u < e2.u AND e1.u < e3.u
    )
    SELECT CAST((SELECT COUNT(*) FROM items) AS BIGINT) AS n_items,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_active_pairs,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_decided_pairs,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_decided_triads,
           CAST((SELECT COUNT(*) FROM cyc) AS BIGINT) AS n_cyclic_triads,
           CASE WHEN (SELECT COUNT(*) FROM tri) = 0 THEN NULL
                ELSE round(CAST((SELECT COUNT(*) FROM cyc) AS DOUBLE)
                           / CAST((SELECT COUNT(*) FROM tri) AS DOUBLE), 6)
           END AS cycle_rate
"""

_Q420_NOTES = (
    "PREFERENCE TRANSITIVITY AUDIT (operators/preference."
    "preference_cycles — tournament triad census, Kendall 1938 / Moon "
    "1968: the fraction of fully-decided item triples whose majority "
    "edges form a 3-cycle; a high rate means judge noise or genuine "
    "non-transitivity, and a scalar BT strength under-fits either "
    "way): ONE corpus-sized match groupBy, then items2-bounded "
    "broadcast equi-joins; directed 3-cycles counted once via the "
    "minimum-vertex rotation anchor. All counts exact LONGs; the rate "
    "is one division"
)

register("q420_preference_cycles", _Q420_ORACLE, _Q420_NOTES)(q420_preference_cycles)


def q421_pairwise_winrates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair win rates with Wilson 95% score intervals
    (operators/preference.pairwise_winrates)."""
    from ..operators.preference import pairwise_winrates

    return pairwise_winrates(
        _pref_matches(spark, sf_dir), "winner", "loser"
    ).orderBy("item_a", "item_b")


def _q421_oracle() -> str:
    from ..operators.preference import _Z95

    z = repr(_Z95)
    z2 = repr(_Z95 * _Z95)
    return f"""
    WITH m AS ({_PREF_MATCHES_SQL}),
    d AS (
      SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w
      FROM m GROUP BY 1, 2
    ),
    pp AS (
      SELECT least(i, j) AS item_a, greatest(i, j) AS item_b,
             CAST(SUM(w) AS BIGINT) AS n_matches,
             CAST(SUM(CASE WHEN i < j THEN w ELSE 0 END) AS BIGINT) AS wins_a
      FROM d GROUP BY 1, 2
    ),
    ext AS (
      SELECT item_a, item_b, n_matches, wins_a,
             CAST(n_matches AS DOUBLE) AS n,
             CAST(wins_a AS DOUBLE) / CAST(n_matches AS DOUBLE) AS p
      FROM pp
    ),
    wil AS (
      SELECT item_a, item_b, n_matches, wins_a, p,
             (p + {z2} / (2.0 * n)) / (1.0 + {z2} / n) AS center,
             {z} * sqrt(p * (1.0 - p) / n + {z2} / (4.0 * n * n))
               / (1.0 + {z2} / n) AS half
      FROM ext
    )
    SELECT item_a, item_b, n_matches, wins_a,
           round(p, 6) AS winrate_a,
           round(center - half, 6) AS wilson_lo,
           round(center + half, 6) AS wilson_hi
    FROM wil ORDER BY item_a, item_b
    """


_Q421_NOTES = (
    "PAIRWISE WIN RATES + WILSON INTERVALS (operators/preference."
    "pairwise_winrates — Wilson 1927 score interval, the interval of "
    "record for small-n pairwise preference tables: never exits [0,1], "
    "sane at p-hat 0 or 1 where Wald collapses): one corpus-sized "
    "groupBy to a pairs-sized frame; the Wilson chain is single-row "
    "IEEE arithmetic on identical operands (z pinned as a literal, z*z "
    "pre-computed in the driver and shipped to BOTH engines), sqrt is "
    "libm so bounds round at 6dp"
)

register("q421_pairwise_winrates", _q421_oracle(), _Q421_NOTES)(q421_pairwise_winrates)


# --- q424: Krippendorff's alpha --------------------------------------------------------


def q424_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three synthetic raters with MISSING assignments over orders
    (the q316 construction + per-rater hash missingness — the input
    shape Cohen/Fleiss cannot take), scored by nominal Krippendorff
    alpha (operators/agreement.krippendorff_alpha)."""
    from ..operators.agreement import krippendorff_alpha

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("item"),
        F.substring("o_orderpriority", 1, 1).alias("cls"),
    )
    rot = ((F.col("cls").cast("int") % 5) + 1).cast("string")
    lab = None
    for rid, fsalt, msalt in (("r1", 17, 5), ("r2", 23, 7), ("r3", 31, 11)):
        r = o.filter(_hash_mod(F.col("item"), msalt, 5) != 0).select(
            "item",
            F.lit(rid).alias("rater"),
            F.when(_hash_mod(F.col("item"), fsalt, 10) < 3, rot)
            .otherwise(F.col("cls"))
            .alias("label"),
        )
        lab = r if lab is None else lab.unionByName(r)
    return krippendorff_alpha(lab, "item", "rater", "label")


def _q424_oracle() -> str:
    rater = """
      SELECT item, '{rid}' AS rater,
             CASE WHEN {flip} < 3
                  THEN CAST((CAST(cls AS INT) % 5) + 1 AS VARCHAR)
                  ELSE cls END AS label
      FROM o WHERE {miss} <> 0"""
    arms = " UNION ALL ".join(
        rater.format(
            rid=rid,
            flip=_hash_mod_sql("item", fsalt, 10),
            miss=_hash_mod_sql("item", msalt, 5),
        )
        for rid, fsalt, msalt in (
            ("r1", 17, 5), ("r2", 23, 7), ("r3", 31, 11))
    )
    term = "CAST(m * m - s2 AS DOUBLE) / CAST(m - 1 AS DOUBLE)"
    return f"""
    WITH o AS (
      SELECT o_orderkey AS item, substr(o_orderpriority, 1, 1) AS cls
      FROM orders
    ),
    base AS ({arms}),
    vals AS (SELECT item, rater, MIN(label) AS c FROM base
             GROUP BY item, rater),
    nuc AS (SELECT item, c, CAST(COUNT(*) AS BIGINT) AS nuc
            FROM vals GROUP BY item, c),
    pu AS (
      SELECT item, CAST(SUM(nuc) AS BIGINT) AS m,
             CAST(SUM(nuc * nuc) AS BIGINT) AS s2
      FROM nuc GROUP BY item HAVING SUM(nuc) >= 2
    ),
    don AS (
      SELECT {stable_sum_sql(f"round({term}, 9)", 9)} AS sum_t,
             CAST(SUM(m) AS BIGINT) AS n_values,
             CAST(COUNT(*) AS BIGINT) AS n_units
      FROM pu
    ),
    marg AS (
      SELECT n.c, CAST(SUM(n.nuc) AS BIGINT) AS nc
      FROM nuc n JOIN pu ON n.item = pu.item GROUP BY n.c
    ),
    de AS (
      SELECT CAST(SUM(nc * nc) AS BIGINT) AS snc2,
             CAST(COUNT(*) AS BIGINT) AS n_categories
      FROM marg
    ),
    fin AS (
      SELECT n_units, n_values, n_categories,
             sum_t / CAST(n_values AS DOUBLE) AS d_o,
             (CAST(n_values AS DOUBLE) * CAST(n_values AS DOUBLE)
              - CAST(snc2 AS DOUBLE))
             / (CAST(n_values AS DOUBLE)
                * (CAST(n_values AS DOUBLE) - 1.0)) AS d_e
      FROM don CROSS JOIN de
    )
    SELECT n_units, n_values, n_categories,
           round(d_o, 6) AS d_o, round(d_e, 6) AS d_e,
           round(1.0 - d_o / d_e, 6) AS alpha
    FROM fin
    """


_Q424_NOTES = (
    "KRIPPENDORFF'S ALPHA, NOMINAL (operators/agreement."
    "krippendorff_alpha — Krippendorff 1970/2004, the agreement "
    "statistic that HANDLES MISSING LABELS, which real annotation "
    "tables always have; Cohen q316 needs two complete raters, Fleiss "
    "q317 a constant rater count): the nominal coincidence sum "
    "collapses to per-unit and global label marginals — no category-"
    "pair matrix; units with < 2 pairable values excluded everywhere. "
    "One (unit,label) count agg + one unit reduce + one marginal agg, "
    "all map-combined; per-unit terms 9dp on DECIMAL(25,9) sums, D_e "
    "exact-integer-derived, 6dp out"
)

register("q424_krippendorff_alpha", _q424_oracle(), _Q424_NOTES)(
    q424_krippendorff_alpha
)


# --- q427/q428: preference bias audits ---------------------------------------------------

# Canonicalized match rows with response-length and order metadata:
# item_a < item_b by name, win_a = a won, len_* = length(props) of each
# side (the "response length" stand-in), first_wins = the temporally
# earlier event won. Extends _PREF_MATCHES_SQL's construction.
_PREF_MATCHES_EXT_SQL = """
  SELECT CASE WHEN a < b THEN a ELSE b END AS item_a,
         CASE WHEN a < b THEN b ELSE a END AS item_b,
         CASE WHEN a < b THEN (va > vb) ELSE (vb > va) END AS win_a,
         CASE WHEN a < b THEN la ELSE lb END AS len_a,
         CASE WHEN a < b THEN lb ELSE la END AS len_b,
         va > vb AS first_wins
  FROM (
    SELECT event_type AS a, value AS va, length(props) AS la,
           LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS b,
           LEAD(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS vb,
           LEAD(length(props)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS lb
    FROM events
  )
  WHERE b IS NOT NULL AND a <> b AND va <> vb
"""


def _pref_matches_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.col("value").alias("va"),
        F.length("props").alias("la"),
        F.lead("event_type").over(w).alias("b"),
        F.lead("value").over(w).alias("vb"),
        F.lead(F.length("props")).over(w).alias("lb"),
    ).filter(
        F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
        & (F.col("va") != F.col("vb"))
    )
    swap = F.col("a") < F.col("b")
    return seq.select(
        F.when(swap, F.col("a")).otherwise(F.col("b")).alias("item_a"),
        F.when(swap, F.col("b")).otherwise(F.col("a")).alias("item_b"),
        F.when(swap, F.col("va") > F.col("vb"))
        .otherwise(F.col("vb") > F.col("va"))
        .alias("win_a"),
        F.when(swap, F.col("la")).otherwise(F.col("lb")).alias("len_a"),
        F.when(swap, F.col("lb")).otherwise(F.col("la")).alias("len_b"),
        (F.col("va") > F.col("vb")).alias("first_wins"),
    )


def q427_length_controlled_winrate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-pair length-controlled win rates over the preference matches
    (operators/preference.length_controlled_winrates): OLS de-verbosity
    correction, intercept = the equal-length win rate."""
    from ..operators.preference import length_controlled_winrates

    return length_controlled_winrates(
        _pref_matches_ext(spark, sf_dir),
        "item_a", "item_b", "win_a", "len_a", "len_b",
    ).orderBy("item_a", "item_b")


def _q427_oracle() -> str:
    return f"""
    WITH m AS ({_PREF_MATCHES_EXT_SQL}),
    base AS (
      SELECT item_a, item_b,
             CAST(len_a - len_b AS DOUBLE) AS x,
             CAST(CAST(win_a AS INT) AS DOUBLE) AS y
      FROM m
      WHERE len_a IS NOT NULL AND len_b IS NOT NULL
    ),
    agg AS (
      SELECT item_a, item_b,
             CAST(COUNT(*) AS BIGINT) AS n_matches,
             {stable_sum_sql('x', 0)} AS sx,
             {stable_sum_sql('y', 0)} AS sy,
             {stable_sum_sql('x * x', 0)} AS sxx,
             {stable_sum_sql('x * y', 0)} AS sxy
      FROM base GROUP BY item_a, item_b
    ),
    fit AS (
      SELECT item_a, item_b, n_matches,
             CAST(n_matches AS DOUBLE) AS n, sx, sy, sxx, sxy,
             CASE WHEN CAST(n_matches AS DOUBLE) * sxx - sx * sx = 0
                  THEN NULL
                  ELSE (CAST(n_matches AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n_matches AS DOUBLE) * sxx - sx * sx)
             END AS beta
      FROM agg
    )
    SELECT item_a, item_b, n_matches,
           round(sy / n, 6) AS winrate_a,
           round(sx / n, 6) AS mean_len_diff,
           round(beta, 6) AS length_bias_slope,
           round(COALESCE(sy / n - beta * (sx / n), sy / n), 6)
             AS lc_winrate_a
    FROM fit ORDER BY item_a, item_b
    """


_Q427_NOTES = (
    "LENGTH-CONTROLLED WIN RATES (operators/preference."
    "length_controlled_winrates — Dubois et al. 2024 Length-Controlled "
    "AlpacaEval: judges prefer longer responses, so raw win rates "
    "confound quality with verbosity; closed-form OLS linear-"
    "probability fit per pair, intercept = the equal-length win rate — "
    "the exactly-SQL-replayable stand-in for the paper's logistic "
    "fit, documented): ONE corpus groupBy; x/y/x2/xy are exact "
    "integers so sums are exact DECIMAL(25,0) — zero mid-pipeline "
    "rounding, the only FP is the final identical-operand division "
    "chain; zero-length-variation pairs report NULL slope and fall "
    "back to the raw rate (no variation = no estimable bias)"
)

register("q427_length_controlled_winrate", _q427_oracle(), _Q427_NOTES)(
    q427_length_controlled_winrate
)


def q428_order_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-bias audit over the preference matches
    (operators/preference.order_bias_audit): exact binomial z of
    P(earlier event wins) against 1/2, p-value via the in-engine
    Abramowitz-Stegun tail."""
    from ..operators.preference import order_bias_audit

    return order_bias_audit(_pref_matches_ext(spark, sf_dir), "first_wins")


def _q428_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    z = ("((CAST(n_first_wins AS DOUBLE) / CAST(n_matches AS DOUBLE)"
         " - 0.5) / sqrt(0.25 / CAST(n_matches AS DOUBLE)))")
    return f"""
    WITH m AS ({_PREF_MATCHES_EXT_SQL}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
             CAST(SUM(CASE WHEN first_wins THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first_wins
      FROM m
    )
    SELECT n_matches, n_first_wins,
           round(CAST(n_first_wins AS DOUBLE)
                 / CAST(n_matches AS DOUBLE), 6) AS first_win_rate,
           round({z}, 6) AS z,
           {normal_p_two_sided_sql(z)} AS p_value,
           COALESCE({normal_p_two_sided_sql(z)} < 0.05, FALSE) AS biased
    FROM agg
    """


_Q428_NOTES = (
    "ORDER-BIAS AUDIT (operators/preference.order_bias_audit — Zheng "
    "et al. 2023 Judging-LLM-as-a-Judge section 3.2 position bias; "
    "arena UIs randomize positions because judges favor the first-"
    "listed response, and an ingest pipeline must VERIFY that "
    "randomization held): one conditional aggregate -> exact binomial "
    "z against 1/2 -> two-sided p via the q407 Abramowitz-Stegun "
    "closed form (normal_p_two_sided + its digit-matched _sql twin) — "
    "the verdict is computed IN the engine, no client-side CDF lookup"
)

register("q428_order_bias", _q428_oracle(), _Q428_NOTES)(q428_order_bias)


# --- q442: MAUVE-style divergence frontier -----------------------------------


def q442_mauve_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divergence frontier between the even- and odd-vec_id halves of
    the embeddings corpus over their cluster labels
    (operators/drift.mauve_frontier)."""
    from ..operators.drift import mauve_frontier

    emb = read_table(spark, sf_dir, "embeddings")
    p_df = emb.filter(F.col("vec_id") % 2 == 0)
    q_df = emb.filter(F.col("vec_id") % 2 == 1)
    return mauve_frontier(p_df, q_df, "label").orderBy("lam")


def _q442_oracle() -> str:
    return """
    WITH hp AS (SELECT label AS cell, COUNT(*) AS cp FROM embeddings
                WHERE vec_id % 2 = 0 GROUP BY label),
    hq AS (SELECT label AS cell, COUNT(*) AS cq FROM embeddings
           WHERE vec_id % 2 = 1 GROUP BY label),
    cells AS (
      SELECT COALESCE(hp.cell, hq.cell) AS cell,
             COALESCE(cp, 0) AS cp, COALESCE(cq, 0) AS cq
      FROM hp FULL OUTER JOIN hq ON hp.cell = hq.cell),
    tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS n_p,
                   CAST(SUM(cq) AS BIGINT) AS n_q,
                   CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
    lams AS (SELECT round(i / 20.0, 9) AS lam
             FROM generate_series(1, 19) t(i)),
    terms AS (
      SELECT lam, cp, cq, n_p, n_q, n_cells,
             cp / n_p AS p, cq / n_q AS q
      FROM cells CROSS JOIN tot CROSS JOIN lams),
    per_lam AS (
      SELECT lam,
             COALESCE(SUM(CASE WHEN cq > 0 THEN
               CAST(round(q * ln(q / (lam * p + (1 - lam) * q)), 9)
                    AS DECIMAL(25,9)) END), 0) AS klq,
             COALESCE(SUM(CASE WHEN cp > 0 THEN
               CAST(round(p * ln(p / (lam * p + (1 - lam) * q)), 9)
                    AS DECIMAL(25,9)) END), 0) AS klp,
             min(n_p) AS n_p, min(n_q) AS n_q, min(n_cells) AS n_cells
      FROM terms GROUP BY lam),
    pts AS (
      SELECT lam, n_p, n_q, n_cells,
             CAST(klq AS DOUBLE) AS kq, CAST(klp AS DOUBLE) AS kp,
             round(exp(-CAST(klq AS DOUBLE)), 9) AS x,
             round(exp(-CAST(klp AS DOUBLE)), 9) AS y
      FROM per_lam),
    lagged AS (
      SELECT *, lag(x) OVER (ORDER BY x, lam) AS xp,
             lag(y) OVER (ORDER BY x, lam) AS yp
      FROM pts),
    auc AS (
      SELECT round(CAST(COALESCE(SUM(CASE WHEN xp IS NOT NULL THEN
               CAST(round((x - xp) * (y + yp) / 2, 9) AS DECIMAL(25,9))
             END), 0) AS DOUBLE), 6) AS frontier_auc
      FROM lagged)
    SELECT lam, round(kq, 6) AS kl_q_mix, round(kp, 6) AS kl_p_mix,
           round(x, 6) AS x, round(y, 6) AS y,
           frontier_auc, n_p, n_q, n_cells
    FROM pts CROSS JOIN auc ORDER BY lam
    """


_Q442_NOTES = (
    "MAUVE-STYLE DIVERGENCE FRONTIER (operators/drift.mauve_frontier "
    "— Pillutla et al. NeurIPS 2021 outstanding paper, the open-ended "
    "generation metric: two corpora quantized into shared cells, then "
    "KL(Q||R_lam)/KL(P||R_lam) traced over the mixture grid, area "
    "under (e^-c, e^-d)): quantization labels supplied by the caller "
    "(the engine's kmeans/IVF cells) so the ONLY corpus-sized work is "
    "ONE label-keyed count per side; the lam grid is OPEN (0,1) so KL "
    "is finite without smoothing (R_lam >= lam*P on P's support); KL "
    "terms ln at 9dp ride DECIMAL(25,9) sums over the labels-sized "
    "frame, trapezoid fold over the 19-point literal grid; scaling "
    "constant fixed at 1 (documented simplification of the paper's c)"
)

register("q442_mauve_frontier", _q442_oracle(), _Q442_NOTES)(q442_mauve_frontier)


# --- q445: Kendall tau-b leaderboard stability -------------------------------


def q445_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (operators/preference.kendall_tau_b) between two
    scorings of the event-type 'leaderboard': mean event value vs
    event frequency — do the two orderings agree?"""
    from ..operators.preference import kendall_tau_b

    ev = read_table(spark, sf_dir, "events")
    items = ev.groupBy("event_type").agg(
        (
            F.sum(F.round(F.col("value"), 9).cast("decimal(25,9)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("mean_value"),
        F.count("*").cast("double").alias("freq"),
    )
    return kendall_tau_b(items, "mean_value", "freq", id_col="event_type")


def _q445_oracle() -> str:
    return """
    WITH items AS (
      SELECT event_type AS item,
             CAST(SUM(CAST(round(value, 9) AS DECIMAL(25,9))) AS DOUBLE)
               / COUNT(*) AS x,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY event_type),
    pairs AS (
      SELECT sign(b.x - a.x) AS sx, sign(b.y - a.y) AS sy
      FROM items a JOIN items b ON a.item < b.item),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
             CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS discordant,
             CAST(SUM(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_x,
             CAST(SUM(CASE WHEN sx <> 0 AND sy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_y,
             CAST(SUM(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_both
      FROM pairs),
    ni AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM items)
    SELECT ni.n_items, agg.n_pairs, agg.concordant, agg.discordant,
           agg.ties_x, agg.ties_y, agg.ties_both,
           CASE WHEN (agg.n_pairs - (agg.ties_x + agg.ties_both))
                     * (agg.n_pairs - (agg.ties_y + agg.ties_both)) > 0
                THEN round((agg.concordant - agg.discordant)
                     / sqrt(CAST((agg.n_pairs
                                  - (agg.ties_x + agg.ties_both))
                                 * (agg.n_pairs
                                    - (agg.ties_y + agg.ties_both))
                                 AS DOUBLE)), 6)
           END AS tau_b
    FROM agg CROSS JOIN ni
    """


_Q445_NOTES = (
    "KENDALL TAU-B (operators/preference.kendall_tau_b — Kendall "
    "1938, tie correction 1945; the leaderboard-stability readout "
    "next to q419's Bradley-Terry and mlmetrics' Spearman — "
    "pair-concordance with the tie story): input is an ITEMS-SIZED "
    "frame (the q419/q420 bounded class), the i<j self-equi-join is "
    "items^2-bounded by construction, NEVER corpus-sized; C/D/ties "
    "are exact LONG sign comparisons on raw scores (no rank pass "
    "needed), tau-b one sqrt at 6dp (q421 contract), zero-denominator "
    "(all-tied scoring) degrades to NULL"
)

register("q445_kendall_tau", _q445_oracle(), _Q445_NOTES)(q445_kendall_tau)


# --- q450: two-sample log-rank test ------------------------------------------


def q450_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (operators/survival.logrank_test) over
    the q238 retention subjects, arms = portable-hash coin of the
    user — 'do the two cohorts' conversion curves differ?'."""
    from ..functions.portable_hash import u32_md5
    from ..operators.survival import logrank_test

    ev = read_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    subj = spans.select(
        F.floor(
            (
                F.unix_timestamp(F.coalesce("first_purchase", "last_ts"))
                - F.unix_timestamp("first_ts")
            )
            / F.lit(3600)
        ).alias("duration_h"),
        F.col("first_purchase").isNotNull().cast("int").alias("converted"),
        F.when(u32_md5(F.col("user_id"), "lr") % 2 == 0, "a")
        .otherwise("b")
        .alias("arm"),
    )
    return logrank_test(subj, "duration_h", "converted", "arm", "a", "b")


def _q450_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql
    from ..operators.mlmetrics import normal_p_two_sided_sql

    coin = f"CASE WHEN ({u32_md5_sql('user_id', 'lr')}) % 2 = 0 " \
           "THEN 'a' ELSE 'b' END"
    return f"""
    WITH spans AS (
      SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id),
    subj AS (
      SELECT CAST(floor((floor(epoch(COALESCE(first_purchase, last_ts)))
                         - floor(epoch(first_ts))) / 3600) AS BIGINT) AS t,
             CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS e,
             CASE WHEN {coin} = 'a' THEN 1 ELSE 0 END AS a
      FROM spans),
    per_t AS (
      SELECT t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(SUM(e * a) AS BIGINT) AS da,
             CAST(COUNT(*) AS BIGINT) AS lv,
             CAST(SUM(a) AS BIGINT) AS lva
      FROM subj GROUP BY t),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                   CAST(SUM(a) AS BIGINT) AS n_a_all,
                   CAST(SUM(e * a) AS BIGINT) AS events_a,
                   CAST(SUM(e * (1 - a)) AS BIGINT) AS events_b
            FROM subj),
    risk AS (
      SELECT per_t.*, tot.n_all, tot.n_a_all, tot.events_a, tot.events_b,
             n_all - COALESCE(SUM(lv) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nt,
             n_a_all - COALESCE(SUM(lva) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nat
      FROM per_t CROSS JOIN tot),
    ev AS (SELECT * FROM risk WHERE d > 0),
    agg AS (
      SELECT CAST(SUM(da) AS BIGINT) AS observed_a,
             SUM(CAST(round(d * (nat / nt), 9) AS DECIMAL(25,9))) AS ea,
             SUM(CAST(round(da - d * (nat / nt), 9) AS DECIMAL(25,9)))
               AS oe,
             COALESCE(SUM(CASE WHEN nt > 1 THEN
               CAST(round(d * (nat / nt) * (1 - nat / nt)
                          * (nt - d) / (nt - 1), 9) AS DECIMAL(25,9))
             END), 0) AS v,
             MAX(n_a_all) AS n_a, MAX(n_all - n_a_all) AS n_b,
             MAX(events_a) AS events_a, MAX(events_b) AS events_b
      FROM ev),
    stat AS (
      SELECT *, CASE WHEN CAST(v AS DOUBLE) > 0
                     THEN CAST(oe AS DOUBLE) / sqrt(CAST(v AS DOUBLE))
                END AS z_raw
      FROM agg)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(events_a AS BIGINT) AS events_a,
           CAST(events_b AS BIGINT) AS events_b,
           observed_a,
           round(CAST(ea AS DOUBLE), 6) AS expected_a,
           round(z_raw, 6) AS z,
           CASE WHEN z_raw IS NOT NULL
                THEN {normal_p_two_sided_sql('z_raw')} END AS p_two_sided
    FROM stat
    """


_Q450_NOTES = (
    "TWO-SAMPLE LOG-RANK TEST (operators/survival.logrank_test — "
    "Mantel 1966; Peto & Peto 1972: the KM companion that answers "
    "'do these two retention curves differ?' across the WHOLE curve "
    "with exact right-censoring handling; O-E vs the pooled-hazard "
    "expectation with the hypergeometric variance, z + the q407 "
    "closed-form p): the kaplan_meier shape per arm — one grouped "
    "count per distinct duration, cumulative windows over the "
    "metadata-sized risk table, ONE 1-row reduce; O/E/V terms ride "
    "DECIMAL(25,9); n<=1 times contribute zero variance (documented); "
    "arms are portable-hash coins so the oracle replays the "
    "assignment digit-for-digit"
)

register("q450_logrank", _q450_oracle(), _Q450_NOTES)(q450_logrank)


def q459_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (operators/agreement.cronbach_alpha) over the
    four systems' f1 scores — do the k scorings measure one
    underlying 'document quality' construct?"""
    from ..operators.agreement import cronbach_alpha

    wide = _multi_sys_scores(spark, sf_dir)
    return cronbach_alpha(wide, [f"f1_d{d}" for d in _DENS])


def _q459_oracle() -> str:
    k = len(_DENS)
    ratio = repr(k / (k - 1.0))
    v9 = [f"round(CAST(f1_d{d} AS DOUBLE), 9)" for d in _DENS]
    total = f"round({' + '.join(v9)}, 9)"
    s_cols = ", ".join(
        f"SUM(CAST({v} AS DECIMAL(25,9))) AS s{i}, "
        f"SUM(CAST(round({v} * {v}, 9) AS DECIMAL(38,18))) AS q{i}"
        for i, v in enumerate(v9)
    )
    var = (
        lambda s, q: f"(CASE WHEN n >= 2 THEN (CAST({q} AS DOUBLE) "
        f"- CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE) / n) / (n - 1) END)"
    )
    sum_iv = "(0 + " + " + ".join(
        var(f"s{i}", f"q{i}") for i in range(k)
    ) + ")"
    tot_v = var("st", "qt")
    return f"""
    WITH {_multi_sql()},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, {s_cols},
             SUM(CAST({total} AS DECIMAL(25,9))) AS st,
             SUM(CAST(round({total} * {total}, 9) AS DECIMAL(38,18)))
               AS qt
      FROM wide
      WHERE {' AND '.join(f'f1_d{d} IS NOT NULL' for d in _DENS)})
    SELECT n, CAST({k} AS BIGINT) AS k_items,
           round({sum_iv}, 6) AS sum_item_var,
           round({tot_v}, 6) AS total_var,
           round(CASE WHEN {tot_v} > 0
                 THEN {ratio} * (1 - {sum_iv} / {tot_v}) END, 6)
             AS alpha
    FROM m
    """


_Q459_NOTES = (
    "CRONBACH'S ALPHA (operators/agreement.cronbach_alpha — Cronbach "
    "Psychometrika 1951: internal consistency of a k-metric battery — "
    "do k quality signals measure ONE construct, or k different "
    "opinions? The reliability audit next to the rater-agreement "
    "family q316/q317/q424): ONE no-grouping aggregate (per-item "
    "decimal sums + 9dp squares + the exact-decimal row-sum moments), "
    "fixed-form IEEE recombination with sample n-1 variances, "
    "listwise NULL handling (documented)"
)

register("q459_cronbach", _q459_oracle(), _Q459_NOTES)(q459_cronbach)


def q460_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement (operators/agreement.bland_altman)
    between the 1/2- and 1/3-truncation scorers — bias and 95% limits
    of agreement on the same items."""
    from ..operators.agreement import bland_altman

    wide = _multi_sys_scores(spark, sf_dir)
    return bland_altman(wide, "f1_d2", "f1_d3")


def _q460_oracle() -> str:
    z = repr(1.959964)
    d = "round(CAST(f1_d2 AS DOUBLE) - CAST(f1_d3 AS DOUBLE), 9)"
    return f"""
    WITH {_multi_sql()},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST({d} AS DECIMAL(25,9))) AS s,
             SUM(CAST(round({d} * {d}, 9) AS DECIMAL(38,18))) AS q
      FROM wide WHERE {d} IS NOT NULL),
    stat AS (
      SELECT n,
             CAST(s AS DOUBLE) / n AS bias,
             CASE WHEN n >= 2 THEN
               sqrt((CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                    / (n - 1)) END AS sd
      FROM m)
    SELECT n, round(bias, 6) AS bias, round(sd, 6) AS sd_diff,
           round(bias - {z} * sd, 6) AS loa_lo,
           round(bias + {z} * sd, 6) AS loa_hi
    FROM stat
    """


_Q460_NOTES = (
    "BLAND-ALTMAN AGREEMENT (operators/agreement.bland_altman — "
    "Bland & Altman Lancet 1986: the method-comparison readout for "
    "two CONTINUOUS scorings of the same quantity — correlation says "
    "they move together, Bland-Altman says whether one can REPLACE "
    "the other: bias = mean difference, 95% limits of agreement "
    "bias +/- 1.959964*sd): ONE no-grouping aggregate of 9dp decimal "
    "diffs + squares, sample n-1 sd, the q421 z literal convention"
)

register("q460_bland_altman", _q460_oracle(), _Q460_NOTES)(q460_bland_altman)

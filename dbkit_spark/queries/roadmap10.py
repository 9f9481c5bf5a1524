"""Catalog queries q342–q362, each registered where it is defined.

Every entry follows the r9 additions template: operator + randomized
brute-force or hand-case pytest (tests/test_round10.py) + oracle
pre-verified at sf0.001 and sf0.01
(tests/test_oracle.py), and the
driver-canon contract of SURVEY.md §5.3 (scalar outputs only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..sources import read_table


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


# --- q343: density clustering on the LSH graph --------------------------------


def q343_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density clustering over the q40 minhash pair graph
    (llm/cluster.density_clusters): cores need >= 2 near-dup neighbors,
    clusters are core-core components, single-edge borders attach to
    their smallest core cluster, bridge-only nodes are noise."""
    from ..llm.cluster import density_clusters
    from ..llm.dedup import minhash_near_dup_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    return (
        density_clusters(pairs, min_pts=2)
        .select(F.col("id").alias("doc_id"), "cluster_id", "role")
        .orderBy("doc_id")
    )


def _q343_oracle() -> str:
    from .llm import _MINHASH_CTES

    return f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      UNION
      SELECT doc_b, doc_a FROM mh_pairs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    cores AS (SELECT src AS c FROM deg WHERE d >= 2),
    ce AS (
      SELECT e.src, e.dst FROM edges e
      JOIN cores c1 ON e.src = c1.c
      JOIN cores c2 ON e.dst = c2.c
    ),
    reach(id, r) AS (
      SELECT c, c FROM cores
      UNION
      SELECT ce.dst, reach.r FROM reach JOIN ce ON ce.src = reach.id
    ),
    core_labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    border AS (
      SELECT e.src AS id, MIN(cl.cluster_id) AS cluster_id
      FROM edges e JOIN core_labels cl ON e.dst = cl.id
      WHERE e.src NOT IN (SELECT c FROM cores)
      GROUP BY e.src
    )
    SELECT id AS doc_id, cluster_id, 'core' AS role FROM core_labels
    UNION ALL
    SELECT id AS doc_id, cluster_id, 'border' AS role FROM border
    ORDER BY doc_id
    """


_Q343_NOTES = (
    "DENSITY-REACHABILITY CLUSTERING on the LSH pair graph "
    "(llm/cluster.density_clusters — the DBSCAN upgrade of q87's plain "
    "transitive closure: plain closure welds unrelated near-dup cliques "
    "through accidental single-edge bridges; requiring >= min_pts "
    "neighbors for core status breaks exactly those bridges): degree "
    "agg -> core filter -> min-label components on the CORE subgraph "
    "only -> one join+min-agg border attachment; noise absent. The "
    "oracle replays pairs, degrees, the core-core recursive closure, "
    "and border min-labels order-independently"
)

register("q343_density_clusters", _q343_oracle(), _Q343_NOTES)(q343_density_clusters)


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


# --- q346: weighted reservoir sample -------------------------------------------


def q346_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional document sample (llm/sampling.weighted_sample
    — A-ES weighted reservoir, P(selection) ∝ n_chars): top-10 per lang
    by the deterministic md5 key. The token-budget estimation draw every
    corpus-costing job runs."""
    from ..llm.sampling import weighted_sample

    docs = read_table(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, "doc_id", "n_chars", k=10, group_cols=["lang"])
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


_Q346_ORACLE = """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             round(
               ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || ':wres'), 1, 8)) AS BIGINT) + 1)
                  / 4294967296.0)
               / CAST(n_chars AS DOUBLE), 9) AS k
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY k DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT lang, doc_id, n_chars FROM ranked
    WHERE rn <= 10 ORDER BY lang, doc_id
"""

_Q346_NOTES = (
    "WEIGHTED RESERVOIR SAMPLE (llm/sampling.weighted_sample — "
    "Efraimidis-Spirakis A-ES: key = ln(u)/w, top-k per group, "
    "P(selection) proportional to weight WITHOUT replacement; the "
    "length-proportional document draw token-budget estimation runs, "
    "and the probability-weighted sibling of the quota samplers "
    "q174/q221/q333): u = (u32(md5(id:salt))+1)/2^32 is a pure "
    "function of the data, so the sample is identical under any "
    "partitioning and the oracle replays every draw; keys 9dp-rounded "
    "with id tiebreak (the SURVEY 5.3 libm rule — absorbs ln ulp "
    "drift). One map-side key + one per-group top-k window, the "
    "stratified_sample exchange shape"
)

register("q346_weighted_sample", _Q346_ORACLE, _Q346_NOTES)(q346_weighted_sample)


# --- q347: audio content dedup across container re-encodings -------------------


def q347_audio_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio content dedup (llm/audio.audio_fingerprint — the audio
    member of the modality dedup matrix next to text shingles and image
    dhash): the duplicate-bearing fixture carries the same waveform
    re-encoded across PCM16/float32/float64 containers; the energy-
    contour fingerprint groups them while any byte hash would not."""
    from pyspark.sql import Window

    from ..llm.audio import audio_fingerprint, with_wav_payload_grouped

    docs = read_table(spark, sf_dir, "documents")
    pay = with_wav_payload_grouped(docs, group_mod=25, every=3)
    fp = audio_fingerprint(pay, frame=200, shift=20)
    w = Window.partitionBy("fp")
    return (
        fp.select(
            "doc_id",
            F.min("doc_id").over(w).alias("dup_of"),
            F.count("*").over(w).alias("group_size"),
        )
        .orderBy("doc_id")
    )


_Q347_ORACLE = """
    WITH ids AS (
      SELECT doc_id, doc_id % 25 AS seed,
             800 + ((doc_id % 25) % 7) * 160 AS n
      FROM documents WHERE doc_id % 3 = 0
    ),
    s AS (
      SELECT doc_id, t.i,
             (seed * 7349 + t.i * (t.i + 13) * 2654435761) % 65536 - 32768
               AS v
      FROM ids, UNNEST(generate_series(0, n - 1)) AS t(i)
      WHERE t.i < (n // 200) * 200
    ),
    fr AS (
      SELECT doc_id, i // 200 AS f, SUM(v * v) // 1048576 AS lev
      FROM s GROUP BY 1, 2
    ),
    contour AS (
      SELECT doc_id,
             string_agg(CAST(lev AS VARCHAR), ',' ORDER BY f) AS c
      FROM fr GROUP BY doc_id
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY c) AS dup_of,
           COUNT(*) OVER (PARTITION BY c) AS group_size
    FROM contour ORDER BY doc_id
"""

_Q347_NOTES = (
    "AUDIO CONTENT DEDUP (llm/audio.audio_fingerprint — completes the "
    "modality dedup matrix: text shingles q40 / image dhash / AUDIO "
    "energy-contour): REAL decode normalized to one sample domain, "
    "exact integer frame energies coarsely quantized (>> 20 — small "
    "amplitude noise moves a level one step), contour md5 = the "
    "fingerprint; a PCM16 file and its float64 re-encode fingerprint "
    "identically, the duplicate class byte-hashing structurally "
    "misses (fixture encodes the same waveform across all three fmt "
    "arms). Map-only Arrow decode; dedup is ONE groupBy on fp (the "
    "exact-dedup shape, never pairwise). Oracle regenerates waveform, "
    "energies, levels, groups digit-for-digit"
)

register("q347_audio_content_dedup", _Q347_ORACLE, _Q347_NOTES)(
    q347_audio_content_dedup
)


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


# --- q353: streaming dedup within watermark -------------------------------------


def q353_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark over the events replay —
    the BOUNDED-STATE streaming dedup (plain dropDuplicates on a stream
    keeps every key forever; the watermark variant evicts dedup state
    once a key's event time passes the watermark, which is the only form
    that survives an unbounded stream). Duplicate keys are synthesized
    (event_id DIV 3 — three events per key); the projected payload is a
    pure function of the key so ANY survivor yields identical output
    rows and the batch oracle is a plain DISTINCT."""
    from ..streaming.runner import read_events_stream, run_available_now

    s = read_events_stream(spark, sf_dir)
    keyed = (
        s.select(
            "ts",
            F.expr("event_id DIV 3").alias("k"),
            ((F.expr("event_id DIV 3") * F.lit(2654435761)) % 97).alias("v"),
        )
        .withWatermark("ts", "10 minutes")
    )
    dd = keyed.dropDuplicatesWithinWatermark(["k"])
    out = run_available_now(dd, output_mode="append")
    return out.select("k", "v").orderBy("k")


_Q353_ORACLE = """
    SELECT DISTINCT event_id // 3 AS k,
           (event_id // 3 * 2654435761) % 97 AS v
    FROM events ORDER BY k
"""

_Q353_NOTES = (
    "STREAMING DEDUP WITHIN WATERMARK (dropDuplicatesWithinWatermark "
    "over the deterministic file-replay harness — the bounded-state "
    "form of streaming dedup: state for a key is EVICTED once event "
    "time passes the watermark, the only dedup that survives an "
    "unbounded stream; completes the streaming-state family next to "
    "q38/q63/q107 and the custom ingest-dedup): duplicate keys "
    "synthesized 3-per-key, payload a pure function of the key so any "
    "survivor is identical and the batch oracle is plain DISTINCT — "
    "the streaming/batch parity discipline of SURVEY 5.2"
)

register("q353_stream_dedup_watermark", _Q353_ORACLE, _Q353_NOTES)(
    q353_stream_dedup_watermark
)


# --- q354: product-quantization encode -------------------------------------------


def q354_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook train + encode over the embeddings table
    (llm/similarity.pq_train/pq_encode — the memory half of
    billion-vector ANN serving: 64 floats -> 4 one-byte codes). Rows-only
    by design (spark.ml KMeans centroids are float-sum order dependent,
    the q65 IVF precedent); pytest pins reconstruction-error dominance
    over the global-mean quantizer, code-range bounds, and encode
    determinism given codebooks."""
    from ..llm.similarity import pq_encode, pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=4, k=16, seed=42)
    return (
        pq_encode(emb, books)
        .select("vec_id", "code", F.round("recon_err", 4).alias("recon_err"))
        .orderBy("vec_id")
    )


_Q354_NOTES = (
    "PRODUCT QUANTIZATION train+encode (llm/similarity.pq_train / "
    "pq_encode — Jegou-Douze-Schmid 2011, the memory side of ANN "
    "serving next to q65 IVF routing and the int8/Hamming servers: "
    "d-dim vectors become m subspace codes, 256 bytes -> 4, distances "
    "reconstruct per subspace): per-subspace KMeans fits on the "
    "bounded deterministic sample (the ivf fit discipline — multi-pass "
    "fits scale with the sample), encode is vectorized-numpy argmin in "
    "map-only Arrow batches with codebooks in the closure. Rows-only: "
    "KMeans centroids are float-sum order dependent (q65 precedent); "
    "pytest pins reconstruction dominance + determinism given books"
)

register("q354_pq_encode", None, _Q354_NOTES)(q354_pq_encode)


# --- q355: keyed pseudonymization -------------------------------------------------


def q355_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-side pseudonymization (operators/privacy.pseudonymize):
    user_id becomes a keyed token, and the per-user analytics the
    release exists for (event counts, distinct types, revenue) still
    compute — grouped on the token, never the identifier."""
    from ..operators.aggregate import stable_sum
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


# --- q356: PMI collocations ----------------------------------------------------


def q356_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-2 skip-gram PMI over documents
    (llm/collocations.pmi_collocations — the windowed, unordered
    generalization of q240's adjacent-bigram PMI): token pairs
    co-occurring within 2 positions >= 5 times, scored by pointwise
    mutual information over the pair universe."""
    from ..llm.collocations import pmi_collocations

    docs = read_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, window=2, min_count=5).orderBy(
        "tok_a", "tok_b"
    )


_Q356_ORACLE = """
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    ok AS (SELECT t FROM toks WHERE len(t) >= 2),
    pairs AS (
      SELECT LEAST(t[g1.i], t[g2.j]) AS tok_a,
             GREATEST(t[g1.i], t[g2.j]) AS tok_b
      FROM ok,
           UNNEST(generate_series(1, len(t) - 1)) AS g1(i),
           UNNEST(generate_series(g1.i + 1,
                                  LEAST(g1.i + 2, len(t)))) AS g2(j)
    ),
    pc AS (
      SELECT tok_a, tok_b, COUNT(*) AS n_pair
      FROM pairs GROUP BY 1, 2
    ),
    slots AS (
      SELECT tok_a AS tok FROM pairs
      UNION ALL
      SELECT tok_b FROM pairs
    ),
    marg AS (SELECT tok, COUNT(*) AS n_tok FROM slots GROUP BY 1),
    total AS (SELECT COUNT(*) AS n2 FROM pairs)
    SELECT pc.tok_a, pc.tok_b, pc.n_pair,
           ma.n_tok AS n_a, mb.n_tok AS n_b,
           round(ln(CAST(pc.n_pair AS DOUBLE) * total.n2
                    / (CAST(ma.n_tok AS DOUBLE) * mb.n_tok)), 6) AS pmi
    FROM pc
    JOIN marg ma ON ma.tok = pc.tok_a
    JOIN marg mb ON mb.tok = pc.tok_b, total
    WHERE pc.n_pair >= 5
    ORDER BY tok_a, tok_b
"""

_Q356_NOTES = (
    "WINDOWED (SKIP-GRAM) PMI (llm/collocations.pmi_collocations — the "
    "window-w generalization of q240's ADJACENT-bigram PMI: q240 sees "
    "only immediate neighbors; a +-w window catches the non-adjacent "
    "associations word2vec-style co-occurrence is built on, with "
    "unordered least/greatest accumulation where q240 keeps bigram "
    "order): WINDOW-based co-occurrence "
    "is the load-bearing scale choice — same-document pair counting is "
    "len^2 per doc (the banned accidental-quadratic class), a +-w "
    "window emits <= w pairs per position, LINEAR in corpus size, and "
    "generation is pure map-side codegen (flatten/transform over the "
    "token array — no self-join). Unordered pairs via least/greatest; "
    "marginals count pair slots so all probabilities share one sample "
    "space; exact integer counts, one 6dp-rounded log. Oracle replays "
    "windows, pairs, marginals, and the log via lateral generate_series"
)

register("q356_pmi_collocations", _Q356_ORACLE, _Q356_NOTES)(q356_pmi_collocations)


# --- q357: dedup pipeline quality audit ------------------------------------------


def q357_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the LSH dedup pipeline AGAINST its own exact baseline
    (operators/mlmetrics.pair_quality): predicted = minhash-banded +
    Jaccard-verified pairs (q40), truth = exact inverted-index Jaccard
    pairs (q42). Verified candidates make precision structurally 1.0;
    recall is the banding miss rate — the number a dedup owner actually
    tunes bands/rows against."""
    from ..llm.dedup import minhash_near_dup_pairs, ngram_jaccard_pairs
    from ..operators.mlmetrics import pair_quality

    docs = read_table(spark, sf_dir, "documents")
    pred = minhash_near_dup_pairs(docs, threshold=0.5)
    truth = ngram_jaccard_pairs(docs, threshold=0.5)
    return pair_quality(pred, truth)


def _q357_oracle() -> str:
    from .llm import _JACCARD_SQL, _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    tr_cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    truth AS (
      SELECT c.doc_a, c.doc_b
      FROM tr_cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= 0.5
    ),
    pred AS (SELECT doc_a, doc_b FROM mh_pairs),
    counts AS (
      SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
             (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM pred JOIN truth USING (doc_a, doc_b))
               AS tp
    )
    SELECT n_pred, n_true, tp,
           CAST(tp AS DOUBLE) / n_pred AS precision,
           CAST(tp AS DOUBLE) / n_true AS recall,
           CAST(2 * tp AS DOUBLE) / (n_pred + n_true) AS f1
    FROM counts
    """


_Q357_NOTES = (
    "DEDUP PIPELINE QUALITY AUDIT (operators/mlmetrics.pair_quality — "
    "the evaluation harness for the dedup/linkage family itself: "
    "predicted LSH pairs q40 vs the exact inverted-index baseline q42; "
    "verified candidates make precision structurally 1.0 and recall IS "
    "the banding miss rate, the number bands/rows get tuned against): "
    "pairs canonicalized least/greatest+distinct both sides, one "
    "pair-keyed equi-join + metadata-sized counts; P/R/F1 are single "
    "IEEE divisions of exact integers (set-F1 identity 2tp/(np+nt)). "
    "Truth side rides the require_small-guarded exact baseline — the "
    "audit is a fixture-scale diagnostic by design, like every exact "
    "baseline in the q43/q44 class"
)

register("q357_dedup_quality", _q357_oracle(), _Q357_NOTES)(q357_dedup_quality)


# --- q358: blocklist content filter ----------------------------------------------


def q358_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate over documents (functions/text.blocklist_hits):
    whole-token terms + one substring phrase, per-doc hit count/list/
    flag — the content-policy pre-filter that runs before quality
    scoring in every corpus pipeline."""
    from ..functions.text import blocklist_hits

    docs = read_table(spark, sf_dir, "documents")
    n, hits, flagged = blocklist_hits(
        "text", terms=["dup", "slow", "leak"], phrases=["batch batch"]
    )
    return docs.select(
        "doc_id",
        n.alias("n_hits"),
        hits.alias("hit_terms"),
        flagged.alias("flagged"),
    ).orderBy("doc_id")


_Q358_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_sort(list_intersect(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> ''),
               ['dup', 'slow', 'leak'])) AS word_hits,
             CASE WHEN contains(lower(text), 'batch batch')
                  THEN ['batch batch'] ELSE [] END AS phrase_hits
      FROM documents
    )
    SELECT doc_id,
           CAST(len(word_hits) + len(phrase_hits) AS BIGINT) AS n_hits,
           COALESCE(array_to_string(
               list_sort(list_concat(word_hits, phrase_hits)), ','), '')
             AS hit_terms,
           len(word_hits) + len(phrase_hits) > 0 AS flagged
    FROM t ORDER BY doc_id
"""

_Q358_NOTES = (
    "BLOCKLIST CONTENT FILTER (functions/text.blocklist_hits — the "
    "policy/spam/boilerplate gate that runs before quality scoring in "
    "every corpus pipeline, next to redact_pii q98 and the quality "
    "scores q45/q90): single-word terms match WHOLE TOKENS via "
    "array_intersect against plan literals (no regex — immune to the "
    "Java-vs-RE2 divergence class and substring false positives), "
    "multi-word phrases via a bounded codegen'd contains chain; "
    "hit_terms is the sorted comma-join (scalar contract). Map-only, "
    "zero shuffles; blocklists beyond a few thousand entries join on "
    "the token instead (documented)"
)

register("q358_blocklist_filter", _Q358_ORACLE, _Q358_NOTES)(q358_blocklist_filter)


# --- q359: high-diameter components via star contraction --------------------------


def q359_components_contracting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction components on a deliberately HIGH-DIAMETER link
    graph (llm/cluster.connected_components_contracting — Kiveris
    two-phase large-star/small-star): the user-id chain u—(u+1) with a
    break before every multiple of 37 has diameter ~= segment length,
    the shape where plain min-label propagation needs diameter-many
    rounds and the contraction loop needs O(log n)."""
    from pyspark.sql import Window

    from ..llm.cluster import connected_components_contracting

    ids = (
        read_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    w = Window.orderBy("u")
    edges = (
        ids.withColumn("_next", F.lead("u").over(w))
        .filter(
            F.col("_next").isNotNull()
            & (F.col("_next") == F.col("u") + 1)
            & (F.col("_next") % 37 != 0)
        )
        .select(F.col("u").alias("doc_a"), F.col("_next").alias("doc_b"))
    )
    comp = connected_components_contracting(edges, max_iter=12)
    return (
        ids.join(comp, ids["u"] == comp["id"], "left")
        .select(
            F.col("u").alias("user_id"),
            F.coalesce("cluster_id", F.col("u")).alias("component"),
        )
        .orderBy("user_id")
    )


_Q359_ORACLE = """
    WITH ids AS (SELECT DISTINCT user_id AS u FROM events),
    marked AS (
      SELECT u,
             CASE WHEN u % 37 = 0
                    OR lag(u) OVER (ORDER BY u) IS NULL
                    OR lag(u) OVER (ORDER BY u) <> u - 1
                  THEN u END AS seg_start
      FROM ids
    )
    SELECT u AS user_id,
           MAX(seg_start) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS component
    FROM marked ORDER BY u
"""

_Q359_NOTES = (
    "HIGH-DIAMETER CONNECTED COMPONENTS via alternating star "
    "contraction (llm/cluster.connected_components_contracting — "
    "Kiveris et al. SoCC 2014 large-star/small-star; closes the gap "
    "the plain min-label loop documents: propagation needs "
    "diameter-many rounds, contraction halves diameter per pass, "
    "O(log n) on any shape): each phase is one min-agg + one edge "
    "equi-join, edge set only shrinks toward the star forest of "
    "component minima; exact multiset fixpoint probe. Anchor graph is "
    "a user-id chain with breaks (diameter ~= segment length — plain "
    "CC at the same round budget RuntimeErrors, pytest-pinned); the "
    "oracle derives components as running-max segment starts. The "
    "window in the anchor's edge SYNTHESIS is fixture-sized; the "
    "operator itself never sorts globally"
)

register("q359_components_contracting", _Q359_ORACLE, _Q359_NOTES)(
    q359_components_contracting
)


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


# --- q361: fighting-words log-odds term comparison ---------------------------------


def q361_fighting_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which terms separate English documents from the rest of the
    corpus (llm/collocations.fighting_words — Monroe et al. informative-
    Dirichlet log-odds z-scores; q276's KL says the corpora differ,
    this says WHICH words carry it)."""
    from ..llm.collocations import fighting_words

    docs = read_table(spark, sf_dir, "documents")
    return fighting_words(
        docs, "lang", "en", alpha0=500.0, min_total=10
    ).orderBy("tok")


_Q361_ORACLE = """
    WITH tok AS (
      SELECT lang = 'en' AS a, t.tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS t(tok)
    ),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN a THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN a THEN 0 ELSE 1 END) AS n_b
      FROM tok GROUP BY 1
    ),
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts),
    calc AS (
      SELECT c.tok, c.n_a, c.n_b,
             500.0 * (CAST(c.n_a + c.n_b AS DOUBLE)
                      / CAST(t.ta + t.tb AS DOUBLE)) AS aw,
             CAST(t.ta AS DOUBLE) AS ta, CAST(t.tb AS DOUBLE) AS tb
      FROM counts c, tot t
      WHERE c.n_a + c.n_b >= 10
    )
    SELECT tok, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(ln((n_a + aw) / (ta + 500.0 - (n_a + aw)))
                 - ln((n_b + aw) / (tb + 500.0 - (n_b + aw))), 6) AS delta,
           round((ln((n_a + aw) / (ta + 500.0 - (n_a + aw)))
                  - ln((n_b + aw) / (tb + 500.0 - (n_b + aw))))
                 / sqrt(1.0 / (n_a + aw) + 1.0 / (n_b + aw)), 6) AS z
    FROM calc ORDER BY tok
"""

_Q361_NOTES = (
    "FIGHTING-WORDS TERM COMPARISON (llm/collocations.fighting_words — "
    "Monroe-Colaresi-Quinn 2008 log-odds with an informative Dirichlet "
    "prior from the pooled corpus: q276's corpus KL says the "
    "distributions differ, THIS ranks the terms that carry the "
    "difference, with z-scores that shrink rare-term noise instead of "
    "exploding on it like raw log-odds/PMI): one tokenize scan -> ONE "
    "token hash agg with conditional side sums -> 1-row totals "
    "broadcast -> map-side arithmetic; no joins beyond the scalar "
    "recombination, no windows. Exact integer counts; two ln and a "
    "sqrt on engine-identical operands, 6dp outputs"
)

register("q361_fighting_words", _Q361_ORACLE, _Q361_NOTES)(q361_fighting_words)


# --- q362: ranking-stability RBO of int8 quantization -------------------------------


def q362_rbo_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does int8 quantization perturb retrieval rankings?
    (llm/retrieval.rbo_overlap over the exact cosine top-10 vs the
    dequantized-int8 cosine top-10, probe queries = vec_id % 100 == 0 —
    the q43 bounded probe-subset contract.) The serving A/B question
    NDCG can't answer without labels."""
    from ..llm.retrieval import rbo_overlap
    from ..llm.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(queries, emb, k=10)
    deq = dequantize_embeddings(quantize_embeddings(emb))
    quant = cosine_topk(
        deq.filter(F.col("vec_id") % 100 == 0), deq, k=10
    )
    return rbo_overlap(exact, quant, k=10, p=0.9).orderBy("query_id")


def _q362_oracle() -> str:
    k, p = 10, 0.9
    consts = ", ".join(
        f"({m}, CAST({round(sum(p ** (d - 1) / d for d in range(m, k + 1)), 9)} AS DECIMAL(20,9)))"
        for m in range(1, k + 1)
    )
    rank_cte = """
      SELECT a.vec_id AS query_id, c.vec_id AS cand_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.v, c.v), 6) DESC,
                        c.vec_id) AS rnk
      FROM {src} a JOIN {src} c ON c.vec_id <> a.vec_id
      WHERE a.vec_id % 100 = 0
    """
    return f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    am AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS m
      FROM q
    ),
    dq AS (
      SELECT vec_id,
             CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
                  ELSE list_transform(v,
                         x -> floor(x * 127.0 / m + 0.5) * (m / 127.0))
             END AS v
      FROM am
    ),
    re AS ({rank_cte.format(src="q")}),
    rq AS ({rank_cte.format(src="dq")}),
    consts(m, c) AS (VALUES {consts}),
    joined AS (
      SELECT e.query_id, GREATEST(e.rnk, u.rnk) AS mx
      FROM (SELECT * FROM re WHERE rnk <= 10) e
      JOIN (SELECT * FROM rq WHERE rnk <= 10) u
        ON u.query_id = e.query_id AND u.cand_id = e.cand_id
    )
    SELECT j.query_id,
           COUNT(*) AS overlap_k,
           round({1.0 - p!r} * CAST(SUM(k.c) AS DOUBLE), 6) AS rbo
    FROM joined j JOIN consts k ON k.m = j.mx
    GROUP BY 1 ORDER BY 1
    """


_Q362_NOTES = (
    "RANK-BIASED OVERLAP of int8-quantized vs exact retrieval "
    "(llm/retrieval.rbo_overlap — Webber-Moffat-Zobel 2010, the "
    "ranking-similarity member of the eval family: NDCG/MRR judge one "
    "ranking against labels, RBO compares two rankings against each "
    "other — the quantization/index/rerank A-B question): the "
    "per-depth intersection telescopes into ONE constant per item, "
    "C[max(r_a,r_b)] = sum_{d>=m} p^(d-1)/d, precomputed in Python "
    "and embedded as identical 9dp decimal literals in BOTH engines "
    "(including the 1-p factor as its exact double repr — 1-0.9 is "
    "not 0.1 in binary); one (query,item) equi-join + one decimal "
    "agg, no per-depth expansion. Probe queries bounded by the q43 "
    "contract; the quantized side replays the exact floor(x*127/"
    "absmax+0.5) int8 rule"
)

register("q362_rbo_quantization", _q362_oracle(), _Q362_NOTES)(q362_rbo_quantization)

"""Cross-id identity stitching over event streams.

The identity-resolution twin of record linkage (``llm/entity.py`` links
noisy RECORDS across tables; this links IDS across time): the same human
shows up under multiple user_ids — anonymous cookie before login, device
reset, app reinstall — and sessionization/attribution/LTV all silently
fragment unless the ids are stitched. The industry-standard signal is a
DEVICE HANDOFF: two different ids appearing consecutively on the same
device within a short gap are the same identity with high probability
(the login transition). Links close transitively (cookie→login→second
device) via the same min-label component machinery as dedup clustering.

Scale: one (device)-keyed window sort to find handoffs (the event table
never self-joins), a link table that is tiny next to the events, the
component loop over links only, and one broadcastable map join back.
Deterministic: handoff order ties break on the event id; the canonical
identity is the component min id.

Reference trace: none — identity stitching is north-star pipeline
surface (SURVEY.md §2.19 family; reference stops at scan/project).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .graph import _relabel, canonical_edges


def handoff_links(
    events: DataFrame,
    id_col: str,
    device_col: str,
    ts_col: str,
    order_col: str,
    max_gap_s: int = 600,
) -> DataFrame:
    """Distinct undirected id-link pairs (id_a < id_b): consecutive
    events on the same device, different ids, gap ≤ ``max_gap_s``.

    The gap compares EXACT INTEGER MICROSECONDS (unix_micros — the
    repo-wide time-arithmetic rule): a second-truncating comparison
    would link a 600.9 s gap that a fractional-second engine rejects,
    a cross-engine divergence a round-boundary fixture would expose.
    NULL devices are excluded BEFORE the window: an unknown device is
    no evidence of identity, and without the guard every
    missing-device event across all users would share one window
    partition and mint spurious cross-user links.
    """
    w = Window.partitionBy("_dev").orderBy(
        F.col("_ts").asc(), F.col("_ord").asc()
    )
    seq = (
        events.filter(F.col(device_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.col(device_col).alias("_dev"),
            F.col(ts_col).alias("_ts"),
            F.col(order_col).alias("_ord"),
        )
        .select(
            "_id",
            "_ts",
            F.lag("_id").over(w).alias("_prev_id"),
            F.lag("_ts").over(w).alias("_prev_ts"),
        )
    )
    linked = seq.filter(
        F.col("_prev_id").isNotNull()
        & (
            F.unix_micros("_ts") - F.unix_micros("_prev_ts")
            <= F.lit(int(max_gap_s) * 1_000_000)
        )
    )
    # canonical_edges drops the same-id handoffs
    return canonical_edges(linked, "_id", "_prev_id").select(
        F.col("a").alias("id_a"), F.col("b").alias("id_b")
    )


def stitch_identities(
    events: DataFrame,
    id_col: str,
    device_col: str,
    ts_col: str,
    order_col: str,
    max_gap_s: int = 600,
    max_iter: int = 25,
) -> DataFrame:
    """Complete (id, identity_id) mapping for every id in ``events``:
    identity_id = min id transitively reachable through device-handoff
    links; ids with no handoff map to themselves. The mapping is the
    table every downstream session/attribution job broadcasts."""
    from ..llm.cluster import connected_components

    links = handoff_links(
        events, id_col, device_col, ts_col, order_col, max_gap_s
    )
    comp = connected_components(
        links, a_col="id_a", b_col="id_b", max_iter=max_iter
    )
    ids = events.select(F.col(id_col).alias("id")).distinct()
    return _relabel(ids, comp, "id").select(
        "id", F.col("cluster_id").alias("identity_id")
    )

"""Parquet footers: the engine's one footer reader, and manifest-style
data skipping on raw parquet directories built from it.

``footer_manifest(path)`` is the one footer reader: the footers of every
file of a dataset (a file or a directory), cached on file list + mtimes.
Row counts, the timestamp-unit sniff and prefix-scan boundaries
(``sources.readers``) derive from it, so all read multi-file datasets.

Table formats (Iceberg, Delta, Hudi) all converge on the same 100 TB
primitive: a small MANIFEST of per-file column min/max stats, consulted
before the scan so a selective predicate touches only the files whose
range intersects it. Engines on raw parquet directories get row-group
skipping inside each file from the reader, but still pay the file-open
+ footer-read + task-schedule cost for every file in the directory.
This module builds that manifest from the parquet footers themselves —
metadata-only reads, no data pages — and turns a predicate into a
pruned file list.

Scale design: the footer harvest is DISTRIBUTED — the file listing
(metadata-sized) parallelizes across executors and each task reads only
its files' footers (``_read_footer``, as the manifest does), so
indexing a million-file dataset is a map-only job whose output is
O(files × indexed columns) rows: tiny, and a DataFrame to persist next to the data. Pruning intersects the
predicate's [lo, hi] with each file's [min, max] — files with NULL
stats (no footer stats for the column, or stats with no numeric image
such as strings) are conservatively KEPT, so pruning can only skip
files that provably contain no match (never drops rows).
"""

from __future__ import annotations

import datetime as _dt
import os
from decimal import Decimal as _Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_row_groups", T.IntegerType()),
        T.StructField("min_val", T.DoubleType()),
        T.StructField("max_val", T.DoubleType()),
        T.StructField("null_count", T.LongType()),
    ]
)


def list_parquet_files(path: str) -> list[str]:
    """``[path]`` for a single file, else a sorted recursive listing of
    data files (metadata-sized; a real lake would read this from the
    table format's manifest)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet") and not f.startswith("_"):
                out.append(os.path.join(root, f))
    return sorted(out)


def _data_files(path: str) -> list[str]:
    files = list_parquet_files(path)
    if not files:
        raise ValueError(f"no parquet files under {path!r}")
    return files


def _read_footer(file: str):
    """The engine's only footer open, on the driver (``footer_manifest``)
    and in harvest tasks alike."""
    import pyarrow.parquet as pq

    return pq.read_metadata(file)


# path -> (((file, mtime), ...), (FileMetaData, ...)): a dataset rewritten
# in place is never served a stale footer
_FOOTER_CACHE: dict[str, tuple[tuple, tuple]] = {}


def footer_manifest(path: str) -> tuple:
    """The ``FileMetaData`` of every data file of the dataset at ``path``,
    in listing order. Raises ``ValueError`` when there are no parquet
    files or a footer is corrupt, ``OSError`` when a file cannot be
    read; failed reads are not cached."""
    files = _data_files(path)
    stamp = tuple((f, os.path.getmtime(f)) for f in files)
    hit = _FOOTER_CACHE.get(path)
    if hit is None or hit[0] != stamp:
        hit = (stamp, tuple(_read_footer(f) for f in files))
        _FOOTER_CACHE[path] = hit
    return hit[1]


def _num(v) -> float | None:
    """Numeric image of a footer statistic: days for DATE, microseconds
    for timestamps, float for numbers, None otherwise (strings, bools)."""
    if isinstance(v, bool):
        return None
    if isinstance(v, _dt.datetime):
        return (v.replace(tzinfo=None) - _dt.datetime(1970, 1, 1)).total_seconds() * 1e6
    if isinstance(v, _dt.date):
        return float((v - _dt.date(1970, 1, 1)).days)
    if isinstance(v, (int, float, _Decimal)):
        return float(v)
    return None


def _column_chunks(md) -> dict[str, list]:
    """A footer's column-chunk metadata grouped by column path, in
    row-group order — the per-file walk every harvest shares."""
    chunks: dict[str, list] = {}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for ci in range(rg.num_columns):
            c = rg.column(ci)
            chunks.setdefault(c.path_in_schema, []).append(c)
    return chunks


def _numeric_ranges(chunks: list) -> list[tuple[float, float, int]] | None:
    """``(min, max, values)`` per column chunk in ``_num`` images; None
    when any chunk lacks min/max statistics or a numeric image."""
    out = []
    for c in chunks:
        st = c.statistics
        ok = st is not None and st.has_min_max
        lo, hi = (_num(st.min), _num(st.max)) if ok else (None, None)
        if lo is None or hi is None:
            return None
        out.append((lo, hi, c.num_values))
    return out


def _footer_job(
    spark: SparkSession, files: list[str], schema: T.StructType, rows_of
) -> DataFrame:
    """Map-only distributed harvest over a file list: each task reads
    its files' footers and emits ``rows_of(file, footer)`` rows of
    ``schema`` — never a data page."""
    import pandas as pd

    names = schema.fieldNames()

    def harvest(batches):
        for pdf in batches:
            rows = [r for f in pdf["file"] for r in rows_of(f, _read_footer(f))]
            yield pd.DataFrame(rows, columns=names)

    file_df = spark.createDataFrame(
        [(f,) for f in files],
        T.StructType([T.StructField("file", T.StringType())]),
    ).repartition(min(len(files), 32))
    return file_df.mapInPandas(harvest, schema)


def build_file_stats_index(
    spark: SparkSession, path: str, columns: list[str]
) -> DataFrame:
    """Harvest per-file min/max/null-count stats for ``columns`` from
    parquet footers. One row per (file, column); numeric stats are
    widened to double (the index answers range questions, not equality
    on exact decimals).

    The harvest is a map-only distributed job over the FILE LIST —
    footers only, never data pages.
    """
    return _harvest_stats(spark, _data_files(path), list(columns))


def prune_files(
    index: DataFrame, column: str, lo: float, hi: float
) -> list[str]:
    """Files whose [min, max] for ``column`` intersects [lo, hi] —
    plus files with unknown stats (conservative: skipping is only legal
    when provably empty). Returns a driver-side file list
    (metadata-sized — this IS the planner input)."""
    rows = (
        index.filter(F.col("column") == column)
        .filter(
            F.col("min_val").isNull()
            | ((F.col("min_val") <= F.lit(hi)) & (F.col("max_val") >= F.lit(lo)))
        )
        .select("file")
        .collect()
    )
    return sorted(r["file"] for r in rows)


def read_pruned(
    spark: SparkSession,
    index: DataFrame,
    column: str,
    lo: float,
    hi: float,
) -> DataFrame:
    """Scan ONLY the files the index can't rule out for
    ``column BETWEEN lo AND hi``, with the residual predicate applied
    (pruning is a superset guarantee, not an exact answer). The result
    equals the full-directory filtered scan by construction."""
    files = prune_files(index, column, lo, hi)
    if not files:
        raise ValueError("predicate prunes every file; nothing to scan")
    return spark.read.parquet(*files).filter(
        (F.col(column) >= F.lit(lo)) & (F.col(column) <= F.lit(hi))
    )


STORAGE_SCHEMA = T.StructType(
    [
        T.StructField("file", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("compressed_bytes", T.LongType()),
        T.StructField("uncompressed_bytes", T.LongType()),
        T.StructField("n_values", T.LongType()),
    ]
)


def build_storage_profile(spark: SparkSession, path: str) -> DataFrame:
    """Per-(file, column) storage accounting from parquet footers:
    compressed/uncompressed byte totals and value counts for EVERY
    column chunk — the "which column dominates my 100 TB" lake-ops
    question, answered without reading a single data page.

    Same distributed footer-harvest shape as ``build_file_stats_index``;
    cross-validated against DuckDB's independent ``parquet_metadata()``
    reader in tests (two engines, one footer — byte-exact agreement)."""
    def rows_of(file, md):
        for col, cs in sorted(_column_chunks(md).items()):
            yield (
                file,
                col,
                sum(int(c.total_compressed_size) for c in cs),
                sum(int(c.total_uncompressed_size) for c in cs),
                sum(int(c.num_values) for c in cs),
            )

    return _footer_job(spark, _data_files(path), STORAGE_SCHEMA, rows_of)


def update_file_stats_index(
    spark: SparkSession,
    path: str,
    existing: DataFrame,
    columns: list[str],
) -> DataFrame:
    """Incremental index maintenance: harvest footers ONLY for files not
    yet in ``existing`` and union them in — the manifest-append pattern
    (a daily ingest adds files; re-harvesting a million unchanged
    footers to index ten new ones is the anti-pattern). Work ∝ new
    files; deleted files' rows are dropped so the index never directs
    the planner at missing data.

    ``existing`` must be MATERIALIZED (a read-back manifest table or a
    checkpointed frame, as in production): a lazy index would re-run
    its harvest — including over since-deleted files — every time the
    updated index is used."""
    current = set(list_parquet_files(path))
    known = {
        r["file"] for r in existing.select("file").distinct().collect()
    }
    new_files = sorted(current - known)
    kept = existing.filter(F.col("file").isin(list(current)))
    if not new_files:
        return kept
    return kept.unionByName(_harvest_stats(spark, new_files, columns))


def _harvest_stats(
    spark: SparkSession, files: list[str], columns: list[str]
) -> DataFrame:
    """Footer harvest over an explicit file list (shared by full build
    and incremental update). min/max are ``_numeric_ranges`` images,
    NULL where those are unknown (``prune_files`` keeps such files)."""
    cols = list(columns)

    def rows_of(file, md):
        chunks = _column_chunks(md)
        for col in cols:
            if col not in chunks:
                continue
            stats = [c.statistics for c in chunks[col]]
            have = all(s is not None and s.has_min_max for s in stats)
            ranges = _numeric_ranges(chunks[col])
            yield (
                file,
                col,
                int(md.num_rows),
                int(md.num_row_groups),
                min(lo for lo, _, _ in ranges) if ranges else None,
                max(hi for _, hi, _ in ranges) if ranges else None,
                sum(int(s.null_count or 0) for s in stats) if have else None,
            )

    return _footer_job(spark, files, FILE_STATS_SCHEMA, rows_of)


def schema_diff(spark: SparkSession, path_a: str, path_b: str) -> DataFrame:
    """Schema drift between two parquet datasets (yesterday's snapshot
    vs today's ingest): one row per differing column —
    (column, status ∈ {added, removed, type_changed}, type_a, type_b).
    Footer-only; the upstream-broke-the-contract alarm that should fire
    BEFORE a 100 TB job discovers it mid-shuffle."""
    sa = {f.name: f.dataType.simpleString() for f in spark.read.parquet(path_a).schema}
    sb = {f.name: f.dataType.simpleString() for f in spark.read.parquet(path_b).schema}
    rows = []
    for c in sorted(set(sa) | set(sb)):
        ta, tb = sa.get(c), sb.get(c)
        if ta is None:
            rows.append((c, "added", None, tb))
        elif tb is None:
            rows.append((c, "removed", ta, None))
        elif ta != tb:
            rows.append((c, "type_changed", ta, tb))
    schema = T.StructType(
        [
            T.StructField("column", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("type_a", T.StringType()),
            T.StructField("type_b", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)

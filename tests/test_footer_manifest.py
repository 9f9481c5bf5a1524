"""The parquet footer manifest (``sources.fileindex.footer_manifest``):
the engine's one footer reader, and the multi-file datasets it opens up
to footer-driven planning (q280's boundaries, the scan split, the
``events`` timestamp sniff, the file-stats index)."""

from __future__ import annotations

import inspect
import os
import re
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import dbkit_spark
from dbkit_spark.catalog import load_all
from dbkit_spark.sources import fileindex, read_table
from dbkit_spark.sources.fileindex import build_file_stats_index, prune_files
from dbkit_spark.sources.readers import (
    _scan_metadata,
    footer_lead_boundaries,
    parquet_ts_unit,
)
from dbkit_spark.streaming.runner import read_events_stream, run_available_now


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.fixture(scope="module")
def multi_sf(sf_dir, tmp_path_factory):
    """``orders`` (sorted by date, so files cover disjoint date ranges)
    and ``events`` of ``sf_dir``, each rewritten as a 4-file directory
    ``<name>.parquet``."""
    root = tmp_path_factory.mktemp("multi_sf")
    for name, key in (("orders", "o_orderdate"), ("events", "event_id")):
        table = pq.read_table(os.path.join(sf_dir, f"{name}.parquet")).sort_by(key)
        out = root / f"{name}.parquet"
        out.mkdir()
        step = -(-table.num_rows // 4)
        for i in range(4):
            pq.write_table(table.slice(i * step, step), str(out / f"part-{i}.parquet"))
    return str(root)


def test_multi_file_dataset_reads_like_the_single_file(spark, sf_dir, multi_sf):
    b = footer_lead_boundaries(os.path.join(multi_sf, "orders.parquet"), "o_orderdate", 4)
    assert b is not None and len(b) == 3
    assert all(x <= y for x, y in zip(b, b[1:]))
    q280 = load_all()["q280_running_revenue"].fn
    assert _rows(q280(spark, multi_sf)) == _rows(q280(spark, sf_dir))
    assert _rows(read_table(spark, multi_sf, "orders", split=True)) == _rows(
        read_table(spark, sf_dir, "orders")
    )
    assert _rows(read_table(spark, multi_sf, "events")) == _rows(
        read_table(spark, sf_dir, "events")
    )


def test_events_stream_reads_a_multi_file_dataset(spark, sf_dir, multi_sf):
    """The streaming events source reads every file of an
    ``events.parquet`` directory, like the batch reader."""
    expected = _rows(read_table(spark, sf_dir, "events"))
    batch = _rows(read_table(spark, multi_sf, "events"))
    stream = _rows(run_available_now(read_events_stream(spark, multi_sf), "append"))
    assert (len(batch), len(stream)) == (len(expected), len(expected))
    assert stream == expected


def test_file_stats_index_non_numeric_columns(spark, multi_sf):
    """Timestamp stats index as microseconds; string stats have no
    numeric image, so they index as NULL and pruning keeps every file."""
    path = os.path.join(multi_sf, "orders.parquet")
    index = build_file_stats_index(spark, path, ["o_orderdate", "o_orderstatus"])
    rows = index.collect()
    assert len(rows) == 8
    for r in rows:
        if r["column"] == "o_orderstatus":
            assert r["min_val"] is None and r["max_val"] is None
            continue
        micros = [
            v
            for v in pq.read_table(r["file"], columns=["o_orderdate"])
            .column(0)
            .cast(pa.int64())
            .to_pylist()
            if v is not None
        ]
        assert (r["min_val"], r["max_val"]) == (float(min(micros)), float(max(micros)))
    assert len(prune_files(index, "o_orderstatus", 0.0, 1.0)) == 4
    first = min(r["min_val"] for r in rows if r["column"] == "o_orderdate")
    assert 0 < len(prune_files(index, "o_orderdate", first, first)) < 4


def test_footer_read_errors_raise_and_are_not_cached(sf_dir, tmp_path):
    """Where ``footer_lead_boundaries`` returns None, the other footer
    derivations raise, and a failed read leaves no cache entry behind."""
    good = os.path.join(sf_dir, "orders.parquet")
    truncated = tmp_path / "truncated.parquet"
    with open(good, "rb") as f:
        truncated.write_bytes(f.read(100))
    empty = tmp_path / "empty"
    empty.mkdir()
    for bad in (str(tmp_path / "missing.parquet"), str(truncated), str(empty)):
        with pytest.raises((OSError, ValueError)):
            _scan_metadata(bad)
        with pytest.raises((OSError, ValueError)):
            parquet_ts_unit(bad)
        assert bad not in fileindex._FOOTER_CACHE
    with pytest.raises(KeyError):
        parquet_ts_unit(good, "no_such_column")
    with open(good, "rb") as f:
        truncated.write_bytes(f.read())
    assert _scan_metadata(str(truncated)) == _scan_metadata(good)


def test_parquet_ts_unit_over_files_that_disagree(tmp_path):
    d = tmp_path / "events.parquet"
    d.mkdir()

    def write(name, unit):
        pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp(unit))}), str(d / name))

    write("a.parquet", "ns")
    assert parquet_ts_unit(str(d)) == "ns"
    write("b.parquet", "us")
    with pytest.raises(ValueError):
        parquet_ts_unit(str(d))


def test_one_footer_reader():
    """The manifest's per-file reader is the only place the package
    opens a parquet footer."""
    pattern = re.compile(r"pq\.(ParquetFile|read_metadata|read_schema)")
    hits = [
        (p, line.strip())
        for p in Path(dbkit_spark.__file__).parent.rglob("*.py")
        for line in p.read_text().splitlines()
        if pattern.search(line)
    ]
    assert len(hits) == 1, hits
    path, line = hits[0]
    assert path.name == "fileindex.py"
    assert line in inspect.getsource(fileindex._read_footer)

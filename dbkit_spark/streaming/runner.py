"""Deterministic stream replay (SURVEY.md §5.2: streaming tests need
determinism — file sources + availableNow, never wall-clock).

``run_available_now`` drives a streaming transformation over a bounded
file source to completion and returns the materialized result: the batch
DataFrame → transformation → memory sink → table round-trip. This is the
engine's batch-replay harness for validating streaming semantics against
batch oracles. Fixture tables stream through
``sources.read_table_stream``; ``replay_stream`` turns ordered batch
chunks into a stream with one chunk per micro-batch, for the body of a
``with``.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager
from typing import Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter


def _drive(writer: DataStreamWriter, what: str, timeout_sec: int) -> None:
    """Start ``writer`` with the availableNow trigger and wait for it to
    finish; raise ``TimeoutError`` if it has not finished within
    ``timeout_sec``. The query is stopped either way."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout_sec):
            # Returning the sink here would silently truncate the result
            # to whatever batches completed before the deadline.
            raise TimeoutError(f"{what} did not finish within {timeout_sec}s")
    finally:
        if q.isActive:
            q.stop()


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow trigger) into
    a memory sink; return the result table as a DataFrame."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    writer = (
        stream_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    )
    _drive(writer, f"streaming query {name}", timeout_sec)
    return stream_df.sparkSession.table(name)


@contextmanager
def replay_stream(chunks: Sequence[DataFrame]) -> Iterator[DataFrame]:
    """Write each batch chunk as exactly one file ``part{i}.parquet`` of a
    fresh directory and yield the stream over them, one file per
    trigger, so chunk ``i`` is micro-batch ``i``. The chunks are written
    by Spark (``coalesce(1)``), so nothing data-sized reaches the driver.
    The directory is removed when the ``with`` exits, also on error, so
    the stream must be run to completion inside it."""
    with tempfile.TemporaryDirectory(prefix="dbkit_replay_") as d:
        for i, chunk in enumerate(chunks):
            stage = os.path.join(d, f"_stage{i}")
            chunk.coalesce(1).write.parquet(stage)
            (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
            shutil.move(part, os.path.join(d, f"part{i}.parquet"))
            shutil.rmtree(stage)
        yield (
            chunks[0]
            .sparkSession.readStream.schema(chunks[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

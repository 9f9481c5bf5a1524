"""Deterministic stream replay (SURVEY.md §5.2: streaming tests need
determinism — file sources + availableNow, never wall-clock).

``run_available_now`` drives a streaming transformation over a bounded
file source to completion and returns the materialized result: the batch
DataFrame → transformation → memory sink → table round-trip. This is the
engine's batch-replay harness for validating streaming semantics against
batch oracles.
"""

from __future__ import annotations

import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import TABLE_SCHEMAS


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events fixture (ts physical-encoding
    sniff + normalization exactly like sources.read_table)."""
    import os

    from ..sources.readers import parquet_ts_unit

    path = os.path.join(sf_dir, "events.parquet")
    legacy_ns = parquet_ts_unit(path) == "ns"
    if legacy_ns:
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType(), f.nullable)
                for f in TABLE_SCHEMAS["events"].fields
            ]
        )
    else:
        schema = TABLE_SCHEMAS["events"]
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
    if os.path.isdir(path):
        raw = reader.parquet(path)
    else:
        # the file stream source requires a directory: scan sf_dir but
        # admit only the events file
        raw = reader.option("pathGlobFilter", "events.parquet").parquet(sf_dir)
    if legacy_ns:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    timeout_sec: int = 120,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow trigger) into
    a memory sink; return the result table as a DataFrame."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            # Returning the memory sink here would silently truncate the
            # result to whatever batches completed before the deadline.
            raise TimeoutError(
                f"streaming query {name} did not finish within {timeout_sec}s"
            )
    finally:
        if q.isActive:
            q.stop()
    spark = stream_df.sparkSession
    return spark.table(name)

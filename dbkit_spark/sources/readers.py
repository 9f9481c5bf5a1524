"""Explicit-schema readers + the reference's two Tier-A sources.

- ``scan_view``: the Spark equivalent of the reference's ``ScanView``
  operator (``operation/scan_view.rs:12-56``) — scan an in-memory dataset,
  optionally restricted to a row range.
- ``table_appender``: the Spark equivalent of ``TableAppender``
  (``table.rs:124-191``) — fluent row-wise construction with per-cell
  type/nullability checking, error-latching like the reference builder
  (``table.rs:154-157``: first error latches, ``done()`` re-raises).
- ``read_parquet/csv/json/orc``: Tier-C file sources (``README.md:13-15``)
  with mandatory explicit schemas.

Scale: parquet is the primary format — Catalyst pushes filters and prunes
columns into the scan (verify with ``plans.explain_utils.scan_info``).
"""

from __future__ import annotations

import os
from decimal import Decimal as _Decimal
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import AttributeMissing, AttributeNullability, AttributeType, RowOutOfBounds
from ..schema import TABLE_SCHEMAS
from .fileindex import _column_chunks, _numeric_ranges, footer_manifest


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Read a directory (or several) whose files were written under
    EVOLVING schemas: the result schema is the union of every file's
    footer schema, files missing a column surface NULLs for it.

    The long-lived-table reality — columns get added over months of
    appends and a reader must span the history. ``mergeSchema`` makes
    Spark reconcile all footers instead of trusting the first file it
    happens to list (the default, which silently DROPS later columns
    when an old file wins the race). Scale note: footer reconciliation
    reads O(files) metadata, not data — fine at 100 TB where the
    alternative is rewriting history on every column add. Incompatible
    type changes for the same column name still (correctly) raise.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True, **options: Any
) -> DataFrame:
    return spark.read.schema(schema).options(header=str(header).lower(), **options).csv(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType, **options: Any) -> DataFrame:
    return spark.read.schema(schema).options(**options).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def read_text(
    spark: SparkSession, path: str, whole: bool = False, line_sep: str | None = None
) -> DataFrame:
    """Raw-corpus ingestion: one row per line (default) or per file
    (``whole=True``), column ``value: string`` — the entry point for
    text corpora that aren't columnar yet. Distributed splitting applies
    per-line only; whole-file rows are bounded by file size, so shard
    large corpora into many files upstream."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    # NB: must be the reader kwarg — .option("wholetext", ...) is
    # silently ignored by the text source (probed on Spark 4.1)
    return reader.text(path, wholetext=whole)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | None = None,
    **options: Any,
) -> DataFrame:
    """XML source (Spark 4 built-in ``xml`` format — no external jar):
    one row per ``row_tag`` element, nested elements as struct columns.
    The feed/sitemap/dump formats (RSS, Wikipedia exports, PubMed,
    legal corpora) that text-corpus ingestion still meets constantly.
    Explicit schema strongly preferred per the §1.5 rule; pass
    schema=None only for exploratory reads (schema inference scans the
    data once). NOTE: Avro is NOT bundled in this distribution (the
    spark-avro module is external); this probe-verified boundary is
    documented rather than stubbed."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.options(**options).load(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Media ingestion for the multimodal surface (``llm/multimodal``):
    Spark's ``binaryFile`` source — (path, modificationTime, length,
    content: binary), one row per file, content loaded lazily per task.
    Pair with ``pathGlobFilter`` to prune non-media files at listing
    time; the decode stage (``decode_image_meta`` etc.) then runs
    shuffle-free over these rows. Each file must fit in one row — chunk
    video upstream."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


# --- adaptive scan parallelization (OPTIMIZATION_r15) -----------------------
# A parquet row group is Spark's atomic scan unit: byte-range splits cannot
# divide one, so a file with fewer row groups than the session has cores
# executes ALL row-level work fused into its scan stage (filters, projections,
# partial aggregates, tokenization) on a correspondingly small number of
# tasks. The fixture files are written as ONE row group each — measured:
# every scan in the engine ran single-threaded (600 K lineitem rows, one
# task). The guide's fix for under-splittable inputs is to repartition
# immediately after the read (spark_optimization_guide.md §2.5 "input skew").
#
# ``_maybe_split_scan`` does that on an OPT-IN basis (``split=True``), and
# adaptively even then: only when the table's row-group count is below the
# session's default parallelism AND the table is big enough for the extra
# exchange to pay (>= _SPLIT_ROWS_PER_CORE rows per core). On a real 100 TB
# table (thousands of row groups >> cores) this is a no-op — the knob
# self-disables at scale, so nothing here is tuned to local[32].
#
# Opt-in, not default: the split pays exactly where the scan feeds HEAVY
# MAP-SIDE CPU (tokenize/shingle/hash pipelines, wide partial aggregates)
# and is pure overhead where the query's first real operation is already an
# exchange — which is most of the catalog, and is also why the engine's
# zero-exchange map-only operator contracts (plan-gated in
# tests/test_plans.py) must not acquire a reader-injected shuffle. The
# repartition hashes on the table's unique key (deterministic, skew-free,
# and — unlike round-robin — free of the sort-before-repartition pass);
# results are partitioning-independent by the engine-wide decimal
# discipline (operators/aggregate.py), which the oracle suite pins.
_SPREAD_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_SPLIT_ROWS_PER_CORE = 4
# Split-target sizing: a task under a few hundred rows is dominated by
# its fixed setup (measured ~0.12 s/task at sf0.1 — codegen instance
# init + shuffle reader setup dwarf the row work), so the split targets
# ceil(rows / _SPLIT_MIN_ROWS_PER_TASK) partitions capped at the session
# parallelism rather than always fanning to every core (A/B on the q40
# pipeline at sf0.1, 5000-doc table: 8-16 partitions 0.95-1.28 s vs 32
# partitions 1.18-2.45 across two blocks). Scale-adaptive by
# construction: any table big enough to use all cores still gets them.
_SPLIT_MIN_ROWS_PER_TASK = 256


def _scan_metadata(path: str) -> tuple[int, int]:
    """(num_row_groups, num_rows) over every file of the dataset at ``path``."""
    footers = footer_manifest(path)
    return sum(md.num_row_groups for md in footers), sum(md.num_rows for md in footers)


def _maybe_split_scan(
    spark: SparkSession, df: DataFrame, path: str, name: str, split: bool = False
) -> DataFrame:
    if not split:
        return df
    cores = spark.sparkContext.defaultParallelism
    row_groups, rows = _scan_metadata(path)
    if row_groups >= cores:
        return df
    if rows < _SPLIT_ROWS_PER_CORE * cores:
        return df
    target = min(cores, -(-rows // _SPLIT_MIN_ROWS_PER_TASK))
    if target < 2:
        return df

    keys = _SPREAD_KEYS.get(name)
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


def footer_lead_boundaries(path: str, column: str, k: int) -> list[float] | None:
    """Metadata-only equi-depth boundary ESTIMATE for a prefix-scan lead
    column: k-1 split points derived from the per-row-group (min, max,
    rows) footer statistics of every file of the dataset at ``path`` —
    zero data read, replacing the ``approxQuantile`` pass that costs one
    full scan per execution (OPTIMIZATION_r16; guide §1.2 "remove
    unnecessary passes" and §6 "min/max statistics").

    Method: each row group contributes a uniform mass of ``rows`` between
    its min and max; the summed piecewise-linear CDF is inverted at
    i/k by bisection. The estimate sharpens with row-group count — at
    100 TB (thousands of groups) it approaches true equi-depth, while a
    single-row-group file degrades to min/max interpolation (equi-width).
    Accuracy affects only bucket BALANCE, never results: prefix_agg's
    bucket-local + offset combine is exact for ANY monotone bucketing
    (same class as its documented equal-key skew caveat).

    Never raises: returns None (caller falls back to approxQuantile)
    when the dataset is missing, empty or has an unreadable footer, or
    any file lacks the column or usable numeric min/max statistics.
    Values are in prefix_agg's numeric lead domain (``fileindex._num``:
    days for DATE, microseconds for timestamps, float otherwise).
    """
    if k <= 1:
        return None
    segs: list[tuple[float, float, int]] = []
    try:
        for md in footer_manifest(path):
            ranges = _numeric_ranges(_column_chunks(md)[column])
            if ranges is None:
                return None
            segs += ranges
    except (OSError, ValueError, KeyError):
        return None
    total = float(sum(n for _, _, n in segs))
    xmin = min((lo for lo, _, _ in segs), default=0.0)
    xmax = max((hi for _, hi, _ in segs), default=0.0)
    if total <= 0 or xmax <= xmin:
        return None

    def cdf(x: float) -> float:
        acc = 0.0
        for lo, hi, n in segs:
            if hi <= lo:
                acc += n if x >= lo else 0.0
            else:
                acc += n * min(max((x - lo) / (hi - lo), 0.0), 1.0)
        return acc

    bounds = []
    for i in range(1, k):
        target = total * i / k
        a, b = xmin, xmax
        for _ in range(60):
            mid = (a + b) / 2
            if cdf(mid) < target:
                a = mid
            else:
                b = mid
        bounds.append((a + b) / 2)
    return bounds


def parquet_ts_unit(path: str, column: str = "ts") -> str | None:
    """Physical timestamp unit ('ns'/'us'/'ms') of ``column`` in the
    parquet dataset at ``path``, from the footer manifest (metadata-only).
    None when the column isn't a timestamp; ``ValueError`` when files
    disagree."""
    units = {
        getattr(md.schema.to_arrow_schema().field(column).type, "unit", None)
        for md in footer_manifest(path)
    }
    if len(units) > 1:
        raise ValueError(f"{path!r}: files disagree on the type of {column!r}")
    return units.pop()


def _fixture_path(sf_dir: str, name: str) -> str:
    if name not in TABLE_SCHEMAS:
        raise AttributeMissing(name, sorted(TABLE_SCHEMAS))
    return os.path.join(sf_dir, f"{name}.parquet")


def _load_fixture(
    name: str, path: str, load: Callable[[T.StructType], DataFrame]
) -> DataFrame:
    """``load(schema)`` with the fixture schema of ``name``, normalizing
    the ``events.ts`` encoding.

    ``events.ts`` has shipped in two physical encodings across fixture
    generations: TIMESTAMP(NANOS) — which Spark cannot read as a timestamp
    and (via ``spark.sql.legacy.parquet.nanosAsLong``, set by
    ``session.build_session``) surfaces as nanos-since-epoch LONG, converted
    here to a microsecond timestamp by truncation exactly as DuckDB narrows
    ns → us — and plain TIMESTAMP(MICROS), which reads natively. The footer
    is sniffed (metadata-only, ``events`` only) so both encodings produce
    identical frames.
    """
    schema = TABLE_SCHEMAS[name]
    if name != "events" or parquet_ts_unit(path) != "ns":
        return load(schema)
    raw = load(
        T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType(), f.nullable)
                for f in schema.fields
            ]
        )
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def read_table(
    spark: SparkSession, sf_dir: str, name: str, split: bool = False
) -> DataFrame:
    """Load one fixture table by name with its explicit schema.

    ``split`` opts a call site into the adaptive scan parallelization:
    ``True`` applies ``_maybe_split_scan``'s policy (repartition only if
    the file is row-group-deficient AND clears the rows-per-core floor)
    — the right choice where the scan feeds heavy map-side CPU before
    the query's first exchange (tokenize/shingle/hash pipelines, wide
    partial aggregates over many columns; measured at sf0.1: q01
    1.43 s → 0.60, q40 1.53 → 0.71, q43 0.61 → 0.34). ``False``
    (default) keeps the raw scan — measured the right choice
    whenever the first real operation is already an exchange (window/
    groupBy/join/sort on a key) with only thin map work before it:
    there the engine's own first shuffle parallelizes everything
    downstream and a split exchange is pure overhead (A/B at sf0.1:
    q12 0.31 s vs 0.71, q22 0.34 vs 0.64 with the split forced on) —
    and it keeps the zero-exchange plan contracts of map-only
    operators intact. Call sites that MEASURED the split net-negative
    pass ``split=False`` explicitly so a future default flip cannot
    regress them. A table may be one parquet file or a directory;
    ``events.ts`` reads as a timestamp in either encoding
    (``_load_fixture``).
    """
    path = _fixture_path(sf_dir, name)
    df = _load_fixture(name, path, lambda schema: read_parquet(spark, path, schema))
    return _maybe_split_scan(spark, df, path, name, split)


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of ``read_table``: the same name check, path, schema
    and ``events.ts`` rule, replayed one file per trigger
    (``maxFilesPerTrigger=1``). A ``<name>.parquet`` directory streams
    directly; the file stream source needs a directory, so a single file
    is read by scanning ``sf_dir`` with a glob filter that admits only
    that file."""
    path = _fixture_path(sf_dir, name)

    def load(schema: T.StructType) -> DataFrame:
        reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        if os.path.isdir(path):
            return reader.parquet(path)
        return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir)

    return _load_fixture(name, path, load)


def scan_view(df: DataFrame, offset: int = 0, limit: int | None = None) -> DataFrame:
    """Reference ``ScanView::new(src, Option<RowRange>)``
    (``scan_view.rs:12-21``): scan with an optional (offset, count) window.

    Spark has no stable row order, so a row-range over an unordered source
    is defined here exactly as Spark defines ``offset``/``limit``: applied
    to the dataset's current (arbitrary but fixed-per-plan) order. For
    deterministic ranges, sort first.
    """
    out = df
    if offset:
        if offset < 0:
            raise RowOutOfBounds(offset, 0)
        out = out.offset(offset)
    if limit is not None:
        if limit < 0:
            raise RowOutOfBounds(limit, 0)
        out = out.limit(limit)
    return out


class TableAppender:
    """Row-wise builder mirroring the reference ``TableAppender``
    (``table.rs:124-191``).

    Reference semantics kept: per-cell type checking (``block.rs:248-251``
    → AttributeType), null-into-non-nullable rejection (``block.rs:235-237``
    → AttributeNullability), writing past the row's last column
    (``table.rs:91-93`` → AttributeMissing in ``appender_end_of_row``),
    error latching with re-raise on ``done()`` (``table.rs:149-157``).

    ``done(spark)`` materializes a DataFrame via ``spark.createDataFrame``
    (driver-side: this is a small-data construction tool, like the
    reference's — bulk ingest goes through the file readers).
    """

    _PY_OK: dict[type, tuple[type, ...]] = {
        T.IntegerType: (int,),
        T.LongType: (int,),
        T.FloatType: (float, int),
        T.DoubleType: (float, int),
        T.BooleanType: (bool,),
        T.StringType: (str,),
        T.BinaryType: (bytes, bytearray),
        # UINT64 fidelity (SURVEY §1.2): dbkit's u64 maps to
        # DecimalType(20,0) where values may exceed 2^63-1; the appender
        # accepts Python int (auto-wrapped to Decimal at done()) or
        # decimal.Decimal directly
        T.DecimalType: (int, _Decimal),
    }

    def __init__(self, schema: T.StructType):
        self.schema = schema
        self._rows: list[list[Any]] = []
        self._cur: list[Any] | None = None
        self._col = 0
        self._error: Exception | None = None

    def add_row(self) -> "TableAppender":
        if self._error is not None:
            return self
        self._flush()
        self._cur = [None] * len(self.schema.fields)
        self._col = 0
        return self

    def set(self, value: Any) -> "TableAppender":
        if self._error is not None:
            return self
        if self._cur is None or self._col >= len(self.schema.fields):
            self._error = AttributeMissing(f"column #{self._col}", self.schema.fieldNames())
            return self
        field = self.schema.fields[self._col]
        if value is None:
            if not field.nullable:
                self._error = AttributeNullability(field.name)
                return self
        else:
            ok = self._PY_OK.get(type(field.dataType))
            if ok is not None and not isinstance(value, ok):
                self._error = AttributeType(
                    field.name, field.dataType.simpleString(), type(value).__name__
                )
                return self
            if isinstance(
                field.dataType, (T.IntegerType, T.LongType, T.DecimalType)
            ) and isinstance(value, bool):
                self._error = AttributeType(field.name, field.dataType.simpleString(), "bool")
                return self
        self._cur[self._col] = value
        self._col += 1
        return self

    def set_null(self) -> "TableAppender":
        return self.set(None)

    def _flush(self) -> None:
        if self._cur is not None:
            self._rows.append(self._cur)
            self._cur = None

    def done(self, spark: SparkSession) -> DataFrame:
        if self._error is not None:
            raise self._error
        self._flush()
        dec_cols = [
            i
            for i, f in enumerate(self.schema.fields)
            if isinstance(f.dataType, T.DecimalType)
        ]
        rows = self._rows
        if dec_cols:
            # createDataFrame requires decimal.Decimal objects for
            # DecimalType fields; ints (incl. > 2^63-1, the UINT64 case)
            # were type-checked at set() and are wrapped exactly here
            rows = [list(r) for r in rows]
            for r in rows:
                for i in dec_cols:
                    if isinstance(r[i], int):
                        r[i] = _Decimal(r[i])
        return spark.createDataFrame(rows, self.schema)


def table_appender(schema: T.StructType) -> TableAppender:
    return TableAppender(schema)

"""Sources & sinks (SURVEY.md §2.1).

The reference implements only an in-memory ``ScanView`` (``scan_view.rs``)
and a row-wise ``TableAppender`` (``table.rs:124-191``); file formats are
Tier-C roadmap surface. Here every reader takes an *explicit* schema
(SURVEY.md §1.5 — never inferSchema) so malformed input fails at bind time,
like the reference's construction-time checks.
"""

from .readers import (
    read_binary_files,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    read_parquet_evolved,
    read_table,
    read_table_stream,
    read_text,
    read_xml,
    scan_view,
    table_appender,
)
from .writers import write_csv, write_json, write_parquet

__all__ = [
    "read_table",
    "read_table_stream",
    "read_parquet",
    "read_parquet_evolved",
    "read_csv",
    "read_json",
    "read_orc",
    "read_text",
    "read_xml",
    "read_binary_files",
    "scan_view",
    "table_appender",
    "write_parquet",
    "write_csv",
    "write_json",
]

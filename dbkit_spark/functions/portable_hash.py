"""The engine-wide salted md5 draw: one key builder, one rank.

Every deterministic draw in this repo (samples, splits, salts, coins,
boundary sampling, per-group picks) hashes the same salted key,
``md5(<key>:<salt>)``, and a DuckDB oracle replays it digit-for-digit.
One wrong separator or substring width is a silent oracle mismatch, so
the Spark side writes each piece once:

- :func:`salted` builds the key string ``key:part:part...``;
- :func:`u32_md5` reads its first 8 hex digits as an integer in
  [0, 2^32); the 6-digit (24-bit) value is ``functions.text.token_hash24``
  applied to a :func:`salted` key, and its midpoint uniform is
  ``functions.text._hash24_u01``;
- :func:`md5_rank` is the per-group pick: row number ordered by
  ``(md5(salted key), id)``.

:func:`u32_md5_sql` is the DuckDB twin of :func:`u32_md5`. The oracles'
other md5-digit replays stay with each oracle as reference SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def salted(key: Column, *parts: str | Column) -> Column:
    """The salted draw key ``cast(key AS string) || ':' || part ...``: a
    ``str`` part is a literal, a Column part is cast to string. NULL in
    any Column makes the key NULL (``concat`` semantics)."""
    tail: list[Column] = []
    for part in parts:
        if isinstance(part, str):
            tail.append(F.lit(":" + part))
        else:
            tail += [F.lit(":"), part.cast("string")]
    return F.concat(key.cast("string"), *tail)


def u32_md5(key: Column, *parts: str | Column) -> Column:
    """First 8 md5 hex digits of ``salted(key, *parts)`` as a BIGINT in
    [0, 2^32) — the uniform-integer draw behind weighted sampling,
    digest salting, permutation coins, and boundary sampling."""
    return F.conv(
        F.substring(F.md5(salted(key, *parts)), 1, 8), 16, 10
    ).cast("long")


def md5_rank(id_col: str, salt: str, *part_cols: str) -> Column:
    """Per-group md5-rank pick: ``row_number()`` over ``part_cols``,
    ordered by ``md5(salted(id, salt))`` with the id as tiebreak — a
    uniform per-group order that any engine, rerun or partition layout
    reproduces. NULL partition values form their own group."""
    w = Window.partitionBy(*part_cols).orderBy(
        F.md5(salted(F.col(id_col), salt)).asc(), F.col(id_col).asc()
    )
    return F.row_number().over(w)


def u32_md5_sql(key_sql: str, salt: str) -> str:
    """DuckDB twin of :func:`u32_md5` — replays the draw exactly
    (CAST('0x' || hex AS BIGINT) parses the same 8 hex digits)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({key_sql} AS VARCHAR) || ':{salt}'), "
        f"1, 8)) AS BIGINT)"
    )

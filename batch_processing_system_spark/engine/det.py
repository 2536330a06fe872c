"""Determinism helpers — SURVEY.md §2.5 codified (custom #3 in §4.2).

The driver hash-compares Spark results against a DuckDB oracle, so every
hashed value must be bit-identical across two engines with different
accumulation orders and type-widening rules. These helpers are the single
place that discipline lives:

- D1: money/measure aggregation through DECIMAL(18,2), surfaced as DOUBLE.
- D2: counts surfaced as BIGINT (native in both engines).
- D7: float-producing scalars rounded to a fixed number of digits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(18,2)"


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent SUM for 2-decimal measures (SURVEY §2.5 D1).

    DECIMAL accumulation is exact, so partial/final aggregation order
    (Spark) vs single-threaded scan (DuckDB) cannot diverge; the final
    CAST to DOUBLE keeps the output schema identical on both engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(MONEY)).cast("double").alias(alias)


def davg(col: str | Column, alias: str, digits: int = 4) -> Column:
    """Order-independent AVG for 2-decimal measures (D1): DECIMAL-cast
    input, ROUND(avg, digits), surface as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.avg(c.cast(MONEY)), digits).cast("double").alias(alias)


def bcount(alias: str = "cnt") -> Column:
    """COUNT(*) surfaced as BIGINT (D2; native type in both engines)."""
    return F.count(F.lit(1)).alias(alias)


def epoch_s(col: str | Column = "ts") -> Column:
    """Floor-to-second epoch, matching DuckDB ``CAST(floor(epoch(ts)) AS
    BIGINT)`` (D6: never hash raw ns-precision timestamps)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_timestamp(c)


def epoch_us(col: str | Column = "ts") -> Column:
    """Microsecond epoch for ordering/range frames. Casts to TIMESTAMP
    first because ``unix_micros`` rejects TIMESTAMP_NTZ (which
    un-annotated parquet timestamp[us] produces) — with the session
    timezone pinned to UTC the cast is the identity on the wall clock,
    matching DuckDB's naive-UTC reading."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))

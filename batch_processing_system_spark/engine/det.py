"""Determinism helpers — SURVEY.md §2.5 codified (custom #3 in §4.2).

The driver hash-compares Spark results against a DuckDB oracle, so every
hashed value must be bit-identical across two engines with different
accumulation orders and type-widening rules. These helpers are the single
place that discipline lives:

- D1: money/measure aggregation through DECIMAL(18,2), surfaced as DOUBLE.
- D2: counts surfaced as BIGINT (native in both engines).
- D7: float-producing scalars rounded to a fixed number of digits.
- Global ranks without a single-partition window: ``pinned_range_prefix``
  owns the range-partition number every distributed rank is offset by.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

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


def pinned_range_prefix(
    df: DataFrame,
    n_parts: int,
    order: list,
    aggs: dict[str, Column],
    by: tuple[str, ...] = (),
    running=F.sum,
) -> DataFrame:
    """Range-split ``df`` on ``order`` into ``n_parts`` partitions, tag
    each row with its partition number ``pid``, and add two columns for
    every ``name: aggregate`` in ``aggs``, evaluated per ``(*by, pid)``:

    - ``<name>_before``: ``running`` (``F.sum`` or ``F.max``) of it over
      the earlier partitions of the row's ``by`` group; 0 for the first
      partition under a sum, NULL under a max;
    - ``<name>_total``: ``running`` of it over all partitions of the group.

    A global rank or ECDF is then a window partitioned by ``pid`` (ties
    of ``order`` share a range partition) plus ``<name>_before``, never
    a single-partition window over the rows. The running values are a
    window over the at most n_parts × groups per-partition rows,
    computed in the JVM and broadcast back: nothing reaches the driver.

    ``pid`` is pinned by an eager localCheckpoint because two jobs read
    it (the prefix aggregate and the caller's plan): AQE partition
    coalescing or a re-sampled range exchange between them would
    renumber partitions and shift every rank (seen at sf0.01 as 53
    equi-depth buckets instead of 50).
    """
    parts = (
        df.repartitionByRange(n_parts, *order)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    keys = [*by, "pid"]
    group = Window.partitionBy(*by)
    earlier = group.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)

    def before(name: str) -> Column:
        off = running(name).over(earlier)
        return F.coalesce(off, F.lit(0)) if running is F.sum else off

    prefix = (
        parts.groupBy(*keys)
        .agg(*(c.alias(name) for name, c in aggs.items()))
        .select(
            *keys,
            *(before(name).alias(f"{name}_before") for name in aggs),
            *(running(name).over(group).alias(f"{name}_total") for name in aggs),
        )
    )
    return parts.join(F.broadcast(prefix), keys)

"""Parquet table access for the driver-generated testdata layout.

TESTDATA.md: ``/root/testdata/sf{0.001,0.01,0.1}/<table>.parquet``.
At 100 TB these would be partitioned/bucketed table roots instead of
single files; the loader only cares about the root, so the layout can
change underneath without touching any query code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def env_flag(name: str, default: bool = False) -> bool:
    """One truthy/falsy vocabulary for every SPARK_GRAFT_* boolean flag.
    Unset → ``default``; set → true iff the value is one of
    1/true/yes/on (case-insensitive, whitespace-tolerant) — 'no',
    'off', '0', 'false', '' and any typo all read as false rather than
    silently enabling."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    return raw.strip().lower() in ("1", "true", "yes", "on")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Defensive: hour()/date_trunc() outputs depend on the session
    # timezone, and the DuckDB oracle treats timestamps as naive-UTC.
    # Our own factory sets this, but the driver's session may not.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS) (FIXTURES.md), which Spark 4
        # rejects by default. Read nanos as BIGINT and truncate to µs —
        # exactly what DuckDB's TIMESTAMP_NS→µs comparisons do (SURVEY §2.5
        # D6). Runtime-settable, so it works under the driver's session too.
        # Type-guarded: a derived events table (e.g. the scale probe's
        # replicas) already carries a true TIMESTAMP and needs no fix-up.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # Un-annotated parquet timestamp[us] (the driver's current output)
        # reads as TIMESTAMP_NTZ in Spark 4, which unix_micros() and
        # friends reject. With the session timezone pinned to UTC above,
        # casting NTZ -> TIMESTAMP interprets the wall clock as UTC —
        # exactly how the DuckDB oracle treats naive timestamps — so
        # every downstream consumer sees one canonical TIMESTAMP type
        # regardless of which flavor the testdata was written with.
        if dict(df.dtypes).get("ts") == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """A DataFrame of a few driver-side rows that never leaves the JVM.

    ``spark.createDataFrame(<list>, schema)`` pickles the rows into a
    PythonRDD, so even an empty or one-row frame runs Python tasks and
    starts the worker pool. Here the rows become literals instead:
    ``inline`` over an array of structs on a one-row, one-partition
    relation; no rows is a row of typed NULLs behind ``lit(False)``,
    which the optimizer prunes to an empty local scan.

    ``rows`` are tuples of scalar values (``None``, str, int, bool,
    ``datetime``, ...) in ``schema`` field order. Each is cast to its
    declared type, so the column names and data types equal
    ``schema``; nullability may be narrower, since a column no row
    leaves ``None`` comes out non-nullable. Meant for the small lists
    a request or a tick holds: each value is a node in the plan.
    """
    one = spark.range(0, 1, 1, 1)
    fields = schema.fields
    if not rows:
        return one.select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields]
        ).where(F.lit(False))
    structs = [
        F.struct(
            *[F.lit(v).cast(f.dataType).alias(f.name)
              for v, f in zip(row, fields, strict=True)]
        )
        for row in rows
    ]
    return one.select(F.inline(F.array(*structs)))

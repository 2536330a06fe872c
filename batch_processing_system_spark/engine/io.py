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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def env_flag(name: str, default: bool = False) -> bool:
    """One truthy/falsy vocabulary for every SPARK_GRAFT_* boolean flag
    (ADVICE r12: the GC flag read '1'-default/'0'-disables while the
    routing flags read ''-default/anything-else-enables, so 'no'/'off'
    ENABLED one and DISABLED the others). Unset → ``default``; set →
    true iff the value is one of 1/true/yes/on (case-insensitive,
    whitespace-tolerant) — 'no', 'off', '0', 'false', '' and any typo
    all read as false rather than silently enabling."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    return raw.strip().lower() in ("1", "true", "yes", "on")

# Opt-in bucketed routing (VERDICT r7 item "make bucketing
# load-bearing"): with SPARK_GRAFT_BUCKETED truthy, scans of the
# tables below are served from bucketed catalog tables
# (engine/bucketing.py) keyed on their hottest join/agg column. The
# first use per (sf_dir, table) pays one bucketing write; every later
# key-keyed join or aggregation reads pre-shuffled (and pre-sorted)
# data — at 100 TB that converts the per-run shuffle of the two
# biggest tables into a once-at-ingest cost. Off by default so the
# driver's correctness runs exercise the plain-parquet path; PLANS.md
# records the q75/q96 Exchange-count deltas, and
# tests/test_bucketed_routing.py pins hash-identical answers.
BUCKET_SPECS: dict[str, tuple[str, int]] = {
    "events": ("user_id", 32),
    "documents": ("doc_id", 32),
    # r10: the orders/lineitem pair — the catalog's biggest recurring
    # shuffle (every TPC-H silhouette joins them on the order key).
    # Both sides bucketed AND sorted by the same key at the same
    # count, so the o_orderkey = l_orderkey SortMergeJoin runs with
    # zero Exchange and zero Sort (tests/test_bucketed_routing.py
    # pins the deltas on r34/r39/r65; tools/explain_audit.py asserts
    # them every run). At 100 TB this converts the nightly fact⋈fact
    # shuffle into a once-at-ingest cost.
    "orders": ("o_orderkey", 32),
    "lineitem": ("l_orderkey", 32),
    # r11: the customer⋈orders family (q07/q09/q10/q11, q64-q66, r36,
    # r40) shuffled customer on c_custkey every run; bucketing removes
    # exactly that Exchange in all nine (measured at sf0.01, broadcast
    # off — the orders side still shuffles on o_custkey, which its own
    # o_orderkey bucketing can't serve). At 100 TB customer is a
    # billion-row dimension, not a broadcastable one.
    "customer": ("c_custkey", 32),
}


def _bucketed_routing_on() -> bool:
    return env_flag("SPARK_GRAFT_BUCKETED")


def _partitioned_routing_on() -> bool:
    """Opt-in date-partitioned routing (round 11): with
    SPARK_GRAFT_PARTITIONED truthy, events scans are served from the
    date-partitioned catalog twin (engine/partitioning.py) — identical
    schema and rows, but time-windowed predicates and date-keyed joins
    prune whole day directories (r72/r73 assert the plans). When BOTH
    layout flags are set (round 12: the composed deployment posture),
    the PARTITIONED route wins for events and bucketing serves the
    rest: a 100 TB deployment time-partitions its fact stream for scan
    pruning and buckets its dims/join-facts for shuffle elimination —
    exactly what the combined flags now express (the combined
    full-catalog oracle leg and tests/test_round12_fixes.py pin it)."""
    return env_flag("SPARK_GRAFT_PARTITIONED")


def _hybrid_routing_on() -> bool:
    """Opt-in HYBRID routing (round 12, closes the composed-posture
    trade): with SPARK_GRAFT_HYBRID truthy, events scans are served
    from the r74 hybrid twin — partitionBy(event_date) AND
    bucketBy(user_id) in one table (engine/partitioning.py:
    hybrid_events) — so general events consumers get BOTH levers:
    time-window scan pruning and user_id co-location. This is the full
    100 TB events-hypertable posture; the partition-only route
    (SPARK_GRAFT_PARTITIONED) keeps existing per-flag plan assertions
    stable. Hybrid wins over both other flags for events."""
    return env_flag("SPARK_GRAFT_HYBRID")


def effective_routing() -> dict[str, str]:
    """The route ``load_table`` takes per table under the CURRENT env
    flags — for events: hybrid beats partitioned beats bucketed.
    ADVICE r11: artifacts must record what actually ran, not raw flag
    values, so bench.py embeds this map in its config block."""
    out: dict[str, str] = {}
    for t in TABLES:
        if t == "events" and _hybrid_routing_on():
            out[t] = "hybrid"
        elif t == "events" and _partitioned_routing_on():
            out[t] = "partitioned"
        elif t in BUCKET_SPECS and _bucketed_routing_on():
            out[t] = "bucketed"
        else:
            out[t] = "plain"
    return out


def load_table(
    spark: SparkSession, sf_dir: str, name: str, raw: bool = False
) -> DataFrame:
    """``raw=True`` bypasses bucketed routing — used by the bucketing
    writer itself (which must read the source parquet, not recurse
    into its own half-created table)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Defensive: hour()/date_trunc() outputs depend on the session
    # timezone, and the DuckDB oracle treats timestamps as naive-UTC.
    # Our own factory sets this, but the driver's session may not.
    # Pinned BEFORE the bucketed-routing branch (ADVICE r9): the
    # catalog-reuse path returns without ever reading the raw parquet,
    # so a non-UTC session would otherwise see different date_trunc
    # buckets on the routed path than on the plain one.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Events routing precedence: hybrid > partitioned > bucketed. With
    # SPARK_GRAFT_HYBRID the fact stream gets BOTH layout levers from
    # the r74 twin; otherwise the partitioned route wins over bucketed
    # so the two-flag combination is the composed posture (partitioned
    # facts + bucketed dims — see _partitioned_routing_on).
    if not raw and name == "events" and _hybrid_routing_on():
        from .partitioning import PARTITION_COL, hybrid_events

        return spark.table(hybrid_events(spark, sf_dir)).drop(PARTITION_COL)
    if not raw and name == "events" and _partitioned_routing_on():
        from .partitioning import PARTITION_COL, partitioned_events

        # drop(PARTITION_COL) restores the exact raw schema (partition
        # columns are appended last at write time); ts in the twin is
        # already the loader-normalized true-UTC TIMESTAMP
        return spark.table(partitioned_events(spark, sf_dir)).drop(PARTITION_COL)
    if not raw and name in BUCKET_SPECS and _bucketed_routing_on():
        from .bucketing import bucketed_table

        col, n_buckets = BUCKET_SPECS[name]
        return spark.table(
            bucketed_table(
                spark, sf_dir, name, col, n_buckets, sort_cols=(col,)
            )
        )
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

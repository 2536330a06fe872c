"""Parquet snapshot state for the deployable surfaces (CLI + HTTP).

The reference keeps batch_jobs and the target collection in MongoDB;
here both live as parquet snapshot dirs behind two functions, so the
CLI, the HTTP endpoint, and tests share one persistence seam. A real
deployment swaps these for a connector (Mongo, Delta, JDBC) without
touching the pipeline logic.

The streaming sinks' stores are ``bid=<N>`` partitions, one per
micro-batch, so a replayed batch rewrites its own rows.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.io import local_frame


def read_state(spark: SparkSession, path: str, schema) -> DataFrame:
    """The snapshot at ``path`` read with ``schema``; a missing path
    reads as an empty table. That empty frame is JVM-only
    (``engine.io.local_frame``): a first submit or a tick on a fresh
    state dir runs no Python task for it."""
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return local_frame(spark, [], schema)


def rewrite_state(df: DataFrame, path: str) -> None:
    """Snapshot replace: materialize to <path>.new (reads the old
    snapshot while it still exists), then swap. The window between rm
    and rename is not atomic; pipeline/commitstore.py's manifest commit
    is the shape that closes it."""
    tmp = path + ".new"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def read_bid_store(
    spark: SparkSession, path: str, schema, current_bid: int
) -> DataFrame:
    """Read a bid-partitioned store, excluding the current batch's own
    partition (a crashed earlier attempt of THIS batch may have left
    partial rows there — they are not earlier arrivals)."""
    cols = [f.name for f in schema.fields]
    if not os.path.exists(path):
        return local_frame(spark, [], schema)
    try:
        df = spark.read.parquet(path)
    except Exception:  # dir exists but holds no committed footers yet
        return local_frame(spark, [], schema)
    return df.where(F.col("bid") != current_bid).select(*cols)


def write_bid_store(df: DataFrame, path: str, current_bid: int) -> None:
    """Overwrite the store partition keyed by this batch id — replay
    rewrites identical content instead of duplicating appends."""
    df.write.mode("overwrite").parquet(os.path.join(path, f"bid={current_bid}"))

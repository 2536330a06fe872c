"""Parquet snapshot state for the deployable surfaces (CLI + HTTP).

The reference keeps batch_jobs and the target collection in MongoDB;
here both live as parquet snapshot dirs behind two functions, so the
CLI, the HTTP endpoint, and tests share one persistence seam. A real
deployment swaps these for a connector (Mongo, Delta, JDBC) without
touching the pipeline logic.

The streaming sinks' stores are ``bid=<N>`` partitions, one per
micro-batch, written by ``write_bid_store``: foreachBatch is
at-least-once, and a replayed batch rewrites its own partition. Logs
(a corpus, a decision log) read through ``read_bid_store``; keyed
stores, whose operators re-emit a key's rows on every update, through
``read_latest``. Each write is sized by the micro-batch, never by the
store; compacting a keyed store into a serving table is a separate,
batched MERGE. A store stays paired with its stream checkpoint:
without it, micro-batch ids restart at 0 and a new run overwrites the
old run's partitions.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _read_bids(spark: SparkSession, path: str, schema) -> DataFrame:
    """Every row of a bid-partitioned store, with its ``bid``, read
    with ``schema`` plus ``bid`` as the typed partition column: no
    schema-inference job, and a corrupt store fails loudly instead of
    reading as empty. A missing or empty directory reads as empty."""
    full = T.StructType(schema.fields + [T.StructField("bid", T.IntegerType())])
    if not os.path.exists(path):
        return local_frame(spark, [], full)
    return spark.read.schema(full).parquet(path)


def read_bid_store(
    spark: SparkSession, path: str, schema, current_bid: int | None = None
) -> DataFrame:
    """A bid log's rows in ``schema``, without the current batch's own
    partition (a failed earlier attempt of THIS batch may have left
    rows there; they are not earlier arrivals). ``current_bid=None``
    reads every batch."""
    df = _read_bids(spark, path, schema)
    if current_bid is not None:
        df = df.where(F.col("bid") != current_bid)
    return df.select(*schema.names)


def read_latest(spark: SparkSession, path: str, schema, keys) -> DataFrame:
    """A keyed store's current view: for each ``keys`` value, ALL rows
    of the highest bid that wrote that key (rank-style: an operator
    may emit several rows per key per batch, e.g. retention's full
    offset set, and a later batch replaces them all). Empty ``keys``
    makes the whole store one key: the latest batch's rows."""
    top = F.max("bid").over(Window.partitionBy(*keys))
    return (
        _read_bids(spark, path, schema)
        .withColumn("_top", top)
        .where(F.col("bid") == F.col("_top"))
        .select(*schema.names)
    )


def write_bid_store(df: DataFrame, path: str, current_bid: int) -> None:
    """Overwrite the store partition keyed by this batch id, so a
    replayed batch rewrites its own rows instead of duplicating them.
    The one write of every ``foreachBatch`` sink under ``streaming/``."""
    df.write.mode("overwrite").parquet(os.path.join(path, f"bid={current_bid}"))


def stream_updates(updates: DataFrame, path: str, checkpoint: str):
    """The writer of a keyed stateful operator's update-mode output:
    availableNow, each micro-batch into its own partition of the
    store at ``path`` (read it back with ``read_latest``)."""
    return (
        updates.writeStream.foreachBatch(
            lambda df, bid: write_bid_store(df, path, bid)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
    )

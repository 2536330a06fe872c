"""Continuous exact-dedup ingestion (north-star family "dedup" in its
streaming form): documents arrive as JSONL files, each micro-batch
keeps only content never seen before — across batches AND restarts —
and appends survivors to a corpus store.

State is externalized to a parquet digest store (md5 → first doc_id),
the same pattern as the reference's MongoDB-backed job state and our
bucketed document store: the stream engine tracks file offsets, the
store is the dedup memory. At 100 TB the digest store is a bucketed
table joined on the 16-byte digest — shuffle ships digests, never
documents (SCALE.md, exact-dedup row).

Within-batch ties keep the minimum doc_id (deterministic, §2.5 D3);
cross-batch arrivals lose to whatever the store already holds.

foreachBatch is at-least-once: both writes (digests, corpus) overwrite
the micro-batch's ``bid=<N>`` partition and the digest read skips it,
so a batch replayed after a crash between them re-admits its survivors
(the ``streaming/curation.py`` contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.statestore import read_bid_store, write_bid_store

INCOMING_DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

DIGEST_SCHEMA = T.StructType(
    [
        T.StructField("text_hash", T.StringType()),
        T.StructField("keep_id", T.LongType()),
    ]
)


def dedup_batch(
    spark: SparkSession, batch: DataFrame, digest_path: str, batch_id: int
) -> DataFrame:
    """One micro-batch of exact dedup against the persistent digest
    store: hash, drop within-batch copies (min doc_id survives), then
    anti-join the digests of earlier batches. Returns the surviving
    (doc_id, text, text_hash) rows and writes their digests as the
    store's ``bid=<batch_id>`` partition."""
    hashed = batch.withColumn("text_hash", F.md5(F.encode("text", "UTF-8")))
    w_min = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    batch_unique = hashed.join(w_min, ["text_hash", "doc_id"])
    seen = read_bid_store(spark, digest_path, DIGEST_SCHEMA, batch_id)
    survivors = batch_unique.join(
        seen.select("text_hash"), "text_hash", "left_anti"
    ).select("doc_id", "text", "text_hash")
    # Materialize before the store write so the anti-join cannot see
    # its own batch's digests mid-write.
    survivors = survivors.localCheckpoint(eager=True)
    write_bid_store(
        survivors.select("text_hash", F.col("doc_id").alias("keep_id")),
        digest_path,
        batch_id,
    )
    return survivors


def stream_dedup_documents(
    spark: SparkSession,
    incoming_dir: str,
    corpus_path: str,
    digest_path: str,
    checkpoint: str,
):
    """Wire a JSONL document stream through per-batch exact dedup into
    an append-only corpus. Returns the DataStreamWriter (caller picks
    the trigger — availableNow for catch-up, processingTime for
    continuous ingestion). File offsets live in the checkpoint, so a
    restart neither re-reads files nor re-admits seen content (the
    digest store is the cross-restart memory)."""
    incoming = spark.readStream.schema(INCOMING_DOC_SCHEMA).json(incoming_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        survivors = dedup_batch(
            batch_df.sparkSession, batch_df, digest_path, batch_id
        )
        write_bid_store(survivors.select("doc_id", "text"), corpus_path, batch_id)

    return incoming.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint
    )

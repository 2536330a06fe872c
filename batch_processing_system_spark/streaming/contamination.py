"""Continuous contamination screening (the streaming form of q78's
train/eval audit): documents arrive as JSONL files; each micro-batch
is checked for 8-gram overlap against a fixed held-out benchmark gram
set, flagged documents are quarantined, clean documents added to the
training corpus.

The benchmark gram set is loaded once at stream definition and
broadcast into every micro-batch join — the production shape exactly:
a held-out eval suite is KBs-to-MBs against a 100 TB ingest stream, so
the screen is a map-side broadcast semi-join; nothing big ever
shuffles. File offsets live in the stream checkpoint, so a restart
re-screens nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.statestore import write_bid_store
from ..queries.packing import distinct_word_ngrams, screened_grams
from .dedup import INCOMING_DOC_SCHEMA


def eval_gram_set(eval_docs: DataFrame, n: int = 8) -> DataFrame:
    """Distinct grams of the held-out benchmark, as a 1-column frame
    ready to broadcast into the screen join."""
    return distinct_word_ngrams(eval_docs, n).select("gram").distinct()


def screen_batch(
    batch: DataFrame,
    eval_grams: DataFrame,
    n: int = 8,
    df_cut: int | None = None,
    keep_rarest: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Split one document micro-batch into (clean, flagged) by n-gram
    overlap with the benchmark gram set. Flagged = shares >= 1 distinct
    SCREENED n-gram: batch-side grams pass the same hot-gram screen as
    the batch audit (q78) — a boilerplate gram present across the
    micro-batch (license header that also appears in a benchmark
    question's preamble) would otherwise quarantine every doc carrying
    it, flooding the quarantine with false positives; a doc that
    wholesale-copies a benchmark item stays flagged via its exempt
    rarest grams. Both outputs keep the input schema."""
    grams = distinct_word_ngrams(batch, n)
    if df_cut is None:
        df_cut = max(5, batch.count() // 1000)
    hits = (
        screened_grams(grams, df_cut, keep_rarest)
        .join(F.broadcast(eval_grams), "gram")
        .select("doc_id")
        .distinct()
    )
    flagged = batch.join(hits, "doc_id", "left_semi")
    clean = batch.join(hits, "doc_id", "left_anti")
    return clean, flagged


def stream_screen_documents(
    spark: SparkSession,
    incoming_dir: str,
    clean_path: str,
    flagged_path: str,
    eval_docs: DataFrame,
    checkpoint: str,
    n: int = 8,
):
    """Wire a JSONL document stream through the contamination screen:
    clean docs go to the ``clean_path`` log, contaminated docs to the
    ``flagged_path`` log (the quarantine an auditor reviews), each
    micro-batch as its own ``bid=<N>`` partition, so a batch replayed
    after a failed flagged write does not double its clean rows. Read
    either with ``read_bid_store``. Returns the DataStreamWriter —
    caller picks the trigger (availableNow for catch-up,
    processingTime for continuous ingestion)."""
    grams = eval_gram_set(eval_docs, n).localCheckpoint(eager=True)
    incoming = spark.readStream.schema(INCOMING_DOC_SCHEMA).json(incoming_dir)

    def route(batch_df: DataFrame, batch_id: int) -> None:
        clean, flagged = screen_batch(batch_df, grams, n)
        write_bid_store(clean, clean_path, batch_id)
        write_bid_store(flagged, flagged_path, batch_id)

    return incoming.writeStream.foreachBatch(route).option(
        "checkpointLocation", checkpoint
    )

"""Continuous result-file ingestion (SURVEY §3.3 as a streaming job).

The reference polls for completed batches and then processes result
files in bulk (/root/reference/README.md:86-104). With the engine's
pieces, the same dataflow runs CONTINUOUSLY: result/error JSONL files
land in a directory (the "downloaded outputs" boundary), a file
stream picks them up, and each micro-batch applies

    build_update_records (branch → extract → validate)
      → one manifest commit into the bucketed document store
        (pipeline/commitstore.py)

so documents flip to completed/failed within a trigger interval of
the file arriving instead of a poll interval later. State stays
externalized (the document store itself), exactly like the
reference's design — the stream engine only tracks file offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline import commitstore
from ..pipeline.process import build_update_records
from ..pipeline.schemas import RESULT_LINE_SCHEMA


def result_file_stream(spark: SparkSession, incoming_dir: str) -> DataFrame:
    """File-source stream of result/error lines (spec's output+error
    files unioned by schema: both shapes fit RESULT_LINE_SCHEMA)."""
    return spark.readStream.schema(RESULT_LINE_SCHEMA).json(incoming_dir)


def stream_results_into_store(
    spark: SparkSession,
    incoming_dir: str,
    store_root: str,
    output_schema_json: str,
    checkpoint: str,
    now=None,
):
    """Wire the stream to the manifest-committed store
    (pipeline/commitstore.py). Returns the DataStreamWriter (caller
    picks the trigger: availableNow for catch-up runs, processingTime
    for the reference's 5-minute cadence,
    /root/reference/README.md:145).

    ``now``: the spec stamps each pushed event_response item with the
    CURRENT timestamp ($push {..., updated: <current_timestamp>}), so
    by default every micro-batch evaluates its own wall-clock time at
    merge. Pass a fixed datetime (or a zero-arg callable) to pin it for
    deterministic tests/replays.

    The composition gives streaming exactly-once EFFECTS from Spark's
    at-least-once foreachBatch contract with no sink-side dedup log:

    - a crash mid-merge never exposes partial state — the staged files
      are invisible until the atomic manifest link (readers see the
      previous snapshot, vacuum reclaims the orphan);
    - a replayed micro-batch after restart re-applies its updates onto
      docs that already transitioned out of 'in_progress', which the
      upsert gate makes a no-op (a new manifest version with identical
      content, not a double-push).
    """
    outcomes = result_file_stream(spark, incoming_dir)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if now is None:
            from datetime import datetime, timezone

            batch_now = datetime.now(timezone.utc)
        elif callable(now):
            batch_now = now()
        else:
            batch_now = now
        updates = build_update_records(batch_df, output_schema_json, batch_now)
        commitstore.upsert_store(batch_df.sparkSession, store_root, updates)

    return outcomes.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint
    )

"""Result processing (/root/reference/README.md:86-104; SURVEY §3.3).

The per-line prose loop of the spec, re-expressed as one declarative
dataflow over ALL lines at once:

    S2 scan(output) ∪ scan(error)            — O1 union
      → F4 branch response/error
      → F5 extract choices[0].message.content
      → F6/U1 validate vs the job's JSON Schema
      → per-doc update records, applied for ALL the jobs a tick
        finishes by one S5 upsert (join-rebuild MERGE)

No collect(), no driver loop over lines — the reference's "For each
result line" (:93) is exactly the parallelism Spark adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.json_schema import conformance_predicate
from ..sources.jsonl import read_jsonl
from .schemas import (
    EVENT_RESPONSE_ITEM,
    RESULT_LINE_SCHEMA,
    status_field,
    status_values,
)


def load_outcomes(
    spark: SparkSession, output_path: str | None, error_path: str | None
) -> DataFrame:
    """S2+O1: one outcome stream from the output file and the optional
    error file (/root/reference/README.md:88-90). Error-file lines carry
    an ``error`` struct; the union is schema-aligned by construction."""
    parts = []
    for path in (output_path, error_path):
        if path:
            parts.append(read_jsonl(spark, path, RESULT_LINE_SCHEMA))
    if not parts:
        raise ValueError("at least one of output/error file is required")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_update_records(outcomes: DataFrame, output_schema_json: str, now) -> DataFrame:
    """Steps 4a-4d of the spec's result loop: branch, extract, validate.

    Returns per-custom_id update records:
        custom_id, new_status ('completed'|'failed'), new_item (nullable
        struct to append to event_response)

    Validation: the compiled from_json predicate (F6).
    """
    content = F.col("response.body.choices").getItem(0).getField("message").getField("content")
    has_error = F.col("error").isNotNull()  # F4 branch (:96)

    df = outcomes.withColumn("content", content)
    valid = (~has_error) & F.col("content").isNotNull() & conformance_predicate(
        F.col("content"), output_schema_json
    )

    # Valid → completed + $push {event_response, updated} (:100);
    # invalid or error line → failed, array untouched (:101-102).
    new_item = F.when(
        valid,
        F.struct(
            F.col("content").alias("event_response"),
            F.lit(now).cast("timestamp").alias("updated"),
        ),
    )
    _, s_completed, s_failed = status_values()
    return df.select(
        "custom_id",
        F.when(valid, F.lit(s_completed)).otherwise(F.lit(s_failed)).alias("new_status"),
        new_item.alias("new_item"),
    )


def upsert_documents(docs: DataFrame, updates: DataFrame) -> DataFrame:
    """S5: the $push/$set upsert (/root/reference/README.md:100-102,
    129-138) as an engine-native MERGE: left-join the snapshot to the
    updates and rebuild the two touched columns —

        ai_status      := update.new_status        (when matched AND
                          the doc is currently 'in_progress')
        event_response := concat(coalesce(old, []), [new_item])

    The in_progress gate makes the MERGE idempotent at the data level:
    submission marks every targeted doc 'in_progress'
    (/root/reference/README.md:77), processing transitions it to
    completed/failed, and re-applying the same updates — after a crash
    between the docs write and the jobs write, in EITHER order — is a
    no-op because the transition already happened. Exactly-once effects
    from at-least-once processing, without relying on write ordering
    across two non-atomic tables.

    At most one update applies per document: ``updates`` may repeat a
    custom_id (two jobs in one tick, two lines in one result file) and
    is reduced to one row per custom_id before the join, so the document
    count never changes. A failure (no item) beats an item; among items
    the smallest wins, whatever order the rows arrive in.

    Join-rebuild rewrites whatever snapshot it is given: the parquet
    state of the CLI/HTTP surfaces, or only the touched buckets of the
    manifest-committed store (``commitstore.upsert_store``, SURVEY §7
    H2). Every document transition after submit goes through it.
    """
    # False < True puts a failure first, then the smallest item
    w = F.min(F.struct(F.col("new_item").isNotNull(), "new_item", "new_status"))
    u = updates.groupBy(F.col("custom_id").alias("u_id")).agg(w.alias("w"))
    u = u.select("u_id", "w.new_status", "w.new_item")
    sfield = status_field()
    s_in_progress, _, _ = status_values()
    merged = docs.join(u, docs["_id"] == u.u_id, "left")
    applies = F.col("new_status").isNotNull() & (F.col(sfield) == s_in_progress)
    empty = F.array().cast(f"array<{EVENT_RESPONSE_ITEM.simpleString()}>")
    return merged.select(
        "_id",
        F.when(applies, F.col("new_status")).otherwise(F.col(sfield)).alias(sfield),
        F.when(
            applies & F.col("new_item").isNotNull(),
            F.concat(F.coalesce(F.col("event_response"), empty), F.array(F.col("new_item"))),
        )
        .otherwise(F.col("event_response"))
        .alias("event_response"),
        "payload",
    )


def process_results(
    spark: SparkSession,
    output_path: str | None,
    error_path: str | None,
    output_schema_json: str,
    now,
) -> DataFrame:
    """§3.3 for one job's result files: returns the update records.
    The poll tick applies them, with every other finished job's, in one
    ``upsert_documents``."""
    outcomes = load_outcomes(spark, output_path, error_path)
    return build_update_records(outcomes, output_schema_json, now)

"""batch_jobs state management (/root/reference/README.md:76,82-85,
105-110,114-127; SURVEY §2.1 S6, §2.2 F3/F4, §2.3 T2).

The reference externalizes its job state machine to a MongoDB
collection; here the state table is any DataFrame-backed store
(parquet snapshots in tests). Transitions are pure column expressions
so the same logic serves the batch driver loop and the streaming
``foreachBatch`` variant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..engine.io import local_frame
from .schemas import BATCH_JOB_SCHEMA, INACTIVE_INTERNAL, REMOTE_TO_INTERNAL


def new_job_row(
    spark: SparkSession,
    job_id: str,
    openai_batch_id: str,
    input_file_id: str,
    output_schema_json: str,
    mongodb_uri: str,
    collection_name: str,
    model: str,
    now,
) -> DataFrame:
    """S6: the submission-time insert (/root/reference/README.md:76),
    status='submitted'. ``now`` is injected — never current_timestamp()
    inside the row — so tests and replays are deterministic."""
    row = (
        job_id,
        openai_batch_id,
        input_file_id,
        None,
        None,
        "submitted",
        None,
        output_schema_json,
        mongodb_uri,
        collection_name,
        model,
        now,
        now,
    )
    return local_frame(spark, [row], BATCH_JOB_SCHEMA)


def active_jobs(jobs: DataFrame) -> DataFrame:
    """F3: the poll cycle's job selection — ``status NOT IN
    ('completed','failed','cancelled')`` (/root/reference/README.md:82).
    'cancelling' stays active: the batch is still changing remotely and
    is polled until it reaches 'cancelled'. On a real store this
    predicate pushes down to the status index (:120)."""
    return jobs.filter(~F.col("status").isin(*INACTIVE_INTERNAL))


def transition_status(openai_status: Column) -> Column:
    """F4: the OpenAI-status → internal-status map
    (/root/reference/README.md:105-110) as a chained CASE expression:
    completed→processing (result handling starts), failed/expired→
    failed, cancelled/cancelling carried through verbatim (the spec
    updates the row 'accordingly' and logs INFO — they are distinct
    states, and only 'cancelled' is terminal), transient states keep
    'submitted'."""
    out = None
    for remote, internal in REMOTE_TO_INTERNAL.items():
        cond = openai_status == remote
        out = F.when(cond, internal) if out is None else out.when(cond, internal)
    return out.otherwise(F.lit("submitted"))


def apply_poll_results(jobs: DataFrame, polled: DataFrame, now) -> DataFrame:
    """T2: merge one poll cycle's remote statuses into the state table.

    ``polled`` has (_id, openai_status) for the active jobs this cycle.
    Left join keeps unpolled rows untouched; matched rows get the F4
    transition plus updated_at=now (/root/reference/README.md:85,127).
    """
    p = polled.select(
        F.col("_id").alias("p_id"), F.col("openai_status").alias("p_status")
    )
    merged = jobs.join(p, jobs["_id"] == p.p_id, "left")
    return merged.select(
        *[c for c in jobs.columns if c not in ("status", "openai_status", "updated_at")],
        F.when(F.col("p_status").isNotNull(), transition_status(F.col("p_status")))
        .otherwise(F.col("status"))
        .alias("status"),
        F.coalesce(F.col("p_status"), F.col("openai_status")).alias("openai_status"),
        F.when(F.col("p_status").isNotNull(), F.lit(now))
        .otherwise(F.col("updated_at"))
        .alias("updated_at"),
    ).select(*jobs.columns)


def latest_state_per_job(job_events: DataFrame) -> DataFrame:
    """W2: current status = latest updated_at per job id (tiebreak on
    openai_batch_id for determinism, §2.5 D3) — the read-side view when
    state is kept as an append-only event log instead of in-place
    updates (the scalable layout at 100 TB: append + compact)."""
    w = Window.partitionBy("_id").orderBy(
        F.desc("updated_at"), F.desc("openai_batch_id")
    )
    return (
        job_events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

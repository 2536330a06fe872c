"""Stateful streaming operators (SURVEY §2.3 T1/T2, U3).

Two idioms, mirroring the reference's externalized state machine
(/root/reference/README.md:82-110):

1. ``poll_stream_to_state``: the spec's poll cycle as a Structured
   Streaming job — remote status updates arrive as a stream, each
   micro-batch MERGEs into the jobs table via ``foreachBatch`` +
   the same ``apply_poll_results`` the batch driver uses. This is T2
   exactly as the spec shaped it: state lives in a table, not in the
   stream engine.

2. ``running_counts_stateful``: engine-managed keyed state via
   ``applyInPandasWithState`` — the custom-stateful-operator surface
   (U3 grouped-map + GroupState) for semantics that outgrow
   windows/aggregations (counters, custom session logic, CEP-ish
   patterns).
"""

from __future__ import annotations

from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import pipeline  # noqa: F401  (schemas re-exported for callers)
from ..pipeline.schemas import BATCH_JOB_SCHEMA
from ..pipeline.state import apply_poll_results
from ..pipeline.statestore import read_state, rewrite_state


def poll_stream_to_state(updates_stream: DataFrame, jobs_path: str, checkpoint: str):
    """T1+T2: continuous poll ingestion. ``updates_stream`` carries
    (_id, openai_status); each micro-batch rewrites the jobs snapshot
    through the SAME transition expressions as the batch path — one
    state machine, two execution modes.

    Each micro-batch replaces the snapshot through ``statestore`` — the
    same read and swap the CLI and HTTP surfaces use.
    """

    def merge_batch(updates: DataFrame, batch_id: int) -> None:
        jobs = read_state(updates.sparkSession, jobs_path, BATCH_JOB_SCHEMA)
        rewrite_state(apply_poll_results(jobs, updates, datetime.now(timezone.utc)), jobs_path)

    return (
        updates_stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


_STATE_SCHEMA = "user_id bigint, total_events bigint"
_OUT_SCHEMA = "user_id bigint, total_events bigint"


def _update_counts(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    prev = state.get[1] if state.exists else 0
    seen = prev + sum(len(pdf) for pdf in pdfs)
    state.update((int(user_id), int(seen)))
    yield pd.DataFrame({"user_id": [user_id], "total_events": [seen]})


def running_counts_stateful(events_stream: DataFrame) -> DataFrame:
    """U3/T2: per-user lifetime event counter with engine-managed state.
    Arrow-batched per group per micro-batch; state is a single tuple per
    key, so the store stays O(#users) regardless of throughput."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _update_counts,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

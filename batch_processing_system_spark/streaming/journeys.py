"""Incremental funnel and retention — the streaming twins of q95/q96
(T2/U3 applyInPandasWithState, the batch≡stream story that tumbling /
session windows already have for q39/q40).

Design mirrors the rest of this package: the STATE carries exactly
what the batch semantics need and nothing more —

- funnel: one (stage, t1, t2, t3) tuple per user. Events advance the
  same strict-progression automaton q95 runs as a JVM higher-order
  aggregate; processing is in (es, event_id) order within each batch,
  so with time-ordered arrival (the replay contract; out-of-order
  arrivals within a batch are fine) the final state equals the batch
  answer exactly.
- retention: the per-user set of distinct active DAYS. Each batch
  recomputes (cohort_day = min, offsets = day - min) from the merged
  set and emits the user's full corrected row set, so a late
  earlier-day arrival REVISES the cohort assignment — the stream is
  exactly q96 under ANY arrival order, at the cost of state
  proportional to distinct active days per user (bounded in production
  by the watermark/retention horizon; the matrix only reads offsets
  ≤ 7 but min-day revisions need the full set).

Store: every micro-batch's emissions land as the store's own
``bid=<N>`` partition (``statestore.stream_updates``), and a user's
current rows are all rows of the latest batch that touched them
(``statestore.read_latest``). A batch replayed after a crash rewrites
its partition, so the store never loses or doubles a user.

Scale note: state is engine-managed (RocksDB-backed on a real
cluster), keyed by user — O(#users) entries, each O(1) (funnel) or
O(active days) (retention). No shuffle beyond the groupBy(user) the
stateful operator requires.

Epoch-0 sentinel: GroupState tuples round-trip more robustly without
NULLs, so unset funnel timestamps are stored as 0 and surfaced as
NULL in the output (events at epoch 0 are out of scope by contract).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline.statestore import stream_updates

#: Replayed-event wire schema: es = epoch seconds (bigint), d = days
#: since epoch (int) — both precomputed at export time through the
#: same load_table normalization the batch queries use, so the two
#: engines cannot disagree on timestamp flavor.
EVENT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("es", T.LongType()),
        T.StructField("d", T.IntegerType()),
    ]
)

_FUNNEL_STATE_SCHEMA = "stage int, t1 bigint, t2 bigint, t3 bigint"
FUNNEL_SCHEMA = T.StructType(
    [T.StructField("user_id", T.LongType()), T.StructField("stage", T.IntegerType())]
    + [T.StructField(t, T.LongType()) for t in ("t1", "t2", "t3")]
)


def _advance_funnel(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    stage, t1, t2, t3 = state.get if state.exists else (0, 0, 0, 0)
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["es", "event_id"])
    for es, etype in zip(batch["es"], batch["event_type"]):
        es = int(es)
        if stage == 0 and etype == "signup":
            stage, t1 = 1, es
        elif stage == 1 and etype == "view" and es > t1:
            stage, t2 = 2, es
        elif stage == 2 and etype == "purchase" and es > t2:
            stage, t3 = 3, es
    state.update((stage, t1, t2, t3))
    yield pd.DataFrame(
        [
            {
                "user_id": int(user_id),
                "stage": stage,
                "t1": t1 or None,
                "t2": t2 or None,
                "t3": t3 or None,
            }
        ]
    )


def funnel_stateful(events_stream: DataFrame) -> DataFrame:
    """q95's automaton with engine-managed per-user state; 'update'
    output emits each touched user's current deepest stage + entry
    times every micro-batch."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _advance_funnel,
        outputStructType=FUNNEL_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_RET_STATE_SCHEMA = "days array<int>"
RETENTION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("cohort_day", T.IntegerType()),
        T.StructField("offset_days", T.LongType()),
    ]
)


def _advance_retention(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    days = set(state.get[0]) if state.exists else set()
    for pdf in pdfs:
        days.update(int(v) for v in pdf["d"])
    ordered = sorted(days)
    state.update((ordered,))
    cohort = ordered[0]
    yield pd.DataFrame(
        {
            "user_id": int(user_id),
            "cohort_day": cohort,
            "offset_days": [d - cohort for d in ordered],
        }
    )


def retention_stateful(events_stream: DataFrame) -> DataFrame:
    """q96's cohort/offset assignment with per-user day-set state;
    each batch emits the user's FULL corrected (cohort, offset) set,
    so the store's current view is all rows of the user's latest
    batch (``statestore.read_latest``)."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _advance_retention,
        outputStructType=RETENTION_SCHEMA,
        stateStructType=_RET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_funnel_stream(events: DataFrame, store_path: str, checkpoint: str):
    """Wire a replayed-event stream (``EVENT_WIRE_SCHEMA``; the caller
    builds the source: a JSONL directory, or r77's parquet wire log
    with ``maxFilesPerTrigger``) through the funnel automaton into a
    per-user store. availableNow trigger = catch-up replay; the
    checkpoint carries file offsets AND the automaton state across
    restarts. Read the store with
    ``read_latest(spark, store_path, FUNNEL_SCHEMA, ["user_id"])``."""
    return stream_updates(funnel_stateful(events), store_path, checkpoint)


def run_retention_stream(events: DataFrame, store_path: str, checkpoint: str):
    """The retention twin of ``run_funnel_stream``; read the store with
    ``read_latest(spark, store_path, RETENTION_SCHEMA, ["user_id"])``."""
    return stream_updates(retention_stateful(events), store_path, checkpoint)


def retention_matrix(store: DataFrame) -> DataFrame:
    """The q96 output shape from the retention store: cohort DATE ×
    offset ≤ 7, distinct-user counts."""
    return (
        store.filter(F.col("offset_days") <= 7)
        .groupBy(
            F.date_from_unix_date("cohort_day").alias("cohort_day"),
            "offset_days",
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )

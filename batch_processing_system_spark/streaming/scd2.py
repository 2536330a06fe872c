"""Incremental SCD2 — the streaming twin of r04 (T2/U3
applyInPandasWithState), completing the batch≡stream story for the
dimension-maintenance shape: type-2 slowly-changing attributes are THE
canonical incremental-vs-rebuild operator (a nightly batch rebuild
recomputes every interval; the stream closes and opens intervals as
changes arrive).

State per user: the single OPEN interval (state, vfrom µs) — O(1), the
minimum the semantics need. Each micro-batch processes the user's
events in (eu, event_id) order; a state change CLOSES the open
interval (emitting its final row) and opens a new one; the open
interval is (re-)emitted every batch the user is touched, with
valid_to_us NULL. Each micro-batch's rows land as the store's own
``bid=<N>`` partition, and the store is read latest-wins per
(user_id, valid_from_us) (``statestore.read_latest``): closed
intervals are immutable once written, the open row is superseded when
a later batch closes it — so the store converges to exactly r04's
batch answer under the time-ordered replay contract (same contract as
the funnel twin; out-of-order arrivals WITHIN a batch are fine, the
batch sorts).

Scale: engine-managed state (RocksDB on a cluster), one entry per
user, constant size; the only shuffle is the stateful groupBy(user).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline.statestore import stream_updates

#: Wire schema: eu = epoch MICROseconds via the same engine.det.epoch_us
#: normalization r04 uses, so batch and stream cannot disagree on
#: timestamp flavor.
SCD2_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("eu", T.LongType()),
    ]
)

_STATE_SCHEMA = "state string, vfrom bigint"
INTERVAL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("valid_to_us", T.LongType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)
#: an interval's identity in the store: its latest emission wins
INTERVAL_KEYS = ["user_id", "valid_from_us"]


def _advance_scd2(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    cur_state, vfrom = state.get if state.exists else (None, 0)
    batch = pd.concat(list(pdfs), ignore_index=True)
    batch = batch.sort_values(["eu", "event_id"])
    out: list[dict] = []
    for eu, etype in zip(batch["eu"], batch["event_type"]):
        eu = int(eu)
        if cur_state is None:
            cur_state, vfrom = etype, eu
        elif etype != cur_state:
            out.append(
                {
                    "user_id": int(user_id),
                    "state": cur_state,
                    "valid_from_us": vfrom,
                    "valid_to_us": eu,
                    "is_current": False,
                }
            )
            cur_state, vfrom = etype, eu
    state.update((cur_state, vfrom))
    out.append(
        {
            "user_id": int(user_id),
            "state": cur_state,
            "valid_from_us": vfrom,
            "valid_to_us": None,
            "is_current": True,
        }
    )
    yield pd.DataFrame(out)


def scd2_stateful(events_stream: DataFrame) -> DataFrame:
    """r04's gaps-and-islands interval build as engine-managed per-user
    state: closed intervals stream out once, the open interval is
    re-emitted (update semantics) until a change closes it."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _advance_scd2,
        outputStructType=INTERVAL_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_scd2_stream(events: DataFrame, store_path: str, checkpoint: str):
    """Replayed-event stream (``SCD2_WIRE_SCHEMA``; the caller builds
    the source) → SCD2 interval store. availableNow trigger for
    catch-up replay; the checkpoint carries file offsets and the
    open-interval state across restarts. Read the store with
    ``read_latest(spark, store_path, INTERVAL_SCHEMA, INTERVAL_KEYS)``."""
    return stream_updates(scd2_stateful(events), store_path, checkpoint)

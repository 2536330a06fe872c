"""Streaming heavy hitters — a mergeable Misra-Gries / SpaceSaving
sketch over the event stream (the classic bounded-memory top-k:
Misra & Gries 1982; mergeability per Agarwal et al., "Mergeable
Summaries", PODS 2012).

Two-level shape, the one that scales:

1. **Map-side pre-summarize** (stateless, per Arrow batch): each
   partition reduces its slice of the micro-batch to a capacity-k
   Misra-Gries summary — (key, weight) item rows plus bookkeeping
   rows carrying the subtracted error mass and the batch row count.
   Shuffle volume per batch is O(partitions × k), never O(events).
2. **Stateful global merge** (applyInPandasWithState on a constant
   key): weighted summaries fold into one capacity-k state. Merge =
   add weights, subtract the (k+1)-th largest, keep the strictly
   positive (≤ k survive by construction); the subtracted value
   joins the accumulated error bound.

Guarantee maintained end-to-end (asserted against exact batch counts
in tests/test_streaming_heavyhitters.py):

    est(x) <= true(x) <= est(x) + err        for tracked x
    true(x) <= err                           for untracked x
    err <= N / (k+1)                         (N = total events seen)

(each subtraction of ``cut`` removes >= (k+1)*cut of arriving mass,
so the cuts across all pre-summaries and merges telescope to
N/(k+1)). Every key with true count > N/(k+1) is therefore
guaranteed tracked. State is O(k); the global merge point sees
O(partitions × k) rows per batch — the aggregation topology of a
distributed top-k dashboard at 100 TB/day.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..pipeline.statestore import stream_updates

DEFAULT_K = 16

#: kind: 0 = tracked item, 1 = subtracted-error mass, 2 = row count
_SUMMARY_SCHEMA = "key bigint, w bigint, kind int"
_STATE_SCHEMA = "keys array<bigint>, counts array<bigint>, err bigint, n bigint"
SKETCH_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType()) for c in ("key", "est", "err", "n")]
)


def _mg_reduce(weighted: dict[int, int], k: int) -> tuple[dict[int, int], int]:
    """Reduce a weighted count dict to <= k entries; returns (kept,
    cut). Exact Misra-Gries step: subtract the (k+1)-th largest
    weight from every counter and keep the strictly positive — ties
    with the cut value drop to zero, so at most k survive."""
    if len(weighted) <= k:
        return dict(weighted), 0
    cut = sorted(weighted.values(), reverse=True)[k]
    return {key: w - cut for key, w in weighted.items() if w > cut}, cut


def summarize_batches(
    pdfs: Iterator[pd.DataFrame], k: int = DEFAULT_K
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage: per Arrow batch, an exact value_counts
    reduced to a k-entry MG summary plus (err, n) bookkeeping rows."""
    for pdf in pdfs:
        weighted = {
            int(key): int(w) for key, w in pdf["user_id"].value_counts().items()
        }
        kept, cut = _mg_reduce(weighted, k)
        rows = [{"key": key, "w": w, "kind": 0} for key, w in kept.items()]
        rows.append({"key": 0, "w": cut, "kind": 1})
        rows.append({"key": 0, "w": int(len(pdf)), "kind": 2})
        yield pd.DataFrame(rows, columns=["key", "w", "kind"])


def _merge_summaries(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState, k: int = DEFAULT_K
) -> Iterator[pd.DataFrame]:
    if state.exists:
        keys, counts, err, n = state.get
        merged = {int(a): int(b) for a, b in zip(keys, counts)}
        err, n = int(err), int(n)
    else:
        merged, err, n = {}, 0, 0
    for pdf in pdfs:
        for key_, w, kind in zip(pdf["key"], pdf["w"], pdf["kind"]):
            w = int(w)
            if kind == 1:
                err += w
            elif kind == 2:
                n += w
            else:
                key_ = int(key_)
                merged[key_] = merged.get(key_, 0) + w
    merged, cut = _mg_reduce(merged, k)
    err += cut
    ordered = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    state.update(([a for a, _ in ordered], [b for _, b in ordered], err, n))
    yield pd.DataFrame(
        [{"key": a, "est": b, "err": err, "n": n} for a, b in ordered],
        columns=["key", "est", "err", "n"],
    )


def heavy_hitters_stateful(
    events_stream: DataFrame, k: int = DEFAULT_K
) -> DataFrame:
    """events_stream needs a user_id column. Returns the sketch
    contents (key, est, err, n) each micro-batch."""
    from pyspark.sql import functions as F

    summaries = events_stream.select("user_id").mapInPandas(
        lambda it: summarize_batches(it, k), schema=_SUMMARY_SCHEMA
    )
    return (
        summaries.withColumn("g", F.lit(1))
        .groupBy("g")
        .applyInPandasWithState(
            lambda key, pdfs, state: _merge_summaries(key, pdfs, state, k),
            outputStructType=SKETCH_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: faceted variant (r79 catalog row): one stream, one sketch PER FACET
#: (e.g. event_type and user_id simultaneously) — the stateful merge
#: groups on the facet name instead of a constant, so each facet gets
#: its own O(k) state while the map-side summarize still makes one
#: pass over the batch. Keys are strings so any column sketches.
_FACET_SUMMARY_SCHEMA = "facet string, key string, w bigint, kind int"
_FACET_STATE_SCHEMA = (
    "keys array<string>, counts array<bigint>, err bigint, n bigint"
)
FACET_SKETCH_SCHEMA = T.StructType(
    [T.StructField("facet", T.StringType()), T.StructField("key", T.StringType())]
    + [T.StructField(c, T.LongType()) for c in ("est", "err", "n")]
)


def summarize_facet_batches(
    pdfs: Iterator[pd.DataFrame], facets: dict[str, str], k: int = DEFAULT_K
) -> Iterator[pd.DataFrame]:
    """mapInPandas stage of the faceted sketch: per Arrow batch, an
    exact value_counts per facet column reduced to k-entry MG summaries
    plus per-facet (err, n) bookkeeping rows. Shuffle volume per batch
    stays O(partitions x k x |facets|)."""
    for pdf in pdfs:
        rows = []
        for facet, col in facets.items():
            weighted = {
                str(key): int(w)
                for key, w in pdf[col].value_counts().items()
            }
            kept, cut = _mg_reduce(weighted, k)
            rows += [
                {"facet": facet, "key": key, "w": w, "kind": 0}
                for key, w in kept.items()
            ]
            rows.append({"facet": facet, "key": "", "w": cut, "kind": 1})
            rows.append(
                {"facet": facet, "key": "", "w": int(len(pdf)), "kind": 2}
            )
        yield pd.DataFrame(rows, columns=["facet", "key", "w", "kind"])


def _merge_facet_summaries(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState, k: int = DEFAULT_K
) -> Iterator[pd.DataFrame]:
    facet = key[0]
    if state.exists:
        keys, counts, err, n = state.get
        merged = {str(a): int(b) for a, b in zip(keys, counts)}
        err, n = int(err), int(n)
    else:
        merged, err, n = {}, 0, 0
    for pdf in pdfs:
        for key_, w, kind in zip(pdf["key"], pdf["w"], pdf["kind"]):
            w = int(w)
            if kind == 1:
                err += w
            elif kind == 2:
                n += w
            else:
                key_ = str(key_)
                merged[key_] = merged.get(key_, 0) + w
    merged, cut = _mg_reduce(merged, k)
    err += cut
    ordered = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))
    state.update(([a for a, _ in ordered], [b for _, b in ordered], err, n))
    yield pd.DataFrame(
        [
            {"facet": facet, "key": a, "est": b, "err": err, "n": n}
            for a, b in ordered
        ],
        columns=["facet", "key", "est", "err", "n"],
    )


def heavy_hitters_faceted(
    stream_df: DataFrame, facets: dict[str, str], k: int = DEFAULT_K
) -> DataFrame:
    """Per-facet MG sketches over one stream pass. ``facets`` maps a
    facet name to the column it sketches; returns (facet, key, est,
    err, n) rows each micro-batch — the same est <= true <= est + err
    / err <= N/(k+1) guarantees as the single-key sketch, per facet.
    When a facet's true distinct-key count never exceeds k, no cut
    ever fires anywhere (map side or merge), so est is EXACT and
    err = 0 — the property r79's tier-1 hash check rides on for the
    event_type facet."""
    summaries = stream_df.select(*dict.fromkeys(facets.values())).mapInPandas(
        lambda it: summarize_facet_batches(it, facets, k),
        schema=_FACET_SUMMARY_SCHEMA,
    )
    return summaries.groupBy("facet").applyInPandasWithState(
        lambda key, pdfs, state: _merge_facet_summaries(key, pdfs, state, k),
        outputStructType=FACET_SKETCH_SCHEMA,
        stateStructType=_FACET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_heavy_hitters_stream(events: DataFrame, store_path: str, checkpoint: str):
    """Event stream (the caller builds the source) → sketch store.
    Every micro-batch writes the whole sketch, so the current sketch is
    the latest batch's rows:
    ``read_latest(spark, store_path, SKETCH_SCHEMA, [])``. The faceted
    twin (r79) streams ``heavy_hitters_faceted`` the same way and reads
    one sketch per facet with keys ``["facet"]``."""
    return stream_updates(heavy_hitters_stateful(events), store_path, checkpoint)

"""Event-time stream-stream join — requests ⋈ results at ingest.

The reference's result loop (/root/reference/README.md:93-95) matches
each arriving result line to the submitted request it answers by
``custom_id``. Batch-side that is J1 (pipeline/process.py joins
outcomes to requests); this module is the STREAMING twin: two live
streams joined on key + event-time range, the one Structured
Streaming operator family the repo had not yet exercised.

Semantics (native Spark stream-stream join, not a foreachBatch
emulation):

- both sides carry a watermark; the join condition is
  ``custom_id`` equality AND ``res_ts`` in
  ``[req_ts, req_ts + horizon]`` — the time-range bound is what lets
  the engine EVICT state: a buffered request can stop waiting once
  the result-side watermark passes ``req_ts + horizon``, and a
  buffered result once the request-side watermark passes ``res_ts``.
  Without the range bound both sides buffer forever (Spark rejects
  unbounded outer joins outright; inner joins silently grow state) —
  the bound IS the 100 TB posture.
- ``how='inner'``: matched (request, result) pairs with latency.
- ``how='left_outer'``: additionally emits each expired request once
  (NULL result columns) after the watermark crosses its horizon — the
  streaming analog of the batch left join's NULL rows, i.e. the
  "still unanswered after the deadline" monitor the spec's polling
  loop implements batch-side.

State bound: each side buffers only rows younger than
watermark − horizon; tests assert the post-run state-store row count
stays below the corpus size under multi-wave replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline.statestore import write_bid_store

REQUEST_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("custom_id", T.StringType()),
        T.StructField("req_ts", T.TimestampType()),
        T.StructField("model", T.StringType()),
    ]
)

RESULT_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("custom_id", T.StringType()),
        T.StructField("res_ts", T.TimestampType()),
        T.StructField("status", T.StringType()),
    ]
)

JOINED_SCHEMA = T.StructType(
    REQUEST_WIRE_SCHEMA.fields
    + RESULT_WIRE_SCHEMA.fields[1:]
    + [T.StructField("latency_ms", T.LongType())]
)


def join_requests_results(
    requests: DataFrame,
    results: DataFrame,
    horizon_seconds: int = 3600,
    delay_seconds: int = 60,
    how: str = "inner",
) -> DataFrame:
    """Join a request stream to a result stream on custom_id within
    ``[req_ts, req_ts + horizon_seconds]``, tolerating
    ``delay_seconds`` of out-of-order arrival on both sides.

    Works identically on batch DataFrames (the watermark is a no-op
    there) — tests replay the same frames through both modes and
    assert equality."""
    if how not in ("inner", "left_outer"):
        raise ValueError(f"join_requests_results: unsupported how={how!r}")
    req = requests.withWatermark("req_ts", f"{delay_seconds} seconds").alias("req")
    res = results.withWatermark("res_ts", f"{delay_seconds} seconds").alias("res")
    cond = (
        (F.col("req.custom_id") == F.col("res.custom_id"))
        & (F.col("res.res_ts") >= F.col("req.req_ts"))
        & (
            F.col("res.res_ts")
            <= F.col("req.req_ts") + F.expr(f"INTERVAL {horizon_seconds} SECONDS")
        )
    )
    joined = req.join(res, cond, how)
    return joined.select(
        F.col("req.custom_id").alias("custom_id"),
        F.col("req.req_ts").alias("req_ts"),
        F.col("req.model").alias("model"),
        F.col("res.res_ts").alias("res_ts"),
        F.col("res.status").alias("status"),
        (
            (F.unix_micros(F.col("res.res_ts")) - F.unix_micros(F.col("req.req_ts")))
            / F.lit(1000)
        ).cast("bigint").alias("latency_ms"),
    )


def run_request_result_join_stream(
    requests: DataFrame,
    results: DataFrame,
    out_path: str,
    checkpoint: str,
    horizon_seconds: int = 3600,
    delay_seconds: int = 60,
    how: str = "inner",
):
    """Request and result streams (``REQUEST_WIRE_SCHEMA`` /
    ``RESULT_WIRE_SCHEMA``; the caller builds the sources) → the joined
    rows as a bid log at ``out_path`` (read it with
    ``read_bid_store(spark, out_path, JOINED_SCHEMA)``). The join itself
    is engine-managed state, checkpoint-recoverable across runs."""
    joined = join_requests_results(
        requests, results, horizon_seconds, delay_seconds, how=how
    )
    return (
        joined.writeStream.foreachBatch(
            lambda df, bid: write_bid_store(df, out_path, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )

"""Batch≡stream equality for the event-time stream-stream join
(streaming/ssjoin.py): the same request/result frames replayed as
files must produce exactly the batch join's rows; left-outer emits
expired requests once; per-side state stays bounded by the watermark
horizon instead of growing with the corpus."""

from __future__ import annotations

import json
from datetime import datetime, timedelta

import pytest

from batch_processing_system_spark.pipeline.statestore import read_bid_store
from batch_processing_system_spark.streaming.ssjoin import (
    JOINED_SCHEMA,
    REQUEST_WIRE_SCHEMA,
    RESULT_WIRE_SCHEMA,
    join_requests_results,
    run_request_result_join_stream,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)
HORIZON = 600  # seconds a request waits for its result
DELAY = 60


def _iso(dt):
    return dt.strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _mk_data():
    """300 requests, one per 10 s; results arrive with per-key lag:
    2/3 inside the horizon, 1/6 after it (expired), 1/6 never."""
    reqs, ress = [], []
    for i in range(300):
        rt = T0 + timedelta(seconds=10 * i)
        reqs.append(
            {"custom_id": f"doc-{i:04d}", "req_ts": _iso(rt), "model": "m1"}
        )
        if i % 6 == 5:
            continue  # never answered
        lag = HORIZON + 120 if i % 6 == 4 else 30 + (i % 4) * 100
        ress.append(
            {
                "custom_id": f"doc-{i:04d}",
                "res_ts": _iso(rt + timedelta(seconds=lag)),
                "status": "completed" if i % 3 else "failed",
            }
        )
    # the stream contract: out-of-orderness ≤ the watermark delay.
    # Results are generated keyed by request, so re-sort them into
    # arrival (event-time) order — a result arriving 690 s early
    # against a 60 s watermark would be legitimately dropped by the
    # engine, which is watermark semantics, not join semantics.
    ress.sort(key=lambda r: r["res_ts"])
    # watermark pushers on BOTH sides: the engine's global watermark
    # is the MIN across the two inputs (multipleWatermarkPolicy=min),
    # so outer-row eviction needs the REQUEST-side watermark advanced
    # past the horizon too, not just the result side's
    ress.append(
        {
            "custom_id": "sentinel_res",
            "res_ts": _iso(T0 + timedelta(days=2)),
            "status": "completed",
        }
    )
    reqs.append(
        {
            "custom_id": "sentinel_req",
            "req_ts": _iso(T0 + timedelta(days=2)),
            "model": "m1",
        }
    )
    return reqs, ress


def _waves(rows, d, n=3):
    import os

    d.mkdir(parents=True, exist_ok=True)
    per = (len(rows) + n - 1) // n
    for w in range(n):
        chunk = rows[w * per : (w + 1) * per]
        if chunk:
            p = d / f"wave{w}.jsonl"
            p.write_text("\n".join(json.dumps(r) for r in chunk) + "\n")
            # the file source replays in MODIFICATION-TIME order; three
            # sub-millisecond writes can tie (and then replay out of
            # order, pushing the watermark past unread waves) — pin
            # strictly increasing mtimes to make replay deterministic
            os.utime(p, (1700000000 + 60 * w, 1700000000 + 60 * w))


def _batch_frames(spark, tmp_path):
    reqs, ress = _mk_data()
    _waves(reqs, tmp_path / "reqs")
    _waves(ress, tmp_path / "ress")
    # second watermark pusher in its OWN file: eviction (and thus
    # outer-row emission) happens at the start of the batch AFTER the
    # one that advanced the watermark — without a trailing batch the
    # final watermark is computed but never applied
    import os

    flush_res = tmp_path / "ress" / "wave9_flush.jsonl"
    flush_res.write_text(
        json.dumps(
            {
                "custom_id": "sentinel_res2",
                "res_ts": _iso(T0 + timedelta(days=3)),
                "status": "completed",
            }
        )
        + "\n"
    )
    os.utime(flush_res, (1700009000, 1700009000))
    flush_req = tmp_path / "reqs" / "wave9_flush.jsonl"
    flush_req.write_text(
        json.dumps(
            {
                "custom_id": "sentinel_req2",
                "req_ts": _iso(T0 + timedelta(days=3)),
                "model": "m1",
            }
        )
        + "\n"
    )
    os.utime(flush_req, (1700009000, 1700009000))
    req_df = spark.read.schema(REQUEST_WIRE_SCHEMA).json(str(tmp_path / "reqs"))
    res_df = spark.read.schema(RESULT_WIRE_SCHEMA).json(str(tmp_path / "ress"))
    return req_df, res_df


def _rows(df):
    """Joined rows, minus the watermark-pusher sentinels: a sentinel
    request's own outer row can never expire (nothing pushes the
    watermark past IT), so it is stream-pending by construction while
    the batch join emits it — excluded from the equality on both
    sides."""
    return {
        (
            r["custom_id"],
            r["req_ts"],
            r["model"],
            r["res_ts"],
            r["status"],
            r["latency_ms"],
        )
        for r in df.collect()
        if r["custom_id"].startswith("doc-")
    }


class TestStreamStreamJoin:
    @pytest.mark.parametrize("how", ["inner", "left_outer"])
    def test_stream_equals_batch(self, spark, tmp_path, how):
        req_df, res_df = _batch_frames(spark, tmp_path)
        expected = _rows(
            join_requests_results(req_df, res_df, HORIZON, DELAY, how=how)
        )
        out = tmp_path / f"out_{how}"
        q = run_request_result_join_stream(
            spark.readStream.schema(REQUEST_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(tmp_path / "reqs")),
            spark.readStream.schema(RESULT_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(tmp_path / "ress")),
            str(out),
            str(tmp_path / f"ckpt_{how}"),
            HORIZON,
            DELAY,
            how=how,
        ).start()
        q.awaitTermination()
        progress = q.lastProgress
        got = _rows(read_bid_store(spark, str(out), JOINED_SCHEMA))
        assert got == expected
        if how == "inner":
            # 2/3 of the 300 requests answered inside the horizon
            assert len(got) == 200
        else:
            # every request exactly once: matched rows + NULL rows for
            # expired (i%6==4) and never-answered (i%6==5) requests
            assert len(got) == 300
            nulls = {r[0] for r in got if r[3] is None}
            assert len(nulls) == 100
        # state bounded by the watermark horizon: after the final
        # watermark (sentinel at T0+2d) passes, expired state is
        # evicted rather than retained corpus-sized
        state = (progress or {}).get("stateOperators") or []
        if state:
            assert state[0]["numRowsTotal"] < 350

    def test_bad_how_rejected(self, spark, tmp_path):
        req_df, res_df = _batch_frames(spark, tmp_path)
        with pytest.raises(ValueError, match="unsupported how"):
            join_requests_results(req_df, res_df, how="full_outer")

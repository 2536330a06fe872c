"""Pipeline integration tests (SURVEY §5.2 items 2-3) — the spec's
"Poller level" strategy (/root/reference/README.md:176-178): seed jobs
and documents, fake the remote, run a full submission→poll→process
cycle, assert state transitions and document updates.

All fixtures use fixed timestamps and zero-padded ids (FIXTURES.md
determinism note).
"""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.pipeline.run import (
    run_poll_cycle,
    submit_batch,
    with_retry,
)
from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA
from batch_processing_system_spark.pipeline.state import (
    active_jobs,
    latest_state_per_job,
)

T0 = datetime(2024, 1, 1, 12, 0, 0)
SCHEMA_JSON = json.dumps(
    {
        "type": "object",
        "properties": {"sentiment": {"type": "string"}, "score": {"type": "number"}},
        "required": ["sentiment"],
    }
)


class FakeRemote:
    """Deterministic stand-in for the OpenAI boundary; scriptable
    statuses and injectable transient failures (spec :178)."""

    def __init__(self, statuses=None, result_files_map=None, fail_first_n=0):
        self.statuses = statuses or {}
        self.files = result_files_map or {}
        self.fails_remaining = fail_first_n
        self.calls = 0
        self.uploaded_paths = {}

    def _maybe_fail(self):
        self.calls += 1
        if self.fails_remaining > 0:
            self.fails_remaining -= 1
            raise ConnectionError("transient boundary failure")

    def upload(self, path):
        self._maybe_fail()
        self.uploaded_paths["file-input-001"] = path
        return "file-input-001"

    def download(self, file_id):
        self._maybe_fail()
        return self.uploaded_paths[file_id]

    def create_batch(self, file_id):
        self._maybe_fail()
        return "batch-001"

    def retrieve(self, batch_id):
        self._maybe_fail()
        return self.statuses[batch_id]

    def result_files(self, batch_id):
        return self.files.get(batch_id, (None, None))


@pytest.fixture()
def docs(spark):
    rows = [
        (f"doc-{i:03d}", "pending", [], json.dumps({"n": i})) for i in range(5)
    ]
    return spark.createDataFrame(rows, DOCUMENT_SCHEMA)


def _write_jsonl(tmp_path, name, records):
    p = tmp_path / name
    p.write_text("\n".join(json.dumps(r) for r in records) + "\n")
    return str(p)


def good_request(i, model="gpt-test"):
    return {
        "custom_id": f"doc-{i:03d}",
        "method": "POST",
        "url": "/v1/chat/completions",
        "body": {"model": model, "messages": "[]"},
    }


def result_line(i, content=None, error=None):
    if error is not None:
        return {"custom_id": f"doc-{i:03d}", "error": {"code": "x", "message": error}}
    return {
        "custom_id": f"doc-{i:03d}",
        "response": {"body": {"choices": [{"message": {"content": content}}]}},
    }


class TestSubmission:
    def test_accepts_valid_batch_and_marks_docs(self, spark, docs, tmp_path):
        path = _write_jsonl(tmp_path, "req.jsonl", [good_request(i) for i in range(3)])
        out = submit_batch(spark, path, SCHEMA_JSON, docs, FakeRemote(), "job-1", T0)
        assert out.job_id == "job-1"
        assert out.errors == []
        job = out.jobs.collect()[0]
        assert (job["status"], job["openai_batch_id"], job["model"]) == (
            "submitted",
            "batch-001",
            "gpt-test",
        )
        marks = {r["_id"]: r["ai_status"] for r in out.marked_docs.collect()}
        assert marks["doc-000"] == "in_progress"
        assert marks["doc-004"] == "pending"  # untargeted doc untouched

    def test_rejects_mixed_models_with_line_numbers(self, spark, docs, tmp_path):
        recs = [good_request(0), good_request(1, model="other-model"), good_request(2)]
        path = _write_jsonl(tmp_path, "req.jsonl", recs)
        out = submit_batch(spark, path, SCHEMA_JSON, docs, FakeRemote(), "job-1", T0)
        assert out.job_id is None
        [err] = out.errors
        assert err["type"] == "model_mismatch"
        assert err["line"] == 2  # 1-based position of the offending line

    def test_rejects_unknown_custom_id(self, spark, docs, tmp_path):
        path = _write_jsonl(tmp_path, "req.jsonl", [good_request(0), good_request(99)])
        out = submit_batch(spark, path, SCHEMA_JSON, docs, FakeRemote(), "job-1", T0)
        types = {e["type"] for e in out.errors}
        assert types == {"custom_id_not_found"}
        assert out.errors[0]["line"] == 2

    def test_rejects_malformed_lines_and_bad_schema(self, spark, docs, tmp_path):
        p = tmp_path / "req.jsonl"
        p.write_text(json.dumps(good_request(0)) + "\nnot json at all\n")
        out = submit_batch(spark, str(p), "{not json", docs, FakeRemote(), "job-1", T0)
        types = sorted(e["type"] for e in out.errors)
        assert types == ["jsonl_format_error", "schema_validation_error"]

    def test_get_requests_rejected(self, spark, docs, tmp_path):
        bad = good_request(0)
        bad["method"] = "GET"
        path = _write_jsonl(tmp_path, "req.jsonl", [bad])
        out = submit_batch(spark, path, SCHEMA_JSON, docs, FakeRemote(), "job-1", T0)
        assert [e["type"] for e in out.errors] == ["jsonl_format_error"]


class TestPollCycle:
    def _submitted_jobs(self, spark, docs, tmp_path, remote):
        path = _write_jsonl(tmp_path, "req.jsonl", [good_request(i) for i in range(3)])
        out = submit_batch(spark, path, SCHEMA_JSON, docs, remote, "job-1", T0)
        return out.jobs, out.marked_docs

    def test_transient_states_keep_job_active(self, spark, docs, tmp_path):
        remote = FakeRemote(statuses={"batch-001": "in_progress"})
        jobs, docs2 = self._submitted_jobs(spark, docs, tmp_path, remote)
        jobs2, _ = run_poll_cycle(spark, jobs, docs2, remote, T0)
        row = jobs2.collect()[0]
        assert row["status"] == "submitted"
        assert row["openai_status"] == "in_progress"
        assert active_jobs(jobs2).count() == 1

    def test_failed_remote_status_fails_job(self, spark, docs, tmp_path):
        remote = FakeRemote(statuses={"batch-001": "expired"})
        jobs, docs2 = self._submitted_jobs(spark, docs, tmp_path, remote)
        jobs2, _ = run_poll_cycle(spark, jobs, docs2, remote, T0)
        assert jobs2.collect()[0]["status"] == "failed"
        assert active_jobs(jobs2).count() == 0

    def test_failed_job_propagates_to_targeted_docs(self, spark, docs, tmp_path):
        """Spec §5 failed/expired recommendation: the job's OWN
        in_progress docs flip to failed (custom_ids recovered from the
        persisted input JSONL); untargeted docs are untouched."""
        remote = FakeRemote(statuses={"batch-001": "failed"})
        jobs, docs2 = self._submitted_jobs(spark, docs, tmp_path, remote)
        _, docs3 = run_poll_cycle(spark, jobs, docs2, remote, T0)
        state = {r["_id"]: r["ai_status"] for r in docs3.collect()}
        # docs 0-2 were targeted (submit marked them in_progress)
        assert state["doc-000"] == "failed"
        assert state["doc-001"] == "failed"
        assert state["doc-002"] == "failed"
        # docs 3-4 were never targeted
        assert state["doc-003"] == "pending"
        assert state["doc-004"] == "pending"

    def test_completed_job_processes_results(self, spark, docs, tmp_path):
        ok = json.dumps({"sentiment": "positive", "score": 0.9})
        out_path = _write_jsonl(
            tmp_path,
            "out.jsonl",
            [result_line(0, content=ok), result_line(1, content="not a json object")],
        )
        err_path = _write_jsonl(tmp_path, "err.jsonl", [result_line(2, error="boom")])
        remote = FakeRemote(
            statuses={"batch-001": "completed"},
            result_files_map={"batch-001": (out_path, err_path)},
        )
        jobs, docs2 = self._submitted_jobs(spark, docs, tmp_path, remote)
        jobs3, docs3 = run_poll_cycle(spark, jobs, docs2, remote, T0)

        assert jobs3.collect()[0]["status"] == "completed"
        state = {r["_id"]: r for r in docs3.collect()}
        # valid content → completed + appended event_response (:100)
        assert state["doc-000"]["ai_status"] == "completed"
        [item] = state["doc-000"]["event_response"]
        assert json.loads(item["event_response"])["sentiment"] == "positive"
        assert item["updated"] == T0
        # schema-invalid content → failed, array untouched (:101)
        assert state["doc-001"]["ai_status"] == "failed"
        assert state["doc-001"]["event_response"] == []
        # error line → failed (:102)
        assert state["doc-002"]["ai_status"] == "failed"
        # untargeted doc untouched
        assert state["doc-004"]["ai_status"] == "pending"


class TestRetry:
    def test_retry_succeeds_after_transient_failures(self):
        calls = {"n": 0}

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise ConnectionError("boom")
            return "ok"

        assert with_retry(flaky, max_attempts=3, sleep=lambda _: None) == "ok"
        assert calls["n"] == 3

    def test_retry_exhausts_and_raises(self):
        def always_fails():
            raise ConnectionError("boom")

        with pytest.raises(ConnectionError):
            with_retry(always_fails, max_attempts=3, sleep=lambda _: None)

    def test_poll_cycle_survives_persistent_remote_failure(self, spark, tmp_path):
        docs = spark.createDataFrame(
            [("doc-000", "pending", [], "{}")],
            DOCUMENT_SCHEMA,
        )
        path = _write_jsonl(tmp_path, "req.jsonl", [good_request(0)])
        remote = FakeRemote(statuses={"batch-001": "completed"})
        out = submit_batch(spark, path, SCHEMA_JSON, docs, remote, "job-1", T0)
        remote.fails_remaining = 99  # every retrieve fails from now on
        jobs2, docs2 = run_poll_cycle(spark, out.jobs, out.marked_docs, remote, T0)
        # job untouched → picked up again next cycle (spec :84)
        assert jobs2.collect()[0]["status"] == "submitted"


def _optimized_joins(df):
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return sum(1 for line in plan.splitlines() if line.lstrip(" :+-").startswith("Join "))


class TestOneMergePerTick:
    """A tick applies every finished job's document updates in ONE
    upsert_documents, and upsert_documents applies at most one update
    per document: a failure beats an item, the smallest item beats the
    rest, and the document count never changes."""

    def _state(self, spark, tmp_path, n_docs, targets):
        """Docs and jobs snapshots read back from parquet, as the CLI and
        the server do. ``targets`` maps job id ``job-k`` to the doc
        numbers its upload named; those docs are in_progress, the rest
        pending. Job ``job-k`` has batch ``b-k`` and input file ``f-k``."""
        from batch_processing_system_spark.pipeline.schemas import BATCH_JOB_SCHEMA

        marked = {i for ids in targets.values() for i in ids}
        docs = [
            (f"doc-{i:03d}", "in_progress" if i in marked else "pending", [], "{}")
            for i in range(n_docs)
        ]
        remote = FakeRemote()
        jobs = []
        for job_id, ids in targets.items():
            k = job_id.split("-")[1]
            inputs = _write_jsonl(tmp_path, f"in-{k}.jsonl", [good_request(i) for i in ids])
            remote.uploaded_paths[f"f-{k}"] = inputs
            jobs.append((job_id, f"b-{k}", f"f-{k}", None, None, "submitted", None,
                         SCHEMA_JSON, "store://test", "documents", "gpt-test", T0, T0))
        spark.createDataFrame(docs, DOCUMENT_SCHEMA).write.parquet(str(tmp_path / "docs"))
        spark.createDataFrame(jobs, BATCH_JOB_SCHEMA).write.parquet(str(tmp_path / "jobs"))
        return (
            spark.read.schema(BATCH_JOB_SCHEMA).parquet(str(tmp_path / "jobs")),
            spark.read.schema(DOCUMENT_SCHEMA).parquet(str(tmp_path / "docs")),
            remote,
        )

    @staticmethod
    def _docs(df):
        return {
            r["_id"]: (r["ai_status"], [i["event_response"] for i in r["event_response"]])
            for r in df.collect()
        }

    def test_one_join_and_sequential_outcome(self, spark, tmp_path):
        ok = json.dumps({"sentiment": "positive"})
        targets = {"job-1": [0, 1], "job-2": [2, 3], "job-3": [4]}
        jobs, docs, remote = self._state(spark, tmp_path, 6, targets)
        remote.statuses = {"b-1": "completed", "b-2": "completed", "b-3": "failed"}
        remote.files = {
            "b-1": (_write_jsonl(tmp_path, "out-1.jsonl", [result_line(0, content=ok)]),
                    _write_jsonl(tmp_path, "err-1.jsonl", [result_line(1, error="boom")])),
            "b-2": (_write_jsonl(tmp_path, "out-2.jsonl",
                                 [result_line(2, content=ok), result_line(3, content="x")]),
                    None),
        }
        # failed first, as the per-job chain ran them
        order = ["job-3", "job-1", "job-2"]
        for n in (1, 2):
            some = jobs.filter(F.col("_id").isin(order[:n]))
            assert _optimized_joins(run_poll_cycle(spark, some, docs, remote, T0)[1]) == 1
        new_jobs, new_docs = run_poll_cycle(spark, jobs, docs, remote, T0)
        assert _optimized_joins(new_docs) == 1

        seq = docs
        for job_id in order:
            _, seq = run_poll_cycle(spark, jobs.filter(F.col("_id") == job_id), seq, remote, T0)
        state = self._docs(new_docs)
        assert state == self._docs(seq)
        assert state == {
            "doc-000": ("completed", [ok]),
            "doc-001": ("failed", []),
            "doc-002": ("completed", [ok]),
            "doc-003": ("failed", []),
            "doc-004": ("failed", []),
            "doc-005": ("pending", []),
        }
        assert {r["_id"]: r["status"] for r in new_jobs.collect()} == {
            "job-1": "completed", "job-2": "completed", "job-3": "failed"
        }

    def test_two_updates_for_one_document(self, spark, tmp_path):
        """A failed and a completed job target doc-000, and one result
        file has two lines each for doc-001 and doc-002."""
        jobs, docs, remote = self._state(spark, tmp_path, 3, {"job-1": [0], "job-2": [0, 1, 2]})
        a, b = json.dumps({"sentiment": "a"}), json.dumps({"sentiment": "b"})
        out = _write_jsonl(tmp_path, "out.jsonl", [
            result_line(0, content=a),
            result_line(1, content=b), result_line(1, content=a),
            result_line(2, content=a), result_line(2, content="not json"),
        ])
        remote.statuses = {"b-1": "failed", "b-2": "completed"}
        remote.files = {"b-2": (out, None)}
        _, new_docs = run_poll_cycle(spark, jobs, docs, remote, T0)
        assert self._docs(new_docs) == {
            "doc-000": ("failed", []),  # a failure beats an item
            "doc-001": ("completed", [a]),  # the smallest item, once
            "doc-002": ("failed", []),
        }

    def test_result_files_failure_keeps_job_active(self, spark, tmp_path, caplog, monkeypatch):
        """result_files failing on every retry leaves that job active
        with its docs in_progress; the other job in the tick completes."""
        from types import SimpleNamespace

        from batch_processing_system_spark.pipeline import run as run_module

        # no backoff, patched in run's namespace only: a no-op time.sleep
        # for the whole process would set py4j's polling threads spinning
        monkeypatch.setattr(run_module, "time", SimpleNamespace(sleep=lambda s: None))
        ok = json.dumps({"sentiment": "positive"})
        jobs, docs, remote = self._state(spark, tmp_path, 3, {"job-1": [0], "job-2": [1]})
        remote.statuses = {"b-1": "completed", "b-2": "completed"}
        remote.files = {
            "b-2": (_write_jsonl(tmp_path, "out.jsonl", [result_line(1, content=ok)]), None)
        }
        fetch = remote.result_files

        def result_files(batch_id):
            if batch_id == "b-1":
                raise ConnectionError("result files unavailable")
            return fetch(batch_id)

        remote.result_files = result_files
        with caplog.at_level("ERROR", logger="batch_processing_system_spark.pipeline"):
            new_jobs, new_docs = run_poll_cycle(spark, jobs, docs, remote, T0)
        rows = {r["_id"]: r for r in new_jobs.collect()}
        assert rows["job-1"]["status"] == "processing"
        assert rows["job-1"]["output_file_id"] is None
        assert active_jobs(new_jobs).select("_id").collect() == [("job-1",)]
        assert rows["job-2"]["status"] == "completed"
        assert self._docs(new_docs) == {
            "doc-000": ("in_progress", []),
            "doc-001": ("completed", [ok]),
            "doc-002": ("pending", []),
        }
        assert any('"event": "result_files_failed"' in r.message for r in caplog.records)


class TestLatestState:
    def test_event_log_view_picks_latest(self, spark):
        from datetime import timedelta

        rows = [
            ("job-1", "b-1", None, None, None, "submitted", None, "{}", "u", "c", "m",
             T0, T0),
            ("job-1", "b-1", None, None, None, "processing", "completed", "{}", "u", "c",
             "m", T0, T0 + timedelta(minutes=5)),
        ]
        from batch_processing_system_spark.pipeline.schemas import BATCH_JOB_SCHEMA

        log = spark.createDataFrame(rows, BATCH_JOB_SCHEMA)
        latest = latest_state_per_job(log).collect()
        assert len(latest) == 1
        assert latest[0]["status"] == "processing"


class TestStatusConfig:
    """Spec README.md:147-148: STATUS_FIELD_NAME and STATUS_VALUES are
    deployment-configurable. The accessors read the env at call time,
    so an override flows through submit → poll → result upsert without
    code changes — pinned end-to-end with a renamed field and a fully
    renamed value set."""

    ENV = {
        "STATUS_FIELD_NAME": "doc_state",
        "STATUS_VALUES": json.dumps(
            {"in_progress": "busy", "completed": "ok", "failed": "err"}
        ),
    }

    def test_override_flows_end_to_end(self, spark, tmp_path, monkeypatch):
        from batch_processing_system_spark.pipeline.schemas import (
            document_schema,
            status_field,
            status_values,
        )

        for k, v in self.ENV.items():
            monkeypatch.setenv(k, v)
        assert status_field() == "doc_state"
        assert status_values() == ("busy", "ok", "err")
        rows = [
            (f"doc-{i:03d}", "pending", [], json.dumps({"n": i})) for i in range(5)
        ]
        docs = spark.createDataFrame(rows, document_schema())

        ok = json.dumps({"sentiment": "positive", "score": 0.9})
        out_path = _write_jsonl(tmp_path, "out.jsonl", [result_line(0, content=ok)])
        err_path = _write_jsonl(tmp_path, "err.jsonl", [result_line(2, error="boom")])
        remote = FakeRemote(
            statuses={"batch-001": "completed"},
            result_files_map={"batch-001": (out_path, err_path)},
        )
        path = _write_jsonl(tmp_path, "req.jsonl", [good_request(i) for i in range(3)])
        out = submit_batch(spark, path, SCHEMA_JSON, docs, remote, "job-1", T0)
        marks = {r["_id"]: r["doc_state"] for r in out.marked_docs.collect()}
        assert marks["doc-000"] == "busy" and marks["doc-004"] == "pending"

        _, docs3 = run_poll_cycle(spark, out.jobs, out.marked_docs, remote, T0)
        state = {r["_id"]: r for r in docs3.collect()}
        assert state["doc-000"]["doc_state"] == "ok"
        assert state["doc-002"]["doc_state"] == "err"
        # doc-001 was targeted but got no result line: still busy
        assert state["doc-001"]["doc_state"] == "busy"
        assert state["doc-004"]["doc_state"] == "pending"

    def test_defaults_unchanged_without_env(self):
        from batch_processing_system_spark.pipeline.schemas import (
            DOCUMENT_SCHEMA,
            document_schema,
            status_field,
            status_values,
        )

        assert status_field() == "ai_status"
        assert status_values() == ("in_progress", "completed", "failed")
        assert document_schema() == DOCUMENT_SCHEMA

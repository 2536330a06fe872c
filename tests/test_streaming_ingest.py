"""End-to-end continuous result ingestion into the manifest-committed
store: files arrive in two waves, each availableNow run merges them;
offsets in the checkpoint prevent reprocessing (exactly-once per file),
and a replayed micro-batch is a no-op (transition gate)."""

from __future__ import annotations

import json
from datetime import datetime

from batch_processing_system_spark.pipeline.commitstore import (
    current_version,
    init_store,
    read_store,
)
from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA
from batch_processing_system_spark.streaming.ingest import stream_results_into_store

T0 = datetime(2024, 1, 1, 12, 0, 0)
SCHEMA_JSON = json.dumps(
    {"type": "object", "properties": {"answer": {"type": "string"}}, "required": ["answer"]}
)
OK = json.dumps({"answer": "yes"})


def result_line(doc, content=None, error=None):
    if error is not None:
        return {"custom_id": doc, "error": {"code": "x", "message": error}}
    return {
        "custom_id": doc,
        "response": {"body": {"choices": [{"message": {"content": content}}]}},
    }


def _setup(spark, tmp_path):
    root = str(tmp_path / "store")
    docs = spark.createDataFrame(
        [(f"doc-{i}", "in_progress", [], "{}") for i in range(20)],
        DOCUMENT_SCHEMA,
    )
    init_store(docs, root, n_buckets=4)
    incoming = tmp_path / "incoming"
    incoming.mkdir()
    (incoming / "wave1.jsonl").write_text(
        json.dumps(result_line("doc-1", content=OK)) + "\n"
        + json.dumps(result_line("doc-2", error="boom")) + "\n"
    )
    return root, incoming


def _run(spark, incoming, root, ckpt):
    q = (
        stream_results_into_store(spark, str(incoming), root, SCHEMA_JSON, ckpt, T0)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _state(spark, root, version=None):
    return {r["_id"]: r for r in read_store(spark, root, version).collect()}


class TestContinuousIngest:
    def test_two_waves_merge_exactly_once(self, spark, tmp_path):
        root, incoming = _setup(spark, tmp_path)
        ckpt = str(tmp_path / "ckpt")
        _run(spark, incoming, root, ckpt)
        state = _state(spark, root)
        assert state["doc-1"]["ai_status"] == "completed"
        assert len(state["doc-1"]["event_response"]) == 1
        assert state["doc-2"]["ai_status"] == "failed"
        assert state["doc-3"]["ai_status"] == "in_progress"

        # wave 2 on the SAME checkpoint: only the new file is processed
        # (wave1 offsets committed), as one more manifest version
        (incoming / "wave2.jsonl").write_text(
            json.dumps(result_line("doc-3", content=OK)) + "\n"
        )
        _run(spark, incoming, root, ckpt)
        assert current_version(root) == 3
        state = _state(spark, root)
        assert state["doc-3"]["ai_status"] == "completed"
        # doc-1 NOT reprocessed: still exactly one appended item
        assert len(state["doc-1"]["event_response"]) == 1
        assert len(state) == 20


class TestContinuousIngestCommitStore:
    """Replayed batches are no-ops (transition gate) and every
    micro-batch is one atomic manifest commit."""

    def test_merge_bumps_version_and_is_replay_idempotent(self, spark, tmp_path):
        root, incoming = _setup(spark, tmp_path)
        _run(spark, incoming, root, str(tmp_path / "ckpt"))
        assert current_version(root) == 2
        state = _state(spark, root)
        assert state["doc-1"]["ai_status"] == "completed"
        assert len(state["doc-1"]["event_response"]) == 1
        assert state["doc-2"]["ai_status"] == "failed"
        assert state["doc-3"]["ai_status"] == "in_progress"

        # simulate a post-crash replay of the SAME micro-batch: a fresh
        # checkpoint reprocesses wave1 — the gate makes it a no-op
        # (new manifest version, identical content, no double-push)
        _run(spark, incoming, root, str(tmp_path / "ckpt2"))
        assert current_version(root) == 3
        state2 = _state(spark, root)
        assert len(state2["doc-1"]["event_response"]) == 1  # not doubled
        assert state2["doc-1"]["ai_status"] == "completed"
        # old snapshot remains readable (time travel)
        assert _state(spark, root, version=1)["doc-1"]["ai_status"] == "in_progress"

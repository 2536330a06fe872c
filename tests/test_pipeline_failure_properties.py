"""Failure-path PROPERTY tests for the pipeline (spec §9 error
matrix, /root/reference/README.md:159-164): a hypothesis sweep over
randomized scenarios — remote status × transient-vs-persistent
boundary failures × per-document result outcomes (valid / schema-
invalid / error object / malformed mid-file line / missing-from-a-
partial-file) × error-object placement (results file vs error file) —
each driven through submit_batch + run_poll_cycle with full post-state
assertions. The example-based integration tests (test_pipeline.py)
pin one path each; this file pins the INVARIANTS that must hold on
every path:

  I1  untargeted documents are never touched;
  I2  a persistent remote failure leaves ALL state unchanged and the
      job active for the next scheduled run (:161);
  I3  a transient remote status keeps the job active, docs untouched;
  I4  failed/expired flips the job AND exactly its in_progress
      targets to failed (:162), arrays untouched;
  I5  completed: valid→completed+$push, schema-invalid/error→failed
      with event_response NOT modified (:163), malformed/missing
      lines leave their doc in_progress (a partial file must not
      invent outcomes);
  I6  re-running the cycle after completion is a no-op (idempotency).
"""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime
from types import SimpleNamespace

import pytest
from hypothesis import HealthCheck, given, settings

from tests.conftest import prop_examples
from hypothesis import strategies as st

from batch_processing_system_spark.pipeline import run as run_module
from batch_processing_system_spark.pipeline.run import (
    run_poll_cycle,
    submit_batch,
)
from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA
from batch_processing_system_spark.pipeline.state import (
    active_jobs,
    latest_state_per_job,
)

from .test_pipeline import SCHEMA_JSON, T0, good_request, result_line
from .test_pipeline import FakeRemote

N_DOCS = 5
OUTCOMES = ("valid", "invalid", "error", "malformed", "missing")

scenario = st.fixed_dictionaries(
    {
        "targeted": st.sets(
            st.integers(0, N_DOCS - 1), min_size=1, max_size=N_DOCS
        ),
        "status": st.sampled_from(
            ("in_progress", "validating", "finalizing",
             "completed", "failed", "expired")
        ),
        "fail_n": st.integers(0, 4),
        "outcomes": st.tuples(*([st.sampled_from(OUTCOMES)] * N_DOCS)),
        "errors_in_error_file": st.booleans(),
    }
)


@pytest.fixture(autouse=True)
def _no_backoff_sleep(monkeypatch):
    # in run's namespace only: a no-op time.sleep for the whole process
    # sets py4j's polling threads spinning on the GIL
    monkeypatch.setattr(run_module, "time", SimpleNamespace(sleep=lambda s: None))


def _fresh_docs(spark):
    rows = [
        (f"doc-{i:03d}", "pending", [], json.dumps({"n": i}))
        for i in range(N_DOCS)
    ]
    return spark.createDataFrame(rows, DOCUMENT_SCHEMA)


def _write(td: str, name: str, lines: list[str]) -> str:
    p = os.path.join(td, name)
    with open(p, "w") as f:
        f.write("\n".join(lines) + ("\n" if lines else ""))
    return p


VALID_CONTENT = json.dumps({"sentiment": "pos", "score": 1.0})
INVALID_CONTENT = json.dumps({"score": 2.0})  # missing required key


class TestErrorMatrixProperties:
    @settings(
        max_examples=prop_examples(15),
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    @given(s=scenario)
    def test_post_state_invariants(self, spark, s):
        targeted = sorted(s["targeted"])
        with tempfile.TemporaryDirectory() as td:
            path = _write(
                td, "input.jsonl",
                [json.dumps(good_request(i)) for i in targeted],
            )
            remote = FakeRemote(statuses={"batch-001": s["status"]})
            out = submit_batch(
                spark, path, SCHEMA_JSON, _fresh_docs(spark), remote,
                "job-1", T0,
            )
            assert not out.errors
            jobs, docs = out.jobs, out.marked_docs

            if s["status"] == "completed":
                out_lines, err_lines = [], []
                for i in targeted:
                    oc = s["outcomes"][i]
                    if oc == "valid":
                        out_lines.append(
                            json.dumps(result_line(i, content=VALID_CONTENT))
                        )
                    elif oc == "invalid":
                        out_lines.append(
                            json.dumps(result_line(i, content=INVALID_CONTENT))
                        )
                    elif oc == "error":
                        dest = (
                            err_lines if s["errors_in_error_file"] else out_lines
                        )
                        dest.append(json.dumps(result_line(i, error="boom")))
                    elif oc == "malformed":
                        out_lines.append('{"custom_id": not valid json')
                    # "missing": a partial result file — no line at all
                remote.files["batch-001"] = (
                    _write(td, "out.jsonl", out_lines),
                    _write(td, "err.jsonl", err_lines) if err_lines else None,
                )

            remote.fails_remaining = s["fail_n"]
            jobs2, docs2 = run_poll_cycle(spark, jobs, docs, remote, T0)

            state = {r["_id"]: r for r in docs2.collect()}
            jstatus = {
                r["_id"]: r["status"]
                for r in latest_state_per_job(jobs2).collect()
            }["job-1"]
            n_active = active_jobs(jobs2).count()
            persistent = s["fail_n"] >= 3
            transient = s["status"] in (
                "in_progress", "validating", "finalizing",
            )

            # I1: untargeted docs never touched
            for i in range(N_DOCS):
                if i not in targeted:
                    r = state[f"doc-{i:03d}"]
                    assert r["ai_status"] == "pending"
                    assert list(r["event_response"]) == []

            if persistent or transient:
                # I2/I3: job stays active, every target still in_progress
                assert n_active == 1
                for i in targeted:
                    r = state[f"doc-{i:03d}"]
                    assert r["ai_status"] == "in_progress"
                    assert list(r["event_response"]) == []
            elif s["status"] in ("failed", "expired"):
                # I4: job failed, exactly its targets flipped
                assert jstatus == "failed" and n_active == 0
                for i in targeted:
                    r = state[f"doc-{i:03d}"]
                    assert r["ai_status"] == "failed"
                    assert list(r["event_response"]) == []
            else:  # completed
                assert jstatus == "completed" and n_active == 0
                for i in targeted:
                    r = state[f"doc-{i:03d}"]
                    oc = s["outcomes"][i]
                    if oc == "valid":
                        assert r["ai_status"] == "completed"
                        items = list(r["event_response"])
                        assert len(items) == 1
                        assert items[0]["event_response"] == VALID_CONTENT
                    elif oc in ("invalid", "error"):
                        # :163 — failed, event_response NOT modified
                        assert r["ai_status"] == "failed"
                        assert list(r["event_response"]) == []
                    else:  # malformed / missing
                        assert r["ai_status"] == "in_progress"
                        assert list(r["event_response"]) == []
                # I6: a second cycle is a no-op (job left active_jobs)
                jobs3, docs3 = run_poll_cycle(spark, jobs2, docs2, remote, T0)
                assert sorted(map(tuple, docs3.collect())) == sorted(
                    map(tuple, docs2.collect())
                )
                assert active_jobs(jobs3).count() == 0

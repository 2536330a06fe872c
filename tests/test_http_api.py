"""HTTP endpoint tests: POST /process-batch served in-process on an
ephemeral port, driven with urllib — asserts the spec's 202/400 bodies
and the persisted job/document state (the missing API surface from the
round-1 verdict)."""

from __future__ import annotations

import json
import socket
import threading
import urllib.error
import urllib.request
import uuid
from datetime import datetime

import pytest

from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA
from batch_processing_system_spark.pipeline.server import make_server

from .test_pipeline import SCHEMA_JSON, good_request

T0 = datetime(2024, 1, 1, 12, 0, 0)


def multipart_body(fields: dict[str, bytes]) -> tuple[bytes, str]:
    boundary = f"----bps{uuid.uuid4().hex}"
    out = b""
    for name, value in fields.items():
        out += f"--{boundary}\r\n".encode()
        disp = f'form-data; name="{name}"'
        if name == "jsonl_file":
            disp += '; filename="req.jsonl"'
        out += f"Content-Disposition: {disp}\r\n\r\n".encode()
        out += value + b"\r\n"
    out += f"--{boundary}--\r\n".encode()
    return out, f"multipart/form-data; boundary={boundary}"


def post(url: str, fields: dict[str, bytes]):
    body, ctype = multipart_body(fields)
    req = urllib.request.Request(
        url, data=body, headers={"Content-Type": ctype}, method="POST"
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture()
def served(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    rows = [(f"doc-{i:03d}", "pending", [], "{}") for i in range(3)]
    spark.createDataFrame(rows, DOCUMENT_SCHEMA).write.parquet(docs_path)
    srv = make_server(
        spark,
        docs_path,
        str(tmp_path / "jobs"),
        str(tmp_path / "remote"),
        port=0,
        now_fn=lambda: T0,
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", docs_path, str(tmp_path / "jobs")
    srv.shutdown()


class TestProcessBatchEndpoint:
    def test_valid_submission_returns_202_and_persists(self, spark, served):
        url, docs_path, jobs_path = served
        jsonl = "\n".join(json.dumps(good_request(i)) for i in range(2)).encode()
        status, body = post(
            f"{url}/process-batch",
            {
                "jsonl_file": jsonl,
                "output_schema_json": SCHEMA_JSON.encode(),
                "mongodb_uri": b"store://local",
                "collection_name": b"documents",
            },
        )
        assert status == 202
        assert set(body) == {"job_id"}  # the spec's 202 body, exactly
        job = spark.read.parquet(jobs_path).collect()[0]
        assert job["_id"] == body["job_id"]
        assert job["status"] == "submitted"
        marks = {r["_id"]: r["ai_status"] for r in spark.read.parquet(docs_path).collect()}
        assert marks["doc-000"] == "in_progress"
        assert marks["doc-002"] == "pending"

    def test_invalid_submission_returns_400_details(self, served):
        url, _, _ = served
        jsonl = (
            json.dumps(good_request(0)) + "\n"
            + json.dumps(good_request(1, model="other-model")) + "\n"
        ).encode()
        status, body = post(
            f"{url}/process-batch",
            {
                "jsonl_file": jsonl,
                "output_schema_json": SCHEMA_JSON.encode(),
                "mongodb_uri": b"store://local",
                "collection_name": b"documents",
            },
        )
        assert status == 400
        assert body["error"] == "Validation Failed"
        assert body["details"][0]["type"] == "model_mismatch"
        assert body["details"][0]["line"] == 2

    def test_submits_leave_no_persistent_rdds(self, spark, served):
        """A long-running server must release each request's cached
        upload: accepted and rejected submits alike leave no new
        persistent RDD behind."""
        url, _, _ = served
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        bad_model = json.dumps(good_request(1, model="other-model"))
        for jsonl, expected in (
            (json.dumps(good_request(0)), 202),
            (json.dumps(good_request(0)) + "\n" + bad_model, 400),
            (json.dumps(good_request(2)), 202),
            (json.dumps(good_request(99)), 400),  # unknown custom_id
        ):
            status, _ = post(
                f"{url}/process-batch",
                {
                    "jsonl_file": jsonl.encode(),
                    "output_schema_json": SCHEMA_JSON.encode(),
                    "mongodb_uri": b"store://local",
                    "collection_name": b"documents",
                },
            )
            assert status == expected
        assert set(jsc.getPersistentRDDs().keySet()) - before == set()

    def test_missing_field_and_unknown_route(self, served):
        url, _, _ = served
        status, body = post(
            f"{url}/process-batch", {"jsonl_file": b"{}", "mongodb_uri": b"u"}
        )
        assert status == 400
        missing = {d["message"] for d in body["details"]}
        assert any("output_schema_json" in m for m in missing)
        assert any("collection_name" in m for m in missing)

        status, _ = post(f"{url}/other", {"jsonl_file": b"{}"})
        assert status == 404

    def test_malformed_content_length_is_400(self, served):
        # a negative length must not read the socket to EOF, and a
        # non-integer one must not drop the connection unanswered
        url, _, _ = served
        port = int(url.rsplit(":", 1)[1])
        body, ctype = multipart_body({"jsonl_file": b"{}"})
        for length in ("-1", "abc"):
            head = (
                "POST /process-batch HTTP/1.1\r\nHost: 127.0.0.1\r\n"
                f"Content-Type: {ctype}\r\nContent-Length: {length}\r\n\r\n"
            ).encode()
            with socket.create_connection(("127.0.0.1", port), timeout=5) as sock:
                sock.sendall(head + body)
                reply = b""
                while chunk := sock.recv(65536):
                    reply += chunk
            status_line, _, rest = reply.partition(b"\r\n")
            assert status_line.split()[1:2] == [b"400"], (length, reply[:200])
            payload = json.loads(rest.split(b"\r\n\r\n", 1)[1])
            assert payload["error"] == "Validation Failed"
            assert payload["details"][0]["type"] == "jsonl_format_error"

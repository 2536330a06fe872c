"""The spec's HTTP surface: POST /process-batch
(/root/reference/README.md:20-53) as a pure-stdlib HTTP server over
the same pipeline library the CLI uses.

Request: multipart/form-data with fields jsonl_file (file),
output_schema_json, mongodb_uri, collection_name — parsed with
``email.parser`` (no web framework in this container, and none
needed: the endpoint is one route). Responses are exactly the spec's
bodies: 202 {"job_id": ...} on acceptance, 400 {"error": "Validation
Failed", "details": [...]} on validation failure, 404/405 otherwise.

Run: ``python -m batch_processing_system_spark.pipeline serve
--port 8080 --docs ... --jobs ... --remote ...`` (port 0 picks a free
port and prints it — used by tests).
"""

from __future__ import annotations

import json
import os
import tempfile
import threading
import uuid
from datetime import datetime, timezone
from email.parser import BytesParser
from email.policy import default as _default_policy
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from .localremote import DirectoryRemote
from .run import submit_batch
from .schemas import BATCH_JOB_SCHEMA, document_schema
from .statestore import read_state, rewrite_state

REQUIRED_FIELDS = ("jsonl_file", "output_schema_json", "mongodb_uri", "collection_name")

# ThreadingHTTPServer handles each POST on its own thread; the
# read→submit→rewrite section below is a read-modify-write of the
# jobs/docs parquet snapshots, so concurrent submits must serialize or
# the last rewrite wins and drops the other's job row. Parsing and the
# HTTP I/O stay parallel; only the state transaction takes the lock.
_STATE_LOCK = threading.Lock()


def _parse_multipart(content_type: str, body: bytes) -> dict[str, bytes]:
    """multipart/form-data → {field name: raw bytes} via the stdlib
    email machinery (multipart MIME is the same wire format)."""
    msg = BytesParser(policy=_default_policy).parsebytes(
        b"Content-Type: " + content_type.encode("latin-1") + b"\r\n\r\n" + body
    )
    if not msg.is_multipart():
        return {}
    fields: dict[str, bytes] = {}
    for part in msg.iter_parts():
        name = part.get_param("name", header="content-disposition")
        if name:
            fields[name] = part.get_payload(decode=True) or b""
    return fields


class PipelineHandler(BaseHTTPRequestHandler):
    # injected by make_server(): spark, docs_path, jobs_path, remote_root, now_fn
    spark: SparkSession
    docs_path: str
    jobs_path: str
    remote_root: str
    now_fn = staticmethod(
        lambda: datetime.now(timezone.utc).replace(tzinfo=None)
    )

    def log_message(self, fmt, *args):  # route through the app's logging, not stderr
        pass

    def _reply(self, code: int, payload: dict) -> None:
        data = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_POST(self) -> None:  # noqa: N802 - http.server API
        if self.path != "/process-batch":
            self._reply(404, {"error": "not found"})
            return
        length = int(self.headers.get("Content-Length", 0))
        ctype = self.headers.get("Content-Type", "")
        if "multipart/form-data" not in ctype:
            self._reply(
                400,
                {
                    "error": "Validation Failed",
                    "details": [
                        {
                            "type": "jsonl_format_error",
                            "message": "request must be multipart/form-data",
                        }
                    ],
                },
            )
            return
        fields = _parse_multipart(ctype, self.rfile.read(length))
        missing = [f for f in REQUIRED_FIELDS if f not in fields]
        if missing:
            self._reply(
                400,
                {
                    "error": "Validation Failed",
                    "details": [
                        {
                            "type": "jsonl_format_error",
                            "message": f"missing required field: {m}",
                        }
                        for m in missing
                    ],
                },
            )
            return

        with tempfile.NamedTemporaryFile(
            mode="wb", suffix=".jsonl", delete=False
        ) as tf:
            tf.write(fields["jsonl_file"])
            jsonl_path = tf.name
        out = None
        try:
            with _STATE_LOCK:
                docs = read_state(self.spark, self.docs_path, document_schema())
                jobs = read_state(self.spark, self.jobs_path, BATCH_JOB_SCHEMA)
                out = submit_batch(
                    self.spark,
                    jsonl_path,
                    fields["output_schema_json"].decode(),
                    docs,
                    DirectoryRemote(self.remote_root),
                    f"job-{uuid.uuid4().hex[:12]}",
                    self.now_fn(),
                    collection_name=fields["collection_name"].decode(),
                    mongodb_uri=fields["mongodb_uri"].decode(),
                )
                if not out.errors:
                    rewrite_state(jobs.unionByName(out.jobs), self.jobs_path)
                    rewrite_state(out.marked_docs, self.docs_path)
        finally:
            # a long-running server must not keep one cached upload
            # per request
            if out is not None:
                out.upload.unpersist()
            os.unlink(jsonl_path)
        if out.errors:
            self._reply(400, out.error_body())
        else:
            self._reply(202, {"job_id": out.job_id})


def make_server(
    spark: SparkSession,
    docs_path: str,
    jobs_path: str,
    remote_root: str,
    port: int = 8080,
    now_fn=None,
) -> ThreadingHTTPServer:
    """Bind (port 0 = ephemeral) and return the server; caller runs
    ``serve_forever()`` (or a thread does, in tests)."""
    handler = type(
        "BoundPipelineHandler",
        (PipelineHandler,),
        {
            "spark": spark,
            "docs_path": docs_path,
            "jobs_path": jobs_path,
            "remote_root": remote_root,
            **({"now_fn": staticmethod(now_fn)} if now_fn else {}),
        },
    )
    return ThreadingHTTPServer(("127.0.0.1", port), handler)

"""Driver-side frames stay in the JVM.

``engine.io.local_frame`` builds small frames from literals, so the API
path (submit, reject, poll tick) never plans a Python RDD and never
starts a Python worker. These tests pin the helper's contract, the
executed plans of every frame the API path hands back, and a source
guard that keeps ``createDataFrame`` off that path.
"""

from __future__ import annotations

import json
import pathlib
from datetime import datetime

import pytest
from pyspark.sql import types as T

import batch_processing_system_spark as pkg
from batch_processing_system_spark.engine.io import local_frame
from batch_processing_system_spark.pipeline.run import run_poll_cycle, submit_batch
from batch_processing_system_spark.pipeline.schemas import (
    BATCH_JOB_SCHEMA,
    DOCUMENT_SCHEMA,
    VALIDATION_ERROR_SCHEMA,
)
from batch_processing_system_spark.pipeline.statestore import read_state
from batch_processing_system_spark.pipeline.validate import validate_submission

from .test_http_api import post, served  # noqa: F401 (fixture)
from .test_pipeline import SCHEMA_JSON, FakeRemote, _write_jsonl, good_request, result_line

T0 = datetime(2024, 1, 1, 12, 0, 0)

MIXED_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("at", T.TimestampType()),
        T.StructField("ok", T.BooleanType()),
    ]
)


def assert_jvm_only(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan


class TestLocalFrame:
    def test_rows_round_trip(self, spark):
        rows = [
            ("a", 1, datetime(2024, 1, 2, 3, 4, 5, 123456), True),
            (None, None, None, None),
            ("c'\"\\", 2**40, T0, False),
        ]
        df = local_frame(spark, rows, MIXED_SCHEMA)
        assert [tuple(r) for r in df.collect()] == rows
        assert_jvm_only(df)

    def test_names_and_types_match_schema(self, spark):
        df = local_frame(spark, [("a", 7, T0, None)], MIXED_SCHEMA)
        assert [(f.name, f.dataType) for f in df.schema.fields] == [
            (f.name, f.dataType) for f in MIXED_SCHEMA.fields
        ]
        # nullability may only narrow: a column no row leaves None
        # comes out non-nullable
        nullable = {f.name: f.nullable for f in df.schema.fields}
        assert nullable == {"name": False, "n": False, "at": False, "ok": True}

    def test_no_rows_keeps_names_and_types(self, spark):
        for schema in (MIXED_SCHEMA, BATCH_JOB_SCHEMA, DOCUMENT_SCHEMA):
            df = local_frame(spark, [], schema)
            assert df.collect() == []
            assert df.schema == schema
            assert_jvm_only(df)

    def test_matches_create_data_frame(self, spark):
        row = ("job-1", "batch-1", "file-1", None, None, "submitted", None,
               SCHEMA_JSON, "store://x", "documents", "gpt-test", T0, T0)
        ours = local_frame(spark, [row], BATCH_JOB_SCHEMA).collect()
        theirs = spark.createDataFrame([row], BATCH_JOB_SCHEMA).collect()
        assert ours == theirs

    def test_row_width_must_match_schema(self, spark):
        with pytest.raises(ValueError):
            local_frame(spark, [("a", 1)], MIXED_SCHEMA)

    def test_schema_error_400_body_is_unchanged(self, served):
        """The rejected-upload body is byte-for-byte what the server
        sent when the error frame was a pickled ``createDataFrame``."""
        url, _, _ = served
        jsonl = (json.dumps(good_request(0)) + "\nnot json at all\n").encode()
        status, body = post(
            f"{url}/process-batch",
            {
                "jsonl_file": jsonl,
                "output_schema_json": b"{not json",
                "mongodb_uri": b"store://local",
                "collection_name": b"documents",
            },
        )
        assert status == 400
        assert json.dumps(body).encode() == (
            b'{"error": "Validation Failed", "details": [{"type": '
            b'"schema_validation_error", "message": "output_schema_json is not '
            b"valid JSON: Expecting property name enclosed in double quotes: "
            b'line 1 column 2 (char 1)", "context": "{}"}, {"type": '
            b'"jsonl_format_error", "line": 2, "message": "line is not a valid '
            b'batch request", "context": "{\\"line_text\\":\\"not json at all\\"}"}]}'
        )


class TestApiPathBuildsNoPythonRdd:
    """Every frame submit, reject and a poll tick hand back plans JVM
    operators only: no ``Scan ExistingRDD`` over pickled driver rows."""

    @pytest.fixture()
    def docs(self, spark, tmp_path):
        # the deployed surfaces read documents from a snapshot, so the
        # test does too (a createDataFrame fixture would itself be an
        # ExistingRDD under every plan)
        path = str(tmp_path / "docs")
        rows = [(f"doc-{i:03d}", "pending", [], "{}") for i in range(5)]
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).write.parquet(path)
        return read_state(spark, path, DOCUMENT_SCHEMA)

    def _submit(self, spark, docs, tmp_path, remote):
        path = _write_jsonl(tmp_path, "req.jsonl", [good_request(i) for i in range(3)])
        out = submit_batch(spark, path, SCHEMA_JSON, docs, remote, "job-1", T0)
        assert out.job_id == "job-1"
        return out

    def test_accepted_submit(self, spark, docs, tmp_path):
        out = self._submit(spark, docs, tmp_path, FakeRemote())
        try:
            assert_jvm_only(out.jobs)
            assert_jvm_only(out.marked_docs)
        finally:
            out.upload.unpersist()

    @pytest.mark.parametrize(
        "schema_json", [SCHEMA_JSON, "{not json"], ids=["valid_schema", "bad_schema"]
    )
    def test_rejected_submit_errors(self, spark, docs, tmp_path, schema_json):
        path = _write_jsonl(
            tmp_path, "req.jsonl", [good_request(0), good_request(1, model="other")]
        )
        result = validate_submission(spark, path, schema_json, docs)
        try:
            assert result.errors.count() == (1 if schema_json == SCHEMA_JSON else 2)
            assert result.errors.schema.names == VALIDATION_ERROR_SCHEMA.names
            assert_jvm_only(result.errors)
        finally:
            result.upload.unpersist()

    def test_read_state_missing_path(self, spark, tmp_path):
        df = read_state(spark, str(tmp_path / "absent"), BATCH_JOB_SCHEMA)
        assert df.count() == 0
        assert_jvm_only(df)

    @pytest.mark.parametrize("remote_status", ["completed", "failed"])
    def test_poll_tick(self, spark, docs, tmp_path, remote_status):
        ok = json.dumps({"sentiment": "positive"})
        out_path = _write_jsonl(tmp_path, "out.jsonl", [result_line(0, content=ok)])
        err_path = _write_jsonl(tmp_path, "err.jsonl", [result_line(1, error="boom")])
        remote = FakeRemote(
            statuses={"batch-001": remote_status},
            result_files_map={"batch-001": (out_path, err_path)},
        )
        out = self._submit(spark, docs, tmp_path, remote)
        try:
            jobs, new_docs = run_poll_cycle(spark, out.jobs, out.marked_docs, remote, T0)
            assert jobs.collect()[0]["status"] == remote_status
            assert_jvm_only(jobs)
            assert_jvm_only(new_docs)
        finally:
            out.upload.unpersist()


def test_no_create_data_frame_on_driver_path():
    """The API path and the streaming result sink build driver-side
    frames with ``engine.io.local_frame``; ``createDataFrame`` would
    pickle the rows into a Python RDD and start the worker pool."""
    root = pathlib.Path(pkg.__file__).parent
    files = sorted((root / "pipeline").glob("*.py")) + [root / "streaming" / "ingest.py"]
    offenders = [
        f"{f.relative_to(root)}:{n}"
        for f in files
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert not offenders, (
        "createDataFrame( on the driver path at "
        + ", ".join(offenders)
        + "; build the frame with engine.io.local_frame instead"
    )

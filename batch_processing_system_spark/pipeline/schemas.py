"""Record schemas of the reference's dataflow (FIXTURES.md B1-B6).

Each StructType cites the spec lines it was read from; these are the
fixed contracts the pipeline modules share.
"""

from __future__ import annotations

from pyspark.sql import types as T

# B1 — batch request line (/root/reference/README.md:57-61). ``body`` keeps
# the constrained field (model) typed and the open remainder as raw JSON.
REQUEST_LINE_SCHEMA = T.StructType(
    [
        T.StructField("custom_id", T.StringType()),
        T.StructField("method", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField(
            "body",
            T.StructType(
                [
                    T.StructField("model", T.StringType()),
                    T.StructField("messages", T.StringType()),
                ]
            ),
        ),
    ]
)

# B2 — batch result line (/root/reference/README.md:93-103): response XOR error.
RESULT_LINE_SCHEMA = T.StructType(
    [
        T.StructField("custom_id", T.StringType()),
        T.StructField(
            "response",
            T.StructType(
                [
                    T.StructField(
                        "body",
                        T.StructType(
                            [
                                T.StructField(
                                    "choices",
                                    T.ArrayType(
                                        T.StructType(
                                            [
                                                T.StructField(
                                                    "message",
                                                    T.StructType(
                                                        [T.StructField("content", T.StringType())]
                                                    ),
                                                )
                                            ]
                                        )
                                    ),
                                )
                            ]
                        ),
                    )
                ]
            ),
        ),
        T.StructField(
            "error",
            T.StructType(
                [
                    T.StructField("code", T.StringType()),
                    T.StructField("message", T.StringType()),
                ]
            ),
        ),
    ]
)

# B3 — batch_jobs state row (/root/reference/README.md:114-127).
BATCH_JOB_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("openai_batch_id", T.StringType()),
        T.StructField("input_file_id", T.StringType()),
        T.StructField("output_file_id", T.StringType()),
        T.StructField("error_file_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("openai_status", T.StringType()),
        T.StructField("output_schema_json", T.StringType()),
        T.StructField("mongodb_uri", T.StringType()),
        T.StructField("collection_name", T.StringType()),
        T.StructField("model", T.StringType()),
        T.StructField("created_at", T.TimestampType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)

# One poll tick's remote statuses, one row per polled job: the input of
# state.apply_poll_results.
POLL_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("openai_status", T.StringType()),
    ]
)

# One tick's completed jobs with their result-file pointers: the rows
# run_poll_cycle flips to 'completed'.
COMPLETION_SCHEMA = T.StructType(
    [BATCH_JOB_SCHEMA[c] for c in ("_id", "output_file_id", "error_file_id")]
)

# B4 — target document (/root/reference/README.md:129-138).
EVENT_RESPONSE_ITEM = T.StructType(
    [
        T.StructField("event_response", T.StringType()),
        T.StructField("updated", T.TimestampType()),
    ]
)
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType()),
        T.StructField("ai_status", T.StringType()),
        T.StructField("event_response", T.ArrayType(EVENT_RESPONSE_ITEM)),
        T.StructField("payload", T.StringType()),
    ]
)

# B5 — structured log event (/root/reference/README.md:152-156).
LOG_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.TimestampType()),
        T.StructField("level", T.StringType()),
        T.StructField("event", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("job_id", T.StringType()),
        T.StructField("openai_batch_id", T.StringType()),
        T.StructField("custom_id", T.StringType()),
        T.StructField("context", T.StringType()),
    ]
)

# B6 — validation error record (/root/reference/README.md:41-52).
VALIDATION_ERROR_SCHEMA = T.StructType(
    [
        T.StructField("type", T.StringType()),
        T.StructField("line", T.LongType()),
        T.StructField("message", T.StringType()),
        T.StructField("context", T.StringType()),
    ]
)

# Internal job status machine (/root/reference/README.md:120) and the
# OpenAI-status → internal transition map (:86-110). The spec says the
# job row is updated "accordingly" for cancelling/cancelled and logged
# at INFO — so both are carried as internal statuses rather than
# collapsed into 'failed'. 'cancelling' is NOT terminal: a cancelling
# batch keeps being polled until the remote reports 'cancelled'.
INTERNAL_STATUSES = (
    "submitted",
    "processing",
    "completed",
    "failed",
    "cancelling",
    "cancelled",
)
REMOTE_TO_INTERNAL = {
    "completed": "processing",  # completed remotely → we start processing results
    "failed": "failed",
    "expired": "failed",
    "cancelled": "cancelled",
    "cancelling": "cancelling",
}
# internal statuses excluded from the poll cycle (F3 selection)
INACTIVE_INTERNAL = ("completed", "failed", "cancelled")

# Target-document status contract (/root/reference/README.md:147-148:
# STATUS_FIELD_NAME and STATUS_VALUES are deployment-configurable).
# The constants below are the DEFAULTS; deployments override them via
# the spec-named environment variables, read at call time by the
# accessors — every pipeline module resolves the field/values through
# these, so an override needs no code change anywhere:
#   STATUS_FIELD_NAME=doc_state
#   STATUS_VALUES='{"in_progress":"busy","completed":"ok","failed":"err"}'
STATUS_FIELD = "ai_status"
STATUS_IN_PROGRESS = "in_progress"
STATUS_COMPLETED = "completed"
STATUS_FAILED = "failed"


def status_field() -> str:
    """Deployment-configurable status field name (spec
    README.md:147), env ``STATUS_FIELD_NAME``."""
    import os

    return os.environ.get("STATUS_FIELD_NAME", STATUS_FIELD)


def status_values() -> tuple[str, str, str]:
    """(in_progress, completed, failed) status values (spec
    README.md:148), env ``STATUS_VALUES`` as a JSON object keyed by
    the canonical names; absent keys keep their defaults."""
    import json
    import os

    raw = os.environ.get("STATUS_VALUES")
    if not raw:
        return (STATUS_IN_PROGRESS, STATUS_COMPLETED, STATUS_FAILED)
    d = json.loads(raw)
    if not isinstance(d, dict):
        raise ValueError("STATUS_VALUES must be a JSON object")
    return (
        d.get("in_progress", STATUS_IN_PROGRESS),
        d.get("completed", STATUS_COMPLETED),
        d.get("failed", STATUS_FAILED),
    )


def document_schema() -> T.StructType:
    """DOCUMENT_SCHEMA with the deployment-configured status field
    name substituted (identical to the constant under defaults)."""
    return T.StructType(
        [
            T.StructField("_id", T.StringType()),
            T.StructField(status_field(), T.StringType()),
            T.StructField("event_response", T.ArrayType(EVENT_RESPONSE_ITEM)),
            T.StructField("payload", T.StringType()),
        ]
    )

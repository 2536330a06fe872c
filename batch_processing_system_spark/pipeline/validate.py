"""Submission-time validation (/root/reference/README.md:55-67,73;
SURVEY §3.1 step 2).

Five checks, each producing structured error records
(VALIDATION_ERROR_SCHEMA, spec :41-52):

1. jsonl_format_error — line didn't parse / envelope malformed (F2)
2. model_mismatch — body.model differs from the first line's (A1+W1)
3. schema_validation_error — output_schema_json itself malformed (U2)
4. custom_id_not_found — id absent from the target collection (J2)
5. db_connection_error — surfaced by the caller when the target
   collection can't be read at all; not a per-line check.

Everything is one DataFrame pass per check over the line-numbered
request scan; errors are unioned into a single error DF the API layer
turns into the 400 response.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.json_schema import compile_json_schema
from ..sources.jsonl import read_jsonl_with_lines
from .schemas import REQUEST_LINE_SCHEMA, VALIDATION_ERROR_SCHEMA


@dataclass
class ValidationResult:
    valid_requests: DataFrame  # line_id + request fields, all checks passed
    errors: DataFrame  # VALIDATION_ERROR_SCHEMA records
    model: str | None  # the batch's single model (first line, W1 idiom)
    upload: DataFrame  # the cached line scan every frame above reads


def _error_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, VALIDATION_ERROR_SCHEMA)


def validate_submission(
    spark: SparkSession,
    jsonl_path: str,
    output_schema_json: str,
    target_docs: DataFrame,
) -> ValidationResult:
    """Run the spec's validation stage over an uploaded JSONL file.

    ``target_docs`` is the target collection scan (needs ``_id``).
    Returns the surviving request lines plus every structured error.
    The upload is cached for the several passes over it; the caller
    unpersists ``upload`` once nothing reads the result any more.
    """
    empty_errors = spark.createDataFrame([], VALIDATION_ERROR_SCHEMA)

    # U2 — schema well-formedness is a driver-side check; it gates the
    # whole submission (/root/reference/README.md:63).
    try:
        compile_json_schema(output_schema_json)
        schema_errors = empty_errors
    except ValueError as exc:
        schema_errors = _error_df(
            spark, [("schema_validation_error", None, str(exc), "{}")]
        )

    lines = read_jsonl_with_lines(spark, jsonl_path, REQUEST_LINE_SCHEMA).cache()

    # F2 — envelope checks (/root/reference/README.md:59-60). A line is
    # malformed if it didn't parse at all or any required field is off.
    ok = (
        F.col("custom_id").isNotNull()
        & (F.col("method") == "POST")
        & F.col("url").startswith("/")
        & F.col("body").isNotNull()
        & F.col("body.model").isNotNull()
    )
    format_errors = lines.filter(~F.coalesce(ok, F.lit(False))).select(
        F.lit("jsonl_format_error").alias("type"),
        F.col("line_id").alias("line"),
        F.lit("line is not a valid batch request").alias("message"),
        F.to_json(F.struct(F.col("raw").alias("line_text"))).alias("context"),
    )
    well_formed = lines.filter(F.coalesce(ok, F.lit(False)))

    # A1 + W1 — single-model check; the batch model is the FIRST line's
    # (/root/reference/README.md:61). orderBy+limit(1) plans a
    # TakeOrderedAndProject — deterministic like row_number (line_id is
    # unique, D4) but without funnelling the whole file through one
    # partition's sort.
    # bounded-collect: limit(1) — exactly one row
    first_model_row = well_formed.orderBy("line_id").limit(1).collect()
    model = first_model_row[0]["body"]["model"] if first_model_row else None
    model_errors = well_formed.filter(F.col("body.model") != F.lit(model)).select(
        F.lit("model_mismatch").alias("type"),
        F.col("line_id").alias("line"),
        F.concat(
            F.lit(f"model differs from batch model {model!r}: "), F.col("body.model")
        ).alias("message"),
        F.to_json(F.struct(F.col("body.model").alias("model"))).alias("context"),
    )

    # J2 — custom_id existence anti-join against the target collection
    # (/root/reference/README.md:45,67). Broadcast the REQUEST side when
    # small; the collection side is the 100 TB one.
    missing = well_formed.join(
        target_docs.select(F.col("_id")), well_formed.custom_id == F.col("_id"), "left_anti"
    )
    id_errors = missing.select(
        F.lit("custom_id_not_found").alias("type"),
        F.col("line_id").alias("line"),
        F.concat(F.lit("custom_id not found in target collection: "), F.col("custom_id")).alias(
            "message"
        ),
        F.to_json(F.struct("custom_id")).alias("context"),
    )

    errors = (
        schema_errors.unionByName(format_errors)
        .unionByName(model_errors)
        .unionByName(id_errors)
    )

    valid = (
        well_formed.filter(F.col("body.model") == F.lit(model))
        .join(target_docs.select(F.col("_id")), well_formed.custom_id == F.col("_id"), "left_semi")
        .drop("raw")
    )
    return ValidationResult(valid_requests=valid, errors=errors, model=model, upload=lines)

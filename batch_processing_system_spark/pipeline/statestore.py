"""Parquet snapshot state for the deployable surfaces (CLI + HTTP).

The reference keeps batch_jobs and the target collection in MongoDB;
here both live as parquet snapshot dirs behind two functions, so the
CLI, the HTTP endpoint, and tests share one persistence seam. A real
deployment swaps these for a connector (Mongo, Delta, JDBC) without
touching the pipeline logic.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def read_state(spark: SparkSession, path: str, schema) -> DataFrame:
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def rewrite_state(df: DataFrame, path: str) -> None:
    """Snapshot replace: materialize to <path>.new (reads the old
    snapshot while it still exists), then swap. The window between rm
    and rename is not atomic; pipeline/commitstore.py's manifest commit
    is the shape that closes it."""
    tmp = path + ".new"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)

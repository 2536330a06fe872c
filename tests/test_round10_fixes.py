"""Round-10 ADVICE/VERDICT fixes, each pinned by a test:

1. `_assert_one_file_per_bucket` raises a real RuntimeError (not a
   bare assert stripped under `python -O`) when a misaligned write
   produces multi-file buckets — the sortBy-propagation precondition.
2. Bucketed-table identity folds in a SOURCE fingerprint (mtime+size):
   regenerating the testdata in place can never be served from a
   stale bucketed copy by a later session.
3. `with_retry` resolves its sleeper at CALL time, so monkeypatching
   `run.time.sleep` actually suppresses the backoff (the failure-
   property sweep was silently sleeping 1s+2s per failing example).
4. `load_table` pins the session timezone to UTC, so a non-UTC
   driver session gets the oracle's timezone semantics.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.engine.bucketing import (
    _BUCKET_ROOT,
    _assert_one_file_per_bucket,
    bucketed_table,
)
from batch_processing_system_spark.engine.io import load_table

from .conftest import SF_SMALL


class TestOneFilePerBucketInvariant:
    def test_misaligned_write_raises(self, spark, tmp_path):
        # Forced misalignment: round-robin repartition(4) spreads every
        # bucket's rows over all 4 tasks, so bucketBy(2) writes up to 4
        # files per bucket — exactly the layout sortBy propagation
        # cannot survive.
        name = "bkt_test_misaligned_r10"
        path = os.path.join(_BUCKET_ROOT, name)
        df = spark.range(0, 1000).withColumn("k", F.col("id") % 50)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.repartition(4)  # NOT by the bucket column
            .write.format("parquet")
            .mode("overwrite")
            .option("path", path)
            .bucketBy(2, "k")
            .sortBy("k")
            .saveAsTable(name)
        )
        try:
            with pytest.raises(RuntimeError, match="multi-file buckets"):
                _assert_one_file_per_bucket(path, 2)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(path, ignore_errors=True)

    def test_aligned_write_passes(self, spark):
        name = bucketed_table(
            spark, SF_SMALL, "orders", "o_orderkey", 8,
            sort_cols=("o_orderkey",),
        )
        _assert_one_file_per_bucket(os.path.join(_BUCKET_ROOT, name), 8)


class TestSourceFingerprintIdentity:
    def test_regenerated_source_gets_fresh_table(self, spark, tmp_path):
        # copy the source so we can "regenerate" it (touch mtime)
        # without writing to the read-only testdata tree
        src_dir = str(tmp_path / "sf_copy")
        os.makedirs(src_dir)
        shutil.copy(
            os.path.join(SF_SMALL, "orders.parquet"),
            os.path.join(src_dir, "orders.parquet"),
        )
        a = bucketed_table(spark, src_dir, "orders", "o_orderkey", 4)
        # in-place regeneration: same path, different mtime
        os.utime(os.path.join(src_dir, "orders.parquet"), (1, 1))
        b = bucketed_table(spark, src_dir, "orders", "o_orderkey", 4)
        assert a != b, "stale bucketed copy reused after source changed"
        for t in (a, b):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(_BUCKET_ROOT, t), ignore_errors=True)

    def test_unchanged_source_reuses(self, spark):
        a = bucketed_table(spark, SF_SMALL, "orders", "o_orderkey", 8,
                           sort_cols=("o_orderkey",))
        b = bucketed_table(spark, SF_SMALL, "orders", "o_orderkey", 8,
                           sort_cols=("o_orderkey",))
        assert a == b


class TestRetrySleeperResolution:
    def test_monkeypatched_time_sleep_is_used(self, monkeypatch):
        from batch_processing_system_spark.pipeline import run as run_module

        recorded: list[float] = []
        monkeypatch.setattr(
            run_module.time, "sleep", lambda s: recorded.append(s)
        )
        calls = {"n": 0}

        def flaky():
            calls["n"] += 1
            if calls["n"] < 3:
                raise RuntimeError("transient")
            return "ok"

        assert run_module.with_retry(flaky) == "ok"
        # backoff schedule 1s, 2s went through the PATCHED sleeper —
        # before the fix the default captured time.sleep at import
        # time and the patch was a no-op (the test would real-sleep 3s)
        assert recorded == [1.0, 2.0]

    def test_explicit_sleeper_still_wins(self):
        from batch_processing_system_spark.pipeline.run import with_retry

        recorded: list[float] = []

        def always_fails():
            raise RuntimeError("boom")

        with pytest.raises(RuntimeError):
            with_retry(always_fails, max_attempts=3, sleep=recorded.append)
        assert recorded == [1.0, 2.0]


class TestUtcPinOnRoutedPath:
    def test_catalog_reuse_path_pins_utc(self, spark):
        # a non-UTC driver session must get the oracle's UTC semantics
        # from the scan itself
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, SF_SMALL, "documents")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert df.count() > 0


class TestSaltedCatalogConsumer:
    """r70_salted_hot_agg (VERDICT r9 item 7): the skew helpers are now
    catalog-visible. The oracle gate hash-checks the values; here we
    pin the STRUCTURE — the phase-1 Exchange partitions by (k, _salt)
    — and equality with the direct groupBy on the same derived corpus."""

    def test_phase1_exchange_is_salted(self, spark):
        import re

        from batch_processing_system_spark.queries.aggregates import (
            r70_salted_hot_agg,
        )

        plan = (
            r70_salted_hot_agg(spark, SF_SMALL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert re.search(r"hashpartitioning\(k#\d+L?, _salt", plan), plan

    def test_equals_direct_groupby(self, spark):
        from batch_processing_system_spark.queries.aggregates import (
            r70_salted_hot_agg,
        )

        got = [tuple(r) for r in r70_salted_hot_agg(spark, SF_SMALL).collect()]
        events = load_table(spark, SF_SMALL, "events")
        want = [
            tuple(r)
            for r in events.withColumn(
                "k",
                F.when(F.col("user_id") % 10 < 3, F.lit(7).cast("bigint"))
                .otherwise(F.col("user_id")),
            )
            .groupBy("k")
            .agg(
                F.count("event_id").alias("n_events"),
                F.sum("event_id").alias("sum_event_id"),
                F.min("event_id").alias("min_event_id"),
                F.max("event_id").alias("max_event_id"),
            )
            .orderBy("k")
            .collect()
        ]
        assert got == want

"""Round-12 fixes pinned (VERDICT/ADVICE r11).

- hybrid events twin: the plain table's schema and rows.
- detect_hot_keys: data-driven hot-key selection (the r75 profile
  shape) feeding salted_broadcast_left — planted skews at varying
  shares auto-detected, result hash-exact vs the plain join.
- salt_cols: salting from stable data columns is deterministic across
  recomputes AND still spreads a single-partition hot key.
- driver-memory parsing: bare 'local' and 'local[N,maxFailures]'.
- layout GC flag: SPARK_GRAFT_LAYOUT_GC=0 keeps implicit reads from
  deleting sibling generations; tools/layout_gc.py cleans explicitly.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.engine.bucketing import (
    _BUCKET_ROOT,
    bucketed_table,
)
from batch_processing_system_spark.engine.session import default_driver_memory
from batch_processing_system_spark.engine.skew import (
    detect_hot_keys,
    salt_expr,
    salted_aggregate,
    salted_broadcast_left,
)

from .conftest import SF_SMALL


class TestDriverMemoryParsing:
    """ADVICE r11: bare 'local' is one thread, and 'local[N,F]' carries
    a maxFailures suffix — neither should be sized for all host cores."""

    def test_bare_local_is_one_thread(self, monkeypatch):
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        assert default_driver_memory("local") == "8g"

    def test_max_failures_suffix_parsed(self, monkeypatch):
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        assert default_driver_memory("local[32,4]") == "16g"
        assert default_driver_memory("local[8,2]") == "8g"

    def test_star_still_all_cores(self, monkeypatch):
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        n = os.cpu_count() or 8
        assert default_driver_memory("local[*]") == f"{max(8, n // 2)}g"


class TestHybridRouting:
    """The r74 hybrid events twin (partitionBy(day) + bucketBy(user_id))
    is pure layout: minus its partition column it has the plain table's
    schema and rows."""

    def test_hybrid_wins_and_rows_identical(self, spark):
        from batch_processing_system_spark.engine.io import load_table
        from batch_processing_system_spark.engine.partitioning import (
            PARTITION_COL,
            hybrid_events,
        )

        plain = load_table(spark, SF_SMALL, "events")
        twin = spark.table(hybrid_events(spark, SF_SMALL)).drop(PARTITION_COL)
        assert all("/partitioned/hyb_events_" in f for f in twin.inputFiles())
        assert [(f.name, f.dataType) for f in plain.schema.fields] == [
            (f.name, f.dataType) for f in twin.schema.fields
        ]
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, twin.collect())
        )


class TestDetectHotKeys:
    """VERDICT r11 item 2: the r75 diagnostic feeds the r71 mitigation —
    planted hot keys at varying shares are auto-detected and the
    salted join stays row-identical to the plain join."""

    def _skewed(self, spark, n_rows: int, hot_share: float, n_cold: int):
        """n_rows rows; floor(hot_share*n_rows) land on key -1, the rest
        spread uniformly over n_cold cold keys."""
        n_hot = int(n_rows * hot_share)
        return spark.range(n_rows).select(
            F.when(F.col("id") < n_hot, F.lit(-1))
            .otherwise(F.col("id") % n_cold)
            .alias("k"),
            F.col("id").alias("payload"),
        )

    @pytest.mark.parametrize("hot_share", [0.5, 0.3, 0.05])
    def test_planted_shares_detected(self, spark, hot_share):
        df = self._skewed(spark, 20_000, hot_share, n_cold=1000)
        # skew factor of the planted key ≈ hot_share * n_keys ≈ 50-500x
        hot = detect_hot_keys(df, "k", skew_threshold=16.0)
        assert -1 in hot, (hot_share, hot)
        # heaviest first
        assert hot[0] == -1

    def test_min_share_criterion_on_small_key_domain(self, spark):
        # 9-key domain (the sf0.001 regime): a 30%-share key profiles
        # at only ~2.7x the uniform mean — invisible to the factor
        # threshold, caught by the absolute-share criterion
        df = self._skewed(spark, 10_000, 0.3, n_cold=8)
        assert detect_hot_keys(df, "k", skew_threshold=16.0) == []
        assert detect_hot_keys(
            df, "k", skew_threshold=16.0, min_share=0.1
        ) == [-1]

    def test_uniform_key_detects_nothing(self, spark):
        df = spark.range(20_000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("payload")
        )
        assert detect_hot_keys(df, "k", skew_threshold=16.0) == []

    def test_null_keys_excluded(self, spark):
        df = spark.range(1000).select(
            F.when(F.col("id") < 900, F.lit(None).cast("bigint"))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        hot = detect_hot_keys(df, "k", skew_threshold=2.0)
        assert None not in hot

    def test_top_k_cap_is_respected(self, spark):
        # 4 planted keys, cap at 2 -> the 2 heaviest
        df = spark.range(10_000).select(
            F.when(F.col("id") < 4000, F.col("id") % 2)      # keys 0,1: 2000 each
            .when(F.col("id") < 6000, 2 + F.col("id") % 2)   # keys 2,3: 1000 each
            .otherwise(10 + F.col("id") % 4000)
            .alias("k"),
            F.col("id").alias("payload"),
        )
        hot = detect_hot_keys(df, "k", skew_threshold=16.0, top_k=2)
        assert sorted(hot) == [0, 1]

    @pytest.mark.parametrize("hot_share", [0.3, 0.05])
    def test_detected_keys_feed_salted_join_exactly(self, spark, hot_share):
        probe = self._skewed(spark, 10_000, hot_share, n_cold=500)
        dim = spark.range(600).select(
            (F.col("id") - 1).alias("k"),
            F.concat(F.lit("seg_"), (F.col("id") % 5).cast("string")).alias(
                "segment"
            ),
        )
        hot = detect_hot_keys(probe, "k", skew_threshold=16.0)
        assert hot, "planted skew not detected"
        via_helper = salted_broadcast_left(probe, dim, "k", hot_keys=hot)
        plain = probe.join(dim, "k")
        assert via_helper.exceptAll(plain).count() == 0
        assert plain.exceptAll(via_helper).count() == 0


class TestSaltCols:
    """VERDICT r11 item 5: salts derived from stable data columns are
    deterministic across recomputes (stage-retry determinism) and still
    spread a single-partition hot key over the salt space."""

    def test_salted_aggregate_with_salt_cols_matches_direct(self, spark):
        df = spark.range(50_000).select(
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("v"),
        )
        got = salted_aggregate(
            df,
            ["k"],
            {
                "n": ("v", "count"),
                "s": ("v", "sum"),
                "lo": ("v", "min"),
                "hi": ("v", "max"),
            },
            n_salts=16,
            salt_cols=["v"],
        )
        want = df.groupBy("k").agg(
            F.count("v").alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        )

    def test_data_column_salt_is_recompute_stable(self, spark):
        df = spark.range(1000).select(F.col("id").alias("v"))
        salted = df.select("v", salt_expr(16, ["v"]).alias("s"))
        a = {r["v"]: r["s"] for r in salted.collect()}
        b = {r["v"]: r["s"] for r in salted.collect()}  # recompute
        assert a == b

    def test_data_column_salt_spreads_single_partition_hot_key(self, spark):
        # every row same group key, ONE partition: the failure mode the
        # row-id hash fixed must not regress for data-column salts
        df = spark.range(2000).coalesce(1).select(
            F.lit(7).alias("k"), F.col("id").alias("v")
        )
        counts = (
            df.select(salt_expr(16, ["v"]).alias("s"))
            .groupBy("s")
            .count()
            .collect()
        )
        assert len(counts) == 16, f"only {len(counts)} salts used"
        assert max(r["count"] for r in counts) < 2000 * 0.25


class TestLayoutGCFlag:
    """ADVICE r11: SPARK_GRAFT_LAYOUT_GC=0 disables the inline
    stale-generation prune (implicit reads never delete files another
    process may scan); tools/layout_gc.py is the explicit cleanup."""

    def test_flag_off_keeps_stale_generation(self, spark, tmp_path, monkeypatch):
        sf_dir = str(tmp_path / "sf")
        os.makedirs(sf_dir)
        shutil.copy(
            os.path.join(SF_SMALL, "region.parquet"),
            os.path.join(sf_dir, "region.parquet"),
        )
        name1 = bucketed_table(spark, sf_dir, "region", "r_regionkey", 4)
        path1 = os.path.join(_BUCKET_ROOT, name1)
        os.utime(
            os.path.join(sf_dir, "region.parquet"),
            ns=(3_000_000_000, 3_000_000_000),
        )
        monkeypatch.setenv("SPARK_GRAFT_LAYOUT_GC", "0")
        name2 = bucketed_table(spark, sf_dir, "region", "r_regionkey", 4)
        path2 = os.path.join(_BUCKET_ROOT, name2)
        try:
            assert name2 != name1
            assert os.path.isdir(path1), (
                "inline GC ran despite SPARK_GRAFT_LAYOUT_GC=0"
            )
            # the explicit tool sees exactly that sibling as stale
            from tools.layout_gc import stale_generations

            stale = stale_generations(_BUCKET_ROOT)
            assert name1 in stale and name2 not in stale
        finally:
            for n in (name1, name2):
                spark.sql(f"DROP TABLE IF EXISTS {n}")
                shutil.rmtree(os.path.join(_BUCKET_ROOT, n), ignore_errors=True)


class TestR76IndependentDimDPP:
    """VERDICT r11 item 3: DPP demonstrated against a genuinely
    separate calendar dim (engine/partitioning.py:calendar_dim)."""

    def test_r76_plants_dynamic_pruning(self, spark):
        from batch_processing_system_spark.queries.layout import r76_dpp_dim_join

        df = r76_dpp_dim_join(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan

    def test_calendar_dim_is_independent_and_deterministic(self, spark):
        from batch_processing_system_spark.engine.partitioning import calendar_dim

        path = calendar_dim(spark)
        assert "/dims/" in path  # its own parquet, not an events twin
        rows = sorted(map(tuple, spark.read.parquet(path).collect()))
        assert len(rows) == 30
        promo = [d for d, p in rows if p == "flash"]
        assert [x.day for x in promo] == [3, 10, 17, 24]

"""Round-11 fixes pinned (VERDICT/ADVICE r10).

- bucketed-table GC: regenerating a source in place mints a new
  fingerprint-named bucketed table; the stale same-spec sibling must be
  pruned from spark-warehouse/bucketed instead of orphaned forever.
- driver-memory guard: the factory heap scales with local[N].
- date-partitioned events twin: the plain table's schema and rows,
  static prune + DPP demonstrated.
"""

from __future__ import annotations

import os
import shutil

from batch_processing_system_spark.engine.bucketing import (
    _BUCKET_ROOT,
    bucketed_table,
)
from batch_processing_system_spark.engine.session import default_driver_memory

from .conftest import SF_SMALL


class TestDriverMemoryGuard:
    """VERDICT r10 item 4: the factory's local-JVM heap scales with the
    executor-thread count so a 32-thread sf>=3 catalog run never OOMs
    at the stock config (SCALE.md: 8 GiB OOMed once mid-catalog)."""

    def test_scales_with_local_thread_count(self, monkeypatch):
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        assert default_driver_memory("local[32]") == "16g"
        assert default_driver_memory("local[8]") == "8g"   # floor is 8g
        assert default_driver_memory("local[2]") == "8g"

    def test_local_star_uses_host_cpus(self, monkeypatch):
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        n = os.cpu_count() or 8
        assert default_driver_memory("local[*]") == f"{max(8, n // 2)}g"

    def test_env_override_wins(self, monkeypatch):
        monkeypatch.setenv("SPARK_DRIVER_MEMORY", "24g")
        assert default_driver_memory("local[32]") == "24g"

    def test_cluster_master_keeps_driver_small(self, monkeypatch):
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        assert default_driver_memory("spark://host:7077") == "8g"


class TestBucketedGC:
    def test_stale_generation_is_pruned(self, spark, tmp_path):
        # private sf_dir so the fingerprint churn never touches the
        # shared testdata generations other tests read
        sf_dir = str(tmp_path / "sf")
        os.makedirs(sf_dir)
        shutil.copy(
            os.path.join(SF_SMALL, "region.parquet"),
            os.path.join(sf_dir, "region.parquet"),
        )

        name1 = bucketed_table(spark, sf_dir, "region", "r_regionkey", 4)
        path1 = os.path.join(_BUCKET_ROOT, name1)
        assert os.path.isdir(path1)

        # in-place regeneration: same path, new mtime -> new fingerprint
        os.utime(
            os.path.join(sf_dir, "region.parquet"),
            ns=(1_000_000_000, 1_000_000_000),
        )
        name2 = bucketed_table(spark, sf_dir, "region", "r_regionkey", 4)
        assert name2 != name1
        path2 = os.path.join(_BUCKET_ROOT, name2)
        assert os.path.isdir(path2)
        # the stale generation's files AND catalog entry are gone
        assert not os.path.isdir(path1), "stale bucketed generation not pruned"
        assert not spark.catalog.tableExists(name1)
        # a DIFFERENT spec at the same source is a second layout, not a
        # stale generation — it must survive a same-spec rewrite
        other = bucketed_table(spark, sf_dir, "region", "r_regionkey", 8)
        os.utime(
            os.path.join(sf_dir, "region.parquet"),
            ns=(2_000_000_000, 2_000_000_000),
        )
        name3 = bucketed_table(spark, sf_dir, "region", "r_regionkey", 4)
        assert name3 not in (name1, name2)
        assert not os.path.isdir(path2)
        assert os.path.isdir(os.path.join(_BUCKET_ROOT, other)), (
            "different-spec layout was wrongly GC'd"
        )
        # cleanup this test's tables
        for n in (name3, other):
            spark.sql(f"DROP TABLE IF EXISTS {n}")
            shutil.rmtree(os.path.join(_BUCKET_ROOT, n), ignore_errors=True)


class TestPartitionedRouting:
    """The date-partitioned events twin is pure layout: minus its
    partition column it has the plain table's schema and rows; r72/r73
    demonstrate the pruning wins."""

    def test_schema_and_rows_identical(self, spark):
        from batch_processing_system_spark.engine.io import load_table
        from batch_processing_system_spark.engine.partitioning import (
            PARTITION_COL,
            partitioned_events,
        )

        plain = load_table(spark, SF_SMALL, "events")
        twin = spark.table(partitioned_events(spark, SF_SMALL)).drop(
            PARTITION_COL
        )
        assert [(f.name, f.dataType) for f in plain.schema.fields] == [
            (f.name, f.dataType) for f in twin.schema.fields
        ]
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, twin.collect())
        )

    def test_r72_static_prune_reads_fewer_files(self, spark):
        from batch_processing_system_spark.engine.partitioning import (
            partitioned_events,
        )
        from batch_processing_system_spark.queries.layout import (
            r72_date_partition_prune,
        )

        total = len(spark.table(partitioned_events(spark, SF_SMALL)).inputFiles())
        read = len(r72_date_partition_prune(spark, SF_SMALL).inputFiles())
        assert read < total, (read, total)
        plan = (
            r72_date_partition_prune(spark, SF_SMALL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan and "event_date" in plan

    def test_r73_join_prunes_dynamically(self, spark):
        from batch_processing_system_spark.queries.layout import r73_dpp_join

        df = r73_dpp_join(spark, SF_SMALL)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan

    def test_r74_hybrid_layout_prunes_and_never_reshuffles(self, spark):
        # the composed layout: date window in PartitionFilters AND the
        # per-user agg fed by the bucket distribution (no hash Exchange;
        # the ORDER BY's range partition is the only Exchange left)
        from batch_processing_system_spark.queries.layout import r74_hybrid_layout

        df = r74_hybrid_layout(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan and "2024-01-10" in plan
        assert "Exchange hashpartitioning" not in plan

    def test_reregistration_reuses_files_without_rewrite(self, spark):
        # fresh-session contract: dropping the catalog entry (files are
        # EXTERNAL and survive) and re-requesting the twin must take
        # the DDL + MSCK path — same rows, zero file rewrites
        from batch_processing_system_spark.engine.partitioning import (
            _PART_ROOT,
            hybrid_events,
            partitioned_events,
        )

        for builder in (partitioned_events, hybrid_events):
            name = builder(spark, SF_SMALL)
            path = os.path.join(_PART_ROOT, name)
            n_before = spark.table(name).count()

            def snapshot():
                out = {}
                for root, _, files in os.walk(path):
                    for fn in files:
                        p = os.path.join(root, fn)
                        out[p] = os.stat(p).st_mtime_ns
                return out

            files_before = snapshot()
            spark.sql(f"DROP TABLE {name}")
            assert not spark.catalog.tableExists(name)
            name2 = builder(spark, SF_SMALL)
            assert name2 == name
            assert spark.table(name).count() == n_before
            assert snapshot() == files_before, (
                f"{builder.__name__} re-registration rewrote files"
            )

    def test_stale_partitioned_generation_is_pruned(self, spark, tmp_path):
        from batch_processing_system_spark.engine.partitioning import (
            _PART_ROOT,
            partitioned_events,
        )

        sf_dir = str(tmp_path / "sf")
        os.makedirs(sf_dir)
        shutil.copy(
            os.path.join(SF_SMALL, "events.parquet"),
            os.path.join(sf_dir, "events.parquet"),
        )
        name1 = partitioned_events(spark, sf_dir)
        path1 = os.path.join(_PART_ROOT, name1)
        assert os.path.isdir(path1)
        os.utime(
            os.path.join(sf_dir, "events.parquet"),
            ns=(1_000_000_000, 1_000_000_000),
        )
        name2 = partitioned_events(spark, sf_dir)
        assert name2 != name1
        assert not os.path.isdir(path1), "stale partitioned twin not pruned"
        assert not spark.catalog.tableExists(name1)
        spark.sql(f"DROP TABLE IF EXISTS {name2}")
        shutil.rmtree(os.path.join(_PART_ROOT, name2), ignore_errors=True)

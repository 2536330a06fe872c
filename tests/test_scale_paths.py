"""Tests for the 100 TB-path mechanisms: partition-scoped upsert into
the committed store (touches only affected buckets) and skew-salting
equivalences."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from batch_processing_system_spark.engine.skew import (
    salted_aggregate,
    salted_broadcast_left,
)
from batch_processing_system_spark.pipeline.commitstore import (
    _read_manifest,
    current_version,
    init_store,
    read_store,
    upsert_store,
)
from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA

from .conftest import SF_SMALL

T0 = datetime(2024, 1, 1, 12, 0, 0)


class TestPartitionedUpsert:
    """Partition scoping of the committed store's upsert: only buckets
    holding updated keys are staged; every other bucket keeps its
    manifest entry."""

    _UPDATE_SCHEMA = (
        "custom_id string, new_status string, "
        "new_item struct<event_response:string, updated:timestamp>"
    )

    def _seed(self, spark, root, n=200, n_buckets=8):
        # in_progress = the state targeted docs are in when results
        # arrive (submit marks them; the upsert gate requires it)
        docs = spark.createDataFrame(
            [(f"doc-{i:04d}", "in_progress", [], "{}") for i in range(n)],
            DOCUMENT_SCHEMA,
        )
        init_store(docs, root, n_buckets)

    def test_merge_semantics_and_bucket_scoping(self, spark, tmp_path):
        root = str(tmp_path / "store")
        self._seed(spark, root, n=200, n_buckets=8)
        updates = spark.createDataFrame(
            [
                ("doc-0003", "completed", ('{"v":3}', T0)),
                ("doc-0007", "failed", None),
            ],
            self._UPDATE_SCHEMA,
        )
        touched = upsert_store(spark, root, updates)
        assert 1 <= len(touched) <= 2  # only the buckets holding the 2 keys

        state = {r["_id"]: r for r in read_store(spark, root).collect()}
        assert len(state) == 200  # no rows lost
        assert state["doc-0003"]["ai_status"] == "completed"
        assert len(state["doc-0003"]["event_response"]) == 1
        assert state["doc-0007"]["ai_status"] == "failed"
        assert state["doc-0007"]["event_response"] == []
        assert state["doc-0000"]["ai_status"] == "in_progress"  # untouched

    def test_untouched_bucket_files_not_rewritten(self, spark, tmp_path):
        root = str(tmp_path / "store")
        self._seed(spark, root, n=200, n_buckets=8)
        before = _read_manifest(root, current_version(root))["buckets"]
        updates = spark.createDataFrame(
            [("doc-0003", "completed", ('{"v":3}', T0))], self._UPDATE_SCHEMA
        )
        touched = upsert_store(spark, root, updates)
        after = _read_manifest(root, current_version(root))["buckets"]
        unchanged = [b for b in before if int(b) not in touched]
        assert unchanged, "expected at least one untouched bucket"
        for b in unchanged:
            assert before[b] == after[b], f"untouched bucket {b} was rewritten"
        for b in touched:
            assert before[str(b)] != after[str(b)]

    def test_empty_updates_is_noop(self, spark, tmp_path):
        root = str(tmp_path / "store")
        self._seed(spark, root, n=20, n_buckets=4)
        empty = spark.createDataFrame([], self._UPDATE_SCHEMA)
        assert upsert_store(spark, root, empty) == []
        assert current_version(root) == 1  # nothing committed


class TestBucketedJoin:
    def test_cobucketed_fact_join_has_no_shuffle(self, spark, tmp_path):
        """Substantiates SCALE.md: bucketing both facts on the join key
        removes the Exchange entirely — the join reads co-located
        buckets (sort-merge with zero shuffles)."""
        import io
        from contextlib import redirect_stdout

        from batch_processing_system_spark.engine.io import load_table

        spark.sql(f"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '{tmp_path}/wh'")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            load_table(spark, SF_SMALL, "orders").write.bucketBy(8, "o_orderkey").sortBy(
                "o_orderkey"
            ).mode("overwrite").saveAsTable("bucketdb.orders_b")
            load_table(spark, SF_SMALL, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
                "l_orderkey"
            ).mode("overwrite").saveAsTable("bucketdb.lineitem_b")
            from pyspark.sql import functions as F

            j = (
                spark.table("bucketdb.orders_b")
                .join(
                    spark.table("bucketdb.lineitem_b"),
                    F.col("o_orderkey") == F.col("l_orderkey"),
                )
                .select("o_orderkey", "l_linenumber")
            )
            assert j.count() == load_table(spark, SF_SMALL, "lineitem").count()
            buf = io.StringIO()
            with redirect_stdout(buf):
                j.explain("formatted")
            plan = buf.getvalue()
            assert "Exchange" not in plan, "bucketed join still shuffles"
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


class TestSalting:
    def test_salted_aggregate_equals_direct(self, spark):
        # skewed: key 0 carries 90% of rows
        rows = [(0, float(i % 7)) for i in range(900)] + [
            (k, float(k)) for k in range(1, 101)
        ]
        df = spark.createDataFrame(rows, "k bigint, v double").repartition(16)
        direct = df.groupBy("k").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )
        salted = salted_aggregate(
            df, ["k"],
            {"s": ("v", "sum"), "c": ("v", "count"), "mn": ("v", "min"), "mx": ("v", "max")},
        )
        assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, salted.collect()))

    def test_salted_aggregate_single_partition_degenerate(self, spark):
        # VERDICT r10: a degenerate single-partition input (e.g. one
        # upstream file, or a coalesce(1) stage) must still spread over
        # the salt space — the id-residue salt concentrated it on salts
        # 0..k. Result stays bit-identical; the salt expression itself
        # must populate (nearly) the whole salt space.
        from batch_processing_system_spark.engine.skew import SALT_COL, salt_expr

        rows = [(0, float(i)) for i in range(2000)] + [(1, 5.0)]
        df = spark.createDataFrame(rows, "k bigint, v double").coalesce(1)
        direct = df.groupBy("k").agg(
            F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )
        salted = salted_aggregate(
            df, ["k"],
            {"s": ("v", "sum"), "c": ("v", "count"), "mn": ("v", "min"), "mx": ("v", "max")},
        )
        assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, salted.collect()))
        n_distinct = (
            df.withColumn(SALT_COL, salt_expr(16)).select(SALT_COL).distinct().count()
        )
        assert n_distinct >= 12, (
            f"single-partition input reached only {n_distinct}/16 salts"
        )

    def test_salted_aggregate_rejects_nonalgebraic(self, spark):
        import pytest

        df = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
        with pytest.raises(ValueError, match="avg"):
            salted_aggregate(df, ["k"], {"a": ("v", "avg")})

    def test_r71_plan_is_hot_broadcast_plus_cold_smj(self, spark):
        # the catalog consumer of salted_broadcast_left (r71): with
        # broadcast demotion forced off, the hot slice must still
        # broadcast (the hint survives threshold -1), the cold
        # remainder shuffle-joins, and the branches union
        from batch_processing_system_spark.queries.aggregates import (
            r71_salted_hot_join,
        )

        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            plan = (
                r71_salted_hot_join(spark, SF_SMALL)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Union" in plan

    def test_salted_broadcast_join_equals_direct(self, spark):
        left = spark.createDataFrame(
            [(i % 5, i) for i in range(1000)], "k bigint, payload bigint"
        )
        right = spark.createDataFrame(
            [(k, f"dim-{k}") for k in range(5)], "k bigint, name string"
        )
        direct = left.join(right, "k").select("k", "payload", "name")
        salted = salted_broadcast_left(left, right, "k", hot_keys=[0, 1]).select(
            "k", "payload", "name"
        )
        assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, salted.collect()))


class TestIvfPartitionedLayout:
    """q86's scale claim made concrete: an IVF table WRITTEN
    partitioned by cell id turns the nprobe probe into partition
    pruning — the scan must touch only the probed cells' files."""

    def test_probe_scan_prunes_to_probed_cells(self, spark, tmp_path):
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.feature import Normalizer
        from pyspark.ml.functions import array_to_vector, vector_to_array

        from batch_processing_system_spark.engine.io import load_table
        from batch_processing_system_spark.queries.similarity import SEED

        emb = load_table(spark, SF_SMALL, "embeddings")
        vecs = emb.select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias("raw"),
        )
        unit = Normalizer(inputCol="raw", outputCol="unit", p=2.0).transform(vecs)
        model = KMeans(k=8, seed=SEED, featuresCol="unit", predictionCol="cell").fit(unit)
        assigned = model.transform(unit).select(
            "vec_id", "cell", vector_to_array("raw").alias("embedding")
        )
        table = str(tmp_path / "ivf")
        assigned.write.partitionBy("cell").parquet(table)

        probed = [0, 3]
        scan = spark.read.parquet(table).filter(F.col("cell").isin(probed))
        plan = scan._jdf.queryExecution().executedPlan().toString()
        # partition pruning: the cell filter must reach the file index,
        # not survive as a post-scan Filter over all partitions
        assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]
        # and the scan result only contains the probed cells
        cells = {r["cell"] for r in scan.select("cell").distinct().collect()}
        assert cells <= set(probed)
        # files actually read < files written (pruning is physical)
        n_all = len([
            f for d, _, fs in os.walk(table) for f in fs if f.endswith(".parquet")
        ])
        n_probed = len([
            f
            for d, _, fs in os.walk(table)
            for f in fs
            if f.endswith(".parquet")
            and any(f"cell={c}" in d for c in probed)
        ])
        assert 0 < n_probed < n_all

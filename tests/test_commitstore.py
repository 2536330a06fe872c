"""Commit protocol for the bucketed document store: readers see
old-or-new, never mixed — under crashes before the commit, torn
manifest writes, racing committers, and vacuum of crash garbage."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from batch_processing_system_spark.pipeline.commitstore import (
    CommitConflict,
    current_version,
    init_store,
    read_store,
    upsert_store,
    vacuum,
)
from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA

T0 = datetime(2026, 1, 1, 12, 0, 0)


def _docs(spark, n=50, status="in_progress"):
    return spark.createDataFrame(
        [(f"doc-{i:04d}", status, [], "{}") for i in range(n)], DOCUMENT_SCHEMA
    )


def _updates(spark, ids):
    rows = [
        (f"doc-{i:04d}", "completed", (f'{{"v": {i}}}', T0)) for i in ids
    ]
    return spark.createDataFrame(
        rows,
        "custom_id string, new_status string, "
        "new_item struct<event_response:string, updated:timestamp>",
    )


def _snapshot(spark, root, version=None):
    return {
        r["_id"]: (r["ai_status"], len(r["event_response"]))
        for r in read_store(spark, root, version).collect()
    }


class TestCommitStoreBasics:
    def test_init_and_read_round_trip(self, spark, tmp_path):
        root = str(tmp_path / "store")
        assert init_store(_docs(spark), root, n_buckets=8) == 1
        assert current_version(root) == 1
        state = _snapshot(spark, root)
        assert len(state) == 50
        assert all(v == ("in_progress", 0) for v in state.values())

    def test_upsert_merges_and_bumps_version(self, spark, tmp_path):
        root = str(tmp_path / "store")
        init_store(_docs(spark), root, n_buckets=8)
        touched = upsert_store(spark, root, _updates(spark, [3, 7]))
        assert 1 <= len(touched) <= 2
        assert current_version(root) == 2
        state = _snapshot(spark, root)
        assert len(state) == 50  # no rows lost
        assert state["doc-0003"] == ("completed", 1)
        assert state["doc-0007"] == ("completed", 1)
        assert state["doc-0000"] == ("in_progress", 0)
        # time travel: version 1 still shows the pre-upsert snapshot
        old = _snapshot(spark, root, version=1)
        assert old["doc-0003"] == ("in_progress", 0)


class TestCrashAtomicity:
    """The commit is the os.link; anything before it must be invisible.
    The injected aborts leave the same filesystem state as SIGKILL at
    the same instant (no error-cleanup exists in the write path)."""

    def test_crash_after_stage_readers_see_old(self, spark, tmp_path):
        root = str(tmp_path / "store")
        init_store(_docs(spark), root, n_buckets=8)
        before = _snapshot(spark, root)
        with pytest.raises(RuntimeError, match="staged but not committed"):
            upsert_store(spark, root, _updates(spark, [3]), _crash_point="after_stage")
        assert current_version(root) == 1
        assert _snapshot(spark, root) == before  # fully old, nothing mixed

    def test_crash_mid_commit_torn_manifest_ignored(self, spark, tmp_path):
        root = str(tmp_path / "store")
        init_store(_docs(spark), root, n_buckets=8)
        before = _snapshot(spark, root)
        with pytest.raises(RuntimeError, match="not linked"):
            upsert_store(spark, root, _updates(spark, [3]), _crash_point="mid_commit")
        assert current_version(root) == 1
        assert _snapshot(spark, root) == before
        # the torn tmp manifest exists but is invisible to readers
        assert any(n.startswith(".tmp-manifest-") for n in os.listdir(root))

    def test_retry_after_crash_succeeds_exactly_once(self, spark, tmp_path):
        root = str(tmp_path / "store")
        init_store(_docs(spark), root, n_buckets=8)
        with pytest.raises(RuntimeError):
            upsert_store(spark, root, _updates(spark, [3]), _crash_point="after_stage")
        upsert_store(spark, root, _updates(spark, [3]))  # clean retry
        state = _snapshot(spark, root)
        assert state["doc-0003"] == ("completed", 1)  # once, not twice

    def test_vacuum_reclaims_crash_garbage_readers_unaffected(self, spark, tmp_path):
        root = str(tmp_path / "store")
        init_store(_docs(spark), root, n_buckets=8)
        with pytest.raises(RuntimeError):
            upsert_store(spark, root, _updates(spark, [3]), _crash_point="after_stage")
        with pytest.raises(RuntimeError):
            upsert_store(spark, root, _updates(spark, [5]), _crash_point="mid_commit")
        upsert_store(spark, root, _updates(spark, [7]))
        before = _snapshot(spark, root)
        removed = vacuum(root)
        # two orphan stages + one torn tmp manifest reclaimed; the
        # committed version's stage dirs stay
        assert len([p for p in removed if "stage-" in p]) == 2
        assert len([p for p in removed if ".tmp-manifest-" in p]) == 1
        assert _snapshot(spark, root) == before


class TestCommitConflict:
    def test_racing_committer_must_rebase(self, spark, tmp_path):
        """Optimistic concurrency: two writers staging against the same
        base version — the second commit attempt raises instead of
        silently clobbering the first."""
        root = str(tmp_path / "store")
        init_store(_docs(spark), root, n_buckets=8)

        # writer A stages but pauses before commit
        with pytest.raises(RuntimeError):
            upsert_store(spark, root, _updates(spark, [3]), _crash_point="mid_commit")
        # writer B lands first
        upsert_store(spark, root, _updates(spark, [5]))
        assert current_version(root) == 2

        # writer A resumes by linking its staged manifest at version 2:
        # simulate by re-running its full upsert against the OLD base —
        # the version arithmetic now collides and must raise
        from batch_processing_system_spark.pipeline import commitstore

        orig = commitstore.current_version
        commitstore.current_version = lambda root_: 1  # A's stale view
        try:
            with pytest.raises(CommitConflict):
                upsert_store(spark, root, _updates(spark, [3]))
        finally:
            commitstore.current_version = orig

        # rebase: re-read current and retry — applies cleanly
        upsert_store(spark, root, _updates(spark, [3]))
        state = _snapshot(spark, root)
        assert state["doc-0003"] == ("completed", 1)
        assert state["doc-0005"] == ("completed", 1)


class TestCompact:
    def _fragmented_store(self, spark, tmp_path):
        """init + three upserts -> four live stage generations."""
        root = str(tmp_path / "store")
        init_store(_docs(spark), root, n_buckets=8)
        for ids in ([1, 2], [10, 11, 12], [30]):
            upsert_store(spark, root, _updates(spark, ids))
        return root

    def test_content_preserved_and_stages_collapse(self, spark, tmp_path):
        from batch_processing_system_spark.pipeline.commitstore import compact

        root = self._fragmented_store(spark, tmp_path)
        before = _snapshot(spark, root)
        v_before = current_version(root)
        stages_before = {d for d in os.listdir(root) if d.startswith("stage-")}
        assert len(stages_before) >= 4  # init + 3 upserts

        v = compact(spark, root)
        assert v == v_before + 1
        assert _snapshot(spark, root) == before
        vacuum(root)
        live = {d for d in os.listdir(root) if d.startswith("stage-")}
        assert len(live) == 1  # one consolidated stage after vacuum

    def test_rebucket_changes_bucket_count(self, spark, tmp_path):
        from batch_processing_system_spark.pipeline.commitstore import (
            _read_manifest,
            compact,
        )

        root = self._fragmented_store(spark, tmp_path)
        before = _snapshot(spark, root)
        v = compact(spark, root, n_buckets=4)
        m = _read_manifest(root, v)
        assert m["n_buckets"] == 4
        assert len(m["buckets"]) <= 4
        assert _snapshot(spark, root) == before

    def test_crash_before_commit_leaves_old_version(self, spark, tmp_path):
        from batch_processing_system_spark.pipeline.commitstore import compact

        root = self._fragmented_store(spark, tmp_path)
        before = _snapshot(spark, root)
        v_before = current_version(root)
        with pytest.raises(RuntimeError, match="staged, not committed"):
            compact(spark, root, _crash_point="after_stage")
        assert current_version(root) == v_before
        assert _snapshot(spark, root) == before
        # the orphaned compaction stage is vacuum's to reclaim
        assert vacuum(root)

    def test_racing_writer_wins_and_compaction_conflicts(self, spark, tmp_path):
        from batch_processing_system_spark.pipeline.commitstore import compact
        from batch_processing_system_spark.pipeline import commitstore as cs

        root = self._fragmented_store(spark, tmp_path)

        real_commit = cs._commit
        raced = {"done": False}

        def racing_commit(r, manifest):
            # another writer lands an upsert between compact's snapshot
            # read and its commit attempt
            if not raced["done"]:
                raced["done"] = True
                upsert_store(spark, root, _updates(spark, [40, 41]))
            real_commit(r, manifest)

        cs._commit = racing_commit
        try:
            with pytest.raises(CommitConflict):
                compact(spark, root)
        finally:
            cs._commit = real_commit
        # the racer's write survived; a retried compaction then succeeds
        state = _snapshot(spark, root)
        assert state["doc-0040"][0] == "completed"
        v = compact(spark, root)
        assert current_version(root) == v
        assert _snapshot(spark, root) == state


def _reader_stages(spark, op):
    """Run ``op()`` and return the stages it started while building a
    scan: a file-listing job or a schema-inference job. Both are Spark
    jobs whose call site is a ``DataFrameReader`` method, not an action."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store, bus = jsc.statusStore(), jsc.listenerBus()
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def newest_first():
        bus.waitUntilEmpty()
        stages = store.stageList(None, False, False, no_quantiles, None)
        return [stages.apply(i) for i in range(stages.size())]

    seen = newest_first()
    last = seen[0].stageId() if seen else -1
    op()
    found = []
    for s in newest_first():
        if s.stageId() <= last:
            break
        desc = s.description()
        desc = desc.get() if desc.isDefined() else ""
        call_site = s.details().split("\n")[0]
        if desc.startswith("Listing leaf files") or "DataFrameReader" in call_site:
            found.append((s.name(), desc[:80]))
    return found


class TestFlatStageLayout:
    """Stages are flat bucket-sorted parquet with the schema in the
    manifest: store operations plan their scans without a file-listing
    or schema-inference job."""

    def test_store_ops_start_no_listing_or_inference_job(self, spark, tmp_path):
        from batch_processing_system_spark.pipeline.commitstore import compact

        root = str(tmp_path / "store")
        init_store(_docs(spark, n=400), root, n_buckets=64)
        assert _reader_stages(spark, lambda: read_store(spark, root).count()) == []
        updates = _updates(spark, range(0, 400, 3))
        touched = []

        def upsert():
            touched.extend(upsert_store(spark, root, updates))

        assert _reader_stages(spark, upsert) == []
        assert len(touched) > 32  # past Spark's parallel-listing threshold
        assert _reader_stages(spark, lambda: compact(spark, root)) == []
        assert read_store(spark, root).count() == 400
        for stage in (d for d in os.listdir(root) if d.startswith("stage-")):
            files = os.listdir(os.path.join(root, stage))
            subdirs = [e for e in files if e.startswith("_bucket=")]
            assert subdirs == [], f"{stage} has partition directories {subdirs}"

    def test_old_layout_manifest_is_refused(self, spark, tmp_path):
        """A manifest from the stage-*/_bucket=N layout has no schema
        key; its files lack the _bucket column, so reading it through
        a bucket filter would show an empty store. It must raise."""
        import json

        from pyspark.sql import functions as F

        from batch_processing_system_spark.pipeline.commitstore import bucket_of

        root = str(tmp_path / "store")
        stage = "stage-old"
        tagged = _docs(spark, n=20).withColumn("_bucket", bucket_of(F.col("_id"), 4))
        tagged.write.partitionBy("_bucket").parquet(os.path.join(root, stage))
        buckets = sorted(
            d.split("=", 1)[1]
            for d in os.listdir(os.path.join(root, stage))
            if d.startswith("_bucket=")
        )
        old = {"version": 1, "n_buckets": 4,
               "buckets": {b: f"{stage}/_bucket={b}" for b in buckets}}
        with open(os.path.join(root, "manifest-000000000001.json"), "w") as f:
            json.dump(old, f)
        assert current_version(root) == 1
        with pytest.raises(ValueError, match="_bucket=N layout"):
            read_store(spark, root)
        with pytest.raises(ValueError, match="_bucket=N layout"):
            upsert_store(spark, root, _updates(spark, [3]))

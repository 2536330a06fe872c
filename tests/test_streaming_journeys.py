"""Batch≡stream equality for the funnel and retention twins
(streaming/journeys.py vs q95/q96): the sf0.001 event log is replayed
in time-ordered waves through availableNow streams — each wave a
separate run restarting from the checkpoint — and the final stores
must equal the batch answers on the same data exactly."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.engine.io import load_table
from batch_processing_system_spark.pipeline.statestore import read_latest
from batch_processing_system_spark.queries.temporal import q95_funnel, q96_retention
from batch_processing_system_spark.streaming.journeys import (
    EVENT_WIRE_SCHEMA,
    FUNNEL_SCHEMA,
    RETENTION_SCHEMA,
    retention_matrix,
    run_funnel_stream,
    run_retention_stream,
)

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def waves_dir(spark, tmp_path_factory):
    """sf0.001 events exported as wire-schema JSONL, split into three
    time-ordered waves (wave boundaries on es, so per-user order is
    preserved across waves — the funnel replay contract)."""
    d = tmp_path_factory.mktemp("waves")
    rows = (
        load_table(spark, SF_SMALL, "events")
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_timestamp("ts").alias("es"),
            F.unix_date(F.to_date(F.date_trunc("day", F.col("ts")))).alias("d"),
        )
        .orderBy("es", "event_id")
        .collect()
    )
    n = len(rows)
    assert n > 100
    bounds = [0, n // 3, 2 * n // 3, n]
    waves = []
    for i in range(3):
        path = d / f"wave{i}.jsonl"
        path.write_text(
            "\n".join(
                json.dumps(
                    {
                        "user_id": r["user_id"],
                        "event_id": r["event_id"],
                        "event_type": r["event_type"],
                        "es": r["es"],
                        "d": r["d"],
                    }
                )
                for r in rows[bounds[i] : bounds[i + 1]]
            )
            + "\n"
        )
        waves.append(str(path))
    return d, waves


def _replay(spark, waves, incoming, run_fn, store, ckpt):
    """Feed waves one at a time; each wave is its own stream run, so
    cross-wave state survival = checkpoint restart survival."""
    import shutil

    for w in waves:
        shutil.copy(w, incoming)
        src = spark.readStream.schema(EVENT_WIRE_SCHEMA).json(str(incoming))
        q = run_fn(src, str(store), str(ckpt)).start()
        q.awaitTermination(120)


class TestFunnelStream:
    def test_matches_batch_q95(self, spark, tmp_path, waves_dir):
        _, waves = waves_dir
        incoming = tmp_path / "in"
        incoming.mkdir()
        store = tmp_path / "funnel_store"
        _replay(
            spark, waves, incoming, run_funnel_stream, store, tmp_path / "ckpt"
        )
        got = {
            (r["user_id"], r["stage"], r["t1"], r["t2"], r["t3"])
            for r in read_latest(
                spark, str(store), FUNNEL_SCHEMA, ["user_id"]
            ).collect()
        }
        want = {
            (r["user_id"], r["stage"], r["t1"], r["t2"], r["t3"])
            for r in q95_funnel(spark, SF_SMALL).collect()
        }
        assert got == want

    def test_mid_stream_states_are_prefix_answers(self, spark, tmp_path, waves_dir):
        # after one wave, every user's stage must be <= their final
        # stage (the automaton only advances)
        _, waves = waves_dir
        incoming = tmp_path / "in"
        incoming.mkdir()
        store = tmp_path / "funnel_store"
        _replay(
            spark, waves[:1], incoming, run_funnel_stream, store, tmp_path / "ckpt"
        )
        partial = {
            r["user_id"]: r["stage"]
            for r in read_latest(
                spark, str(store), FUNNEL_SCHEMA, ["user_id"]
            ).collect()
        }
        final = {
            r["user_id"]: r["stage"]
            for r in q95_funnel(spark, SF_SMALL).collect()
        }
        assert partial  # wave 1 touched users
        assert all(stage <= final[u] for u, stage in partial.items())


class TestRetentionStream:
    def test_matches_batch_q96(self, spark, tmp_path, waves_dir):
        _, waves = waves_dir
        incoming = tmp_path / "in"
        incoming.mkdir()
        store = tmp_path / "ret_store"
        _replay(
            spark, waves, incoming, run_retention_stream, store, tmp_path / "ckpt"
        )
        got = {
            (str(r["cohort_day"]), r["offset_days"], r["n_users"])
            for r in retention_matrix(
                read_latest(spark, str(store), RETENTION_SCHEMA, ["user_id"])
            ).collect()
        }
        want = {
            (str(r["cohort_day"]), r["offset_days"], r["n_users"])
            for r in q96_retention(spark, SF_SMALL).collect()
        }
        assert got == want

    def test_out_of_order_waves_still_match(self, spark, tmp_path, waves_dir):
        # retention state keeps the full day set, so REVERSED wave
        # order (late early-days) must still converge to the batch
        # answer — cohort assignments get revised, not frozen
        _, waves = waves_dir
        incoming = tmp_path / "in"
        incoming.mkdir()
        store = tmp_path / "ret_store"
        _replay(
            spark,
            list(reversed(waves)),
            incoming,
            run_retention_stream,
            store,
            tmp_path / "ckpt",
        )
        got = {
            (str(r["cohort_day"]), r["offset_days"], r["n_users"])
            for r in retention_matrix(
                read_latest(spark, str(store), RETENTION_SCHEMA, ["user_id"])
            ).collect()
        }
        want = {
            (str(r["cohort_day"]), r["offset_days"], r["n_users"])
            for r in q96_retention(spark, SF_SMALL).collect()
        }
        assert got == want


class TestStreamingFunnelCatalogRow:
    """VERDICT r12 item 6: the catalog-visible streaming leg
    (queries/streamrows.py r77) — wire-log contract + batch≡stream."""

    def test_wire_log_waves_are_time_ordered_ranges(self, spark):
        import os

        from batch_processing_system_spark.queries.streamrows import (
            _N_WAVES,
            _wire_log,
        )

        wire = _wire_log(spark, SF_SMALL)
        files = sorted(f for f in os.listdir(wire) if f.endswith(".parquet"))
        assert len(files) == _N_WAVES
        mtimes = [os.stat(os.path.join(wire, f)).st_mtime for f in files]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
        # contiguous es ranges in file-name order (the replay's
        # correctness precondition: range concat == global order)
        prev_max = None
        n_total = 0
        for f in files:
            pdf = spark.read.parquet(os.path.join(wire, f)).toPandas()
            n_total += len(pdf)
            if len(pdf) == 0:
                continue
            if prev_max is not None:
                assert pdf["es"].min() >= prev_max
            prev_max = pdf["es"].max()
        assert n_total == spark.read.parquet(
            f"{SF_SMALL}/events.parquet"
        ).count()

    def test_r77_equals_batch_q95(self, spark):
        from batch_processing_system_spark.queries.streamrows import (
            r77_streaming_funnel,
        )

        got = {
            tuple(r) for r in r77_streaming_funnel(spark, SF_SMALL).collect()
        }
        want = {tuple(r) for r in q95_funnel(spark, SF_SMALL).collect()}
        assert got == want and got

    def test_r77_repeat_invocations_reclaim_run_dirs(self, spark):
        """A long-lived process (bench passes, oracle sweeps) calls r77
        repeatedly; each call must reclaim the previous store/ckpt dir
        so /tmp usage stays O(1), and the fresh result stays correct."""
        import os

        from batch_processing_system_spark.queries import streamrows
        from batch_processing_system_spark.queries.streamrows import (
            r77_streaming_funnel,
        )

        first = {
            tuple(r) for r in r77_streaming_funnel(spark, SF_SMALL).collect()
        }
        assert len(streamrows._LAST_RUN_DIR) == 1
        prev_dir = streamrows._LAST_RUN_DIR[0]
        assert os.path.isdir(prev_dir)
        second = {
            tuple(r) for r in r77_streaming_funnel(spark, SF_SMALL).collect()
        }
        assert second == first and second
        assert not os.path.exists(prev_dir)
        assert len(streamrows._LAST_RUN_DIR) == 1
        assert streamrows._LAST_RUN_DIR[0] != prev_dir


class TestAppendStoreMode:
    """r77 writes one batch-sized partition per micro-batch; it must
    leave session conf untouched and reclaim its directories. The
    resolved store itself is pinned by the stream ≡ batch q95 tests
    above."""

    def test_r77_restores_shuffle_partitions(self, spark):
        from batch_processing_system_spark.queries.streamrows import (
            r77_streaming_funnel,
        )

        before = spark.conf.get("spark.sql.shuffle.partitions")
        r77_streaming_funnel(spark, SF_SMALL).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_wire_dirs_reclaimed_by_process_cleanup(self, spark):
        """VERDICT r13 item 6: _cleanup_stream_dirs (registered atexit)
        reclaims every wire log AND the last run dir, so repeated
        multi-process catalog runs keep /tmp O(1)."""
        import os

        from batch_processing_system_spark.queries import streamrows

        streamrows.r77_streaming_funnel(spark, SF_SMALL).collect()
        wire_dirs = list(streamrows._WIRE_CACHE.values())
        run_dirs = list(streamrows._LAST_RUN_DIR)
        assert wire_dirs and run_dirs
        assert all(os.path.isdir(d) for d in wire_dirs + run_dirs)
        streamrows._cleanup_stream_dirs()
        assert not streamrows._WIRE_CACHE and not streamrows._LAST_RUN_DIR
        assert not any(os.path.exists(d) for d in wire_dirs + run_dirs)

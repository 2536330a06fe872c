"""Batch≡stream equality for the SCD2 twin (streaming/scd2.py vs r04):
the sf0.001 event log replayed in time-ordered waves, each wave its own
availableNow run restarting from the checkpoint; the final interval
store must equal the batch r04 answer exactly, and mid-stream stores
must already agree on every CLOSED interval."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.engine.det import epoch_us
from batch_processing_system_spark.engine.io import load_table
from batch_processing_system_spark.pipeline.statestore import read_latest
from batch_processing_system_spark.queries.wrangling import r04_scd2
from batch_processing_system_spark.streaming.scd2 import (
    INTERVAL_KEYS,
    INTERVAL_SCHEMA,
    SCD2_WIRE_SCHEMA,
    run_scd2_stream,
)

from .conftest import SF_SMALL


@pytest.fixture(scope="module")
def waves_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("scd2waves")
    rows = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_id", "event_type", epoch_us("ts").alias("eu"))
        .orderBy("eu", "event_id")
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
                        "eu": r["eu"],
                    }
                )
                for r in rows[bounds[i] : bounds[i + 1]]
            )
            + "\n"
        )
        waves.append(str(path))
    return d, waves


def _replay(spark, waves, incoming, store, ckpt):
    import shutil

    for w in waves:
        shutil.copy(w, incoming)
        src = spark.readStream.schema(SCD2_WIRE_SCHEMA).json(str(incoming))
        q = run_scd2_stream(src, str(store), str(ckpt)).start()
        q.awaitTermination(120)


def _read_store(spark, store):
    return read_latest(spark, str(store), INTERVAL_SCHEMA, INTERVAL_KEYS)


def _interval_set(df):
    return {
        (
            r["user_id"],
            r["state"],
            r["valid_from_us"],
            r["valid_to_us"],
            r["is_current"],
        )
        for r in df.collect()
    }


class TestScd2Stream:
    def test_matches_batch_r04(self, spark, tmp_path, waves_dir):
        _, waves = waves_dir
        incoming = tmp_path / "in"
        incoming.mkdir()
        store = tmp_path / "scd2_store"
        _replay(spark, waves, incoming, store, tmp_path / "ckpt")
        got = _interval_set(_read_store(spark, store))
        want = _interval_set(r04_scd2(spark, SF_SMALL))
        assert got == want

    def test_closed_intervals_are_final_after_one_wave(self, spark, tmp_path, waves_dir):
        """Closed intervals written mid-stream must appear UNCHANGED in
        the final batch answer — the store only ever appends or closes,
        never rewrites history."""
        _, waves = waves_dir
        incoming = tmp_path / "in"
        incoming.mkdir()
        store = tmp_path / "scd2_store"
        _replay(spark, waves[:1], incoming, store, tmp_path / "ckpt")
        partial = _read_store(spark, store)
        closed = {
            t
            for t in _interval_set(partial)
            if not t[4]  # is_current False
        }
        assert closed  # wave 1 produced some transitions
        want = _interval_set(r04_scd2(spark, SF_SMALL))
        assert closed <= want

    def test_open_intervals_cover_every_seen_user(self, spark, tmp_path, waves_dir):
        _, waves = waves_dir
        incoming = tmp_path / "in"
        incoming.mkdir()
        store = tmp_path / "scd2_store"
        _replay(spark, waves, incoming, store, tmp_path / "ckpt")
        df = _read_store(spark, store)
        open_counts = (
            df.filter(F.col("is_current"))
            .groupBy("user_id")
            .count()
            .collect()
        )
        users = load_table(spark, SF_SMALL, "events").select("user_id").distinct().count()
        assert len(open_counts) == users
        assert all(r["count"] == 1 for r in open_counts)

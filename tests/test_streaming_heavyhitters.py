"""Streaming Misra-Gries heavy hitters (streaming/heavyhitters.py):
sketch-vs-exact bounds on the replayed sf0.001 event log across
checkpoint-restarted waves, a planted hot key that must dominate the
sketch, and unit/property checks of the reduce step's guarantees."""

from __future__ import annotations

import json
import random
import shutil

import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.engine.io import load_table
from batch_processing_system_spark.pipeline.statestore import read_latest
from batch_processing_system_spark.streaming.heavyhitters import (
    DEFAULT_K,
    SKETCH_SCHEMA,
    _mg_reduce,
    run_heavy_hitters_stream,
)
from batch_processing_system_spark.streaming.journeys import EVENT_WIRE_SCHEMA

from .conftest import SF_SMALL


class TestMgReduce:
    def test_small_input_passes_through(self):
        w = {1: 5, 2: 3}
        assert _mg_reduce(w, 4) == ({1: 5, 2: 3}, 0)

    def test_cut_is_k_plus_first_largest_and_at_most_k_survive(self):
        w = {i: i for i in range(1, 11)}  # 1..10
        kept, cut = _mg_reduce(w, 3)
        assert cut == 7  # 4th largest of 10,9,8,7,...
        assert kept == {8: 1, 9: 2, 10: 3}

    def test_tie_at_cut_drops_to_zero(self):
        w = {1: 5, 2: 5, 3: 5, 4: 5}
        kept, cut = _mg_reduce(w, 3)
        assert cut == 5 and kept == {}

    def test_random_streams_respect_mg_bounds(self):
        rng = random.Random(7)
        for _ in range(20):
            stream = [rng.randrange(30) for _ in range(2000)]
            true: dict[int, int] = {}
            for x in stream:
                true[x] = true.get(x, 0) + 1
            # fold in chunks through repeated weighted reduces (the
            # merge path), accumulating the error bound
            sketch: dict[int, int] = {}
            err = 0
            k = 8
            for i in range(0, len(stream), 250):
                chunk: dict[int, int] = {}
                for x in stream[i : i + 250]:
                    chunk[x] = chunk.get(x, 0) + 1
                for key, w in chunk.items():
                    sketch[key] = sketch.get(key, 0) + w
                sketch, cut = _mg_reduce(sketch, k)
                err += cut
            assert err <= len(stream) // (k + 1)
            for key, t in true.items():
                est = sketch.get(key, 0)
                assert est <= t <= est + err, (key, est, t, err)


@pytest.fixture(scope="module")
def hh_waves(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hh_waves")
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
    waves = []
    n = len(rows)
    bounds = [0, n // 3, 2 * n // 3, n]
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
    true = {}
    for r in rows:
        true[r["user_id"]] = true.get(r["user_id"], 0) + 1
    return waves, true, n


class TestHeavyHitterStream:
    def test_sketch_bounds_hold_after_restarted_replay(
        self, spark, tmp_path, hh_waves
    ):
        waves, true, n = hh_waves
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        for w in waves:  # each wave its own run: checkpoint restart
            shutil.copy(w, incoming)
            src = spark.readStream.schema(EVENT_WIRE_SCHEMA).json(str(incoming))
            q = run_heavy_hitters_stream(src, store, ckpt).start()
            q.awaitTermination(120)
        sketch = {
            r["key"]: (r["est"], r["err"], r["n"])
            for r in read_latest(spark, store, SKETCH_SCHEMA, []).collect()
        }
        assert sketch and len(sketch) <= DEFAULT_K
        _, err, seen = next(iter(sketch.values()))
        assert seen == n
        assert err <= n // (DEFAULT_K + 1)
        for key, t in true.items():
            est = sketch[key][0] if key in sketch else 0
            assert est <= t <= est + err, (key, est, t, err)
        # completeness: anything above the guarantee line is tracked
        for key, t in true.items():
            if t > n // (DEFAULT_K + 1):
                assert key in sketch

    def test_planted_hot_key_dominates(self, spark, tmp_path):
        rng = random.Random(11)
        rows = []
        for i in range(3000):
            uid = 777 if rng.random() < 0.5 else rng.randrange(1000)
            rows.append(
                {"user_id": uid, "event_id": i, "event_type": "view",
                 "es": 1700000000 + i, "d": 19700}
            )
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        (incoming / "all.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )
        store = str(tmp_path / "store")
        src = spark.readStream.schema(EVENT_WIRE_SCHEMA).json(str(incoming))
        q = run_heavy_hitters_stream(src, store, str(tmp_path / "ckpt")).start()
        q.awaitTermination(120)
        got = sorted(
            read_latest(spark, store, SKETCH_SCHEMA, []).collect(),
            key=lambda r: (-r["est"], r["key"]),
        )
        true_hot = sum(1 for r in rows if r["user_id"] == 777)
        top = got[0]
        assert top["key"] == 777
        assert top["est"] <= true_hot <= top["est"] + top["err"]


class TestFacetedHeavyHitters:
    """The r79 catalog row's engine (heavy_hitters_faceted): one stream
    pass, one MG sketch per facet, FORCED 3-wave replay
    (maxFilesPerTrigger=1) so the cross-batch state-carry contract is
    pinned even though the catalog row folds small wires into one
    batch. Asserts the exactness claim the tier-1 hash check rides on
    (<= k distinct keys => no cut => est exact, err = 0) and the full
    MG bound set per wave against exact prefix counts."""

    def test_three_wave_replay_bounds_and_exactness(
        self, spark, tmp_path, hh_waves
    ):
        from pyspark.sql import types as T  # noqa: N812

        from batch_processing_system_spark.streaming.heavyhitters import (
            heavy_hitters_faceted,
        )
        waves, _true, n = hh_waves
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        import os
        import time

        for i, w in enumerate(waves):
            shutil.copy(w, incoming)
            # ascending mtimes => deterministic wave order
            os.utime(
                incoming / os.path.basename(w),
                (1_000_000_000 + 10 * i,) * 2,
            )
        # exact cumulative prefix counts per wave, per facet
        prefix_user: list[dict] = []
        prefix_type: list[dict] = []
        prefix_n: list[int] = []
        cu: dict = {}
        ct: dict = {}
        seen = 0
        for w in waves:
            for line in open(w):
                if not line.strip():
                    continue
                r = json.loads(line)
                cu[str(r["user_id"])] = cu.get(str(r["user_id"]), 0) + 1
                ct[r["event_type"]] = ct.get(r["event_type"], 0) + 1
                seen += 1
            prefix_user.append(dict(cu))
            prefix_type.append(dict(ct))
            prefix_n.append(seen)

        src = (
            spark.readStream.schema(EVENT_WIRE_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(str(incoming))
        )
        out = heavy_hitters_faceted(
            src, facets={"type": "event_type", "user": "user_id"}
        )
        snaps_dir = str(tmp_path / "snaps")

        def _snap(df, batch_id):
            df.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(snaps_dir)

        q = (
            out.writeStream.foreachBatch(_snap)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        snaps = spark.read.parquet(snaps_dir).collect()
        by_batch: dict[int, dict[str, dict]] = {}
        for r in snaps:
            by_batch.setdefault(int(r["batch_id"]), {}).setdefault(
                r["facet"], {}
            )[r["key"]] = (int(r["est"]), int(r["err"]), int(r["n"]))
        assert sorted(by_batch) == [0, 1, 2]  # genuinely three batches

        for wave_i in sorted(by_batch):
            facets = by_batch[wave_i]
            nw = prefix_n[wave_i]
            # --- type facet: EXACT at every wave (5 keys <= k=16) ---
            trows = facets["type"]
            _, terr, tn = next(iter(trows.values()))
            assert tn == nw and terr == 0
            assert {k_: v[0] for k_, v in trows.items()} == prefix_type[
                wave_i
            ]
            # --- user facet: full MG bound set vs exact prefix ------
            urows = facets["user"]
            assert len(urows) <= DEFAULT_K
            _, uerr, un = next(iter(urows.values()))
            assert un == nw
            assert uerr <= nw // (DEFAULT_K + 1)
            for key, t in prefix_user[wave_i].items():
                est = urows[key][0] if key in urows else 0
                assert est <= t <= est + uerr, (wave_i, key, est, t, uerr)
            for key, t in prefix_user[wave_i].items():
                if t > nw // (DEFAULT_K + 1):
                    assert key in urows

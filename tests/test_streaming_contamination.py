"""Continuous contamination screening: document files arrive in waves;
docs sharing an 8-gram with the held-out benchmark are quarantined,
clean docs reach the corpus, a checkpointed restart re-screens nothing,
a replayed batch leaves one copy of each row, and boilerplate shared
with the benchmark does not quarantine — the streaming twin of q78's
batch audit."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import StreamingQueryException

from batch_processing_system_spark.pipeline.statestore import read_bid_store
from batch_processing_system_spark.streaming.contamination import (
    eval_gram_set,
    screen_batch,
    stream_screen_documents,
)
from batch_processing_system_spark.streaming.dedup import INCOMING_DOC_SCHEMA

LEAK = "alpha bravo charlie delta echo foxtrot golf hotel india"


def doc_line(doc_id, text):
    return json.dumps({"doc_id": doc_id, "text": text})


def _ids(spark, path):
    """Sorted doc_ids of a screen output log, one entry per row."""
    rows = read_bid_store(spark, str(path), INCOMING_DOC_SCHEMA).collect()
    return sorted(r["doc_id"] for r in rows)


class TestStreamingContamination:
    def _eval_docs(self, spark):
        return spark.createDataFrame(
            [(1000, f"benchmark question says {LEAK} end")],
            "doc_id bigint, text string",
        )

    def _run(self, spark, incoming, tmp_path):
        q = (
            stream_screen_documents(
                spark,
                str(incoming),
                str(tmp_path / "clean"),
                str(tmp_path / "flagged"),
                self._eval_docs(spark),
                str(tmp_path / "ckpt"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_routing_and_restart(self, spark, tmp_path):
        incoming = tmp_path / "incoming"
        incoming.mkdir()

        (incoming / "w1.jsonl").write_text(
            "\n".join(
                [
                    doc_line(1, f"a train doc quoting {LEAK} verbatim"),
                    doc_line(2, "one two three four five six seven eight nine ten"),
                ]
            )
            + "\n"
        )
        self._run(spark, incoming, tmp_path)
        assert _ids(spark, tmp_path / "clean") == [2]
        assert _ids(spark, tmp_path / "flagged") == [1]

        # wave 2 restarts from the checkpoint: wave-1 files must not be
        # re-screened (no duplicate rows), new docs route correctly
        (incoming / "w2.jsonl").write_text(
            "\n".join(
                [
                    doc_line(3, f"another contaminated doc with {LEAK} inside"),
                    doc_line(4, "ten eleven twelve thirteen fourteen fifteen sixteen seventeen"),
                ]
            )
            + "\n"
        )
        self._run(spark, incoming, tmp_path)
        assert _ids(spark, tmp_path / "clean") == [2, 4]
        assert _ids(spark, tmp_path / "flagged") == [1, 3]

    def test_short_docs_never_flag(self, spark, tmp_path):
        # docs with < 8 words have no 8-grams: always clean
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        (incoming / "w.jsonl").write_text(doc_line(7, "alpha bravo charlie") + "\n")
        self._run(spark, incoming, tmp_path)
        assert _ids(spark, tmp_path / "clean") == [7]

    def test_replay_after_failed_flagged_write_keeps_one_copy(
        self, spark, tmp_path
    ):
        """foreachBatch is at-least-once: a batch whose clean write
        landed but whose flagged write failed is replayed on restart,
        and the replay must not add a second copy of its clean rows."""
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        (incoming / "w1.jsonl").write_text(
            doc_line(1, f"a train doc quoting {LEAK} verbatim") + "\n"
            + doc_line(2, "one two three four five six seven eight nine ten")
            + "\n"
        )
        # a plain file where the flagged directory goes: the clean
        # write succeeds, the flagged write fails, the query dies
        blocker = tmp_path / "flagged"
        blocker.write_text("not a directory")
        with pytest.raises(StreamingQueryException):
            self._run(spark, incoming, tmp_path)
        assert _ids(spark, tmp_path / "clean") == [2]
        blocker.unlink()

        self._run(spark, incoming, tmp_path)
        assert _ids(spark, tmp_path / "clean") == [2]
        assert _ids(spark, tmp_path / "flagged") == [1]


class TestStreamingScreenBoilerplate:
    def test_boilerplate_not_quarantined_copy_is(self, spark):
        boiler = " ".join(f"b{j}" for j in range(8))
        bench_text = " ".join(f"q{j}" for j in range(40))
        eval_docs = spark.createDataFrame(
            [(1, boiler + " " + bench_text)], "doc_id bigint, text string"
        )
        grams = eval_gram_set(eval_docs)

        rows = [(i, boiler + " " + " ".join(f"d{i}w{j}" for j in range(30)))
                for i in range(100)]
        rows.append((500, bench_text))  # wholesale benchmark copy
        batch = spark.createDataFrame(rows, "doc_id bigint, text string")
        clean, flagged = screen_batch(batch, grams)
        assert [r["doc_id"] for r in flagged.collect()] == [500]
        assert clean.count() == 100

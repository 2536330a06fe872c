"""Continuous exact-dedup ingestion: document files arrive in waves;
duplicates are dropped within a batch, across batches, and across a
checkpointed restart — the streaming twin of q45's hash-groupBy
dedup, with the digest store as cross-restart memory."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import StreamingQueryException

from batch_processing_system_spark.streaming.dedup import stream_dedup_documents


def doc_line(doc_id, text):
    return json.dumps({"doc_id": doc_id, "text": text})


WAVE1 = "".join(
    doc_line(i, t) + "\n"
    for i, t in [
        (3, "the quick brown fox"),
        (1, "the quick brown fox"),
        (2, "a completely different text"),
    ]
)


class TestStreamingDedup:
    def _run(self, spark, incoming, tmp_path):
        q = (
            stream_dedup_documents(
                spark,
                str(incoming),
                str(tmp_path / "corpus"),
                str(tmp_path / "digests"),
                str(tmp_path / "ckpt"),
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_dedup_within_and_across_waves_and_restart(self, spark, tmp_path):
        incoming = tmp_path / "incoming"
        incoming.mkdir()

        # wave 1: one within-batch duplicate pair (min doc_id wins)
        (incoming / "w1.jsonl").write_text(WAVE1)
        self._run(spark, incoming, tmp_path)
        corpus = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
        }
        assert corpus == {1: "the quick brown fox", 2: "a completely different text"}

        # wave 2 (new stream run = restart from checkpoint): one
        # cross-wave duplicate, one genuinely new doc; wave-1 files
        # must not be reprocessed
        (incoming / "w2.jsonl").write_text(
            "\n".join(
                [
                    doc_line(9, "the quick brown fox"),  # seen in wave 1
                    doc_line(7, "brand new content"),
                ]
            )
            + "\n"
        )
        self._run(spark, incoming, tmp_path)
        corpus = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
        }
        assert corpus == {
            1: "the quick brown fox",
            2: "a completely different text",
            7: "brand new content",
        }

        digests = spark.read.parquet(str(tmp_path / "digests"))
        assert digests.count() == 3  # one digest per surviving doc
        assert digests.select("text_hash").distinct().count() == 3

    def test_replay_after_failed_corpus_write_keeps_survivors(
        self, spark, tmp_path
    ):
        """foreachBatch is at-least-once: a batch whose digests landed
        but whose corpus write failed is replayed on restart, and the
        replay must still admit its survivors (its own digests are not
        earlier arrivals)."""
        incoming = tmp_path / "incoming"
        incoming.mkdir()
        (incoming / "w1.jsonl").write_text(WAVE1)
        # a plain file where the corpus directory goes: the digest
        # write succeeds, the corpus write fails, the query dies
        blocker = tmp_path / "corpus"
        blocker.write_text("not a directory")
        with pytest.raises(StreamingQueryException):
            self._run(spark, incoming, tmp_path)
        blocker.unlink()

        self._run(spark, incoming, tmp_path)
        corpus = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
        }
        assert corpus == {1: "the quick brown fox", 2: "a completely different text"}
        assert spark.read.parquet(str(tmp_path / "digests")).count() == 2

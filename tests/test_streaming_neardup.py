"""Streaming near-dup dedup (streaming/neardup.py): planted-chain
greedy semantics, cross-batch rejection with restart survival, and
corpus-replay equality against the global greedy computed from q46's
exact Jaccard pair set."""

from __future__ import annotations

import json

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from batch_processing_system_spark.engine.io import load_table
from batch_processing_system_spark.pipeline.statestore import read_bid_store
from batch_processing_system_spark.queries.similarity import _shingles, minhash_bands, q42
from batch_processing_system_spark.queries.text import q46_neardup_jaccard
from batch_processing_system_spark.streaming.neardup import (
    BAND_SCHEMA,
    CORPUS_SCHEMA,
    DECISION_SCHEMA,
    neardup_batch,
    stream_neardup_documents,
)

from .conftest import SF_SMALL

# 20-word docs with 5-shingles (16 shingles each). B replaces A's last
# 3 words (kills shingle starts 14-16 -> J(A,B)=13/19=0.684 >= 0.6);
# C further replaces the first 3 (J(B,C)=0.684) — but A vs C differ at
# both ends: J(A,C)=10/22=0.455 < 0.6. d unrelated; e too short to
# shingle (< 5 words).
_W = [f"w{i:02d}" for i in range(1, 21)]
DOC_A = " ".join(_W)
DOC_B = " ".join(_W[:17] + ["x18", "x19", "x20"])
DOC_C = " ".join(["y01", "y02", "y03"] + _W[3:17] + ["x18", "x19", "x20"])
DOC_D = "totally different words entirely unrelated content stream batch spark window table"
DOC_E = "too short here"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestMinhashBands:
    """The one MinHash family behind q42 and the streaming sinks. The
    rows are pinned: band stores persisted by earlier runs must stay
    joinable with every new batch."""

    _H = {
        1: [1276416757, 1703585766, 18968970, 1220621378, 744442657, 470538682,
            1281971459, 8972015, 574877973, 211862454, 1232293488, 1842562592,
            1120363221, 245988945, 521381459, 1465419343],
        2: [122633652, 204891163, 18968970, 1949515565, 978813943, 470538682,
            1281971459, 8972015, 642839097, 211862454, 1232293488, 1393205572,
            1120363221, 1278743467, 336217689, 848302980],
    }  # doc 3 is too short to shingle: no rows

    def test_rows_match_persisted_band_stores(self, spark):
        docs = _df(spark, [(1, "the quick brown fox jumps over"),
                           (2, "the quick brown fox jumps high"), (3, DOC_E)])
        bands = minhash_bands(_shingles(docs, n=5))
        assert bands.schema.simpleString() == "struct<doc_id:bigint,band:int,h:bigint>"
        want = [(d, b, h) for d, hs in self._H.items() for b, h in enumerate(hs)]
        assert sorted(map(tuple, bands.collect())) == want

    def test_q42_equals_exact_twin(self, spark):
        got = sorted(map(tuple, q42(spark, SF_SMALL).collect()))
        assert got
        assert got == sorted(map(tuple, q46_neardup_jaccard(spark, SF_SMALL).collect()))


class TestBatchGreedy:
    def test_chain_keeps_endpoints(self, spark, tmp_path):
        rows = [(1, DOC_A), (2, DOC_B), (3, DOC_C), (4, DOC_D), (5, DOC_E)]
        decisions = neardup_batch(
            spark,
            _df(spark, rows),
            str(tmp_path / "corpus"),
            str(tmp_path / "bands"),
            0,
        ).collect()
        got = {r["doc_id"]: (r["kept"], r["dup_of"]) for r in decisions}
        assert set(got) == {1, 2, 3, 4, 5}
        assert got[1] == (True, None)
        assert got[2] == (False, 1)  # b ~ a
        assert got[3][0] is True     # c ~ b only, but b was rejected
        assert got[4][0] is True
        assert got[5] == (True, None)  # shingle-less docs bypass dedup
        kept_texts = {
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "corpus")).collect()
        }
        assert kept_texts == {1, 3, 4, 5}

    def test_cross_batch_rejection(self, spark, tmp_path):
        corpus, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
        d1 = neardup_batch(spark, _df(spark, [(1, DOC_A)]), corpus, bands, 0).collect()
        assert d1[0]["kept"] is True
        d2 = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in neardup_batch(
                spark, _df(spark, [(10, DOC_B), (11, DOC_D)]), corpus, bands, 1
            ).collect()
        }
        assert d2[10] == (False, 1)  # later arrival loses to kept doc 1
        assert d2[11][0] is True


def _greedy_from_pairs(pairs, all_ids):
    """Global greedy ascending doc_id over an exact near-dup pair set."""
    from collections import defaultdict

    nb = defaultdict(set)
    for a, b in pairs:
        nb[b].add(a)
        nb[a].add(b)
    kept = set()
    for d in sorted(all_ids):
        if not any(n in kept and n < d for n in nb[d]):
            kept.add(d)
    return kept


class TestCorpusReplay:
    def test_matches_global_greedy_over_exact_pairs(self, spark, tmp_path):
        docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
        rows = sorted(docs.collect(), key=lambda r: r["doc_id"])
        incoming = tmp_path / "in"
        incoming.mkdir()
        n = len(rows)
        bounds = [0, n // 3, 2 * n // 3, n]
        corpus = str(tmp_path / "corpus")
        bands = str(tmp_path / "bands")
        decisions = str(tmp_path / "decisions")
        for i in range(3):
            wave = incoming / f"wave{i}.jsonl"
            wave.write_text(
                "\n".join(
                    json.dumps({"doc_id": r["doc_id"], "text": r["text"]})
                    for r in rows[bounds[i] : bounds[i + 1]]
                )
                + "\n"
            )
            q = (
                stream_neardup_documents(
                    spark, str(incoming), corpus, bands, decisions,
                    str(tmp_path / "ckpt"),
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(180)

        got_kept = {
            r["doc_id"]
            for r in spark.read.parquet(decisions).filter(F.col("kept")).collect()
        }
        exact_pairs = [
            (r["doc_id_a"], r["doc_id_b"])
            for r in q46_neardup_jaccard(spark, SF_SMALL).collect()
        ]
        want_kept = _greedy_from_pairs(exact_pairs, [r["doc_id"] for r in rows])
        assert got_kept == want_kept
        # the kept corpus store mirrors the decision log
        stored = {r["doc_id"] for r in spark.read.parquet(corpus).collect()}
        assert stored == got_kept
        # every rejected doc points at a KEPT earlier arrival
        rejected = spark.read.parquet(decisions).filter(~F.col("kept")).collect()
        assert rejected  # the corpus has near-dup clusters
        for r in rejected:
            assert r["dup_of"] in got_kept and r["dup_of"] < r["doc_id"]


class TestReplay:
    def test_replay_after_failed_corpus_write_keeps_survivors(
        self, spark, tmp_path
    ):
        """foreachBatch is at-least-once: a batch whose band write
        landed but whose corpus write failed is replayed on restart.
        The replay must not meet its own bands as earlier arrivals
        (they would reject every survivor as a dup of itself), and it
        must leave each corpus, band and decision row once."""
        incoming = tmp_path / "in"
        incoming.mkdir()
        (incoming / "w1.jsonl").write_text(
            "".join(
                json.dumps({"doc_id": d, "text": t}) + "\n"
                for d, t in [(1, DOC_A), (2, DOC_B), (4, DOC_D)]
            )
        )
        corpus, bands, decisions = (
            str(tmp_path / n) for n in ("corpus", "bands", "decisions")
        )

        def run():
            stream_neardup_documents(
                spark, str(incoming), corpus, bands, decisions,
                str(tmp_path / "ckpt"),
            ).trigger(availableNow=True).start().awaitTermination(120)

        # an empty plain file where the corpus directory goes: it reads
        # as an empty store, the band write lands, the corpus write fails
        blocker = tmp_path / "corpus"
        blocker.write_text("")
        with pytest.raises(StreamingQueryException):
            run()
        assert read_bid_store(spark, bands, BAND_SCHEMA).count() == 32
        blocker.unlink()

        run()
        got = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in read_bid_store(spark, decisions, DECISION_SCHEMA).collect()
        }
        assert got == {1: (True, None), 2: (False, 1), 4: (True, None)}
        stored = read_bid_store(spark, corpus, CORPUS_SCHEMA).collect()
        assert sorted(r["doc_id"] for r in stored) == [1, 4]
        band_rows = read_bid_store(spark, bands, BAND_SCHEMA)
        assert band_rows.count() == band_rows.distinct().count() == 32
        assert read_bid_store(spark, decisions, DECISION_SCHEMA).count() == 3


class TestRedelivery:
    def test_redelivered_id_is_rejected_not_duplicated(self, spark, tmp_path):
        """ADVICE r14: a re-delivered doc_id already kept in the store
        (store a ⋈ batch b with a == b, J = 1) must be cross-rejected —
        the store copy is the earlier arrival — not kept and appended
        to the corpus/band stores a second time."""
        corpus, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
        d1 = neardup_batch(spark, _df(spark, [(1, DOC_A)]), corpus, bands, 0)
        assert d1.collect()[0]["kept"] is True
        d2 = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in neardup_batch(
                spark, _df(spark, [(1, DOC_A), (7, DOC_D)]), corpus, bands, 1
            ).collect()
        }
        assert d2[1] == (False, 1)  # redelivery loses to the store copy
        assert d2[7][0] is True
        stored = [
            r["doc_id"]
            for r in spark.read.parquet(corpus).collect()
        ]
        assert sorted(stored) == [1, 7]  # doc 1 stored exactly once

    def test_redelivered_id_still_blocks_neardups_of_its_store_copy(
        self, spark, tmp_path
    ):
        """The r15 audit case: batch contains BOTH a redelivered id and
        a near-dup of that id's store copy. The store-hit pair
        (store 1 ⋈ arrival 10) must stay classified as cross-batch even
        though id 1 is also in the batch — misrouting it within-batch
        would let 10 survive (its only 'neighbor' 1 is itself rejected)
        and the corpus would admit a near-copy of a held document."""
        corpus, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
        neardup_batch(spark, _df(spark, [(1, DOC_A)]), corpus, bands, 0).collect()
        d2 = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in neardup_batch(
                spark,
                _df(spark, [(1, DOC_A), (10, DOC_B), (11, DOC_D)]),
                corpus,
                bands,
                1,
            ).collect()
        }
        assert d2[1] == (False, 1)  # redelivery: store copy wins
        assert d2[10] == (False, 1)  # near-dup of the STORE copy
        assert d2[11][0] is True
        stored = sorted(
            r["doc_id"] for r in spark.read.parquet(corpus).collect()
        )
        assert stored == [1, 11]


class TestDistributedGreedy:
    """VERDICT r14 item 8: pair graphs beyond _WB_MIS_THRESHOLD run the
    greedy as distributed iterated local-minima elimination. Forcing
    the threshold to 0 routes EVERY decision through that path; the
    results must be byte-identical to the driver walk."""

    def _force_distributed(self, monkeypatch):
        from batch_processing_system_spark.streaming import neardup as nd

        monkeypatch.setattr(nd, "_WB_MIS_THRESHOLD", 0)

    def test_planted_chain_and_short_docs(self, spark, tmp_path, monkeypatch):
        self._force_distributed(monkeypatch)
        rows = [(1, DOC_A), (2, DOC_B), (3, DOC_C), (4, DOC_D), (5, DOC_E)]
        got = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in neardup_batch(
                spark,
                _df(spark, rows),
                str(tmp_path / "corpus"),
                str(tmp_path / "bands"),
                0,
            ).collect()
        }
        assert got == {
            1: (True, None),
            2: (False, 1),
            3: (True, None),
            4: (True, None),
            5: (True, None),
        }

    def test_cross_batch_and_redelivery(self, spark, tmp_path, monkeypatch):
        self._force_distributed(monkeypatch)
        corpus, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
        neardup_batch(spark, _df(spark, [(1, DOC_A)]), corpus, bands, 0).collect()
        d2 = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in neardup_batch(
                spark,
                _df(spark, [(1, DOC_A), (10, DOC_B), (11, DOC_D)]),
                corpus,
                bands,
                1,
            ).collect()
        }
        assert d2[1] == (False, 1)  # redelivery: store copy wins
        assert d2[10] == (False, 1)  # cross-batch match beats within-batch
        assert d2[11][0] is True

    def test_matches_driver_walk_on_real_corpus(self, spark, tmp_path, monkeypatch):
        """Full-corpus equivalence: one batch of the sf0.001 documents
        table resolved by both paths must produce identical decision
        tables (kept set AND dup_of attribution)."""
        docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")

        def run(sub):
            d = neardup_batch(
                spark,
                docs,
                str(tmp_path / f"corpus_{sub}"),
                str(tmp_path / f"bands_{sub}"),
                0,
            ).collect()
            return {r["doc_id"]: (r["kept"], r["dup_of"]) for r in d}

        driver = run("drv")
        self._force_distributed(monkeypatch)
        dist = run("mis")
        assert driver == dist
        # sanity: the corpus genuinely exercises both branches
        assert any(not kept for kept, _ in driver.values())

    def test_late_kept_neighbor_attribution(self, spark):
        """The dup_of-after-convergence case, driven straight into
        _decisions_distributed with a synthetic verified pair graph:
        edges (1,2),(2,3),(5,10),(3,10). Round 1 keeps the local
        minima {1, 5} and rejects {2, 10}; 3 is only kept in round 2 —
        yet 10's dup_of must be its SMALLEST kept neighbor 3 (what the
        sequential walk yields: 1 kept, 2 rej(1), 3 kept, 5 kept,
        10 rej with kept neighbors {3, 5} -> 3), not the round-1
        rejecter 5. Resolving dup_of at rejection time would emit 5."""
        from batch_processing_system_spark.streaming.neardup import (
            _decisions_distributed,
        )

        batch = spark.createDataFrame(
            [(i,) for i in (1, 2, 3, 5, 10)], "doc_id bigint"
        )
        verified = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 10), (3, 10)],
            "doc_id_a bigint, doc_id_b bigint",
        )
        got = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in _decisions_distributed(spark, batch, verified).collect()
        }
        assert got == {
            1: (True, None),
            2: (False, 1),
            3: (True, None),
            5: (True, None),
            10: (False, 3),
        }

    def test_random_graphs_match_sequential_walk(self, spark):
        """Property sweep: random within-batch pair graphs resolved by
        _decisions_distributed must equal the sequential ascending-id
        greedy (kept set AND smallest-kept-neighbor attribution)."""
        import random as _random

        from batch_processing_system_spark.streaming.neardup import (
            _decisions_distributed,
        )

        rng = _random.Random(15)
        for _trial in range(5):
            n = rng.randrange(6, 14)
            ids = sorted(rng.sample(range(1, 60), n))
            edges = sorted(
                {
                    (a, b)
                    for a in ids
                    for b in ids
                    if a < b and rng.random() < 0.25
                }
            )
            if not edges:
                continue
            batch = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
            verified = spark.createDataFrame(
                edges, "doc_id_a bigint, doc_id_b bigint"
            )
            got = {
                r["doc_id"]: (r["kept"], r["dup_of"])
                for r in _decisions_distributed(
                    spark, batch, verified
                ).collect()
            }
            # sequential reference
            nb = {i: set() for i in ids}
            for a, b in edges:
                nb[a].add(b)
                nb[b].add(a)
            kept, dup = set(), {}
            for d in ids:
                smaller = sorted(x for x in nb[d] if x in kept and x < d)
                if smaller:
                    dup[d] = smaller[0]
                else:
                    kept.add(d)
            want = {
                d: ((d in kept), dup.get(d)) for d in ids
            }
            assert got == want, (ids, edges)


class TestRedeliveryShingleDedup:
    """ADVICE r15 (medium): under id redelivery the redelivered doc's
    shingles must appear ONCE in the verify-side shingle table. The old
    union shingled the store copy too, doubling that doc's nsh and
    per-shingle match fanout and silently weakening the J >= 0.6 test
    to ~J >= 0.39 for (redelivered, other) pairs — a batch doc at true
    J ~ 0.44 was falsely verified and wrongly dropped."""

    # 40-word docs sharing a contiguous 26-word run: 36 shingles each,
    # 22 common -> J = 22/50 = 0.44. Old doubled-shingle condition:
    # 10*(2*22) >= 6*(72+36-44) -> 440 >= 384 -> falsely verified;
    # correct condition: 220 >= 300 is false -> NOT a near-dup.
    _S = [f"s{i:02d}" for i in range(26)]
    DOC_P = " ".join(_S + [f"u{i:02d}" for i in range(14)])
    DOC_Q = " ".join(_S + [f"v{i:02d}" for i in range(14)])

    def test_borderline_pair_survives_redelivery(self, spark, tmp_path):
        corpus, bands = str(tmp_path / "corpus"), str(tmp_path / "bands")
        d1 = neardup_batch(
            spark, _df(spark, [(1, self.DOC_P)]), corpus, bands, 0
        ).collect()
        assert d1[0]["kept"] is True
        # batch 2: doc 1 REDELIVERED + doc 2 at true J=0.44 vs doc 1
        d2 = {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in neardup_batch(
                spark,
                _df(spark, [(1, self.DOC_P), (2, self.DOC_Q)]),
                corpus,
                bands,
                1,
            ).collect()
        }
        assert d2[1] == (False, 1)  # redelivery cross-rejected
        # the borderline doc is NOT a near-dup (J=0.44 < 0.6): kept
        assert d2[2] == (True, None)
        kept_ids = {
            r["doc_id"]
            for r in spark.read.parquet(corpus).select("doc_id").collect()
        }
        assert kept_ids == {1, 2}


class TestLfmisRoundBudgetBoundary:
    """ADVICE r15 (low): a pair graph that converges EXACTLY on round
    _MIS_MAX_ROUNDS must succeed (the old for/else raised a spurious
    non-convergence there); a graph that genuinely needs more rounds
    must still fail loudly."""

    def _run(self, spark, n_path_nodes):
        from batch_processing_system_spark.streaming.neardup import (
            _decisions_distributed,
        )

        ids = list(range(n_path_nodes))
        batch = spark.createDataFrame([(i,) for i in ids], "doc_id bigint")
        verified = spark.createDataFrame(
            [(i, i + 1) for i in ids[:-1]], "doc_id_a bigint, doc_id_b bigint"
        )
        return {
            r["doc_id"]: (r["kept"], r["dup_of"])
            for r in _decisions_distributed(spark, batch, verified).collect()
        }

    def test_convergence_on_final_round_succeeds(self, spark, monkeypatch):
        import batch_processing_system_spark.streaming.neardup as nd

        # a 4-node path needs exactly 2 elimination rounds
        monkeypatch.setattr(nd, "_MIS_MAX_ROUNDS", 2)
        got = self._run(spark, 4)
        assert got == {
            0: (True, None),
            1: (False, 0),
            2: (True, None),
            3: (False, 2),
        }

    def test_true_non_convergence_still_raises(self, spark, monkeypatch):
        import batch_processing_system_spark.streaming.neardup as nd

        # a 6-node path needs 3 rounds; budget 2 must fail loudly
        monkeypatch.setattr(nd, "_MIS_MAX_ROUNDS", 2)
        with pytest.raises(AssertionError, match="round budget"):
            self._run(spark, 6)

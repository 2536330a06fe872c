"""Round-3 hardening tests: the hot-cluster blind spot of the q46
hot-shingle cut and the q78 hot-gram screen + wholesale-copy
exemption with 1:1 oracle parity."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.queries.packing import contamination_pairs
from batch_processing_system_spark.queries.text import q46_neardup_jaccard


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


class TestQ46HotClusterExemption:
    """ADVICE round-2 item: a near-dup cluster larger than the DF cut
    has no sub-cut shingle (the cluster's own size makes every shared
    shingle hot), so the cut alone generates zero candidates for the
    highest-value dedup target. The per-doc rarest-k exemption must
    recover it."""

    def _cluster_corpus(self, spark, tmp_path, m=20):
        base = " ".join(f"c{j}" for j in range(30))
        rows = [(i, base) for i in range(m)]  # m identical docs
        for i in range(m, m + 200):  # background of all-unique docs
            rows.append((i, " ".join(f"u{i}x{j}" for j in range(20))))
        return _write_docs(spark, tmp_path, rows)

    def test_cluster_larger_than_cut_fully_recovered(self, spark, tmp_path):
        m = 20
        sf_dir = self._cluster_corpus(spark, tmp_path, m)
        out = {
            (r[0], r[1])
            for r in q46_neardup_jaccard(spark, sf_dir, df_cut=5).collect()
        }
        want = {(a, b) for a in range(m) for b in range(a + 1, m)}
        assert out == want  # all C(20,2)=190 pairs, nothing else

    def test_without_exemption_cluster_vanishes(self, spark, tmp_path):
        # documents the failure mode the exemption closes
        sf_dir = self._cluster_corpus(spark, tmp_path)
        out = q46_neardup_jaccard(spark, sf_dir, df_cut=5, keep_rarest=0)
        assert out.count() == 0

    def test_boilerplate_still_cut_with_exemption(self, spark, tmp_path):
        """The round-2 boilerplate scenario must still hold: docs with
        >= keep_rarest unique shingles never exempt a boilerplate
        shingle, so the cut's quadratic protection is intact."""
        boiler = "alpha beta gamma delta epsilon zeta"
        rows = []
        for i in range(300):
            unique = " ".join(f"u{i}x{j}" for j in range(20))
            rows.append((i, f"{boiler} {unique}" if i < 30 else unique))
        base = " ".join(f"p{j}" for j in range(30))
        rows += [(1000, base), (1001, base + " extraword")]
        sf_dir = _write_docs(spark, tmp_path, rows)
        out = {(r[0], r[1]) for r in q46_neardup_jaccard(spark, sf_dir).collect()}
        assert out == {(1000, 1001)}


class TestQ78HotGramScreen:
    def _corpus(self, spark):
        rows = []
        boiler = " ".join(f"b{j}" for j in range(8))  # exactly one 8-gram
        # eval doc 0 carries the boilerplate inside its own context
        rows.append((0, boiler + " " + " ".join(f"e0w{j}" for j in range(30))))
        # 90 train docs carry the same boilerplate + unique tails
        train_ids = [i for i in range(1, 120) if i % 10 != 0][:90]
        for i in train_ids:
            rows.append((i, boiler + " " + " ".join(f"t{i}w{j}" for j in range(30))))
        # eval doc 20 wholesale-copied into 10 train docs
        eval_text = " ".join(f"e20w{j}" for j in range(40))
        rows.append((20, eval_text))
        copy_ids = [121, 131, 141, 151, 161, 171, 181, 191, 201, 211]
        rows += [(i, eval_text) for i in copy_ids]
        # a single-copy leak: train doc 303 embeds eval doc 30's text
        eval30 = " ".join(f"e30w{j}" for j in range(20))
        rows.append((30, eval30))
        rows.append((303, "prefix words here " + eval30 + " suffix words there"))
        return (
            spark.createDataFrame(rows, "doc_id bigint, text string"),
            train_ids,
            copy_ids,
        )

    def test_boilerplate_yields_no_pairs_but_copies_detected(self, spark):
        docs, train_ids, copy_ids = self._corpus(spark)
        pairs = {
            (r["train_doc_id"], r["eval_doc_id"]): r["n_shared_grams"]
            for r in contamination_pairs(docs).collect()
        }
        # boilerplate-only overlap with eval doc 0 is screened out
        assert not any(ev == 0 for (_, ev) in pairs)
        # all 10 wholesale copies of eval doc 20 flagged via rarest-k
        for i in copy_ids:
            assert (i, 20) in pairs
            assert pairs[(i, 20)] == 20  # the 20 exempt rarest grams
        # the ordinary single-copy leak is fully counted (grams rare)
        assert pairs[(303, 30)] == 13  # 20-word embed => 13 grams
        assert set(pairs) == {(i, 20) for i in copy_ids} | {(303, 30)}

    def test_without_exemption_copies_vanish(self, spark):
        docs, _, copy_ids = self._corpus(spark)
        pairs = {
            (r["train_doc_id"], r["eval_doc_id"])
            for r in contamination_pairs(docs, keep_rarest=0).collect()
        }
        assert pairs == {(303, 30)}  # only the rare-gram leak survives

    def test_oracle_parity_on_stress_corpus(self, spark, tmp_path):
        """The screen is deterministic, so DuckDB running the
        registered oracle SQL on the SAME corpus must produce the
        identical multiset — the tier-1 guarantee under adversarial
        data, not just the driver's synthetic tables."""
        from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded
        from batch_processing_system_spark.queries.packing import q78_contamination

        _ensure_loaded()
        docs, _, _ = self._corpus(spark)
        sf_dir = _write_docs(spark, tmp_path, [(r.doc_id, r.text) for r in docs.collect()])
        got = {
            tuple(r)
            for r in q78_contamination(spark, sf_dir).collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
        )
        want = {tuple(r) for r in con.execute(REGISTRY["q78_contamination"].oracle).fetchall()}
        assert got == want and len(got) > 0


class TestHardening:
    """VERDICT item 7 + ADVICE low: belt-and-braces guards that must
    fail loudly instead of spinning."""

    def test_connected_components_converges_normally(self, spark):
        from batch_processing_system_spark.queries.curation import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_id_a bigint, doc_id_b bigint"
        )
        got = {
            (r["doc_id"], r["component"])
            for r in connected_components(pairs).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}

    def test_connected_components_round_cap_raises(self, spark):
        from batch_processing_system_spark.queries.curation import (
            connected_components,
        )

        # a path graph needs >0 confirmation rounds; max_rounds=0 must
        # raise rather than silently return a wrong (unconverged) label
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_id_a bigint, doc_id_b bigint"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_rounds=0)

    def test_video_sampler_rejects_nonpositive_cadence(self, spark, tmp_path):
        from batch_processing_system_spark.functions.multimodal import (
            sample_video_frames,
        )
        from batch_processing_system_spark.sources.binaryfile import (
            read_binary_dir,
        )

        (tmp_path / "x.gif").write_bytes(b"GIF89a")
        df = read_binary_dir(spark, str(tmp_path))
        with pytest.raises(ValueError, match="every_ms"):
            sample_video_frames(df, 0)
        with pytest.raises(ValueError, match="every_ms"):
            sample_video_frames(df, -5)


class TestPollCrashIdempotency:
    """ADVICE round-2 medium: cmd_poll persists docs BEFORE jobs, so a
    crash between the writes leaves docs already holding the pushed
    event_response while the job row has no pointers and stays active.
    The next tick re-runs process_results — which must now be a no-op
    on the already-transitioned docs (data-level idempotency), not
    append a duplicate item."""

    def test_docs_persisted_jobs_lost_no_double_push(self, spark, tmp_path):
        import json as _json
        from datetime import datetime

        from batch_processing_system_spark.pipeline.run import (
            run_poll_cycle,
            submit_batch,
        )
        from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA
        from tests.test_pipeline import (
            SCHEMA_JSON,
            FakeRemote,
            _write_jsonl,
            good_request,
            result_line,
        )

        t0 = datetime(2026, 1, 1)
        docs = spark.createDataFrame(
            [(f"doc-{i:03d}", "pending", [], "{}") for i in range(3)],
            DOCUMENT_SCHEMA,
        )
        ok = _json.dumps({"sentiment": "positive", "score": 0.9})
        out_path = _write_jsonl(tmp_path, "out.jsonl", [result_line(0, content=ok)])
        remote = FakeRemote(
            statuses={"batch-001": "completed"},
            result_files_map={"batch-001": (out_path, None)},
        )
        req = _write_jsonl(tmp_path, "req.jsonl", [good_request(0)])
        out = submit_batch(spark, req, SCHEMA_JSON, docs, remote, "job-1", t0)

        jobs2, docs2 = run_poll_cycle(spark, out.jobs, out.marked_docs, remote, t0)
        # crash: docs2 persisted, jobs2 LOST — re-enter with the OLD
        # jobs table (no pointers, still active) and the NEW docs
        jobs3, docs3 = run_poll_cycle(spark, out.jobs, docs2, remote, t0)
        assert jobs3.collect()[0]["status"] == "completed"
        state = {r["_id"]: r for r in docs3.collect()}
        assert len(state["doc-000"]["event_response"]) == 1  # not doubled
        assert state["doc-000"]["ai_status"] == "completed"


class TestConcurrentSubmits:
    """ADVICE round-2 medium: concurrent POSTs used to race on the
    jobs/docs snapshot rewrite (last writer wins, losing a job row)
    and on DirectoryRemote's count-based id allocation (collision ->
    silent overwrite). Both jobs must now survive with distinct
    remote ids."""

    def test_parallel_submits_both_persist(self, spark, tmp_path):
        import json as _json
        import threading
        from concurrent.futures import ThreadPoolExecutor
        from datetime import datetime

        from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA
        from batch_processing_system_spark.pipeline.server import make_server
        from tests.test_http_api import post
        from tests.test_pipeline import SCHEMA_JSON, good_request

        docs_path = str(tmp_path / "docs")
        rows = [(f"doc-{i:03d}", "pending", [], "{}") for i in range(4)]
        spark.createDataFrame(rows, DOCUMENT_SCHEMA).write.parquet(docs_path)
        srv = make_server(
            spark,
            docs_path,
            str(tmp_path / "jobs"),
            str(tmp_path / "remote"),
            port=0,
            now_fn=lambda: datetime(2026, 1, 1),
        )
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        try:
            url = f"http://127.0.0.1:{srv.server_address[1]}/process-batch"

            def submit(i):
                jsonl = _json.dumps(good_request(i)).encode()
                return post(
                    url,
                    {
                        "jsonl_file": jsonl,
                        "output_schema_json": SCHEMA_JSON.encode(),
                        "mongodb_uri": b"store://local",
                        "collection_name": b"documents",
                    },
                )

            with ThreadPoolExecutor(max_workers=2) as ex:
                results = list(ex.map(submit, [0, 1]))
        finally:
            srv.shutdown()

        assert [s for s, _ in results] == [202, 202]
        job_ids = {b["job_id"] for _, b in results}
        assert len(job_ids) == 2
        jobs = spark.read.parquet(str(tmp_path / "jobs")).collect()
        assert {r["_id"] for r in jobs} == job_ids  # neither row lost
        # distinct remote ids — no count-based collision
        assert len({r["input_file_id"] for r in jobs}) == 2
        assert len({r["openai_batch_id"] for r in jobs}) == 2

    def test_alloc_is_collision_free_under_contention(self, tmp_path):
        """Direct contention on DirectoryRemote: N threads uploading at
        once yield N distinct ids and N intact payloads."""
        from concurrent.futures import ThreadPoolExecutor

        from batch_processing_system_spark.pipeline.localremote import (
            DirectoryRemote,
        )

        remote = DirectoryRemote(str(tmp_path / "r"))
        srcs = []
        for i in range(8):
            p = tmp_path / f"in{i}.jsonl"
            p.write_text(f"payload-{i}\n")
            srcs.append(str(p))
        with ThreadPoolExecutor(max_workers=8) as ex:
            ids = list(ex.map(remote.upload, srcs))
        assert len(set(ids)) == 8
        import os as _os

        contents = set()
        for fid in ids:
            with open(_os.path.join(remote.root, "files", fid + ".jsonl")) as f:
                contents.add(f.read())
        assert contents == {f"payload-{i}\n" for i in range(8)}


class TestChunkUdtf:
    """U4: the registered Python UDTF surface (q85) — SQL-callable
    LATERAL generator with per-row multi-out."""

    def test_chunks_cover_text_exactly(self, spark):
        from batch_processing_system_spark.engine.catalog import register_functions

        register_functions(spark)
        spark.createDataFrame(
            [(1, " ".join(f"w{j}" for j in range(70))), (2, "solo"), (3, None)],
            "doc_id bigint, text string",
        ).createOrReplaceTempView("cu_docs")
        rows = spark.sql(
            "SELECT d.doc_id, c.* FROM cu_docs d, "
            "LATERAL chunk_text(d.text, 32) c"
        ).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # doc 1: 70 words -> 32+32+6
        sizes = [r["n_words"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])]
        assert sizes == [32, 32, 6]
        # reassembling the chunks reproduces the text exactly
        joined = " ".join(
            r["chunk"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])
        )
        assert joined == " ".join(f"w{j}" for j in range(70))
        # doc 2: single word, one chunk; doc 3 (NULL text): no rows
        assert [(r["chunk_idx"], r["chunk"], r["n_words"]) for r in by_doc[2]] == [
            (0, "solo", 1)
        ]
        assert 3 not in by_doc

    def test_invalid_size_yields_nothing(self, spark):
        from batch_processing_system_spark.engine.catalog import register_functions

        register_functions(spark)
        spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")\
            .createOrReplaceTempView("cu_docs2")
        assert (
            spark.sql(
                "SELECT c.* FROM cu_docs2 d, LATERAL chunk_text(d.text, 0) c"
            ).count()
            == 0
        )


class TestQ87SemanticDedup:
    """SemDeDup-shape embedding dedup: transitive closure over the exact
    cosine pair graph, min-id representative kept per component."""

    def _embeddings(self, spark, tmp_path):
        import math

        def at(deg):
            r = math.radians(deg)
            # 4-d so the broadcast matrix path exercises real vectors
            return [math.cos(r), math.sin(r), 0.0, 0.0]

        rows = [
            (0, at(0), 0),    # chain a—b—c: cos(a,b)=cos(b,c)=.707,
            (1, at(45), 0),   # cos(a,c)=0 < .45 — components must close
            (2, at(90), 0),   # the chain transitively
            (3, at(180), 1),  # identical pair
            (4, at(180), 1),
            (5, at(270), 2),  # singleton (cos <= 0 vs everything)
        ]
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "embeddings.parquet")
        )
        return str(tmp_path)

    def test_components_and_representatives(self, spark, tmp_path):
        from batch_processing_system_spark.queries.curation import q87_semantic_dedup

        sf_dir = self._embeddings(spark, tmp_path)
        out = {
            r["vec_id"]: (r["component"], r["kept"])
            for r in q87_semantic_dedup(spark, sf_dir).collect()
        }
        assert out == {
            0: (0, True),
            1: (0, False),
            2: (0, False),
            3: (3, True),
            4: (3, False),
            5: (5, True),
        }

    def test_drop_rate_matches_pair_graph(self, spark):
        """On real fixtures: #dropped == #vectors that are a non-min
        member of some component — i.e. survivors are exactly one per
        component."""
        from batch_processing_system_spark.queries.curation import q87_semantic_dedup

        out = q87_semantic_dedup(spark, "/root/testdata/sf0.001")
        per_comp = out.groupBy("component").agg(
            F.sum(F.col("kept").cast("int")).alias("n_kept"),
            F.min("vec_id").alias("min_id"),
            F.first("component").alias("c"),
        )
        bad = per_comp.filter(
            (F.col("n_kept") != 1) | (F.col("min_id") != F.col("c"))
        ).count()
        assert bad == 0

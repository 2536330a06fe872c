"""Round-5 hardening: VERDICT r4 items.

1. TIMESTAMP_NTZ-proofing — the driver regenerated /root/testdata with
   un-annotated parquet timestamp[us], which Spark 4 reads as
   TIMESTAMP_NTZ and unix_micros() rejects (the q14 break). load_table
   now normalizes every flavor to one canonical TIMESTAMP; the test
   here runs every ts-consuming catalog query against BOTH parquet
   flavors so a future testdata regeneration cannot silently break a
   green query again.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from batch_processing_system_spark.engine.io import load_table

SF_SMALL = "/root/testdata/sf0.001"

#: Every catalog query that consumes events.ts (the only timestamp
#: column in the testdata).
TS_QUERIES = ["q14", "q32", "q36", "q39", "q40"]


class TestTimestampFlavorProof:
    @pytest.fixture(scope="class")
    def flavor_dirs(self, spark, tmp_path_factory):
        """The sf0.001 events table rewritten in all three parquet
        timestamp flavors the driver has shipped: µs adjusted-to-UTC
        (annotated), µs NTZ (un-annotated — the current output), and
        ns (the original, which load_table reads via nanosAsLong)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        base = tmp_path_factory.mktemp("tsflavors")
        events = load_table(spark, SF_SMALL, "events")
        utc_dir, ntz_dir, ns_dir = base / "utc", base / "ntz", base / "ns"
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        events.write.mode("overwrite").parquet(str(utc_dir / "events.parquet"))
        events.withColumn("ts", F.col("ts").cast("timestamp_ntz")).write.mode(
            "overwrite"
        ).parquet(str(ntz_dir / "events.parquet"))
        # ns flavor: written directly with pyarrow (Spark cannot emit
        # TIMESTAMP(NANOS) parquet)
        tbl = pq.read_table(str(SF_SMALL) + "/events.parquet")
        i = tbl.schema.get_field_index("ts")
        ns_col = pc.cast(tbl.column("ts"), pa.timestamp("ns"))
        tbl = tbl.set_column(i, pa.field("ts", pa.timestamp("ns")), ns_col)
        ns_dir.mkdir()
        pq.write_table(
            tbl, str(ns_dir / "events.parquet"), store_schema=False
        )
        return str(utc_dir), str(ntz_dir), str(ns_dir)

    def test_raw_flavors_differ_but_loader_normalizes(self, spark, flavor_dirs):
        utc_dir, ntz_dir, ns_dir = flavor_dirs
        # precondition: the fixtures genuinely exercise distinct parquet
        # flavors (otherwise this whole class proves nothing)
        raw = {
            d: dict(spark.read.parquet(d + "/events.parquet").dtypes)["ts"]
            for d in (utc_dir, ntz_dir)
        }
        assert raw[utc_dir] == "timestamp"
        assert raw[ntz_dir] == "timestamp_ntz"
        for d in flavor_dirs:
            assert dict(load_table(spark, d, "events").dtypes)["ts"] == "timestamp"

    @pytest.mark.parametrize("qname", TS_QUERIES)
    def test_query_identical_across_flavors(self, spark, flavor_dirs, qname):
        from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded

        _ensure_loaded()
        utc_dir, ntz_dir, ns_dir = flavor_dirs
        fn = REGISTRY[qname].fn
        got_utc = sorted(map(tuple, fn(spark, utc_dir).collect()))
        got_ntz = sorted(map(tuple, fn(spark, ntz_dir).collect()))
        got_ns = sorted(map(tuple, fn(spark, ns_dir).collect()))
        assert len(got_utc) > 0
        assert got_utc == got_ntz == got_ns

    def test_epoch_us_accepts_both_timestamp_types(self, spark):
        from batch_processing_system_spark.engine.det import epoch_us

        df = spark.sql(
            "SELECT TIMESTAMP'2026-01-01 00:00:01' AS t_utc, "
            "TIMESTAMP_NTZ'2026-01-01 00:00:01' AS t_ntz"
        )
        row = df.select(
            epoch_us("t_utc").alias("a"), epoch_us("t_ntz").alias("b")
        ).head()
        assert row["a"] == row["b"] == 1_767_225_601_000_000


class TestQ87AboveBudgetRoute:
    """VERDICT r4 item 2: the above-budget pair generator must be
    validated end-to-end for q87 — one missed edge splits a component
    and flips many kept flags. These tests force the blocked all-pairs
    route (_cosine_pairs_blocked) by shrinking the broadcast budget to
    a single byte and demand exact agreement with the oracle."""

    def _oracle(self, sf_dir, sql):
        import duckdb

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        )
        return con.execute(sql).fetchall()

    @pytest.mark.parametrize(
        "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    )
    def test_q54_lsh_route_matches_broadcast_route(self, spark, sf_dir):
        from batch_processing_system_spark.queries.similarity import (
            q54_cosine_neardup,
        )

        exact = sorted(
            map(tuple, q54_cosine_neardup(spark, sf_dir).collect())
        )
        lsh = sorted(
            map(
                tuple,
                q54_cosine_neardup(
                    spark, sf_dir, broadcast_budget_bytes=1
                ).collect(),
            )
        )
        assert len(exact) > 0
        assert lsh == exact

    def test_q87_through_lsh_route_matches_oracle(self, spark):
        from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded
        from batch_processing_system_spark.queries.curation import (
            q87_semantic_dedup,
        )

        _ensure_loaded()
        sf_dir = "/root/testdata/sf0.001"
        got = sorted(
            map(
                tuple,
                q87_semantic_dedup(
                    spark, sf_dir, broadcast_budget_bytes=1
                ).collect(),
            )
        )
        want = sorted(self._oracle(sf_dir, REGISTRY["q87_semantic_dedup"].oracle))
        assert len(got) > 0
        assert got == want


class TestPointerJumping:
    """VERDICT r4 item 4: connected_components must converge in
    ~log2(diameter) rounds via label-of-label shortcutting, not in
    diameter rounds — a long chain is the worst case."""

    @pytest.mark.parametrize("n", [9, 33, 129])
    def test_chain_converges_logarithmically(self, spark, n):
        import math

        from batch_processing_system_spark.queries.curation import (
            connected_components,
        )

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "doc_id_a bigint, doc_id_b bigint"
        )
        rounds: list[int] = []
        labels = connected_components(pairs, rounds_out=rounds)
        got = {(r["doc_id"], r["component"]) for r in labels.collect()}
        assert got == {(i, 0) for i in range(n)}
        # diameter d = n-1; measured: 3/5/7 rounds for d = 8/32/128
        assert rounds[0] <= math.ceil(math.log2(n - 1)) + 1

    def test_forest_and_cliques_still_exact(self, spark):
        from batch_processing_system_spark.queries.curation import (
            connected_components,
        )

        # two cliques, one chain, one isolated edge — mixed shapes
        edges = (
            [(a, b) for a in range(4) for b in range(a + 1, 4)]
            + [(10 + a, 10 + b) for a in range(3) for b in range(a + 1, 3)]
            + [(20, 21), (21, 22), (22, 23)]
            + [(30, 31)]
        )
        pairs = spark.createDataFrame(edges, "doc_id_a bigint, doc_id_b bigint")
        got = {
            (r["doc_id"], r["component"])
            for r in connected_components(pairs).collect()
        }
        want = (
            {(i, 0) for i in range(4)}
            | {(10 + i, 10) for i in range(3)}
            | {(20 + i, 20) for i in range(4)}
            | {(30, 30), (31, 30)}
        )
        assert got == want


class TestPiiScrub:
    """q90: email/phone redaction with typed placeholders, counted per
    doc; oracle parity verified on PLANTED PII (the synthetic corpus
    has none, so the driver check alone would be vacuous)."""

    ROWS = [
        (1, "contact alice.smith+dev@example.co.uk or call 555-123-4567 now"),
        (2, "two mails a@b.io c@d.org one phone 123.456.7890"),
        (3, "clean text with no identifiers at all"),
        (4, "edge 999-999-9999x not a phone but 111-222-3333 is"),
    ]

    def _sf_dir(self, spark, tmp_path):
        spark.createDataFrame(
            self.ROWS, "doc_id bigint, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        return str(tmp_path)

    def test_redaction_semantics(self, spark, tmp_path):
        from batch_processing_system_spark.queries.curation import q90_pii_scrub

        out = {
            r["doc_id"]: r for r in q90_pii_scrub(spark, self._sf_dir(spark, tmp_path)).collect()
        }
        assert out[1]["scrubbed"] == "contact <EMAIL> or call <PHONE> now"
        assert (out[1]["n_emails"], out[1]["n_phones"]) == (1, 1)
        assert out[2]["scrubbed"] == "two mails <EMAIL> <EMAIL> one phone <PHONE>"
        assert (out[2]["n_emails"], out[2]["n_phones"]) == (2, 1)
        assert out[3]["scrubbed"] == self.ROWS[2][1]
        assert (out[3]["n_emails"], out[3]["n_phones"]) == (0, 0)
        # \b stops 999-999-9999x from matching; 111-222-3333 does
        assert out[4]["scrubbed"] == "edge 999-999-9999x not a phone but <PHONE> is"
        assert out[4]["n_phones"] == 1

    def test_oracle_parity_on_planted_pii(self, spark, tmp_path):
        import duckdb

        from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded
        from batch_processing_system_spark.queries.curation import q90_pii_scrub

        _ensure_loaded()
        sf_dir = self._sf_dir(spark, tmp_path)
        got = sorted(map(tuple, q90_pii_scrub(spark, sf_dir).collect()))
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
        )
        want = sorted(
            tuple(r) for r in con.execute(REGISTRY["q90_pii_scrub"].oracle).fetchall()
        )
        assert got == want
        assert any(r[2] > 0 for r in got)  # the fixture actually redacts


class TestHtmlStrip:
    """q98: markup stripping on planted HTML (the synthetic corpus has
    none) with DuckDB oracle parity."""

    ROWS = [
        (1, "<p>hello <b>world</b></p> &amp; more &#8212; done"),
        (2, "plain words stay untouched"),
        (3, "<div class='x'>a</div><br/>b   c"),
    ]

    def _sf_dir(self, spark, tmp_path):
        spark.createDataFrame(
            self.ROWS, "doc_id bigint, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        return str(tmp_path)

    def test_strip_semantics(self, spark, tmp_path):
        from batch_processing_system_spark.queries.curation import q98_html_strip

        out = {
            r["doc_id"]: (r["clean_text"], r["n_tokens"])
            for r in q98_html_strip(spark, self._sf_dir(spark, tmp_path)).collect()
        }
        assert out[1] == ("hello world more done", 4)
        assert out[2] == ("plain words stay untouched", 4)
        assert out[3] == ("a b c", 3)

    def test_oracle_parity_on_planted_markup(self, spark, tmp_path):
        import duckdb

        from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded
        from batch_processing_system_spark.queries.curation import q98_html_strip

        _ensure_loaded()
        sf_dir = self._sf_dir(spark, tmp_path)
        got = sorted(map(tuple, q98_html_strip(spark, sf_dir).collect()))
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
        )
        want = sorted(
            tuple(r) for r in con.execute(REGISTRY["q98_html_strip"].oracle).fetchall()
        )
        assert got == want


class TestFunnel:
    """q95: ordered-sequence funnel with strict time progression."""

    def test_stage_semantics(self, spark, tmp_path):
        from batch_processing_system_spark.queries.temporal import q95_funnel

        def ev(eid, ts_s, uid, etype):
            return (eid, ts_s * 1_000_000, uid, etype, 1.0, "{}")

        rows = [
            # user 1: full funnel in order
            ev(1, 100, 1, "signup"), ev(2, 200, 1, "view"), ev(3, 300, 1, "purchase"),
            # user 2: purchase BEFORE view — stops at stage 2 (signup+view)
            ev(4, 100, 2, "signup"), ev(5, 150, 2, "purchase"), ev(6, 200, 2, "view"),
            # user 3: view in the SAME second as signup — strict '>' blocks it
            ev(7, 100, 3, "signup"), ev(8, 100, 3, "view"),
            # user 4: only noise events — stage 0
            ev(9, 100, 4, "click"), ev(10, 200, 4, "error"),
            # user 5: view before any signup, then signup — stage 1
            ev(11, 50, 5, "view"), ev(12, 100, 5, "signup"),
        ]
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows]),
            "props": pa.array([r[5] for r in rows]),
        })
        pq.write_table(tbl, str(tmp_path / "events.parquet"))
        out = {
            r["user_id"]: (r["stage"], r["t1"], r["t2"], r["t3"])
            for r in q95_funnel(spark, str(tmp_path)).collect()
        }
        assert out[1] == (3, 100, 200, 300)
        assert out[2] == (2, 100, 200, None)
        assert out[3] == (1, 100, None, None)
        assert out[4] == (0, None, None, None)
        assert out[5] == (1, 100, None, None)


class TestGramNovelty:
    """q94: corpus-level originality — copies score 0, unique docs 1,
    a half-copied doc lands in between."""

    def test_planted_novelty_spectrum(self, spark, tmp_path):
        from batch_processing_system_spark.queries.packing import q94_gram_novelty

        shared = " ".join(f"s{j}" for j in range(8))  # exactly one 8-gram
        uniq1 = " ".join(f"a{j}" for j in range(8))
        uniq3 = " ".join(f"c{j}" for j in range(8))
        rows = [
            (1, shared),            # its only gram also in doc 2 → 0.0
            (2, shared),            # 0.0
            (3, uniq3),             # fully original → 1.0
            (4, uniq1 + " " + shared),  # mixed: some grams unique,
                                        # the shared one not
            (5, "too short"),       # < 8 words → no row
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        out = {
            r["doc_id"]: r for r in q94_gram_novelty(spark, str(tmp_path)).collect()
        }
        assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
        assert out[3]["novelty"] == 1.0
        assert 0.0 < out[4]["novelty"] < 1.0
        assert 5 not in out


class TestBestOfCluster:
    """q92: the representative must be the highest-token-count member,
    NOT the min id (the fixture makes those differ)."""

    def test_longest_doc_wins_cluster(self, spark, tmp_path):
        from batch_processing_system_spark.queries.curation import (
            q92_best_of_cluster,
        )

        base = " ".join(f"c{j}" for j in range(30))
        rows = [
            (1, base),                     # near-dup cluster {1,2}:
            (2, base + " extra tail"),     #   doc 2 is longer → rep
            (7, " ".join(f"u{j}" for j in range(12))),  # singleton
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        out = {
            r["doc_id"]: (r["component"], r["rep_id"], r["kept"])
            for r in q92_best_of_cluster(spark, str(tmp_path)).collect()
        }
        assert out[1] == (1, 2, False)  # min-id member, but NOT the rep
        assert out[2] == (1, 2, True)   # longer doc keeps the cluster
        assert out[7] == (7, 7, True)   # singleton is its own rep


class TestEmbeddingSq8:
    """q91: int8 scalar quantization of the embedding column."""

    def test_semantics_on_crafted_vectors(self, spark, tmp_path):
        from batch_processing_system_spark.queries.similarity import (
            q91_embedding_sq8,
        )

        rows = [
            (0, [0.0, 10.0], 0),
            (1, [5.0, 10.0], 0),   # (5-0)*255/10 = 127.5 → 128 (half up)
            (2, [10.0, 10.0], 0),  # dim 2 is constant → code 0
        ]
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "embeddings.parquet")
        )
        out = {r["vec_id"]: r["codes"] for r in q91_embedding_sq8(spark, str(tmp_path)).collect()}
        assert out == {0: "0,0", 1: "128,0", 2: "255,0"}

    def test_rounding_margins_on_fixture(self):
        """Spark rounds HALF_UP, DuckDB rounds half away from zero —
        identical for the positive scaled values here UNLESS one lands
        on a .5 boundary. Measured at sf0.01: min distance 5.2e-5
        (~1e8x double noise)."""
        import duckdb
        import numpy as np

        con = duckdb.connect()
        rows = con.execute(
            "SELECT embedding FROM "
            "read_parquet('/root/testdata/sf0.01/embeddings.parquet')"
        ).fetchall()
        mat = np.array([r[0] for r in rows], dtype=np.float64)
        mn, mx = mat.min(axis=0), mat.max(axis=0)
        scaled = (mat - mn) * 255.0 / (mx - mn)
        frac = np.abs(scaled - np.floor(scaled) - 0.5)
        assert frac.min() > 1e-6, frac.min()


class TestFirstLineLookupPlan:
    """VERDICT r4 item 6: the validation first-line lookup must plan a
    TakeOrderedAndProject, not a global single-partition Window sort."""

    def test_orderby_limit_plans_take_ordered(self, spark):
        df = spark.range(100).select(
            F.col("id").alias("line_id"), (F.col("id") * 2).alias("v")
        )
        plan = (
            df.orderBy("line_id")
            .limit(1)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "TakeOrderedAndProject" in plan
        assert "Window" not in plan

    def test_validate_submission_first_model_still_first_line(
        self, spark, tmp_path
    ):
        import json

        from batch_processing_system_spark.pipeline.validate import (
            validate_submission,
        )
        from tests.test_pipeline import SCHEMA_JSON, good_request

        lines = [good_request(i) for i in range(5)]
        lines[0]["body"]["model"] = "model-first"
        p = tmp_path / "req.jsonl"
        p.write_text("".join(json.dumps(r) + "\n" for r in lines))
        docs = spark.createDataFrame(
            [(f"doc-{i:03d}",) for i in range(5)], "_id string"
        )
        out = validate_submission(spark, str(p), SCHEMA_JSON, docs)
        assert out.model == "model-first"
        # the other 4 lines now mismatch the batch model
        errs = out.errors.filter(F.col("type") == "model_mismatch").count()
        assert errs == 4


"""Round-2 hardening tests: hashable q22 projection, q46 hot-shingle
DF cut recall, q54 bounded-collect + over-budget (blocked all-pairs)
fallback equivalence, and the no-unbounded-collect lint over the query
catalog."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from batch_processing_system_spark.queries.aggregates import q22, q22_arrays
from batch_processing_system_spark.queries.similarity import q54_cosine_neardup
from batch_processing_system_spark.queries.text import q46_neardup_jaccard

from .conftest import SF_MEDIUM, SF_SMALL

QUERIES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "batch_processing_system_spark",
    "queries",
)


class TestQ22HashableProjection:
    def test_string_form_matches_array_form(self, spark):
        arr = {
            r["o_custkey"]: [int(x) for x in r["orderkeys"]]
            for r in q22_arrays(spark, SF_SMALL).collect()
        }
        joined = {
            r["o_custkey"]: r["orderkeys"] for r in q22(spark, SF_SMALL).collect()
        }
        assert set(arr) == set(joined)
        for k, keys in arr.items():
            assert joined[k] == ",".join(str(x) for x in keys)
            assert keys == sorted(keys)  # array_sort applied


class TestQ46HotShingleCut:
    def test_df_cut_preserves_planted_pairs(self, spark):
        """The DF cut prunes candidate generation only — output must be
        identical to the uncut inverted-index join (25 planted pairs at
        sf0.01 per TESTDATA.md)."""
        cut = {
            (r[0], r[1], r[2])
            for r in q46_neardup_jaccard(spark, SF_MEDIUM, df_cut=5).collect()
        }
        uncut = {
            (r[0], r[1], r[2])
            for r in q46_neardup_jaccard(spark, SF_MEDIUM, df_cut=1 << 30).collect()
        }
        assert cut == uncut
        assert len(cut) == 25

    def test_df_filter_visible_in_plan(self, spark, tmp_path):
        """Round-17 shape: the cut lives on the HOT side (df > cut,
        materialized boilerplate-sized and anti-joined against the
        shingle table) instead of attaching df to every shingle row —
        the big side is never shuffled for the cut decision. On a
        corpus WITH a hot shingle the plan carries the anti-join; on a
        hot-free corpus (sf0.01 testdata at cut=5) the degenerate
        branch drops the cut machinery from the plan entirely."""
        boiler = "alpha beta gamma delta epsilon zeta"
        rows = [
            (i, f"{boiler} " + " ".join(f"u{i}x{j}" for j in range(20)))
            for i in range(30)
        ]
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "documents.parquet"))
        hot_plan = (
            q46_neardup_jaccard(spark, str(tmp_path), df_cut=5)
            ._jdf.queryExecution().toString()
        )
        assert "LeftAnti" in hot_plan, "hot-shingle anti-join missing from plan"
        cold_plan = (
            q46_neardup_jaccard(spark, SF_MEDIUM, df_cut=5)
            ._jdf.queryExecution().toString()
        )
        assert "LeftAnti" not in cold_plan, (
            "hot-free corpus should take the degenerate (cut-free) branch"
        )

    def test_pathological_boilerplate_corpus(self, spark, tmp_path):
        """The round-1 verdict's failure scenario: one boilerplate
        shingle shared by 10% of the corpus. Without the DF cut the
        self-join goes quadratic in the cluster size; with it, the
        boilerplate contributes zero candidates while a genuinely
        near-duplicate pair (whose shared shingles are rare) is still
        found."""
        from batch_processing_system_spark.engine.io import load_table
        from batch_processing_system_spark.queries.similarity import _shingles

        boiler = "alpha beta gamma delta epsilon zeta"  # 6 words = 2 5-shingles
        rows = []
        for i in range(300):
            unique = " ".join(f"u{i}x{j}" for j in range(20))
            rows.append((i, f"{boiler} {unique}" if i < 30 else unique))
        base = " ".join(f"p{j}" for j in range(30))
        rows += [(1000, base), (1001, base + " extraword")]
        spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "documents.parquet"))
        sf_dir = str(tmp_path)

        # recall: only the planted pair is a true near-dup, and it survives the cut
        out = {(r[0], r[1]) for r in q46_neardup_jaccard(spark, sf_dir).collect()}
        assert out == {(1000, 1001)}

        # candidate volume: the cut removes the quadratic cluster
        sh = _shingles(load_table(spark, sf_dir, "documents"), n=5)
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

        def n_candidates(shingle_df):
            a = shingle_df.select(F.col("doc_id").alias("da"), "shingle")
            b = shingle_df.select(F.col("doc_id").alias("db"), "shingle")
            return (
                a.join(b, ["shingle"])
                .filter(F.col("da") < F.col("db"))
                .select("da", "db")
                .distinct()
                .count()
            )

        uncut = n_candidates(sh)
        cut = n_candidates(sh.join(dfreq.filter(F.col("df") <= 5), "shingle"))
        assert uncut >= 30 * 29 // 2  # boilerplate cluster alone is quadratic
        assert cut == 1  # exactly the planted pair survives candidate generation


class TestQ54BoundedCollect:
    def test_lsh_fallback_same_pairs(self, spark):
        """A 1-byte budget forces the over-budget route,
        ``_cosine_pairs_blocked`` (the test id keeps its old LSH name);
        the blocked all-pairs grid is exact, so it returns the same
        pairs as the broadcast path."""
        exact = {(r[0], r[1], r[2]) for r in q54_cosine_neardup(spark, SF_SMALL).collect()}
        lsh_df = q54_cosine_neardup(spark, SF_SMALL, broadcast_budget_bytes=1)
        lsh = {(r[0], r[1], r[2]) for r in lsh_df.collect()}
        assert [f.name for f in lsh_df.schema.fields] == ["vec_id_a", "vec_id_b", "cos_sim"]
        assert lsh == exact
        assert len(exact) > 0

    def test_lsh_fallback_avoids_python_stage(self, spark):
        """The 1-byte budget's ``_cosine_pairs_blocked`` route plans no
        mapInPandas stage (its grid cells run through applyInPandas)."""
        plan = q54_cosine_neardup(
            spark, SF_SMALL, broadcast_budget_bytes=1
        )._jdf.queryExecution().toString()
        assert "mapInPandas" not in plan and "MapInPandas" not in plan


class TestConnectedComponents:
    def _cc(self, spark, pairs):
        from batch_processing_system_spark.queries.curation import connected_components

        df = spark.createDataFrame(pairs, "doc_id_a bigint, doc_id_b bigint")
        return {r["doc_id"]: r["component"] for r in connected_components(df).collect()}

    def test_chain_needs_iteration(self, spark):
        # path graph 1-5-9, 9-20: fused round 0 labels 20 with 9; the
        # loop must propagate 1 across the chain
        got = self._cc(spark, [(1, 5), (5, 9), (9, 20)])
        assert got == {1: 1, 5: 1, 9: 1, 20: 1}

    def test_disjoint_cliques_and_pair(self, spark):
        got = self._cc(spark, [(4, 2), (2, 7), (4, 7), (10, 11)])
        assert got == {2: 2, 4: 2, 7: 2, 10: 10, 11: 10}


class TestNoUnboundedCollect:
    def test_every_collect_in_package_is_tagged_bounded(self):
        """Greppable invariant (VERDICT round-1 item 3; widened to the
        WHOLE package round 13, VERDICT r12 item 4): any driver
        materialization anywhere in batch_processing_system_spark —
        queries, pipeline, streaming, engine, functions, sources —
        must sit under an explicit `# bounded-collect:` justification
        comment within the 10 preceding lines (multi-line method
        chains put the closing .collect() several lines below the
        statement head, so a 2-line window was queries-only-tight)."""
        pkg_dir = os.path.dirname(QUERIES_DIR)
        offenders = []
        for dirpath, _, fnames in sorted(os.walk(pkg_dir)):
            for fname in sorted(fnames):
                if not fname.endswith(".py"):
                    continue
                fpath = os.path.join(dirpath, fname)
                rel = os.path.relpath(fpath, pkg_dir)
                lines = open(fpath).read().splitlines()
                for i, line in enumerate(lines):
                    if re.search(r"\.(collect|toPandas|toLocalIterator)\(\)", line):
                        window = "\n".join(lines[max(0, i - 10) : i + 1])
                        if "bounded-collect" not in window:
                            offenders.append(f"{rel}:{i + 1}: {line.strip()}")
        assert not offenders, f"unbounded driver materialization: {offenders}"

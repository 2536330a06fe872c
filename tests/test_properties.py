"""Property-based cross-validation (hypothesis): each property checks a
Spark operator implementation against an INDEPENDENT reference
implementation (pure Python or an alternative Spark formulation) on
randomized inputs — coverage the fixed synthetic tables can't give
(ties, empty groups, single-row users, adversarial gaps).

Example counts are small (Spark job per example) but each example is a
full multi-row scenario.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, example, given, settings, strategies as st

from tests.conftest import prop_examples
from pyspark.sql import functions as F
from pyspark.sql.window import Window

BASE = datetime(2024, 1, 1)

# (user_id, seconds_offset, kind) event sets
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=7200),
        st.sampled_from(["signup", "purchase", "view"]),
    ),
    min_size=1,
    max_size=40,
)

PROP_SETTINGS = settings(
    max_examples=prop_examples(12), deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _df(spark, rows):
    data = [
        (i, BASE + timedelta(seconds=s), u, k, float(i))
        for i, (u, s, k) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )


class TestSessionization:
    @PROP_SETTINGS
    @given(rows=events_strategy)
    def test_gaps_islands_equals_session_window(self, spark, rows):
        """q40's lag+flag-sum session count == session_window count."""
        df = _df(spark, rows)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        es = F.unix_timestamp("ts")
        gaps = (
            df.select(
                "user_id",
                F.when(F.lag(es).over(w).isNull() | ((es - F.lag(es).over(w)) > 1800), 1)
                .otherwise(0)
                .alias("is_new"),
            )
            .groupBy("user_id")
            .agg(F.sum("is_new").alias("n"))
        )
        sw = (
            df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .count()
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert sorted(map(tuple, gaps.collect())) == sorted(map(tuple, sw.collect()))
        # session_window uses gap > strict? boundary parity is the point:
        # an event exactly 1800s after the previous must merge in both.


class TestAsOfJoin:
    @PROP_SETTINGS
    @given(rows=events_strategy)
    def test_window_idiom_equals_join_aggregate(self, spark, rows):
        """q14's single-window as-of == the naive join+max formulation."""
        df = _df(spark, rows)
        w = (
            Window.partitionBy("user_id")
            .orderBy(F.unix_micros("ts"))
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        via_window = (
            df.withColumn(
                "last_signup",
                F.max(F.when(F.col("event_type") == "signup", F.col("event_id"))).over(w),
            )
            .filter(F.col("event_type") == "purchase")
            .select("event_id", "last_signup")
        )
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        s = df.filter(F.col("event_type") == "signup").select(
            F.col("event_id").alias("s_id"), F.col("user_id").alias("s_user"), F.col("ts").alias("s_ts")
        )
        via_join = (
            p.join(s, (p.p_user == s.s_user) & (s.s_ts < p.p_ts), "left")
            .groupBy("p_id")
            .agg(F.max("s_id").alias("last_signup"))
            .select(F.col("p_id").alias("event_id"), "last_signup")
        )
        assert sorted(map(tuple, via_window.collect())) == sorted(
            map(tuple, via_join.collect())
        )


class TestUpsertMerge:
    # a custom_id may repeat: two jobs in one tick, or one result file
    # with two lines for it
    updates_strategy = st.lists(
        st.tuples(st.integers(0, 9), st.sampled_from(["completed", "failed"])),
        min_size=0,
        max_size=8,
    )

    @PROP_SETTINGS
    @given(updates=updates_strategy)
    @example(updates=[(0, "completed"), (0, "completed"), (1, "completed"), (1, "failed")])
    def test_join_rebuild_matches_dict_semantics(self, spark, updates):
        """S5 upsert == plain dict-merge semantics over in_progress docs,
        with at most one update applied per document: a failure beats
        any item, otherwise the smallest item is appended once; others
        unchanged, and the row count never changes. Applying the SAME
        updates a second time is a no-op (the idempotency contract
        re-entry depends on)."""
        from batch_processing_system_spark.pipeline.process import upsert_documents
        from batch_processing_system_spark.pipeline.schemas import DOCUMENT_SCHEMA

        docs = [(f"d{i}", "in_progress", [], "{}") for i in range(10)]
        docs_df = spark.createDataFrame(docs, DOCUMENT_SCHEMA)
        t0 = BASE
        # the item text names the update's position, so the smallest
        # of two items for one doc is checkable
        upd_rows = [
            (
                f"d{i}",
                status,
                (f'{{"v": {n}}}', t0) if status == "completed" else None,
            )
            for n, (i, status) in enumerate(updates)
        ]
        upd_df = spark.createDataFrame(
            upd_rows,
            "custom_id string, new_status string, "
            "new_item struct<event_response:string, updated:timestamp>",
        )
        once = upsert_documents(docs_df, upd_df)
        rows = once.collect()
        assert len(rows) == len(docs)
        merged = {r["_id"]: r for r in rows}

        expected = {f"d{i}": ("in_progress", []) for i in range(10)}
        for doc_id, status, item in upd_rows:
            if status == "failed" or expected[doc_id][0] == "failed":
                expected[doc_id] = ("failed", [])
            elif expected[doc_id] == ("in_progress", []) or item[0] < expected[doc_id][1][0]:
                expected[doc_id] = ("completed", [item[0]])
        actual = {
            k: (v["ai_status"], [e["event_response"] for e in v["event_response"]])
            for k, v in merged.items()
        }
        assert actual == expected

        # idempotence: re-applying to the already-transitioned snapshot
        # changes nothing — docs are no longer in_progress
        twice = {r["_id"]: r for r in upsert_documents(once, upd_df).collect()}
        actual2 = {
            k: (v["ai_status"], [e["event_response"] for e in v["event_response"]])
            for k, v in twice.items()
        }
        assert actual2 == actual


class TestDeterminismHelpers:
    @PROP_SETTINGS
    @given(
        values=st.lists(
            st.decimals(min_value=-9999, max_value=9999, places=2).map(float),
            min_size=1,
            max_size=50,
        )
    )
    def test_decimal_sum_is_partitioning_invariant(self, spark, values):
        """D1: dsum gives the identical double no matter how rows are
        partitioned — the whole point of the DECIMAL accumulation."""
        from batch_processing_system_spark.engine.det import dsum

        df1 = spark.createDataFrame([(v,) for v in values], "v double").coalesce(1)
        df32 = spark.createDataFrame([(v,) for v in values], "v double").repartition(32)
        s1 = df1.agg(dsum("v", "s")).collect()[0]["s"]
        s32 = df32.agg(dsum("v", "s")).collect()[0]["s"]
        assert s1 == s32  # bit-exact, not approx

"""Property-based oracle equivalence: hypothesis-random MICRO-datasets
pushed through BOTH engines — the same Spark builder vs DuckDB oracle
comparison the driver runs, but on adversarial tiny tables full of
ties, empty groups, and boundary values the fixed testdata never
produces. Each example writes a fresh parquet layout, runs the
registered query and its oracle SQL, and demands the same multiset of
rows (reusing tools/check_oracle's comparator, including the type
normalization).

Queries chosen for tie/emptiness sensitivity: the TPC-H argmin/tie
silhouettes, custdist's zero-groups, the rolling median's frames, and
the equi-depth bucket formula."""

from __future__ import annotations

import datetime

import duckdb
import pytest
from hypothesis import given, settings

from tests.conftest import prop_examples
from hypothesis import strategies as st

from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded
from tools.check_oracle import run_one

_ensure_loaded()

_TS = datetime.datetime(1997, 3, 1)


def _write(spark, d, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d / f"{name}.parquet"))


def _check(spark, tmp, qname):
    con = duckdb.connect()
    import os

    for t in ("lineitem", "orders", "customer", "supplier", "part", "events"):
        p = tmp / f"{t}.parquet"
        if os.path.exists(p):
            # Spark writes parquet DIRECTORIES; DuckDB needs the glob
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
    out = run_one(spark, con, qname, REGISTRY[qname], str(tmp))
    assert out["ok"], out.get("note")


def _assert_same_table(plain, twin):
    assert [(f.name, f.dataType) for f in plain.schema.fields] == [
        (f.name, f.dataType) for f in twin.schema.fields
    ]
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, twin.collect())
    )


def _gen_custdist(spark, tmp, data):
    """Random customer/orders micro-shape (shared by the oracle and the
    layout-twin sweeps): tiny key domains for constant tie/empty
    pressure."""
    n_cust = data.draw(st.integers(1, 8))
    n_ord = data.draw(st.integers(0, 15))
    prios = ["1-URGENT", "5-LOW"]
    _write(
        spark, tmp, "customer",
        [(c, f"c{c}", 1, 0.0, "S") for c in range(1, n_cust + 1)],
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    _write(
        spark, tmp, "orders",
        [
            (
                o,
                data.draw(st.integers(1, n_cust), label=f"cust{o}"),
                "O", 1.0, _TS,
                data.draw(st.sampled_from(prios), label=f"p{o}"),
            )
            for o in range(1, n_ord + 1)
        ],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )


def _gen_events_rolling(spark, tmp, data):
    """Random events micro-shape with repeated values (lerp-on-ties
    pressure for the rolling median; shared with the layout-twin
    sweep)."""
    n_ev = data.draw(st.integers(1, 20))
    n_users = data.draw(st.integers(1, 3))
    vals = [1.25, 2.5, 2.5, 7.75]
    _write(
        spark, tmp, "events",
        [
            (
                i,
                _TS + datetime.timedelta(
                    minutes=data.draw(st.integers(0, 5), label=f"m{i}")
                ),
                data.draw(st.integers(1, n_users), label=f"u{i}"),
                "purchase",
                data.draw(st.sampled_from(vals), label=f"v{i}"),
                "{}",
            )
            for i in range(1, n_ev + 1)
        ],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )


class TestRandomOracle:
    @given(data=st.data())
    @settings(max_examples=prop_examples(8), deadline=None)
    def test_custdist_random(self, spark, tmp_path_factory, data):
        tmp = tmp_path_factory.mktemp("rnd")
        _gen_custdist(spark, tmp, data)
        _check(spark, tmp, "r36_custdist")

    @given(data=st.data())
    @settings(max_examples=prop_examples(8), deadline=None)
    def test_min_cost_supplier_ties(self, spark, tmp_path_factory, data):
        tmp = tmp_path_factory.mktemp("rnd")
        n_sup = data.draw(st.integers(1, 6))
        n_part = data.draw(st.integers(1, 5))
        # acctbal from a TINY set -> constant tie pressure
        _write(
            spark, tmp, "supplier",
            [
                (s, f"s{s}", 1,
                 float(data.draw(st.sampled_from([1.0, 2.0]), label=f"b{s}")))
                for s in range(1, n_sup + 1)
            ],
            "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
        )
        _write(
            spark, tmp, "part",
            [(p, f"p{p}", "B", "SMALL", 5, 1.0) for p in range(1, n_part + 1)],
            "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
        )
        n_li = data.draw(st.integers(0, 12))
        _write(
            spark, tmp, "lineitem",
            [
                (
                    i, data.draw(st.integers(1, n_part), label=f"pk{i}"),
                    data.draw(st.integers(1, n_sup), label=f"sk{i}"),
                    1, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS,
                )
                for i in range(1, n_li + 1)
            ],
            "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        )
        _check(spark, tmp, "r41_min_cost_supplier")

    @given(data=st.data())
    @settings(max_examples=prop_examples(8), deadline=None)
    def test_sole_latest_supplier_date_ties(self, spark, tmp_path_factory, data):
        tmp = tmp_path_factory.mktemp("rnd")
        n_sup = data.draw(st.integers(1, 4))
        _write(
            spark, tmp, "supplier",
            [(s, f"s{s}", 1, 0.0) for s in range(1, n_sup + 1)],
            "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
        )
        n_li = data.draw(st.integers(0, 14))
        days = [_TS + datetime.timedelta(days=k) for k in range(3)]  # tie-heavy
        _write(
            spark, tmp, "lineitem",
            [
                (
                    data.draw(st.integers(1, 4), label=f"ok{i}"),
                    1,
                    data.draw(st.integers(1, n_sup), label=f"sk{i}"),
                    i, 1.0, 1.0, 0.0, 0.0, "N", "O",
                    data.draw(st.sampled_from(days), label=f"d{i}"),
                )
                for i in range(1, n_li + 1)
            ],
            "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
            "l_linenumber int, l_quantity double, l_extendedprice double, "
            "l_discount double, l_tax double, l_returnflag string, "
            "l_linestatus string, l_shipdate timestamp",
        )
        _check(spark, tmp, "r42_sole_latest_supplier")

    @given(data=st.data())
    @settings(max_examples=prop_examples(8), deadline=None)
    def test_rolling_median_tie_values(self, spark, tmp_path_factory, data):
        tmp = tmp_path_factory.mktemp("rnd")
        _gen_events_rolling(spark, tmp, data)
        _check(spark, tmp, "r44_rolling_median")

    @given(data=st.data())
    @settings(max_examples=prop_examples(6), deadline=None)
    def test_equidepth_small_n(self, spark, tmp_path_factory, data):
        # n smaller than the bucket count is the formula's edge zone
        tmp = tmp_path_factory.mktemp("rnd")
        n_ev = data.draw(st.integers(1, 25))
        _write(
            spark, tmp, "events",
            [
                (
                    i, _TS, 1,
                    data.draw(st.sampled_from(["click", "view"]), label=f"t{i}"),
                    float(data.draw(st.integers(0, 4), label=f"v{i}")),
                    "{}",
                )
                for i in range(1, n_ev + 1)
            ],
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        )
        _check(spark, tmp, "r46_equidepth_bins")


def _twin_roots(layout_root):
    """Point the bucketed and partitioned warehouse roots at a
    per-example dir so micro-twins never pollute the repo's shared
    spark-warehouse; returns the old roots for the caller to restore."""
    from batch_processing_system_spark.engine import bucketing, partitioning

    old_roots = (bucketing._BUCKET_ROOT, partitioning._PART_ROOT)
    bucketing._BUCKET_ROOT = str(layout_root / "bucketed")
    partitioning._PART_ROOT = str(layout_root / "partitioned")
    return old_roots


def _restore_roots(old_roots):
    from batch_processing_system_spark.engine import bucketing, partitioning

    bucketing._BUCKET_ROOT, partitioning._PART_ROOT = old_roots


class TestRandomOracleRouted:
    """Layout must never change answers: a reduced randomized sweep
    whose micro-tables also go through the layout twins the r72-r76
    layout queries read — the bucketed, sorted customer/orders twins
    for the join-shaped query and the hybrid (day-partitioned,
    user-bucketed) events twin for the window-shaped one. Each example
    passes the DuckDB oracle on the plain tables, and each twin built
    from the same tables must have the plain table's schema and rows,
    so adversarial shapes (ties, empty tables, boundary timestamps)
    cross the twin write/register/read path."""

    @given(data=st.data())
    @settings(max_examples=prop_examples(4), deadline=None)
    def test_custdist_random_routed(self, spark, tmp_path_factory, data):
        from batch_processing_system_spark.engine import bucketing
        from batch_processing_system_spark.engine.io import load_table

        tmp = tmp_path_factory.mktemp("rnd_routed")
        _gen_custdist(spark, tmp, data)
        _check(spark, tmp, "r36_custdist")
        old_roots = _twin_roots(tmp_path_factory.mktemp("wh"))
        try:
            for table, key in (("customer", "c_custkey"), ("orders", "o_orderkey")):
                name = bucketing.bucketed_table(
                    spark, str(tmp), table, key, 32, sort_cols=(key,)
                )
                _assert_same_table(
                    load_table(spark, str(tmp), table), spark.table(name)
                )
        finally:
            _restore_roots(old_roots)

    @given(data=st.data())
    @settings(max_examples=prop_examples(4), deadline=None)
    def test_rolling_median_routed(self, spark, tmp_path_factory, data):
        from batch_processing_system_spark.engine import partitioning
        from batch_processing_system_spark.engine.io import load_table

        tmp = tmp_path_factory.mktemp("rnd_routed")
        _gen_events_rolling(spark, tmp, data)
        _check(spark, tmp, "r44_rolling_median")
        old_roots = _twin_roots(tmp_path_factory.mktemp("wh"))
        try:
            twin = spark.table(partitioning.hybrid_events(spark, str(tmp)))
            _assert_same_table(
                load_table(spark, str(tmp), "events"),
                twin.drop(partitioning.PARTITION_COL),
            )
        finally:
            _restore_roots(old_roots)

"""``engine.det.pinned_range_prefix``: the one kernel behind every
distributed global rank and ECDF in the catalog (r12, r13, r26, r46,
r49, r53, r66).

Unit tests on a planted frame check the running sums and maxes
against a plain Python fold, and a source guard keeps the pattern in
that one helper.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F
from pyspark.sql.window import Window

import batch_processing_system_spark as pkg
from batch_processing_system_spark.engine.det import pinned_range_prefix

# (g, v, w): group a has ties on v, group b one row; 5 distinct values
PLANTED = [
    ("a", 1, 10), ("a", 1, 30), ("a", 4, 20), ("a", 9, 5), ("a", 9, 7),
    ("a", 12, 2), ("b", 4, 40), ("b", 12, 1),
]


def _planted(spark):
    return spark.createDataFrame(PLANTED, "g string, v int, w int")


def test_prefix_sums_and_global_rank_across_empty_partitions(spark):
    # 16 range partitions over 5 distinct values: most are empty
    out = pinned_range_prefix(
        _planted(spark), 16, ["v"], {"c": F.count(F.lit(1)), "s": F.sum("w")}
    )
    w = Window.partitionBy("pid").orderBy("v", "w")
    rows = out.select(
        "v", "w", "pid", "c_before", "c_total", "s_before", "s_total",
        (F.row_number().over(w) + F.col("c_before")).alias("rnk"),
    ).collect()
    assert len(rows) == len(PLANTED)
    assert len({r["pid"] for r in rows}) < 16
    for r in rows:
        earlier = [p for p in rows if p["pid"] < r["pid"]]
        assert r["c_before"] == len(earlier)
        assert r["s_before"] == sum(p["w"] for p in earlier)
        assert (r["c_total"], r["s_total"]) == (8, sum(x[2] for x in PLANTED))
    ranks = {(r["v"], r["w"]): r["rnk"] for r in rows}
    expected = sorted((v, w_) for _, v, w_ in PLANTED)
    assert ranks == {k: i for i, k in enumerate(expected, 1)}


def test_grouped_offsets_restart_per_group(spark):
    out = pinned_range_prefix(
        _planted(spark), 4, ["g", "v"], {"c": F.count(F.lit(1))}, by=("g",)
    )
    w = Window.partitionBy("pid", "g").orderBy("v", "w")
    rows = out.select(
        "g", "v", "w", "c_total",
        (F.row_number().over(w) + F.col("c_before")).alias("rnk"),
    ).collect()
    for g in ("a", "b"):
        mine = [r for r in rows if r["g"] == g]
        assert {r["c_total"] for r in mine} == {len(mine)}
        expected = sorted((v, w_) for g_, v, w_ in PLANTED if g_ == g)
        got = {(r["v"], r["w"]): r["rnk"] for r in mine}
        assert got == {k: i for i, k in enumerate(expected, 1)}


def test_running_max_is_null_before_the_first_partition(spark):
    out = pinned_range_prefix(
        _planted(spark), 3, ["v"], {"m": F.max("w")}, running=F.max
    ).collect()
    first = min(r["pid"] for r in out)
    for r in out:
        earlier = [p["w"] for p in out if p["pid"] < r["pid"]]
        assert r["m_before"] == (max(earlier) if earlier else None)
        assert r["m_total"] == 40
    assert any(r["pid"] == first and r["m_before"] is None for r in out)


def test_empty_input(spark):
    out = pinned_range_prefix(
        _planted(spark).where(F.lit(False)), 8, ["v"], {"c": F.count(F.lit(1))}
    )
    assert out.count() == 0
    assert {"pid", "c_before", "c_total", "g", "v", "w"} <= set(out.columns)


def test_pinned_pid_lives_in_one_helper():
    """Global ranks go through engine.det.pinned_range_prefix: no other
    module tags rows with spark_partition_id(), and the rank queries
    build no driver-side offset frames with createDataFrame."""
    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{f.relative_to(root)}:{n}"
        for f in sorted(root.rglob("*.py"))
        if f != root / "engine" / "det.py"
        for n, line in enumerate(f.read_text().splitlines(), 1)
        if "spark_partition_id(" in line
    ]
    offenders += [
        f"queries/{name}:{n}"
        for name in ("wrangling.py", "packing.py")
        for n, line in enumerate(
            (root / "queries" / name).read_text().splitlines(), 1
        )
        if "createDataFrame(" in line
    ]
    assert not offenders, (
        "pinned-pid pattern outside engine.det.pinned_range_prefix at "
        + ", ".join(offenders)
    )

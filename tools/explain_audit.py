"""Physical-plan audit (SURVEY §4; the "iterate until it's the plan
you'd want" loop).

For every catalog query, captures ``explain(formatted)`` and asserts
the plan invariants that matter at 100 TB:

- column pruning:   q01's scan reads exactly its 4 projected columns
- filter pushdown:  q02/q03/q06 show PushedFilters at the scan
- broadcast joins:  dimension joins (q08, q20, q55) use
                    BroadcastHashJoin, never shuffle both sides
- no Python in tier-1: no BatchEvalPython/ArrowEvalPython stage in any
                    hash-checked query. Queries whose declared surface
                    IS the Arrow batch path (q54 mapInPandas, q63
                    applyInPandas) show MapInPandas /
                    FlatMapGroupsInPandas operators instead — those are
                    the intended vectorized exchanges, not accidental
                    per-expression Python, and are allowed.
- codegen:          every tier-1 plan has whole-stage-codegen spans
                    (``[codegen id : N]`` markers in formatted output)

Writes all plans to PLANS.md for review. Exit 1 on any violation.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from batch_processing_system_spark.engine.session import get_spark
from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded

SF_DIR = os.environ.get("AUDIT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    _ensure_loaded()
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    plans: dict[str, str] = {}
    failures: list[str] = []

    for name, spec in sorted(REGISTRY.items()):
        try:
            df = spec.fn(spark, SF_DIR)
            # Execute THIS df first (collect, not count — count builds a
            # separate plan): AQE only reveals its final shape (join
            # demotions, coalesced partitions, codegen ids) after the
            # run — `isFinalPlan=true` is what we audit.
            df.collect()
            plans[name] = plan_of(df)
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: plan build failed: {exc}")

    def check(cond: bool, msg: str) -> None:
        if not cond:
            failures.append(msg)

    def plan(name: str) -> str:
        # ADVICE r11: a query whose plan failed to build is already
        # recorded in `failures`; downstream assertions should see an
        # empty plan (and fail as ordinary violations) rather than
        # KeyError the whole audit into a traceback.
        return plans.get(name, "")

    # column pruning: q01 must scan only its projection
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan("q01"))
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",")) if m else []
    check(
        cols == ["o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"],
        f"q01 scan not pruned to projection: {cols}",
    )

    # filter pushdown reaches the parquet scan
    for q in ("q02", "q03"):
        check(
            re.search(r"PushedFilters: \[[^\]]+\]", plan(q)) is not None,
            f"{q} has no pushed filters at the scan",
        )

    # dimension joins broadcast
    for q in ("q08", "q20", "q55_pipeline_shape"):
        check("BroadcastHashJoin" in plan(q), f"{q} dimension join is not broadcast")
    check(
        "SortMergeJoin" not in plan("q08") and "ShuffledHashJoin" not in plan("q08"),
        "q08 shuffles despite broadcast-sized dims",
    )

    # q32: the RANGE window must be day-bucketed — a single-partition
    # global sort is the first thing to fall over at 100×
    check(
        "SinglePartition" not in plan("q32"),
        "q32 window runs on a single partition (global sort)",
    )
    check(
        re.search(r"hashpartitioning\(day", plan("q32")) is not None,
        "q32 window is not partitioned by the day bucket",
    )

    # training-set assembly: running-offset / position windows must be
    # sharded, never a global sort
    for q, key in (("q77_seq_packing", "shard"), ("q79_det_shuffle", "bucket")):
        check(
            "SinglePartition" not in plan(q),
            f"{q} window runs on a single partition (global sort)",
        )
        check(
            re.search(rf"hashpartitioning\({key}", plan(q)) is not None,
            f"{q} window is not partitioned by {key}",
        )
    # q78: the (small) eval split must broadcast into the gram join
    check(
        "BroadcastHashJoin" in plan("q78_contamination"),
        "q78 eval-side gram join is not broadcast",
    )
    # q80: repetition scoring is per-row higher-order array work — it
    # must compile to a map-only plan with no shuffle whatsoever
    check(
        "Exchange" not in plan("q80_repetition"),
        "q80 shuffles despite being a per-row computation",
    )
    # r70: the skew-safe aggregate's phase-1 Exchange must partition by
    # (k, _salt) — the whole point is that the hot key spreads over the
    # salt space instead of serializing one reducer
    check(
        re.search(r"hashpartitioning\(k#\d+L?, _salt", plan("r70_salted_hot_agg"))
        is not None,
        "r70 phase-1 Exchange does not partition by (k, _salt)",
    )
    # r71: the skew-safe join's structural shape, asserted with
    # broadcast demotion forced off so it can't be threshold luck —
    # hot slice broadcast (the F.broadcast hint survives -1), cold
    # remainder SortMergeJoin, branches unioned
    from batch_processing_system_spark.queries.aggregates import (
        r71_salted_hot_join,
    )

    old_bcast_r71 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        r71_plan = (
            r71_salted_hot_join(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    except Exception as exc:  # noqa: BLE001 — surface as a violation
        r71_plan = ""
        failures.append(f"r71 demotion-off plan build failed: {exc}")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast_r71)
    check(
        "BroadcastHashJoin" in r71_plan,
        "r71 hot slice is not broadcast under threshold -1",
    )
    check(
        "SortMergeJoin" in r71_plan or "ShuffledHashJoin" in r71_plan,
        "r71 cold remainder is not a shuffle join",
    )
    check("Union" in r71_plan, "r71 hot/cold branches are not unioned")

    # r72/r73: the date-partitioned events twin must actually prune.
    # r72: the literal 3-day window prunes STATICALLY — the scan's
    # PartitionFilters carry the event_date bounds and inputFiles
    # shrinks to the qualifying day directories.
    check(
        re.search(
            r"PartitionFilters: \[[^\]]*event_date[^\]]*2024-01-10",
            plan("r72_date_partition_prune"),
        )
        is not None,
        "r72 scan has no event_date PartitionFilters (static prune lost)",
    )
    # r73: the filtered-dim join prunes DYNAMICALLY — Catalyst plants a
    # dynamicpruningexpression subquery in the fact scan
    check(
        "dynamicpruning" in plan("r73_dpp_join"),
        "r73 fact scan has no dynamicpruningexpression (DPP lost)",
    )
    # r76 (round 12): DPP against a genuinely INDEPENDENT dim — the
    # canonical fact ⋈ calendar silhouette; must survive even if a
    # future Catalyst collapses r73's self-derived subquery
    check(
        "dynamicpruning" in plan("r76_dpp_dim_join"),
        "r76 independent-dim fact scan has no dynamicpruningexpression",
    )
    # r74: the COMPOSED layout (partitioned by day + bucketed by
    # user_id) must show BOTH levers on one plan — the date window in
    # PartitionFilters AND no hash Exchange feeding the per-user
    # aggregation (the only Exchange left is the ORDER BY's range
    # partition)
    check(
        re.search(
            r"PartitionFilters: \[[^\]]*event_date[^\]]*2024-01-10",
            plan("r74_hybrid_layout"),
        )
        is not None,
        "r74 scan has no event_date PartitionFilters (hybrid prune lost)",
    )
    check(
        "Exchange hashpartitioning" not in plan("r74_hybrid_layout"),
        "r74 per-user aggregation re-shuffles despite the bucket layout",
    )
    # record the scan-size delta for PLANS.md §Partitioned
    from batch_processing_system_spark.engine.partitioning import (
        partitioned_events,
    )
    from batch_processing_system_spark.queries.layout import (
        r72_date_partition_prune,
    )

    # ADVICE r11: a twin-build exception here must surface as an audit
    # failure, not a traceback that hides the messages already collected
    try:
        part_total = len(
            spark.table(partitioned_events(spark, SF_DIR)).inputFiles()
        )
        part_read = len(r72_date_partition_prune(spark, SF_DIR).inputFiles())
    except Exception as exc:  # noqa: BLE001
        part_total = part_read = -1
        failures.append(f"partitioned-twin inputFiles delta failed: {exc}")
    check(
        -1 < part_read < part_total or part_total == -1,
        f"r72 static prune read {part_read} of {part_total} files — no delta",
    )

    # tier-1 plans stay JVM-side and codegen'd. Exception: queries whose
    # DECLARED operator surface is a Python vehicle (mapInPandas etc.
    # don't print as EvalPython, but a registered @udtf prints as
    # BatchEvalPythonUDTF) — for those, Python in the plan is the point,
    # and the oracle still hash-checks the output.
    PYTHON_IS_THE_SURFACE = {
        "q85_chunk_udtf",   # U4 registered UDTF
        "r08_bpe_tokens",   # X19: the Arrow-batched BPE tokenizer UDF IS
                            # the operator; the oracle hash-checks its
                            # output against an independent implementation
        "r22_jaro_match",   # X13: the repo's own Jaro-Winkler UDF IS the
                            # operator, cross-validated against DuckDB's
                            # native C++ implementation in the oracle
    }
    for name, spec in sorted(REGISTRY.items()):
        if spec.oracle is None or name not in plans:
            continue
        if name not in PYTHON_IS_THE_SURFACE:
            check(
                "EvalPython" not in plans[name],
                f"{name} is tier-1 but routes through Python ({'ArrowEvalPython' if 'ArrowEvalPython' in plans[name] else 'BatchEvalPython'})",
            )
        check(
            "codegen id" in plans[name],
            f"{name} has no whole-stage-codegen span ('[codegen id : N]' markers)",
        )

    # ---- CBO: stats-driven join reorder, asserted (not a demo) ------
    # Catalog-register + ANALYZE the relational tables, then plan the
    # TPC-H Q5-shaped SIX-table snowflake written in the worst
    # syntactic order (both facts first, dims last). With statistics
    # the reorderer must produce a different join tree than without —
    # a violation otherwise.
    from batch_processing_system_spark.engine.catalog import (
        register_analyzed_tables,
    )
    from tools.cbo_demo import join_tree

    register_analyzed_tables(spark, SF_DIR)
    cbo_sql = """
    SELECT r_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(18,2))
                       - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS volume,
           COUNT(*) AS n_lines
    FROM cbo_lineitem, cbo_orders, cbo_customer, cbo_supplier,
         cbo_nation, cbo_region
    WHERE l_orderkey = o_orderkey
      AND o_custkey = c_custkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    old_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
        cbo_before = join_tree(spark.sql(cbo_sql))
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        cbo_after = join_tree(spark.sql(cbo_sql))
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", old_reorder)
    check(
        cbo_before != cbo_after,
        "CBO+stats produced no join-reorder delta on the 6-table Q5 "
        "silhouette (statistics not reaching the reorderer?)",
    )

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("# Physical plans (explain formatted), audited by tools/explain_audit.py\n")
        f.write(f"\nScale-factor dir: {SF_DIR}; invariants checked: pruning, "
                "pushdown, broadcast, no-Python-in-tier-1, codegen, "
                "CBO join reorder (see §CBO at the end).\n")
        for name, plan in sorted(plans.items()):
            f.write(f"\n## {name}\n\n```\n{plan}\n```\n")
        f.write(
            "\n## §CBO — stats-driven join reorder (asserted each audit "
            "run)\n\nSix-table TPC-H Q5 silhouette written facts-first; "
            "tables catalog-registered and ANALYZEd (table + column "
            "stats) via engine.catalog.register_analyzed_tables.\n\n"
            "Optimized join tree WITHOUT stats/CBO:\n\n"
            f"```\n{cbo_before}\n```\n\n"
            "Optimized join tree WITH stats + CBO joinReorder:\n\n"
            f"```\n{cbo_after}\n```\n\n"
            "The audit FAILS if these trees are identical.\n"
        )
        f.write(
            "\n## §Partitioned — date-partitioned events twin "
            "(asserted each audit run)\n\nevents written once "
            "partitioned by event_date = to_date(ts) "
            "(engine/partitioning.py), one directory per day, with "
            "the plain table's schema and rows "
            "(tests/test_round11_fixes.py pins them).\n\n"
            f"- **r72 static prune**: the literal 3-day window reads "
            f"**{part_read} of {part_total}** partition files — the "
            "scan's PartitionFilters carry the event_date bounds "
            "(asserted; see the r72 plan above).\n"
            "- **r73 dynamic prune (DPP)**: the filtered-dim join "
            "plants a dynamicpruningexpression subquery in the fact "
            "scan's PartitionFilters, evaluated from the dim "
            "broadcast at runtime (asserted; see the r73 plan "
            "above).\n"
            "- **r74 composed layout**: partitionBy(day) + "
            "bucketBy(user_id) on one table — the date window sits "
            "in PartitionFilters AND the per-user aggregation runs "
            "with zero hash Exchange (both asserted; see the r74 "
            "plan above).\n\nThe audit FAILS if r72 loses its "
            "PartitionFilters or file delta, r73 loses its "
            "dynamicpruningexpression, or r74 loses either of its "
            "two layout properties.\n"
        )

    for msg in failures:
        print(f"VIOLATION {msg}")
    print(f"\n{len(plans)} plans audited, {len(failures)} violations -> PLANS.md")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

"""``queries`` workload: fixed lists of catalog queries at sf0.01.

The tables are generated from the seed by the repo's own
``tools/make_sf.generate``. The first pass collects every result and
compares it with the query's DuckDB oracle (a row count for queries
without one); it also warms the JVM and the Python workers. Then every
pass runs each query through a noop sink, which computes every output
column (``count()`` would let Catalyst prune projections). The JIT keeps
warming for a few passes, so the pass count is fixed: ``WARMUP_PASSES``
more warm-up passes, then ``N_PASSES`` measured ones, alternately traced
and untraced in a traced run, so the warming trend mostly cancels out of
the tracing overhead.
"""

from __future__ import annotations

import os
import time

import gen
from harness import check, log, median

SF = 0.01
WARMUP_PASSES = 3
N_PASSES = 5
#: LLM-data curation: Python/Arrow UDFs, self-join shuffles, builder-side driver jobs
CURATION = (
    "q78_contamination",
    "q90_pii_scrub",
    "r08_bpe_tokens",
)
#: TPC-H-shaped relational analytics: parquet scan, JVM joins and aggregations
ANALYTICS = (
    "q64_shipping_priority",
)
QUERIES = CURATION + ANALYTICS
#: the tables the listed queries read, scanned once per set-up
TABLES = ("documents", "customer", "orders", "lineitem")

PER_LAYER = {
    "curation_s": "s",
    "analytics_s": "s",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    **{f"query.{q}.{part}_s": "s" for q in QUERIES for part in ("build", "exec")},
}


def _oracle_pass(spark, sf_dir) -> None:
    """Collect every result once and compare it with DuckDB."""
    from batch_processing_system_spark.queries import REGISTRY
    from tools.check_oracle import duck_connect, run_one

    con = duck_connect(sf_dir)
    try:
        for name in QUERIES:
            res = run_one(spark, con, name, REGISTRY[name], sf_dir)
            # tier-2 queries have no oracle: a row count is all there is
            check(res["ok"] and (res["tier"] == 1 or res["spark_rows"] > 0),
                  f"{name}: {res.get('note')} ({res['spark_rows']} rows)")
    finally:
        con.close()


def run(ctx) -> dict:
    from batch_processing_system_spark.engine.io import load_table
    from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded

    tr = ctx.tracer
    sf_dir = gen.query_tables(ctx.root, os.path.join(ctx.work, "tables"), ctx.seed, SF)
    _ensure_loaded()

    def setup_once(_i):
        with tr.span("engine.session_start"):
            spark = ctx.fresh_session()
        with tr.span("engine.warm_scan"):
            for t in TABLES:
                load_table(spark, sf_dir, t).limit(1).collect()

    setup_s = ctx.setups(setup_once)
    spark = ctx.spark
    _oracle_pass(spark, sf_dir)
    log("oracle pass done")

    for _ in range(WARMUP_PASSES):
        for name in QUERIES:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    log("warm-up passes done")

    tr.attach_spark(spark)
    passes, cpu = [], []
    for _ in range(N_PASSES):
        tr.begin_cycle("pass")
        for lane, names in (("curation_s", CURATION), ("analytics_s", ANALYTICS)):
            t_lane = time.perf_counter()
            for name in names:
                if name != QUERIES[0]:
                    tr.probe()
                t0 = time.perf_counter()
                try:
                    with tr.span("query", op_id=name):
                        with tr.span(f"query.{name}.build"):
                            df = REGISTRY[name].fn(spark, sf_dir)
                        t1 = time.perf_counter()
                        with tr.span(f"query.{name}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as exc:  # counted, and the run marked incorrect
                    ctx.tally(False, f"{name}: {exc!r}")
                    continue
                ctx.tally(True, name)
                tr.count("queries.build_s", t1 - t0)
                tr.count("queries.exec_s", t2 - t1)
            tr.count(lane, time.perf_counter() - t_lane)
        wall, cpu_s, _ = tr.end_cycle(ctx.cores)
        passes.append(wall)
        cpu.append(cpu_s)
        log(f"pass {len(passes)} {wall:.2f}s cpu {cpu_s:.2f}s at speed {tr.speed:.2f}")

    result = {"end_to_end": {
        "setup_s": median(setup_s),
        "cpu_ref_s": median(cpu),
    }}
    if tr.installed:
        result["per_layer"] = {k: tr.median("pass", k) for k in PER_LAYER}
    return result

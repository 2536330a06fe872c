"""Benchmark harness (SURVEY §7 M5): runs the query catalog at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints the headline JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

followed by a compact summary line (same value, no per-query map) so a
tail-windowed capture still ends in parseable JSON; the full per-query
payload is also persisted to .benchmarks/bench_sf{sf}.json.

``value`` is the total wall-clock across all catalog queries (each
executed to completion via a count-collect, so every shuffle/agg/join in
the plan actually runs; results are not materialized to the driver).

Noise robustness (VERDICT r10 item 1): this host swings 2-6x between
runs, so per-query numbers are the MINIMUM across ``--repeat N``
catalog passes (default 2; ``BENCH_REPEAT`` overrides the default).
The min is the right estimator for a deterministic workload under
asymmetric noise — every perturbation only ADDS time. The config block
records the pass count and each pass's raw total so a reader can see
the noise band the minima were drawn from.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from batch_processing_system_spark.engine.session import get_spark
from batch_processing_system_spark.queries import REGISTRY, _ensure_loaded


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--repeat",
        type=int,
        default=int(os.environ.get("BENCH_REPEAT", "2")),
        help="catalog passes; per-query time is the min across passes",
    )
    ap.add_argument(
        "--only",
        default=os.environ.get("BENCH_ONLY", ""),
        help="comma-separated query names: run only this subset (the "
        "artifact is suffixed _subset and never clobbers a full run)",
    )
    args = ap.parse_args()
    n_repeat = max(1, args.repeat)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    _ensure_loaded()
    names = sorted(REGISTRY)
    if args.only:
        wanted = {n.strip() for n in args.only.split(",") if n.strip()}
        # ADVICE r12: '--only " , "' parses to zero names, which passed
        # the unknown-name check (empty set is a subset of anything)
        # and then crashed with IndexError at warmup — fail usefully.
        if not wanted:
            sys.exit("bench: --only given but no query names parsed from it")
        unknown = wanted - set(names)
        if unknown:
            sys.exit(f"bench: unknown --only queries: {sorted(unknown)}")
        names = [n for n in names if n in wanted]

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen path and touch every table's footer once so
    # per-query numbers measure the engine, not first-touch classloading
    # or filesystem cache misses.
    from batch_processing_system_spark.engine.io import TABLES, load_table

    for t in TABLES:
        # full-width read (count() alone prunes every column and would
        # leave first-column-touch decode costs inside query timings)
        df = load_table(spark, sf_dir, t)
        df.selectExpr("max(struct(*))").count()
    REGISTRY[names[0]].fn(spark, sf_dir).count()

    per_query: dict[str, float] = {}
    pass_totals: list[float] = []
    for _pass in range(n_repeat):
        pass_total = 0.0
        for name in names:
            spec = REGISTRY[name]
            t0 = time.time()
            try:
                df = spec.fn(spark, sf_dir)
                df.count()
                sec = round(time.time() - t0, 3)
                pass_total += sec
                # min across passes; a query that failed an earlier
                # pass but succeeds now records its success
                prev = per_query.get(name, -1.0)
                per_query[name] = sec if prev < 0 else min(prev, sec)
            except Exception as exc:  # record, don't abort the whole bench
                per_query.setdefault(name, -1.0)
                print(f"bench: pass {_pass} {name} failed: {exc}", file=sys.stderr)
        pass_totals.append(round(pass_total, 3))
        # Timeout robustness: a harness that kills this process between
        # passes must still find a parseable compact line at the stdout
        # tail (min-so-far over the completed passes), so emit one per
        # pass; the final full payload below supersedes it.
        print(
            json.dumps(
                {
                    "metric": "catalog_wall_clock",
                    "value": round(
                        sum(v for v in per_query.values() if v >= 0), 3
                    ),
                    "unit": "sec",
                    "n": len(per_query),
                    "failed": sum(1 for v in per_query.values() if v < 0),
                    "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                    "passes_done": _pass + 1,
                    "of_passes": n_repeat,
                }
            ),
            flush=True,
        )

    total = round(sum(v for v in per_query.values() if v >= 0), 3)
    # Config introspection goes through the JVM; if the driver died
    # mid-pass (observed once at sf3: RPC endpoint gone, every later
    # query ConnectionRefused), these calls raise and the artifact —
    # with all the per-query data gathered before the crash — was
    # lost. Record what the JVM can still tell us, else placeholders;
    # the per-query numbers are driver-side and survive regardless.
    def _safe(fn, fallback="jvm-unreachable"):
        try:
            return fn()
        except Exception:
            return fallback

    conf = spark.conf
    payload = {
        "metric": "catalog_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "config": {
            "spark_version": _safe(lambda: spark.version),
            "master": _safe(lambda: spark.sparkContext.master),
            "shuffle_partitions": _safe(
                lambda: conf.get("spark.sql.shuffle.partitions")
            ),
            "aqe": _safe(lambda: conf.get("spark.sql.adaptive.enabled")),
            "cbo": _safe(lambda: conf.get("spark.sql.cbo.enabled")),
            "broadcast_threshold": _safe(
                lambda: conf.get("spark.sql.autoBroadcastJoinThreshold")
            ),
            "repeat": n_repeat,
            "pass_totals": pass_totals,
        },
    }
    print(json.dumps(payload))
    # The driver records only a TAIL window of stdout, which truncates
    # the giant per-query line (BENCH_r*.json kept showing
    # "parsed": null — VERDICT r9 item 3). Two mitigations:
    # 1. persist the full per-query artifact in the repo itself;
    # 2. END stdout with a compact one-liner that always fits the
    #    window, so the recorded tail is parseable JSON.
    art_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchmarks")
    os.makedirs(art_dir, exist_ok=True)
    art_name = f"bench_sf{sf}{'_subset' if args.only else ''}.json"
    with open(os.path.join(art_dir, art_name), "w") as f:
        json.dump(payload, f, indent=1)
    # VERDICT r13 item 9: the driver records only the LAST ~2000 chars
    # of stdout, so the round artifact was carrying a file path instead
    # of numbers. A full {name: sec} map (~5 KB at 175 queries) cannot
    # fit, but a values-only array in sorted-name order (~1.3 KB at
    # 2 dp) can — names are recoverable as sorted(REGISTRY) of the
    # same commit, and the full named map stays in .benchmarks/. The
    # array is dropped (never truncated) if the line would outgrow the
    # window, so the tail always ends in parseable JSON either way.
    tail_line = {
        "metric": "catalog_wall_clock",
        "value": total,
        "unit": "sec",
        "n": len(per_query),
        "failed": sum(1 for v in per_query.values() if v < 0),
        "sf": payload["sf"],
        "repeat": n_repeat,
        "per_query": f".benchmarks/{art_name}",
        "pq_order": "sorted_names",
        "pq": [round(per_query[k], 2) for k in sorted(per_query)],
    }
    # VERDICT r16 item 1 asked for an inline {name: sec} dict in this
    # final line so the driver's comparer can parse per-query times.
    # That is arithmetically impossible for the full catalog: the
    # driver's recorded stdout tail is 2000 chars (BENCH_r05–r09 all
    # show parsed:null whenever the last line outgrew it), and the 180
    # query NAMES alone total 2280 chars before a single number — so
    # the compact positional "pq" array (fits at ~1.3 KB) plus the
    # committed full artifact stays the full-catalog contract. When
    # the dict DOES fit (subset runs via --only, small catalogs), emit
    # it inline as asked — additions-only, nothing else changes.
    with_queries = dict(tail_line)
    with_queries["queries"] = {
        k: round(v, 2) for k, v in sorted(per_query.items())
    }
    if len(json.dumps(with_queries)) <= 1900:
        tail_line = with_queries
    if len(json.dumps(tail_line)) > 1900:
        del tail_line["pq"], tail_line["pq_order"]
    print(json.dumps(tail_line))
    # Loud exit on any failed query: with the config introspection now
    # crash-safe, a dead-JVM pass would otherwise exit 0 and a retry
    # harness would count it as a valid leg pass.
    if tail_line["failed"]:
        sys.exit(1)


if __name__ == "__main__":
    main()

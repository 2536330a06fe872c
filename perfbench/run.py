#!/usr/bin/env python3
"""Repository benchmark: one command, one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads and metrics are described in
perfbench/README.md:

- ``pipeline``: the reference's own traffic. A single client POSTs
  uploads to /process-batch, the scripted remote completes each batch
  and a poll tick applies the results to the parquet snapshots; then the
  same result files are streamed into the manifest-committed store.
- ``queries``: fixed LLM-curation and TPC-H-shaped catalog queries,
  each fully materialised through a noop sink.

Inputs are generated from ``--seed`` into ``.perfbench_work/`` and
outputs are checked on every run; a mismatch exits non-zero without a
result line, and a failed operation exits non-zero after it.
``--trace 1`` records spans around the calls into each layer plus
Spark's own counters and prints the per-layer metrics instead of the
end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import harness

WORKLOADS = ("pipeline", "queries")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted for the benchmark interface; both workloads do "
                         "fixed work sized to about this long on a 4-core host")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(harness.ROOT, harness.PACKAGE)):
        print(f"perfbench: package {harness.PACKAGE!r} not found under "
              f"{harness.ROOT}", file=sys.stderr)
        return 2
    harness.prepare_env()

    from spans import Tracer

    import wl_pipeline
    import wl_queries

    workloads = {"pipeline": wl_pipeline, "queries": wl_queries}
    tracer = Tracer(installed=bool(args.trace))
    ctx = harness.Context(args.seed, tracer)
    try:
        result = workloads[args.workload].run(ctx)
        peak_rss_mb = ctx.peak_rss_mb()  # while the JVM still runs
    except harness.BenchError as exc:
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        return 1
    finally:
        ctx.shutdown()
    if args.trace:
        tracer.dump(os.path.join(harness.WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
        values = {
            "engine.session_start_s": tracer.span_median("engine.session_start"),
            "engine.warm_scan_s": tracer.span_median("engine.warm_scan"),
            **{k: tracer.mean(k) for k in harness.COMMON_PER_LAYER if k.startswith("spark.")},
            "failed_frac": ctx.failed / ctx.attempted,
            "peak_rss_mb": peak_rss_mb,
            "trace.overhead_s": tracer.overhead_s(),
            **result["per_layer"],
        }
        units = {**harness.COMMON_PER_LAYER,
                 **{k: u for wl in workloads.values() for k, u in wl.PER_LAYER.items()}}
    else:
        values, units = result["end_to_end"], harness.END_TO_END
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    correct = ctx.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

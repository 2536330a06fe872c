"""One-shot verification: every gate the driver and judge run, in one
command, with one JSON summary line at the end.

    python tools/verify_all.py            # entry + oracle sf0.01 + audit + pytest + bench
    python tools/verify_all.py --fast     # oracle sf0.001, pytest, skip bench

Surfaces (matches .claude/skills/verify/SKILL.md):
  1. driver entry contract on a VANILLA SparkSession (catches configs
     the engine factory wrongly assumes);
  2. full-catalog oracle check (Spark vs DuckDB hash comparison);
  3. plan audit (pruning/pushdown/broadcast/no-Python/codegen);
  4. pytest suite (a snapshot must never ship red — VERDICT r8);
  5. bench (one JSON line, sf0.1).

Exit 0 only if every surface passes.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cmd: list[str], **kw) -> subprocess.CompletedProcess:
    return subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, **kw
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fast", action="store_true",
                    help="oracle at sf0.001 and skip bench")
    args = ap.parse_args()
    sf = "/root/testdata/sf0.001" if args.fast else "/root/testdata/sf0.01"
    summary: dict = {}
    ok = True

    entry_code = (
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[8]')"
        ".config('spark.ui.enabled','false')"
        ".config('spark.ui.showConsoleProgress','false').getOrCreate())\n"
        "import __spark_entry__ as e\n"
        "print('ENTRY_OK', e.entry(spark).count(), len(e.queries()),"
        " len(e.oracle_sql()))\n"
    )
    r = run([sys.executable, "-c", entry_code])
    line = next((l for l in r.stdout.splitlines() if l.startswith("ENTRY_OK")), "")
    summary["entry"] = line or "FAILED"
    ok &= bool(line)
    print(f"[1/5] entry contract: {line or 'FAILED'}")

    r = run([sys.executable, "tools/check_oracle.py", "--sf", sf])
    tail = [l for l in r.stdout.splitlines() if l.strip()][-1:]
    summary["oracle"] = tail[0] if tail else "FAILED"
    ok &= r.returncode == 0
    print(f"[2/5] oracle ({sf}): {summary['oracle']}")

    r = run([sys.executable, "tools/explain_audit.py"])
    tail = [l for l in r.stdout.splitlines() if "plans audited" in l][-1:]
    summary["audit"] = tail[0] if tail else "FAILED"
    ok &= r.returncode == 0
    print(f"[3/5] plan audit: {summary['audit']}")

    # the full suite crossed 53 min in round 15 (848 tests, streaming
    # replay suites dominate) — 3600 s timed out mid-run in r16
    r = run([sys.executable, "-m", "pytest", "tests/", "-q", "--tb=no"],
            timeout=7200)
    tail = [l for l in r.stdout.splitlines() if l.strip()][-1:]
    summary["pytest"] = tail[0] if tail else "FAILED"
    ok &= r.returncode == 0
    print(f"[4/5] pytest: {summary['pytest']}")

    if args.fast:
        summary["bench"] = "skipped (--fast)"
        print("[5/5] bench: skipped (--fast)")
    else:
        r = run([sys.executable, "bench.py"], timeout=1800)
        try:
            # the LAST stdout line is bench.py's compact summary (it
            # carries "n", not the giant per-query map — ADVICE r11)
            d = json.loads(r.stdout.splitlines()[-1])
            n_q = d.get("n", len(d.get("queries", ())))
            summary["bench"] = {"total_s": d["value"], "n_queries": n_q}
            print(f"[5/5] bench: {d['value']}s / {n_q} queries")
        except Exception:
            summary["bench"] = "FAILED"
            ok = False
            print("[5/5] bench: FAILED")

    summary["ok"] = ok
    print(json.dumps(summary))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

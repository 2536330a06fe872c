"""Deployable CLI for the pipeline — the spec's two entrypoints as
subcommands (/root/reference/README.md:20-53,79-110):

    python -m batch_processing_system_spark.pipeline submit \
        --jsonl req.jsonl --schema-file schema.json \
        --docs /state/docs --jobs /state/jobs --remote /state/remote

        Maps POST /process-batch: validates, uploads, creates the
        batch, persists the job row + in_progress marks, and prints
        the spec's 202 body ({"job_id": ...}, exit 0) or 400 body
        ({"error": "Validation Failed", "details": [...]}, exit 2)
        on stdout.

    python -m batch_processing_system_spark.pipeline poll \
        --docs /state/docs --jobs /state/jobs --remote /state/remote

        One tick of the scheduled poller (the spec's
        Cloud-Scheduler-triggered script): polls every active job,
        applies transitions, processes completed results, persists
        state, prints a JSON summary.

State lives in parquet snapshot dirs (--jobs, --docs); the remote
boundary is a DirectoryRemote rooted at --remote (swap for an HTTP
client object in a real deployment — same four-method seam).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid
from datetime import datetime, timezone

from pyspark.sql import SparkSession

from .httpremote import HttpBatchRemote
from .localremote import DirectoryRemote
from .run import run_poll_cycle, submit_batch
from .schemas import BATCH_JOB_SCHEMA, INACTIVE_INTERNAL, document_schema
from .state import active_jobs
from .statestore import read_state as _read_state
from .statestore import rewrite_state as _rewrite_state


def _get_spark() -> SparkSession:
    from ..engine.session import get_spark

    return get_spark("pipeline-cli")


def _parse_now(value: str | None):
    if value is None:
        return datetime.now(timezone.utc).replace(tzinfo=None)
    return datetime.fromisoformat(value)


def _make_remote(args: argparse.Namespace):
    """The remote seam from CLI flags: --remote-url selects the HTTP
    wire client (api key from $BATCH_API_KEY, per the spec's
    env-provided credential), --remote the directory fake. Same
    four-method object either way — nothing downstream changes."""
    if getattr(args, "remote_url", None):
        import os as _os

        return HttpBatchRemote(args.remote_url, api_key=_os.environ.get("BATCH_API_KEY", ""))
    if not args.remote:
        raise SystemExit("one of --remote / --remote-url is required")
    return DirectoryRemote(args.remote)


def cmd_submit(args: argparse.Namespace) -> int:
    spark = _get_spark()
    if args.schema_file:
        schema_json = open(args.schema_file).read()
    else:
        schema_json = args.schema_json
    docs = _read_state(spark, args.docs, document_schema())
    jobs = _read_state(spark, args.jobs, BATCH_JOB_SCHEMA)
    remote = _make_remote(args)
    job_id = args.job_id or f"job-{uuid.uuid4().hex[:12]}"

    out = submit_batch(
        spark,
        args.jsonl,
        schema_json,
        docs,
        remote,
        job_id,
        _parse_now(args.now),
        collection_name=args.collection,
        mongodb_uri=args.mongodb_uri,
    )
    try:
        if not out.errors:
            _rewrite_state(jobs.unionByName(out.jobs), args.jobs)
            _rewrite_state(out.marked_docs, args.docs)
    finally:
        out.upload.unpersist()
    if out.errors:
        print(json.dumps(out.error_body()))
        return 2
    print(json.dumps({"job_id": out.job_id}))
    return 0


def cmd_poll(args: argparse.Namespace) -> int:
    spark = _get_spark()
    docs = _read_state(spark, args.docs, document_schema())
    jobs = _read_state(spark, args.jobs, BATCH_JOB_SCHEMA)
    remote = _make_remote(args)
    n_active_before = active_jobs(jobs).count()

    new_jobs, new_docs = run_poll_cycle(spark, jobs, docs, remote, _parse_now(args.now))
    # Two non-atomic writes; a crash between them is survivable in
    # EITHER order because re-entry is idempotent at the data level:
    # upsert_documents only transitions docs still 'in_progress', so a
    # re-run of process_results cannot double-$push, and the
    # output_file_id guard in run_poll_cycle skips the redundant
    # re-download when the pointers did land.
    _rewrite_state(new_docs, args.docs)
    _rewrite_state(new_jobs, args.jobs)

    # bounded-collect: one row per job STATUS value — the state machine
    # has a fixed handful of statuses (schemas.py), independent of size
    statuses = {
        r["status"]: r["n"]
        for r in new_jobs.sparkSession.read.parquet(args.jobs)
        .groupBy("status")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    # active_jobs' predicate over the counts: a NULL status is inactive
    active_after = sum(
        n for s, n in statuses.items() if s is not None and s not in INACTIVE_INTERNAL
    )
    print(
        json.dumps(
            {
                "polled": n_active_before,
                "active_after": active_after,
                "status_counts": statuses,
            }
        )
    )
    return 0


def cmd_serve(args: argparse.Namespace) -> int:
    from .server import make_server

    srv = make_server(_get_spark(), args.docs, args.jobs, args.remote, args.port)
    print(json.dumps({"listening": srv.server_address[1]}), flush=True)
    srv.serve_forever()
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="python -m batch_processing_system_spark.pipeline")
    sub = ap.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("submit", help="validate + submit a batch (POST /process-batch)")
    s.add_argument("--jsonl", required=True, help="request JSONL file")
    g = s.add_mutually_exclusive_group(required=True)
    g.add_argument("--schema-json", help="output JSON Schema as a string")
    g.add_argument("--schema-file", help="file containing the output JSON Schema")
    s.add_argument("--docs", required=True, help="documents parquet dir")
    s.add_argument("--jobs", required=True, help="batch_jobs parquet dir")
    s.add_argument("--remote", default=None, help="DirectoryRemote root")
    s.add_argument("--remote-url", default=None,
                   help="HTTP batch API base URL (overrides --remote; key from $BATCH_API_KEY)")
    s.add_argument("--collection", default="documents")
    s.add_argument("--mongodb-uri", default="store://local")
    s.add_argument("--job-id", default=None, help="fixed job id (tests)")
    s.add_argument("--now", default=None, help="ISO timestamp override (tests)")
    s.set_defaults(fn=cmd_submit)

    p = sub.add_parser("poll", help="one scheduled poller tick")
    p.add_argument("--docs", required=True)
    p.add_argument("--jobs", required=True)
    p.add_argument("--remote", default=None)
    p.add_argument("--remote-url", default=None)
    p.add_argument("--now", default=None, help="ISO timestamp override (tests)")
    p.set_defaults(fn=cmd_poll)

    v = sub.add_parser("serve", help="HTTP endpoint: POST /process-batch")
    v.add_argument("--docs", required=True)
    v.add_argument("--jobs", required=True)
    v.add_argument("--remote", required=True)
    v.add_argument("--port", type=int, default=8080, help="0 = ephemeral")
    v.set_defaults(fn=cmd_serve)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

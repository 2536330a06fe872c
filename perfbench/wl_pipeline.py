"""``pipeline`` workload: the reference's submit → poll → upsert traffic,
then the streaming write path into the manifest-committed store.

Closed loop, one client, fixed work (the same on every commit, because
the snapshots grow with every wave and a faster commit must not be
charged for doing more of it).

- API phase: waves of multipart uploads POSTed to /process-batch
  (served by ``pipeline.server.make_server`` on a thread of this
  process); the scripted ``DirectoryRemote`` completes each accepted
  batch; after every wave one poll tick runs through
  ``pipeline.__main__.main(["poll", ...])``.
- Ingest phase, on its own store: the accepted batches' output and
  error files land one batch at a time in an incoming directory; each
  landing is driven through ``streaming.ingest.stream_results_into_store``
  with ``trigger(availableNow=True)`` and followed by a snapshot read.
  ``compact`` ends the measured region; ``vacuum`` runs after it.

There is no warm-up beyond the set-ups: a run has to fit in about a
minute, and the first submission, tick and landing pay the JVM's and
the Python workers' first-use costs, about the same on every run.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import threading
import urllib.error
import urllib.request
import uuid
from datetime import datetime

import gen
from harness import check, log, median

N_DOCS = 4_000
LINES_PER_UPLOAD = 200
WAVE = 3
N_WAVES = 1
#: the last upload of each wave is refused
REJECTED = {w * WAVE + WAVE - 1 for w in range(N_WAVES)}
N_UPLOADS = WAVE * N_WAVES
N_LANDINGS = 1

PER_LAYER = {
    "submit_p50_s": "s",
    "reject_p50_s": "s",
    "poll_tick_p50_s": "s",
    "poll_result_rows_per_s": "1/s",
    "ingest_batch_p50_s": "s",
    "store_read_p50_s": "s",
    "result_rows_per_s": "1/s",
    "compact_s": "s",
    "pipeline.validate_s": "s",
    "pipeline.submit_batch_s": "s",
    "pipeline.statestore.rewrite_s": "s",
    "pipeline.statestore.read_s": "s",
    "statestore.bytes_written_per_submit": "B",
    "sources.jsonl.read_s": "s",
    "functions.json_schema_s": "s",
    "pipeline.run_poll_cycle_s": "s",
    "pipeline.process_results_s": "s",
    "pipeline.jobs_per_tick": "count",
    "localremote.calls": "count",
    "localremote.retries": "count",
    "streaming.batch_s": "s",
    "pipeline.build_update_records_s": "s",
    "commitstore.upsert_store_s": "s",
    "commitstore.buckets_touched": "count",
    "commitstore.bytes_written_per_row": "B",
    "commitstore.stage_dirs": "count",
    "commitstore.read_store_s": "s",
    "commitstore.compact_s": "s",
    "commitstore.vacuum_bytes": "B",
}
SUBMITTED_AT = datetime(2024, 1, 1, 12, 0, 0)
POLLED_AT = datetime(2024, 1, 1, 12, 5, 0)


def _post(url: str, fields: dict[str, bytes]) -> tuple[int, dict]:
    boundary = f"----perfbench{uuid.uuid4().hex}"
    body = b""
    for name, value in fields.items():
        disp = f'form-data; name="{name}"'
        if name == "jsonl_file":
            disp += '; filename="batch.jsonl"'
        body += f"--{boundary}\r\nContent-Disposition: {disp}\r\n\r\n".encode()
        body += value + b"\r\n"
    body += f"--{boundary}--\r\n".encode()
    req = urllib.request.Request(
        url, data=body, method="POST",
        headers={"Content-Type": f"multipart/form-data; boundary={boundary}"})
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _instrument(tracer) -> None:
    """Wrap each layer's entry points where their callers resolve them."""
    if not tracer.installed:
        return
    from batch_processing_system_spark.pipeline import __main__ as cli
    from batch_processing_system_spark.pipeline import (
        commitstore, localremote, process, run, server, validate)
    from batch_processing_system_spark.streaming import ingest

    # measured first, so the spans below include the directory walks
    for owner, attr in ((server, "rewrite_state"), (cli, "_rewrite_state")):
        def measured_rewrite(df, path, *a, _fn=getattr(owner, attr), **k):
            out = _fn(df, path, *a, **k)
            if tracer.enabled:
                tracer.count("statestore.bytes_written", _dir_bytes(path))
            return out

        setattr(owner, attr, measured_rewrite)

    upsert = commitstore.upsert_store

    def measured_upsert(spark, root, updates, *a, **k):
        if not tracer.enabled:
            return upsert(spark, root, updates, *a, **k)
        before = _dir_bytes(root)
        touched = upsert(spark, root, updates, *a, **k)
        tracer.count("commitstore.bytes_written", _dir_bytes(root) - before)
        tracer.count("commitstore.buckets_touched", len(touched))
        return touched

    commitstore.upsert_store = measured_upsert

    for owner, attr, name in (
        (server, "read_state", "pipeline.statestore.read"),
        (server, "rewrite_state", "pipeline.statestore.rewrite"),
        (cli, "_read_state", "pipeline.statestore.read"),
        (cli, "_rewrite_state", "pipeline.statestore.rewrite"),
        (server, "submit_batch", "pipeline.submit_batch"),
        (run, "validate_submission", "pipeline.validate"),
        (validate, "read_jsonl_with_lines", "sources.jsonl.read"),
        (process, "read_jsonl", "sources.jsonl.read"),
        (validate, "compile_json_schema", "functions.json_schema"),
        (process, "conformance_predicate", "functions.json_schema"),
        (cli, "run_poll_cycle", "pipeline.run_poll_cycle"),
        (run, "process_results", "pipeline.process_results"),
        (process, "build_update_records", "pipeline.build_update_records"),
        (ingest, "build_update_records", "pipeline.build_update_records"),
        (commitstore, "upsert_store", "commitstore.upsert_store"),
    ):
        tracer.wrap(owner, attr, name)

    retry = run.with_retry

    def counted_retry(fn, *a, **k):
        calls = []

        def attempt():
            calls.append(1)
            return fn()

        try:
            return retry(attempt, *a, **k)
        finally:
            tracer.count("localremote.retries", len(calls) - 1)

    run.with_retry = counted_retry
    for meth in ("upload", "create_batch", "retrieve", "download", "result_files"):
        def counted(self, *a, _fn=getattr(localremote.DirectoryRemote, meth), **k):
            tracer.count("localremote.calls")
            return _fn(self, *a, **k)

        setattr(localremote.DirectoryRemote, meth, counted)


def _setup(ctx, inputs: dict, i: int) -> dict:
    """Session start, parquet snapshot and committed store from the
    generated documents, and a warm read of the snapshot."""
    from pyspark.sql import functions as F

    from batch_processing_system_spark.pipeline import commitstore
    from batch_processing_system_spark.pipeline.schemas import (
        EVENT_RESPONSE_ITEM, document_schema, status_field)
    from batch_processing_system_spark.pipeline.statestore import read_state, rewrite_state

    tr = ctx.tracer
    with tr.span("engine.session_start"):
        spark = ctx.fresh_session()
    base = os.path.join(ctx.work, f"pipeline-{i}")
    paths = {k: os.path.join(base, k) for k in
             ("docs", "jobs", "remote", "store", "incoming", "checkpoint")}
    os.makedirs(paths["incoming"])
    empty = F.array().cast(f"array<{EVENT_RESPONSE_ITEM.simpleString()}>")
    docs = spark.read.parquet(inputs["docs"]).select(
        "_id", F.lit("pending").alias(status_field()),
        empty.alias("event_response"), "payload")
    rewrite_state(docs, paths["docs"])
    commitstore.init_store(
        docs.withColumn(status_field(), F.lit("in_progress")), paths["store"])
    with tr.span("engine.warm_scan"):
        read_state(spark, paths["docs"], document_schema()).count()
    return paths


def _status_counts(df) -> dict:
    """Documents and pushed event_response items per status."""
    from pyspark.sql import functions as F

    from batch_processing_system_spark.pipeline.schemas import status_field

    rows = df.groupBy(status_field()).agg(
        F.count("*").alias("n"), F.sum(F.size("event_response")).alias("pushed")
    ).collect()
    return {r[0]: (r["n"], r["pushed"] or 0) for r in rows}


def _expected(batches, n_docs: int, untouched: str) -> dict:
    completed = sum(u["completed"] for u in batches)
    failed = sum(u["failed"] for u in batches)
    out = {"completed": (completed, completed), "failed": (failed, 0)}
    rest = n_docs - completed - failed
    if rest:
        out[untouched] = (rest, 0)
    return {k: v for k, v in out.items() if v[0]}


MEASURED = ("submit", "reject", "tick", "landing", "read", "compact")


def _clean(samples: list[tuple[float, float, bool]]) -> list[float]:
    """Latencies without tracing overhead: the untraced cycles when a
    traced run has any, else all of them."""
    untraced = [w for w, _, traced in samples if not traced]
    return untraced or [w for w, _, _ in samples]


@contextlib.contextmanager
def _cycle(ctx, lat: dict, kind: str):
    """One measured operation, as a tracer cycle whose (wall, cpu,
    traced) sample lands in ``lat[kind]``."""
    ctx.tracer.begin_cycle(kind)
    yield
    lat[kind].append(ctx.tracer.end_cycle(ctx.cores))
    wall, cpu, _ = lat[kind][-1]
    log(f"{kind} {wall:.2f}s cpu {cpu:.2f}s at speed {ctx.tracer.speed:.2f}")


def _api_phase(ctx, spark, paths, uploads, lat) -> list[dict]:
    """Submit every upload in waves with a poll tick after each wave.
    Returns the accepted uploads."""
    from batch_processing_system_spark.pipeline import __main__ as cli
    from batch_processing_system_spark.pipeline.localremote import DirectoryRemote
    from batch_processing_system_spark.pipeline.server import make_server

    tr = ctx.tracer
    srv = make_server(spark, paths["docs"], paths["jobs"], paths["remote"],
                      port=0, now_fn=lambda: SUBMITTED_AT)
    server_thread = threading.Thread(target=srv.serve_forever, daemon=True)
    server_thread.start()
    url = f"http://127.0.0.1:{srv.server_address[1]}/process-batch"
    remote = DirectoryRemote(paths["remote"])
    poll_argv = ["poll", "--docs", paths["docs"], "--jobs", paths["jobs"],
                 "--remote", paths["remote"], "--now", POLLED_AT.isoformat()]
    accepted: list[dict] = []
    try:
        for w in range(N_WAVES):
            wave = uploads[w * WAVE:(w + 1) * WAVE]
            for k, up in enumerate(wave):
                kind = "reject" if up["rejected"] else "submit"
                with open(up["request"], "rb") as f:
                    fields = {"jsonl_file": f.read(),
                              "output_schema_json": gen.OUTPUT_SCHEMA.encode(),
                              "mongodb_uri": b"store://bench",
                              "collection_name": b"documents"}
                with _cycle(ctx, lat, kind), \
                        tr.span(f"api.{kind}", op_id=f"{kind}-{w}-{k}"):
                    code, body = _post(url, fields)
                want = 400 if up["rejected"] else 202
                ctx.tally(code == want, f"upload {w}/{k}: HTTP {code}, expected {want}: {body}")
                if code != want:
                    continue
                if up["rejected"]:
                    check({d["type"] for d in body["details"]} == {"custom_id_not_found"}
                          and len(body["details"]) == 2, f"400 body {body}")
                    continue
                # the remote finishes the batch: the newest one is ours
                batch = max(os.listdir(os.path.join(paths["remote"], "batches")))[:-5]
                remote.set_status(batch, "completed", output_file=up["output"],
                                  error_file=up["error"])
                accepted.append(up)

            with _cycle(ctx, lat, "tick"):
                with tr.span("api.poll_tick", op_id=f"tick-{w}"):
                    with contextlib.redirect_stdout(io.StringIO()) as out:
                        rc = cli.main(poll_argv)
                summary = json.loads(out.getvalue().strip().splitlines()[-1])
                tr.count("pipeline.jobs_per_tick", summary["polled"])
            lat["tick_rows"].append(sum(u["completed"] + u["failed"] for u in wave
                                        if not u["rejected"]))
            ctx.tally(rc == 0 and summary["active_after"] == 0,
                      f"poll tick {w}: rc {rc}, {summary}")
            log(f"wave {w} done")
    finally:
        srv.shutdown()
        srv.server_close()
        server_thread.join(timeout=60)
    return accepted


def _ingest_phase(ctx, spark, paths, landings, lat) -> None:
    """Land each batch's result files and stream them into the store,
    reading a snapshot after each commit."""
    from batch_processing_system_spark.pipeline import commitstore
    from batch_processing_system_spark.streaming.ingest import stream_results_into_store

    tr = ctx.tracer
    for i, up in enumerate(landings):
        for kind in ("output", "error"):
            dst = os.path.join(paths["incoming"], os.path.basename(up[kind]))
            shutil.copyfile(up[kind], dst + ".tmp")
            os.replace(dst + ".tmp", dst)
        before = commitstore.current_version(paths["store"])
        with _cycle(ctx, lat, "landing"):
            with tr.span("ingest.landing", op_id=f"landing-{i}"):
                q = (stream_results_into_store(
                    spark, paths["incoming"], paths["store"], gen.OUTPUT_SCHEMA,
                    paths["checkpoint"], now=POLLED_AT)
                    .trigger(availableNow=True).start())
                try:
                    q.awaitTermination()
                except Exception:  # q.exception() holds it; tallied below
                    pass
            tr.count("streaming.batch_s", sum(
                p["durationMs"].get("triggerExecution", 0) for p in q.recentProgress) / 1e3)
        lat["landing_rows"].append(up["completed"] + up["failed"])
        ctx.tally(q.exception() is None
                  and commitstore.current_version(paths["store"]) == before + 1,
                  f"landing {i}: {q.exception()}")

        with _cycle(ctx, lat, "read"), \
                tr.span("commitstore.read_store", op_id=f"read-{i}"):
            counts = _status_counts(commitstore.read_store(spark, paths["store"]))
        check(counts == _expected(landings[:i + 1], N_DOCS, "in_progress"),
              f"store counts {counts} after {i + 1} landings")
        log(f"landing {i} done")


def run(ctx) -> dict:
    from batch_processing_system_spark.pipeline import commitstore
    from batch_processing_system_spark.pipeline.schemas import document_schema
    from batch_processing_system_spark.pipeline.statestore import read_state

    tr = ctx.tracer
    inputs = gen.pipeline_inputs(
        os.path.join(ctx.work, "inputs"), ctx.seed, N_DOCS,
        N_UPLOADS, LINES_PER_UPLOAD, REJECTED)
    _instrument(tr)

    paths: dict = {}
    setup_s = ctx.setups(lambda i: paths.update(_setup(ctx, inputs, i)))
    spark = ctx.spark
    tr.attach_spark(spark)

    lat = {k: [] for k in (*MEASURED, "tick_rows", "landing_rows")}
    accepted = _api_phase(ctx, spark, paths, inputs["uploads"], lat)
    docs_counts = _status_counts(read_state(spark, paths["docs"], document_schema()))
    check(docs_counts == _expected(accepted, N_DOCS, "pending"),
          f"snapshot counts {docs_counts} after {len(accepted)} batches")
    landings = accepted[:N_LANDINGS]
    check(len(landings) == N_LANDINGS, f"only {len(accepted)} uploads accepted")
    _ingest_phase(ctx, spark, paths, landings, lat)

    store = paths["store"]
    stage_dirs = len(_live_stages(store))
    digest = _digest(commitstore.read_store(spark, store))
    with _cycle(ctx, lat, "compact"), tr.span("commitstore.compact", op_id="compact"):
        commitstore.compact(spark, store)
    check(_digest(commitstore.read_store(spark, store)) == digest,
          "snapshot changed across compact")
    size_before = _dir_bytes(store)
    commitstore.vacuum(store)
    vacuum_bytes = size_before - _dir_bytes(store)
    live = _live_stages(store)
    on_disk = {d for d in os.listdir(store) if d.startswith("stage-")}
    check(on_disk == live, f"vacuum left {sorted(on_disk - live)}")

    samples = [x for k in MEASURED for x in lat[k]]
    result = {"end_to_end": {
        "setup_s": median(setup_s),
        "cpu_ref_s": sum(c for _, c, _ in samples),
    }}
    log(f"wall {sum(w for w, _, _ in samples):.2f}s cpu {result['end_to_end']['cpu_ref_s']:.2f}s")
    if tr.installed:
        m = tr.median
        compact_s = lat["compact"][0][0]
        result["per_layer"] = {
            "submit_p50_s": median(_clean(lat["submit"])),
            "reject_p50_s": median(_clean(lat["reject"])),
            "poll_tick_p50_s": median(_clean(lat["tick"])),
            "poll_result_rows_per_s":
                sum(lat["tick_rows"]) / sum(w for w, _, _ in lat["tick"]),
            "ingest_batch_p50_s": median(_clean(lat["landing"])),
            "store_read_p50_s": median(_clean(lat["read"])),
            "result_rows_per_s":
                sum(lat["landing_rows"]) / sum(w for w, _, _ in lat["landing"]),
            "compact_s": compact_s,
            "pipeline.validate_s": m("submit", "pipeline.validate_s"),
            "pipeline.submit_batch_s": m("submit", "pipeline.submit_batch_s"),
            "pipeline.statestore.rewrite_s": m("submit", "pipeline.statestore.rewrite_s"),
            "pipeline.statestore.read_s": m("submit", "pipeline.statestore.read_s"),
            "statestore.bytes_written_per_submit": m("submit", "statestore.bytes_written"),
            "sources.jsonl.read_s": m("submit", "sources.jsonl.read_s"),
            "functions.json_schema_s": m("landing", "functions.json_schema_s"),
            "pipeline.run_poll_cycle_s": m("tick", "pipeline.run_poll_cycle_s"),
            "pipeline.process_results_s": m("tick", "pipeline.process_results_s"),
            "pipeline.jobs_per_tick": m("tick", "pipeline.jobs_per_tick"),
            "localremote.calls": tr.total("localremote.calls"),
            "localremote.retries": tr.total("localremote.retries"),
            "streaming.batch_s": m("landing", "streaming.batch_s"),
            "pipeline.build_update_records_s": m("landing", "pipeline.build_update_records_s"),
            "commitstore.upsert_store_s": m("landing", "commitstore.upsert_store_s"),
            "commitstore.buckets_touched": m("landing", "commitstore.buckets_touched"),
            "commitstore.bytes_written_per_row":
                m("landing", "commitstore.bytes_written") / median(lat["landing_rows"]),
            "commitstore.stage_dirs": float(stage_dirs),
            "commitstore.read_store_s": m("read", "commitstore.read_store_s"),
            "commitstore.compact_s": compact_s,
            "commitstore.vacuum_bytes": float(vacuum_bytes),
        }
    return result


def _live_stages(store: str) -> set[str]:
    """Stage directories the current manifest reads from."""
    from batch_processing_system_spark.pipeline import commitstore

    manifest = commitstore._read_manifest(store, commitstore.current_version(store))
    return {rel.split("/", 1)[0] for rel in manifest["buckets"].values()}


def _digest(df):
    """Order-insensitive content digest of a store snapshot."""
    from pyspark.sql import functions as F

    row_hash = F.xxhash64(*[c for c in df.columns if c != "_bucket"])
    return tuple(df.select(F.count("*"), F.sum(row_hash.cast("decimal(38,0)"))).first())

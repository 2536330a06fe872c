"""Streaming-lane catalog rows (VERDICT r12 item 6).

The streaming twins (scd2, journeys, curation, neardup, heavyhitters)
were pytest-verified but invisible to the catalog/bench surface; this
module puts one genuinely-streaming execution INTO the driver's
correctness gate: the q95 funnel automaton replayed through Structured
Streaming (readStream → applyInPandasWithState → foreachBatch into a
micro-batch-keyed store) over the same events table, pinned to the
SAME DuckDB oracle as the batch q95 — so batch ≡ stream is
hash-checked by the gate itself, not just by the test suite.

Replay design (all Spark-side, no driver collect at any size):

1. *Wire export* — events projected to the journeys wire schema
   (user_id, event_id, event_type, es, d) and written as parquet split
   into ``_N_WAVES`` contiguous (es, event_id) ranges via
   ``repartitionByRange``; file mtimes are then stamped in ascending
   range order. Exported once per (sf_dir, process): the wire log is
   ingest infrastructure, like the layout twins.
2. *Replay* — availableNow + maxFilesPerTrigger=1 processes one wave
   per micro-batch (small wires fold into one, see ``_replay``),
   oldest mtime first (Spark's file-source order), so
   a user active across waves has state carried across batches by the
   engine — the cross-batch contract the pytest waves also exercise.
   ANY (es, event_id)-range split yields the batch answer exactly: the
   automaton is a fold over the per-user (es, event_id)-sorted
   sequence, each batch sorts within itself, and range concatenation
   IS the global order (streaming/journeys.py docstring).
3. *Store* — the operator's own run function writes each
   micro-batch's updates as the store's ``bid=<N>`` partition
   (``statestore.write_bid_store``, replay-safe); the result is the
   latest batch's rows per user (``statestore.read_latest``), the q95
   output shape. Every row here wires its operator the same way
   (``_replay``).

Provenance: the reference's batch/stream duality requirement
(/root/reference/README.md:86-110 state machine + :83 polling loop);
operator rows T1/T2/X-journeys in SURVEY §2.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.io import load_table
from ..pipeline.statestore import read_bid_store, read_latest, stream_updates
from . import register
from .temporal import Q95_SQL
from .wrangling import R04_SCD2_SQL

#: waves in the wire log = micro-batches in the replay; 3 keeps the
#: cross-batch story real while bounding per-batch stream overhead
_N_WAVES = 3

#: below this total wire size the replay folds all waves into ONE
#: availableNow micro-batch (VERDICT r13 item 3): each extra
#: micro-batch costs ~1.5 s of fixed machinery (measured at sf0.1 —
#: state-store commit + offsets/WAL + per-batch job scheduling), which
#: dominates toy-SF oracle/bench sweeps. Correctness is unchanged
#: either way — the automaton is a fold over the per-user sorted
#:  sequence and each batch sorts within itself (single batch = the
#: global sort) — and the cross-batch contract stays pinned by the
#: forced 3-batch pytest replay. At production SF the wire log blows
#: past this threshold and the replay is genuinely multi-batch.
_SINGLE_BATCH_MAX_WIRE_BYTES = 64 << 20

#: wire logs are written once per (process, sf_dir) — the export is
#: ingest infrastructure, not per-query work (same amortization rule
#: as the bucketed/partitioned layout twins)
_WIRE_CACHE: dict[str, str] = {}

#: previous invocation's store/checkpoint dir, reclaimed on the next
#: call: a long-lived process running the catalog repeatedly (bench
#: passes, oracle sweeps) must not grow /tmp by one run dir per
#: invocation. Returned DataFrames are eagerly localCheckpoint-ed
#: (ADVICE r14), so reclaiming the run dir cannot invalidate a result
#: a caller still holds — the old collect-before-re-invoking validity
#: window is gone.
_LAST_RUN_DIR: list[str] = []


def _cleanup_stream_dirs() -> None:
    """Reclaim every wire log and the last run dir of this process
    (VERDICT r13 item 6): wire logs are per-process infrastructure —
    without this, each process of a multi-process catalog sweep left
    one ~events-sized dir behind forever. Registered atexit at import;
    also callable directly (tests pin the O(1)-dirs contract)."""
    while _LAST_RUN_DIR:
        shutil.rmtree(_LAST_RUN_DIR.pop(), ignore_errors=True)
    for d in list(_WIRE_CACHE.values()):
        shutil.rmtree(d, ignore_errors=True)
    _WIRE_CACHE.clear()


atexit.register(_cleanup_stream_dirs)


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily lower spark.sql.shuffle.partitions around a
    streaming .start(): the stateful operator creates one state-store
    instance per shuffle partition PER MICRO-BATCH (checkpoint files
    included), so 32 partitions x 3 waves = 96 store commits of fixed
    overhead at toy SF (VERDICT r13 item 3). The partition count is
    resolved at query start, so the narrow window around start() +
    awaitTermination() is sufficient; catalog execution is sequential,
    so nothing else plans under the lowered value. On a real cluster
    the state partition count is sized to executor count x state
    volume — this helper is the toy-SF analogue of that sizing, not a
    correctness knob (tests pin stream ≡ batch).

    It also pins spark.sql.streaming.noDataMicroBatches.enabled to
    true (the engine default) for the window: r80's outer (NULL) rows
    are emitted only by availableNow's trailing no-data micro-batch,
    so a session-level override must not drop it. The
    other rows have no watermark, so they never run such a batch."""
    confs = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.streaming.noDataMicroBatches.enabled": "true",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def _replay(
    spark: SparkSession,
    prefix: str,
    wire_dirs: list[str],
    n_files: int,
    writer,
    n_parts=None,
) -> str:
    """Run one streaming row's replay to completion; returns its store
    path. Reclaims the previous run dir, makes this one, and starts
    ``writer(read, store, ckpt)``, where ``read(schema, wire_dir)`` is
    the wire's parquet stream source.

    Below _SINGLE_BATCH_MAX_WIRE_BYTES all ``n_files`` wire files fold
    into ONE availableNow micro-batch: each extra micro-batch is pure
    fixed machinery at toy SF, and the multi-wave contracts stay pinned
    by the operators' forced multi-batch pytest replays. Above it, one
    file per micro-batch.
    ``n_parts(wire_bytes)`` sizes the state partitions (default 8)."""
    while _LAST_RUN_DIR:
        shutil.rmtree(_LAST_RUN_DIR.pop(), ignore_errors=True)
    run_dir = tempfile.mkdtemp(prefix=f"{prefix}_run_")
    _LAST_RUN_DIR.append(run_dir)
    store = os.path.join(run_dir, "store")
    wire_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d in wire_dirs
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )
    mft = n_files if wire_bytes <= _SINGLE_BATCH_MAX_WIRE_BYTES else 1

    def read(schema, wire_dir: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mft)
            .parquet(wire_dir)
        )

    n = 8 if n_parts is None else n_parts(wire_bytes)
    with _stream_shuffle_partitions(spark, n):
        q = writer(read, store, os.path.join(run_dir, "ckpt")).start()
        q.awaitTermination()
    return store


def _wire_log(spark: SparkSession, sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    if key in _WIRE_CACHE:
        return _WIRE_CACHE[key]
    wire_dir = tempfile.mkdtemp(prefix="r77_wire_")
    evs = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("es"),
        F.unix_date(F.to_date(F.date_trunc("day", F.col("ts"))))
        .cast("int")
        .alias("d"),
    )
    # contiguous (es, event_id) ranges: partition i of the range
    # partitioner holds the i-th lowest key range and is written by
    # task i as part-0000i-*, so ascending file NAME = ascending time
    # range. Unique sort keys (event_id tie-break) make the split
    # exact; empty ranges (tiny inputs) are just empty waves.
    evs.repartitionByRange(
        _N_WAVES, F.col("es"), F.col("event_id")
    ).write.mode("overwrite").parquet(wire_dir)
    files = sorted(
        f for f in os.listdir(wire_dir) if f.endswith(".parquet")
    )
    # stamp strictly ascending mtimes: the streaming file source picks
    # oldest-modified first, which makes wave order deterministic
    for i, f in enumerate(files):
        os.utime(os.path.join(wire_dir, f), (1_000_000_000 + 10 * i,) * 2)
    _WIRE_CACHE[key] = wire_dir
    return wire_dir


@register(
    "r77_streaming_funnel",
    Q95_SQL,
    doc="The q95 funnel executed as a STREAM — the catalog-visible leg "
    "of the journeys twin (VERDICT r12 item 6): the events table is "
    "replayed as a 3-wave time-ordered parquet wire log through "
    "readStream → applyInPandasWithState (one micro-batch per wave, "
    "availableNow) into a micro-batch-keyed store read latest-wins per "
    "user, and the FINAL view must hash-match the exact same DuckDB "
    "oracle as the batch q95 — "
    "batch ≡ stream checked by the driver gate itself. Cross-batch "
    "state is real: users active in several waves have their "
    "(stage, t1, t2, t3) carried across micro-batches by the engine's "
    "state store. Equality argument: the automaton is a fold over the "
    "per-user (es, event_id)-sorted sequence; each batch sorts within "
    "itself and the waves are contiguous (es, event_id) ranges "
    "processed in range order, so the concatenation the state machine "
    "sees IS the globally sorted sequence. At 100 TB: the wire export "
    "is the ingest log itself (written once), state is RocksDB-backed "
    "O(#users x O(1)), and the latest-wins store becomes a MERGE into "
    "the serving table — the exact §3 polling-pipeline shape. Tier-1.",
)
def r77_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The returned DataFrame is eagerly localCheckpoint-ed (ADVICE
    r14): the resolved store is user-count-sized, and checkpointing it
    detaches the result from the run dir the next streaming-row call
    reclaims."""
    from ..streaming.journeys import EVENT_WIRE_SCHEMA, FUNNEL_SCHEMA, run_funnel_stream

    wire_dir = _wire_log(spark, sf_dir)
    store = _replay(
        spark, "r77", [wire_dir], _N_WAVES,
        lambda read, store, ckpt: run_funnel_stream(
            read(EVENT_WIRE_SCHEMA, wire_dir), store, ckpt
        ),
    )
    return read_latest(spark, store, FUNNEL_SCHEMA, ["user_id"]).localCheckpoint(
        eager=True
    )


#: r78 replays in TWO doc_id waves (vs r77's three): one boundary is
#: all the cross-batch band-store contract needs at the gate, and each
#: extra micro-batch costs ~3 s of candidate/verify machinery at toy
#: SF (the pytest twin still replays 3 JSONL waves)
_N_DOC_WAVES = 2


def _doc_wire_log(spark: SparkSession, sf_dir: str) -> str:
    """documents (doc_id, text) exported as an _N_DOC_WAVES-file
    parquet wire log split into contiguous doc_id ranges,
    ascending-mtime stamped — the ingest-order replay for r78 (same
    amortization and atexit-GC rules as the events wire log)."""
    key = "docs:" + os.path.abspath(sf_dir)
    if key in _WIRE_CACHE:
        return _WIRE_CACHE[key]
    wire_dir = tempfile.mkdtemp(prefix="r78_wire_")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartitionByRange(_N_DOC_WAVES, F.col("doc_id")).write.mode(
        "overwrite"
    ).parquet(wire_dir)
    files = sorted(f for f in os.listdir(wire_dir) if f.endswith(".parquet"))
    for i, f in enumerate(files):
        os.utime(os.path.join(wire_dir, f), (1_000_000_000 + 10 * i,) * 2)
    _WIRE_CACHE[key] = wire_dir
    return wire_dir


#: r78 oracle: the exact-Jaccard pair set (same CTEs as q46's
#: JACCARD_NEARDUP_SQL) resolved by GREEDY ascending-doc_id selection —
#: a doc is kept iff it has no already-kept verified neighbor with a
#: smaller id; a rejected doc's dup_of is its smallest kept neighbor.
#: Greedy (lexicographically-first MIS) is inherently sequential, so
#: the oracle walks the pair-graph vertices in id order with a
#: recursive CTE carrying the kept set as a list — recursion depth =
#: |pair-graph vertices| (output-sized: ~0.2% of docs on this corpus),
#: never |documents|. Docs outside the pair graph are kept unmapped.
R78_GREEDY_SQL = """
WITH RECURSIVE
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
shg AS (SELECT DISTINCT doc_id,
              ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle
       FROM w, UNNEST(generate_series(1, len(ws) - 4)) AS t(i)),
n AS (SELECT doc_id, COUNT(*) AS nsh FROM shg GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, COUNT(*) AS n_common
          FROM shg a JOIN shg b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
pairs AS (SELECT doc_id_a, doc_id_b
          FROM inter
          JOIN n na ON doc_id_a = na.doc_id
          JOIN n nb ON doc_id_b = nb.doc_id
          WHERE 10 * n_common >= 6 * (na.nsh + nb.nsh - n_common)),
verts AS (SELECT DISTINCT doc_id FROM
          (SELECT doc_id_a AS doc_id FROM pairs UNION SELECT doc_id_b FROM pairs)),
smaller AS (SELECT doc_id_b AS d, list(doc_id_a) AS sm FROM pairs GROUP BY 1),
vl AS (SELECT list(v.doc_id ORDER BY v.doc_id) AS vs,
              list(coalesce(s.sm, CAST([] AS BIGINT[])) ORDER BY v.doc_id) AS sms
       FROM verts v LEFT JOIN smaller s ON s.d = v.doc_id),
walk(i, kept_list) AS (
    SELECT 0, CAST([] AS BIGINT[])
    UNION ALL
    SELECT walk.i + 1,
           CASE WHEN len(list_intersect(vl.sms[walk.i + 1], walk.kept_list)) > 0
                THEN walk.kept_list
                ELSE list_append(walk.kept_list, vl.vs[walk.i + 1]) END
    FROM walk, vl
    WHERE walk.i < len(vl.vs)
),
final_kept AS (SELECT kept_list FROM walk ORDER BY i DESC LIMIT 1),
kept_ids AS (SELECT UNNEST(kept_list) AS doc_id FROM final_kept)
SELECT d.doc_id,
       (v.doc_id IS NULL OR k.doc_id IS NOT NULL) AS kept,
       CASE WHEN v.doc_id IS NOT NULL AND k.doc_id IS NULL
            THEN (SELECT MIN(p.doc_id_a) FROM pairs p
                  JOIN kept_ids kk ON p.doc_id_a = kk.doc_id
                  WHERE p.doc_id_b = d.doc_id)
            ELSE NULL END AS dup_of
FROM documents d
LEFT JOIN verts v ON v.doc_id = d.doc_id
LEFT JOIN kept_ids k ON k.doc_id = d.doc_id
"""


@register(
    "r78_streaming_neardup",
    R78_GREEDY_SQL,
    doc="Streaming near-dup dedup AT INGEST executed through the "
    "driver gate (VERDICT r13 item 2 — the X2c twin promoted from "
    "pytest-only to catalog row, following the r77 wire-log pattern): "
    "documents are replayed as an _N_DOC_WAVES-file doc_id-ordered parquet "
    "wire log through readStream → foreachBatch(neardup_sink) — "
    "MinHash band store + kept-corpus store as the cross-batch dedup "
    "memory, each a micro-batch-keyed log (streaming/neardup.py) — "
    "and the accumulated decision log "
    "(doc_id, kept, dup_of) must hash-match a DuckDB oracle of the "
    "GREEDY-over-exact-pairs semantics: first arrival wins, a doc is "
    "kept iff no already-kept verified (exact Jaccard ≥ 0.6) neighbor "
    "with a smaller id exists, dup_of = the smallest kept neighbor. "
    "Two doc_id-contiguous waves (one cross-batch boundary — what the "
    "band-store contract needs; the pytest twin replays three). "
    "Equality argument: within a batch survivors are decided by "
    "greedy ascending doc_id over the verified pair graph, arrivals "
    "colliding with the band store are rejected against earlier-wave "
    "(hence smaller-id) kept docs, and the waves are contiguous "
    "ascending doc_id ranges — so the replay's decision sequence IS "
    "the global greedy walk; candidate completeness at J ≥ 0.6 is the "
    "same 16-table MinHash family q42 passes the exact-pair oracle "
    "with. Cross-batch state is real and externalized (parquet band + "
    "corpus stores, restart-safe via the checkpoint — the production "
    "shape where dedup memory outlives any single process). At "
    "100 TB: bands shuffle 16 small rows per doc (never texts), "
    "verification touches only band-colliding candidates, and the "
    "stores become the serving tables the ingest MERGEs into. Tier-1.",
)
def r78_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The returned DataFrame is eagerly localCheckpoint-ed (ADVICE
    r14), so it stays readable even after the next streaming-row call
    reclaims this invocation's run dir."""
    from ..streaming.neardup import DECISION_SCHEMA, INCOMING_DOC_SCHEMA, neardup_sink

    wire_dir = _doc_wire_log(spark, sf_dir)

    def writer(read, store, ckpt):
        sink = neardup_sink(
            os.path.join(store, "corpus"),
            os.path.join(store, "bands"),
            os.path.join(store, "decisions"),
        )
        return (
            read(INCOMING_DOC_SCHEMA, wire_dir)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )

    # the within-batch resolution IS the global greedy walk when the
    # whole doc_id-ordered wire arrives as one batch (the single-batch
    # fold); the cross-batch band-store contract is pinned by
    # tests/test_streaming_neardup.py's multi-wave replay
    store = _replay(spark, "r78", [wire_dir], _N_DOC_WAVES, writer)
    return read_bid_store(
        spark, os.path.join(store, "decisions"), DECISION_SCHEMA
    ).localCheckpoint(eager=True)


#: r79 oracle — only DETERMINISTIC sketch facts are hash-checked (the
#: q35 discipline: emit values the theory pins exactly, plus
#: bound-audit booleans the theory guarantees TRUE):
#:   * 'type' facet: 5 distinct event_types <= k=16, so no MG cut ever
#:     fires (map side or merge) and est IS the exact count — DuckDB
#:     reproduces it with GROUP BY.
#:   * 'user' facet: est values are sketch-/batching-dependent, so the
#:     row reduces to (total N, all-bounds-hold boolean): est<=true,
#:     true<=est+err for tracked keys; true<=err for untracked keys;
#:     err*(k+1)<=N; n==N — each guaranteed by Misra-Gries, each
#:     CHECKED against exact batch counts before the boolean is
#:     emitted, so a sketch bug hash-mismatches the oracle's TRUE.
R79_HH_SQL = """
SELECT 'type' AS facet, event_type AS key, COUNT(*) AS val, TRUE AS ok
FROM events GROUP BY event_type
UNION ALL
SELECT 'user' AS facet, '_bounds' AS key, COUNT(*) AS val, TRUE AS ok
FROM events
"""


@register(
    "r79_streaming_heavyhitters",
    R79_HH_SQL,
    doc="Streaming heavy hitters through the driver gate (VERDICT r14 "
    "item 3 — X2e promoted from pytest-only to catalog row, the last "
    "SURVEY §2 component without oracle visibility): the events wire "
    "log (r77's, shared) is replayed through readStream → mapInPandas "
    "per-partition Misra-Gries pre-summaries → applyInPandasWithState "
    "global merge — ONE stream pass, one O(k) sketch per facet "
    "(event_type and user_id), shuffle volume O(partitions x k) per "
    "batch, never O(events) (streaming/heavyhitters.py). Tier-1 via "
    "the q35 trick: the hash-checked output is the sketch facts theory "
    "pins exactly — the event_type facet's est values (5 distinct keys "
    "<= k=16 means no MG cut ever fires, so est IS the exact count, "
    "err = 0) and, for the compressive user_id facet (1500 keys into "
    "k=16 counters), a bounds-audit boolean computed by joining the "
    "final sketch against exact batch counts: est<=true<=est+err for "
    "tracked keys, true<=err for untracked, err*(k+1)<=N, n==N. Any "
    "violation of the MG guarantee emits FALSE and hash-mismatches "
    "the oracle. Cross-batch state is real (per-facet state store "
    "rows carried across micro-batches; the pytest twin forces a "
    "3-wave replay and asserts the same bounds per wave). At 100 TB: "
    "this is the top-k dashboard topology — map-side summaries are "
    "mergeable (Agarwal et al., PODS 2012), the global merge point "
    "sees O(partitions x k) rows per batch, and state is O(k).",
)
def r79_streaming_heavyhitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The returned DataFrame is eagerly localCheckpoint-ed (ADVICE
    r14), so it stays readable even after the next streaming-row call
    reclaims this invocation's run dir."""
    from ..streaming.heavyhitters import (
        DEFAULT_K,
        FACET_SKETCH_SCHEMA,
        heavy_hitters_faceted,
    )
    from ..streaming.journeys import EVENT_WIRE_SCHEMA

    k = DEFAULT_K
    wire_dir = _wire_log(spark, sf_dir)
    store = _replay(
        spark, "r79", [wire_dir], _N_WAVES,
        lambda read, store, ckpt: stream_updates(
            heavy_hitters_faceted(
                read(EVENT_WIRE_SCHEMA, wire_dir),
                facets={"type": "event_type", "user": "user_id"},
                k=k,
            ),
            store,
            ckpt,
        ),
    )
    sketch = read_latest(spark, store, FACET_SKETCH_SCHEMA, ["facet"])
    wire = spark.read.parquet(wire_dir)
    n_total = wire.count()

    # --- 'type' facet: est is exact (no cut can fire at <= k distinct
    # keys), so emit it as the value and hash it against GROUP BY ----
    exact_type = wire.groupBy(
        F.col("event_type").alias("key")
    ).agg(F.count("*").alias("true_cnt"))
    # LEFT join from the SKETCH side (ADVICE r15): an inner join would
    # silently drop a buggy sketch's phantom key (one absent from the
    # wire) and still hash-match; with the left join a phantom key
    # surfaces as a row with null true_cnt → ok=FALSE → the row count
    # AND the hash both mismatch. A sketch that *drops* a wire key is
    # caught either way (4 rows vs the oracle's 5).
    type_rows = (
        sketch.filter(F.col("facet") == "type")
        .join(exact_type, "key", "left_outer")
        .select(
            F.lit("type").alias("facet"),
            "key",
            F.col("est").alias("val"),
            F.when(F.col("true_cnt").isNull(), F.lit(False))
            .otherwise(
                (F.col("est") <= F.col("true_cnt"))
                & (F.col("true_cnt") <= F.col("est") + F.col("err"))
            )
            .alias("ok"),
        )
    )

    # --- 'user' facet: audit EVERY MG guarantee against exact counts,
    # reduce to one boolean --------------------------------------------
    exact_user = wire.groupBy(
        F.col("user_id").cast("string").alias("key")
    ).agg(F.count("*").alias("true_cnt"))
    su = sketch.filter(F.col("facet") == "user")
    # bounded-collect: the sketch is <= k rows by construction — err/n
    # are facet-level constants, so this scalar read is O(k), not
    # O(data)
    srow = su.agg(F.max("err").alias("err"), F.max("n").alias("n")).collect()[0]
    err_val, n_seen = int(srow["err"] or 0), int(srow["n"] or 0)
    audit = (
        exact_user.join(su, "key", "left_outer")
        .agg(
            F.min(
                F.when(
                    F.col("est").isNotNull(),  # tracked
                    (F.col("est") <= F.col("true_cnt"))
                    & (F.col("true_cnt") <= F.col("est") + F.col("err")),
                ).otherwise(F.lit(True))
            ).alias("tracked_ok"),
            # untracked keys must sit under the accumulated error mass
            F.min(
                F.when(
                    F.col("est").isNull(),
                    F.col("true_cnt") <= F.lit(err_val),
                ).otherwise(F.lit(True))
            ).alias("untracked_ok"),
        )
        .select(
            F.lit("user").alias("facet"),
            F.lit("_bounds").alias("key"),
            F.lit(n_total).alias("val"),
            (
                F.col("tracked_ok")
                & F.col("untracked_ok")
                & F.lit(err_val * (k + 1) <= n_total)
                & F.lit(n_seen == n_total)
            ).alias("ok"),
        )
    )
    return type_rows.unionByName(audit).localCheckpoint(eager=True)


# --- r80: stream-stream join through the driver gate ------------------

#: r80 request/result stream parameters: a request waits _SS_HORIZON
#: seconds for its answer; both wires tolerate _SS_DELAY seconds of
#: out-of-order arrival. The result-lag schedule (a pure function of
#: event_id, so DuckDB reproduces it) plants all three outcomes:
#: event_id % 6 == 5 → never answered; % 6 == 4 → answered 120 s past
#: the horizon (expired); otherwise answered at 30+(event_id%4)*100 s,
#: always inside the horizon.
_SS_HORIZON = 600
_SS_DELAY = 60
_SS_N_WAVES = 2


def _reqres_wire_logs(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """events derived into TWO parquet wire logs — requests
    (custom_id, req_ts, model) and results (custom_id, res_ts, status)
    — each split into _SS_N_WAVES contiguous event-time ranges with
    ascending mtimes, followed by a far-future watermark-pusher
    sentinel file and a flush file per side. The sentinel advances each
    side's watermark past every real row's horizon (the engine's global
    watermark is the MIN across inputs, so BOTH sides need one); the
    flush file exists because eviction — and with it outer-row emission
    — applies at the start of the batch AFTER the one that advanced the
    watermark. Same amortization/atexit-GC rules as the other wires."""
    key = "reqres:" + os.path.abspath(sf_dir)
    if key in _WIRE_CACHE:
        root = _WIRE_CACHE[key]
        return os.path.join(root, "reqs"), os.path.join(root, "ress")
    root = tempfile.mkdtemp(prefix="r80_wire_")
    evs = load_table(spark, sf_dir, "events")
    # cast("timestamp") up front: un-annotated parquet reads as
    # TIMESTAMP_NTZ, but the wire schemas (and withWatermark/unix_micros
    # in the join) want LTZ TimestampType — with the session pinned to
    # UTC the cast is the identity on the wall clock (engine/det.py)
    ts_ltz = F.col("ts").cast("timestamp")
    req = evs.select(
        F.col("event_id").cast("string").alias("custom_id"),
        ts_ltz.alias("req_ts"),
        F.col("event_type").alias("model"),
    )
    lag = F.when(F.col("event_id") % 6 == 4, F.lit(_SS_HORIZON + 120)).otherwise(
        F.lit(30) + (F.col("event_id") % 4) * 100
    )
    res = evs.filter(F.col("event_id") % 6 != 5).select(
        F.col("event_id").cast("string").alias("custom_id"),
        F.timestamp_add("SECOND", lag.cast("int"), ts_ltz).alias("res_ts"),
        F.when(F.col("event_id") % 3 == 0, F.lit("failed"))
        .otherwise(F.lit("completed"))
        .alias("status"),
    )
    for name, df, ts_col, extra in (
        ("reqs", req, "req_ts", ("model", "m1")),
        ("ress", res, "res_ts", ("status", "completed")),
    ):
        d = os.path.join(root, name)
        df.repartitionByRange(
            _SS_N_WAVES, F.col(ts_col), F.col("custom_id")
        ).write.mode("overwrite").parquet(d)
        files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        for i, f in enumerate(files):
            os.utime(os.path.join(d, f), (1_000_000_000 + 10 * i,) * 2)
        # sentinel + flush, each in its OWN file with a later mtime
        for j, (cid, day) in enumerate(
            (("sentinel", "2100-01-01"), ("sentinel_flush", "2100-01-02"))
        ):
            one = spark.createDataFrame(
                [(cid,)], "custom_id string"
            ).select(
                "custom_id",
                F.lit(day).cast("timestamp").alias(ts_col),
                F.lit(extra[1]).alias(extra[0]),
            )
            stage = tempfile.mkdtemp(prefix="r80_stage_")
            one.coalesce(1).write.mode("overwrite").parquet(stage)
            part = next(
                f for f in os.listdir(stage) if f.endswith(".parquet")
            )
            dst = os.path.join(d, f"zz_{cid}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            shutil.rmtree(stage, ignore_errors=True)
            os.utime(dst, (1_000_000_000 + 1000 + 10 * j,) * 2)
    _WIRE_CACHE[key] = root
    return os.path.join(root, "reqs"), os.path.join(root, "ress")


#: r80 oracle: the batch left join the stream must reproduce —
#: requests/results are pure projections of events (the same
#: expressions the wire export uses), joined on custom_id within
#: [req_ts, req_ts + horizon]. Matched rows carry the result + latency;
#: expired (% 6 == 4) and never-answered (% 6 == 5) requests surface
#: exactly once with NULL result columns — the rows the STREAM may only
#: emit via watermark eviction, which is precisely what this row
#: hash-checks.
R80_SSJOIN_SQL = f"""
WITH req AS (
  SELECT CAST(event_id AS VARCHAR) AS custom_id, ts AS req_ts,
         event_type AS model
  FROM events
),
res AS (
  SELECT CAST(event_id AS VARCHAR) AS custom_id,
         ts + (CASE WHEN event_id % 6 = 4 THEN {_SS_HORIZON + 120}
                    ELSE 30 + (event_id % 4) * 100 END)
              * INTERVAL 1 SECOND AS res_ts,
         CASE WHEN event_id % 3 = 0 THEN 'failed'
              ELSE 'completed' END AS status
  FROM events WHERE event_id % 6 <> 5
)
SELECT r.custom_id, r.req_ts, r.model, s.res_ts, s.status,
       CAST(epoch_ms(s.res_ts) - epoch_ms(r.req_ts) AS BIGINT) AS latency_ms
FROM req r
LEFT JOIN res s
  ON r.custom_id = s.custom_id
 AND s.res_ts >= r.req_ts
 AND s.res_ts <= r.req_ts + INTERVAL {_SS_HORIZON} SECOND
"""


@register(
    "r80_streaming_ssjoin",
    R80_SSJOIN_SQL,
    doc="Event-time stream-stream LEFT OUTER join through the driver "
    "gate (VERDICT r15 item 4 — T8 promoted from pytest-only to "
    "catalog row, the r77/r78/r79 wire-log recipe): events is derived "
    "into a request wire (custom_id, req_ts, model) and a result wire "
    "(custom_id, res_ts, status; lag a pure function of event_id, so "
    "the oracle reproduces it), each replayed as event-time-ordered "
    "parquet waves through readStream → withWatermark on BOTH sides → "
    "native stream-stream join on custom_id within [req_ts, req_ts + "
    f"{_SS_HORIZON} s] (streaming/ssjoin.py) → foreachBatch into a "
    "micro-batch-keyed log. "
    "The accumulated output must hash-match DuckDB's batch left join: "
    "matched rows with latency, expired requests (answered past the "
    "horizon) and never-answered requests exactly once with NULL "
    "result columns. The NULL rows are the hard part — the engine may "
    "only emit them by WATERMARK EVICTION (the time-range bound is "
    "what lets buffered state expire), so a watermark/eviction bug "
    "hash-mismatches. Far-future sentinel + flush files per side push "
    "the min-across-inputs watermark and trigger the final eviction "
    "batch; sentinels are filtered from the output (their own outer "
    "rows are stream-pending by construction — nothing pushes the "
    "watermark past THEM). At 100 TB: state per side is bounded by "
    "watermark − horizon (never corpus-sized, asserted by the pytest "
    "twin), shuffle is keyed on custom_id, and the output is the "
    "§3 request/result reconciliation feed. Tier-1.",
)
def r80_streaming_ssjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The returned DataFrame is eagerly localCheckpoint-ed (ADVICE
    r14), so it stays readable even after the next streaming-row call
    reclaims this invocation's run dir."""
    from ..streaming.ssjoin import (
        JOINED_SCHEMA,
        REQUEST_WIRE_SCHEMA,
        RESULT_WIRE_SCHEMA,
        run_request_result_join_stream,
    )

    reqs_dir, ress_dir = _reqres_wire_logs(spark, sf_dir)
    # The single-batch fold takes ALL files, flush included, into
    # batch 0 (round-16 measurement: each stream-stream micro-batch
    # costs ~3 s of fixed machinery at toy SF — 4 join state stores per
    # partition, each load+evict+commit). Outer-row emission still
    # happens ONLY by watermark eviction: the availableNow wrapper runs
    # one trailing no-data batch after the last data batch precisely
    # because the sentinel advanced the watermark with evictions
    # pending, so the minimum honest replay is 2 micro-batches —
    # measured checksum-identical to the old 3-batch replay at
    # sf0.1/sf0.01. Above the threshold each file is its own batch and
    # the flush file still closes the stream.
    store = _replay(
        spark, "r80", [reqs_dir, ress_dir], _SS_N_WAVES + 2,
        lambda read, store, ckpt: run_request_result_join_stream(
            read(REQUEST_WIRE_SCHEMA, reqs_dir),
            read(RESULT_WIRE_SCHEMA, ress_dir),
            store, ckpt, _SS_HORIZON, _SS_DELAY, how="left_outer",
        ),
        # scale-adaptive state partitioning (guide §2: derive from input
        # size, not a constant): a stream-stream join keeps FOUR state
        # stores per partition, so its per-partition fixed cost is 4x
        # the single-store rows' — at toy SF 2 partitions measured 1.7x
        # faster than the house default 8 with identical output, while
        # the 32 MB-per-partition rule grows the count linearly with
        # wire volume (256 MB wire -> 8, 32 GB -> the 200 cap)
        n_parts=lambda wire_bytes: max(2, min(200, wire_bytes // (32 << 20) + 1)),
    )
    return (
        read_bid_store(spark, store, JOINED_SCHEMA)
        .filter(~F.col("custom_id").startswith("sentinel"))
        .localCheckpoint(eager=True)
    )


# --- r81: incremental SCD2 through the driver gate ---------------------


def _scd2_wire_log(spark: SparkSession, sf_dir: str) -> str:
    """events projected to the SCD2 wire (user_id, event_id,
    event_type, eu) with eu = the EXACT microsecond epoch r04 orders by
    (engine.det.epoch_us — the events ts values carry sub-second parts,
    so the r77 wire's second-granularity es cannot stand in), split
    into _N_WAVES contiguous (eu, event_id) ranges, ascending-mtime
    stamped. Same amortization/atexit-GC rules as the other wires."""
    from ..engine.det import epoch_us

    key = "scd2:" + os.path.abspath(sf_dir)
    if key in _WIRE_CACHE:
        return _WIRE_CACHE[key]
    wire_dir = tempfile.mkdtemp(prefix="r81_wire_")
    evs = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", epoch_us("ts").alias("eu")
    )
    evs.repartitionByRange(
        _N_WAVES, F.col("eu"), F.col("event_id")
    ).write.mode("overwrite").parquet(wire_dir)
    files = sorted(f for f in os.listdir(wire_dir) if f.endswith(".parquet"))
    for i, f in enumerate(files):
        os.utime(os.path.join(wire_dir, f), (1_000_000_000 + 10 * i,) * 2)
    _WIRE_CACHE[key] = wire_dir
    return wire_dir


@register(
    "r81_streaming_scd2",
    # reuse r04's oracle verbatim: batch rebuild ≡ incremental stream
    # is the entire claim
    R04_SCD2_SQL,
    doc="Incremental SCD2 through the driver gate (VERDICT r15 item 6 "
    "— the X15 streaming twin promoted from pytest-only to catalog "
    "row): events replayed as a 3-wave (eu, event_id)-ordered parquet "
    "wire log through readStream → applyInPandasWithState per-user "
    "open-interval state (streaming/scd2.py) → micro-batch-keyed "
    "store read latest-wins per (user_id, valid_from_us), and the "
    "FINAL view must hash-match the exact same DuckDB oracle as the batch r04 rebuild "
    "— nightly-rebuild ≡ incremental-maintenance checked by the gate "
    "itself. Cross-batch state is real: a user whose state change "
    "straddles waves has the open interval carried by the engine's "
    "state store and CLOSED by a later micro-batch (the closed row "
    "supersedes the open row at the same (user_id, valid_from_us) "
    "key). "
    "Equality argument: the interval build is a fold over the per-user "
    "(eu, event_id)-sorted sequence; each batch sorts within itself "
    "and the waves are contiguous ranges replayed in order, so the "
    "concatenation the state machine sees IS the globally sorted "
    "sequence (the r77 argument). At 100 TB: O(1) state per user "
    "(RocksDB-backed), one shuffle (the stateful groupBy), the "
    "latest-wins store becomes MERGE into the dimension table — the canonical "
    "incremental dimension-maintenance topology. Tier-1.",
)
def r81_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The returned DataFrame is eagerly localCheckpoint-ed (ADVICE
    r14), so it stays readable even after the next streaming-row call
    reclaims this invocation's run dir."""
    from ..streaming.scd2 import (
        INTERVAL_KEYS,
        INTERVAL_SCHEMA,
        SCD2_WIRE_SCHEMA,
        run_scd2_stream,
    )

    wire_dir = _scd2_wire_log(spark, sf_dir)
    store = _replay(
        spark, "r81", [wire_dir], _N_WAVES,
        lambda read, store, ckpt: run_scd2_stream(
            read(SCD2_WIRE_SCHEMA, wire_dir), store, ckpt
        ),
    )
    return read_latest(spark, store, INTERVAL_SCHEMA, INTERVAL_KEYS).localCheckpoint(
        eager=True
    )

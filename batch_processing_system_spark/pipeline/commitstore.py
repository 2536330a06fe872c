"""Manifest-committed bucketed document store — the transactional
upsert path (/root/reference/README.md:100-102 $set/$push semantics;
SURVEY §7 H2).

Documents are hash-bucketed on ``_id``:

    bucket(_id) = pmod(xxhash64(_id), n_buckets)

so an upsert reads and rewrites only the buckets holding updated keys,
with the merge itself being ``process.upsert_documents``. Rewriting a
bucket in place is not atomic on plain parquet, so every write goes
through the standard table-format commit protocol (the same shape
Delta Lake / Iceberg use), built from two filesystem primitives only:

  - data files are IMMUTABLE: every writer writes to a fresh
    ``stage-<uuid>/`` directory, never touching live files;
  - the commit is one ATOMIC, EXCLUSIVE metadata operation:
    ``os.link(tmp, manifest-<v+1>.json)`` — the hard link either
    publishes the fully-written manifest or fails with EEXIST
    (optimistic concurrency: a racing committer must rebase).

Each stage is one flat directory of parquet files, repartitioned and
sorted on the ``_bucket`` column: a bucket lives in exactly one file
and forms a contiguous run of rows there, so the parquet min/max
statistics of ``_bucket`` let a bucket filter skip the files, row
groups and pages that do not hold it. The manifest maps EVERY bucket
id to the stage that holds its live rows and records the stage schema
as JSON, so — like a Delta log — a reader neither lists partition
directories nor infers a schema: it reads each live stage once, with
the manifest's schema, filtered to the buckets the manifest assigns it.

Readers resolve the highest-numbered manifest and read exactly the
bucket→stage mapping it lists. A crash at ANY point before the
link leaves the previous manifest current (readers see the old
snapshot, orphan staging dirs are garbage); a crash after the link is
a completed commit (readers see the new snapshot). There is no state
in between — 'old or new, never mixed'. ``vacuum`` removes staging
dirs unreferenced by the current manifest.

At 100 TB the identical layout runs on object storage: staging writes
are parallel executor work, the commit is one small PUT-if-absent, and
time travel falls out of keeping old manifests.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .process import upsert_documents

BUCKET_COL = "_bucket"
_MANIFEST_RE = re.compile(r"^manifest-(\d{12})\.json$")


class CommitConflict(RuntimeError):
    """Another writer committed the version this writer staged against.

    The caller re-reads the store and retries (optimistic concurrency —
    the loser rebases; nothing was published, staged files are garbage
    for vacuum)."""


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, f"manifest-{version:012d}.json")


def current_version(root: str) -> int:
    """Highest fully-committed manifest version; 0 = empty store."""
    best = 0
    for name in os.listdir(root):
        m = _MANIFEST_RE.match(name)
        if m:
            best = max(best, int(m.group(1)))
    return best


def _read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        manifest = json.load(f)
    if "schema" not in manifest:
        # an old stage-*/_bucket=N manifest: its files lack the _bucket
        # column, so a bucket filter would read it as an empty store
        raise ValueError(
            f"manifest version {version} in {root} has the old "
            "stage-*/_bucket=N layout (no 'schema' key); the store now "
            "keeps flat bucket-sorted stages, so re-create it with init_store"
        )
    return manifest


def _commit(root: str, manifest: dict) -> None:
    """Publish ``manifest`` as version manifest['version'] atomically.

    Write the full content to a tmp file first, then hard-link it to
    the versioned name: the link is atomic and EXCLUSIVE, so readers
    can never observe a torn manifest and two racing committers can
    never both win the same version."""
    version = manifest["version"]
    tmp = os.path.join(root, f".tmp-manifest-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(root, version))
    except FileExistsError:
        raise CommitConflict(
            f"version {version} was committed by another writer; "
            "re-read and retry"
        ) from None
    finally:
        os.unlink(tmp)


def bucket_of(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _write_stage(df: DataFrame, root: str, n_buckets: int) -> tuple[str, dict]:
    """Write ``df`` into a fresh immutable staging dir as flat parquet,
    hash-bucketed and sorted on ``_bucket`` so each bucket is one
    contiguous run in one file; returns (stage dir name, stage schema
    as a JSON object)."""
    stage = f"stage-{uuid.uuid4().hex}"
    tagged = df.withColumn(BUCKET_COL, bucket_of(F.col("_id"), n_buckets))
    (
        tagged.repartition(BUCKET_COL)
        .sortWithinPartitions(BUCKET_COL)
        .write.mode("error")
        .parquet(os.path.join(root, stage))
    )
    return stage, tagged.schema.jsonValue()


def init_store(docs: DataFrame, root: str, n_buckets: int = 64) -> int:
    """Initial load: stage every bucket, commit manifest version 1."""
    os.makedirs(root, exist_ok=True)
    if current_version(root):
        raise ValueError(f"store at {root} already initialized")
    stage, schema = _write_stage(docs, root, n_buckets)
    manifest = {
        "version": 1,
        "n_buckets": n_buckets,
        "schema": schema,
        "buckets": {str(b): stage for b in range(n_buckets)},
    }
    _commit(root, manifest)
    return 1


def _read_buckets(
    spark: SparkSession, root: str, manifest: dict, buckets
) -> DataFrame:
    """The live rows of ``buckets``: one schema-given scan per stage
    holding any of them, filtered to the buckets the manifest assigns
    that stage, unioned, without the ``_bucket`` column."""
    schema = T.StructType.fromJson(manifest["schema"])
    by_stage: dict[str, list[int]] = {}
    for b in buckets:
        by_stage.setdefault(manifest["buckets"][str(b)], []).append(b)
    parts = [
        spark.read.schema(schema)
        .parquet(os.path.join(root, stage))
        .where(F.col(BUCKET_COL).isin(live))
        for stage, live in sorted(by_stage.items())
    ]
    return reduce(DataFrame.union, parts).drop(BUCKET_COL)


def read_store(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Snapshot read of the given (default: current) manifest version:
    each live stage is read with the manifest's schema (no directory
    listing job, no schema inference) and filtered to its live buckets,
    which the stage's sorted ``_bucket`` statistics prune. Only stages
    the manifest lists are touched — a concurrent writer's staging
    files are invisible by construction."""
    v = version or current_version(root)
    if not v:
        raise ValueError(f"no committed manifest in {root}")
    manifest = _read_manifest(root, v)
    return _read_buckets(spark, root, manifest, range(manifest["n_buckets"]))


def upsert_store(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    _crash_point: str | None = None,
) -> list[int]:
    """Transactional partition-scoped MERGE: stage merged versions of
    only the touched buckets, then commit a manifest that maps touched
    buckets to the new stage and carries every other bucket forward
    untouched. Returns the touched bucket ids.

    ``_crash_point`` ('after_stage' | 'mid_commit') aborts the writer
    at that point for crash tests. Aborting here leaves exactly the
    same filesystem state as SIGKILL at the same instant — the write
    path has no error-cleanup (orphaned staging is vacuum's job), so
    an injected exception and a process kill are indistinguishable to
    a reader.
    """
    base_version = current_version(root)
    if not base_version:
        raise ValueError(f"no committed manifest in {root}")
    manifest = _read_manifest(root, base_version)
    n_buckets = manifest["n_buckets"]

    tagged = updates.withColumn(BUCKET_COL, bucket_of(F.col("custom_id"), n_buckets))
    # bounded-collect: distinct bucket ids, at most n_buckets rows
    touched = sorted(
        r[BUCKET_COL] for r in tagged.select(BUCKET_COL).distinct().collect()
    )
    if not touched:
        return []

    docs = _read_buckets(spark, root, manifest, touched)
    merged = upsert_documents(docs, tagged.drop(BUCKET_COL))
    stage, _ = _write_stage(merged, root, n_buckets)

    if _crash_point == "after_stage":
        raise RuntimeError("injected crash: staged but not committed")

    new_buckets = dict(manifest["buckets"])
    for b in touched:
        new_buckets[str(b)] = stage
    new_manifest = {
        "version": base_version + 1,
        "n_buckets": n_buckets,
        "schema": manifest["schema"],
        "buckets": new_buckets,
    }
    if _crash_point == "mid_commit":
        # a torn manifest: full content staged to tmp, link never made —
        # exactly what a kill inside _commit before os.link leaves
        tmp = os.path.join(root, f".tmp-manifest-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(new_manifest, f)
        raise RuntimeError("injected crash: manifest tmp written, not linked")
    _commit(root, new_manifest)
    return touched


def vacuum(root: str) -> list[str]:
    """Delete staging dirs not referenced by the CURRENT manifest and
    all tmp manifests — the garbage a crashed writer leaves. Old
    manifests are kept (they are tiny and give time travel); their
    data dirs are reclaimed once unreferenced by the current version.
    Returns the removed paths."""
    v = current_version(root)
    if not v:
        return []
    live = set(_read_manifest(root, v)["buckets"].values())
    removed = []
    for name in os.listdir(root):
        path = os.path.join(root, name)
        if name.startswith("stage-") and name not in live:
            shutil.rmtree(path)
            removed.append(path)
        elif name.startswith(".tmp-manifest-"):
            os.unlink(path)
            removed.append(path)
    return removed


def compact(
    spark: SparkSession,
    root: str,
    n_buckets: int | None = None,
    _crash_point: str | None = None,
) -> int:
    """OPTIMIZE/rebucket: rewrite the CURRENT snapshot as one fresh
    stage (optionally with a new bucket count) and commit it as the
    next version — the lakehouse table-maintenance primitive that
    consolidates the stage sprawl incremental upserts leave behind
    (after compaction + vacuum the store is one stage again) and lets
    the bucket count evolve as the table grows, without ever blocking
    readers: they stay on the old manifest until the single atomic
    commit, and a crash at any point leaves the old version current.

    Optimistic concurrency like upsert_store: if another writer
    commits between our snapshot read and our commit, _commit raises
    CommitConflict and the (idempotent, content-preserving) compaction
    can simply be retried. Returns the new version number.
    """
    base_version = current_version(root)
    if not base_version:
        raise ValueError(f"no committed manifest in {root}")
    manifest = _read_manifest(root, base_version)
    target_buckets = n_buckets or manifest["n_buckets"]
    snapshot = read_store(spark, root, base_version)
    stage, schema = _write_stage(snapshot, root, target_buckets)
    if _crash_point == "after_stage":
        raise RuntimeError("injected crash: compaction staged, not committed")
    new_manifest = {
        "version": base_version + 1,
        "n_buckets": target_buckets,
        "schema": schema,
        "buckets": {str(b): stage for b in range(target_buckets)},
    }
    _commit(root, new_manifest)
    return base_version + 1

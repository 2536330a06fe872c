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

Readers resolve the highest-numbered manifest and read exactly the
bucket→directory mapping it lists. A crash at ANY point before the
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
        return json.load(f)


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


def _write_stage(df: DataFrame, root: str, n_buckets: int) -> tuple[str, list[int]]:
    """Write ``df`` hash-bucketed into a fresh immutable staging dir;
    returns (stage dir name, bucket ids present)."""
    stage = f"stage-{uuid.uuid4().hex}"
    out = os.path.join(root, stage)
    (
        df.withColumn(BUCKET_COL, bucket_of(F.col("_id"), n_buckets))
        .repartition(BUCKET_COL)
        .write.mode("error")
        .partitionBy(BUCKET_COL)
        .parquet(out)
    )
    present = [
        int(d.split("=", 1)[1])
        for d in os.listdir(out)
        if d.startswith(f"{BUCKET_COL}=")
    ]
    return stage, present


def init_store(docs: DataFrame, root: str, n_buckets: int = 64) -> int:
    """Initial load: stage every bucket, commit manifest version 1."""
    os.makedirs(root, exist_ok=True)
    if current_version(root):
        raise ValueError(f"store at {root} already initialized")
    stage, present = _write_stage(docs, root, n_buckets)
    manifest = {
        "version": 1,
        "n_buckets": n_buckets,
        "buckets": {str(b): f"{stage}/{BUCKET_COL}={b}" for b in present},
    }
    _commit(root, manifest)
    return 1


def read_store(spark: SparkSession, root: str, version: int | None = None) -> DataFrame:
    """Snapshot read of the given (default: current) manifest version.
    Only directories the manifest lists are touched — a concurrent
    writer's staging files are invisible by construction."""
    v = version or current_version(root)
    if not v:
        raise ValueError(f"no committed manifest in {root}")
    manifest = _read_manifest(root, v)
    dirs = [os.path.join(root, rel) for rel in manifest["buckets"].values()]
    return spark.read.parquet(*dirs)


def upsert_store(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    _crash_point: str | None = None,
) -> list[int]:
    """Transactional partition-scoped MERGE: stage merged versions of
    only the touched buckets, then commit a manifest that maps touched
    buckets to the new files and carries every other bucket forward
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
    # updates may target buckets with no current data; only buckets
    # that exist can be merged, the rest have nothing to update into
    touched = [b for b in touched if str(b) in manifest["buckets"]]
    if not touched:
        return []

    docs = spark.read.parquet(
        *(os.path.join(root, manifest["buckets"][str(b)]) for b in touched)
    )
    merged = upsert_documents(docs, tagged.drop(BUCKET_COL))
    stage, present = _write_stage(merged, root, n_buckets)

    if _crash_point == "after_stage":
        raise RuntimeError("injected crash: staged but not committed")

    new_buckets = dict(manifest["buckets"])
    for b in present:
        new_buckets[str(b)] = f"{stage}/{BUCKET_COL}={b}"
    new_manifest = {
        "version": base_version + 1,
        "n_buckets": n_buckets,
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
    live = {rel.split("/", 1)[0] for rel in _read_manifest(root, v)["buckets"].values()}
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
    snapshot = read_store(spark, root, base_version).drop(BUCKET_COL)
    stage, present = _write_stage(snapshot, root, target_buckets)
    if _crash_point == "after_stage":
        raise RuntimeError("injected crash: compaction staged, not committed")
    new_manifest = {
        "version": base_version + 1,
        "n_buckets": target_buckets,
        "buckets": {str(b): f"{stage}/{BUCKET_COL}={b}" for b in present},
    }
    _commit(root, new_manifest)
    return base_version + 1

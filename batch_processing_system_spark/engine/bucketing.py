"""Bucketed-table layout — Spark's co-located join/aggregation lever.

Z-order (engine/zorder.py) is the *data-skipping* layout; bucketing is
the *shuffle-elimination* layout: ``bucketBy(N, key)`` hash-partitions
rows into N fixed buckets at WRITE time and records the scheme in the
catalog, so every later equi-join or aggregation on the bucket key
reads the table already hash-distributed — Catalyst drops the
Exchange entirely (tests/test_bucketing.py asserts the plans). At
100 TB this converts the nightly fact⋈fact join from "shuffle 100 TB
twice, every run" into "shuffle once at ingest, never again":
write-amortized co-location, the same contract as Hive bucketed
tables / Iceberg bucket partition transforms.

Sizing rule the helpers encode: bucket count is fixed FOREVER at
write time (it IS the join parallelism for shuffle-free plans), so
pick it for the target scale — ~(table size / 128 MB-512 MB) on a
real cluster — and keep it a power of two so
``spark.sql.bucketing.coalesceBucketsInJoin.enabled`` can still
co-locate tables written at different generations (8-bucket ⋈
4-bucket joins by coalescing 2:1 instead of shuffling).

Within-bucket sort propagation: Spark ≥3.0 stopped advertising the
``sortBy`` order from bucketed scans unless BOTH hold —
``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` AND every
bucket is a single file (a multi-file bucket would need a merge, so
Catalyst re-sorts and the sortBy is wasted). The helpers enforce both:
the flag is set whenever a sorted table is registered, and the write
pre-repartitions by the bucket column so each write task owns exactly
one bucket. That alignment is exact because *Spark-native* bucketing
(``bucketBy`` + ``saveAsTable``, no Hive) assigns bucket id with
``pmod(murmur3(col), n)`` — the same HashPartitioning expression
``repartition(n, col)`` uses — unlike Hive bucketed tables, which use
HiveHash and would NOT line up. ``_assert_one_file_per_bucket``
verifies the invariant on every fresh write.

Provenance: EXT (scale posture; the reference spec at
/root/reference/README.md has no storage-layout machinery). The
bucketing metadata lives in the session catalog (in-memory catalog
locally) while the parquet files persist under spark-warehouse/; a
fresh session finds the files already on disk and re-registers them
with ``CREATE TABLE ... CLUSTERED BY ... LOCATION`` instead of
rewriting — registration costs a schema read, not a data pass.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession

from .io import load_table

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
_BUCKET_ROOT = os.path.join(_REPO, "spark-warehouse", "bucketed")

_SORT_FLAG = "spark.sql.legacy.bucketedTableScan.outputOrdering"


def _sf_tag(sf_dir: str) -> str:
    return hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]


def inline_gc_enabled() -> bool:
    """ADVICE r11: inline stale-generation GC rmtree's sibling
    directories under the shared warehouse from the READ path (a query
    that builds bucketed_table / partitioned_events on first use), so
    a CONCURRENT process still scanning the old generation — a bench
    running while pytest regenerates its tmp testdata, or a second
    live session registered against the old name — would hit
    file-not-found mid-query. Default ON (single-user bench repo:
    in-place testdata regeneration must not orphan full table copies
    forever); set SPARK_GRAFT_LAYOUT_GC=0 when several sessions share
    the warehouse and run ``python tools/layout_gc.py`` explicitly
    between workloads instead. Parsed through the shared env_flag
    vocabulary."""
    from .io import env_flag

    return env_flag("SPARK_GRAFT_LAYOUT_GC", default=True)


def gc_stale_siblings(spark: SparkSession, root: str, keep_name: str) -> list[str]:
    """Drop same-spec siblings of ``keep_name`` — directories sharing
    its prefix up to the trailing source-fingerprint segment — from the
    session catalog and from disk; returns the pruned names. Only exact
    same-spec generations are touched: a different bucket count or sort
    order is a deliberate second layout, not a stale generation.
    Pruned names are logged (ADVICE r12): an implicit read that
    triggered a rewrite should leave a visible trace of what it
    deleted, not silently reshape a shared directory."""
    pruned: list[str] = []
    prefix = keep_name.rsplit("_", 1)[0] + "_"
    if os.path.isdir(root):
        for d in os.listdir(root):
            if d.startswith(prefix) and d != keep_name:
                spark.sql(f"DROP TABLE IF EXISTS {d}")
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                pruned.append(d)
    if pruned:
        logging.getLogger(__name__).warning(
            "layout GC pruned stale generation(s) %s under %s (kept %s); "
            "set SPARK_GRAFT_LAYOUT_GC=0 to defer to tools/layout_gc.py",
            pruned, root, keep_name,
        )
    return pruned


def _src_fingerprint(sf_dir: str, table: str) -> str:
    """mtime+size fingerprint of the SOURCE parquet, folded into the
    bucketed table's identity (ADVICE r9): regenerating the testdata
    in place (tools/make_sf.py writes to the same path) must never be
    served from a stale bucketed copy across sessions — the path-only
    tag could not see content changes. A changed source yields a new
    table name, so the stale files are simply never read again."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    parts: list[str] = []
    if os.path.isdir(path):  # partitioned/multi-file table root
        for root, _, files in sorted(os.walk(path)):
            for f in sorted(files):
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(root, f))
                    parts.append(f"{f}:{st.st_mtime_ns}:{st.st_size}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f"{st.st_mtime_ns}:{st.st_size}")
    return hashlib.md5(";".join(parts).encode()).hexdigest()[:8]


def _spec_tag(bucket_col: str, sort_cols: tuple[str, ...]) -> str:
    # the layout spec is part of the identity: a table re-requested
    # with a different bucket column or sort order must NOT reuse the
    # old files (ADVICE r7: the old key omitted these).
    return hashlib.md5(("|".join((bucket_col,) + tuple(sort_cols))).encode()).hexdigest()[:6]


def _assert_one_file_per_bucket(path: str, n_buckets: int) -> None:
    """Spark bucket files are named part-<task>-<uuid>_<bucketid>.…;
    sort propagation needs every bucket to be exactly one file."""
    per_bucket: dict[str, int] = {}
    for f in os.listdir(path):
        m = re.match(r"part-\d+-.*_(\d{5})\.", f)
        if m:
            per_bucket[m.group(1)] = per_bucket.get(m.group(1), 0) + 1
    multi = {b: c for b, c in per_bucket.items() if c > 1}
    # Real exceptions, not `assert` (ADVICE r9): the invariant gates
    # answer-ORDER correctness of the sortBy contract and must survive
    # `python -O` (asserts are stripped under optimization).
    if multi:
        raise RuntimeError(
            f"bucketed write at {path} produced multi-file buckets {multi}; "
            "within-bucket sort order would not be propagated"
        )
    if len(per_bucket) > n_buckets:
        raise RuntimeError(
            f"bucketed write at {path} produced {len(per_bucket)} bucket ids "
            f"for {n_buckets} buckets"
        )


def _register_existing(
    spark: SparkSession,
    name: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort_cols: tuple[str, ...],
) -> None:
    """Re-attach an on-disk bucketed directory to a fresh session's
    catalog via DDL — schema read only, no data rewrite."""
    schema = spark.read.parquet(path).schema
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    sorted_by = (
        " SORTED BY (" + ", ".join(f"`{c}`" for c in sort_cols) + ")" if sort_cols else ""
    )
    spark.sql(
        f"CREATE TABLE {name} ({cols}) USING PARQUET "
        f"CLUSTERED BY (`{bucket_col}`){sorted_by} INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
    force: bool = False,
) -> str:
    """(Re)write a testdata table as a bucketed (+ optionally
    sorted-within-bucket) catalog table; returns the table name.

    Idempotent per (table, sf_dir, n_buckets, bucket_col, sort_cols):
    if the session catalog already has the table, the registration is
    reused; if only the FILES exist (fresh session, files written by a
    previous one), they are re-registered via DDL without a rewrite —
    the write-once/join-forever amortization that is the point of
    bucketing. ``sort_cols`` additionally sorts rows inside each
    bucket file, which lets SortMergeJoin skip its per-task sort too
    (write once, pre-sorted forever); see the module docstring for the
    legacy-flag + one-file-per-bucket preconditions this enforces.
    """
    if sort_cols:
        spark.conf.set(_SORT_FLAG, "true")
    name = (
        f"bkt_{table}_{_sf_tag(sf_dir)}_{n_buckets}_"
        f"{_spec_tag(bucket_col, sort_cols)}_{_src_fingerprint(sf_dir, table)}"
    )
    path = os.path.join(_BUCKET_ROOT, name)
    if not force and spark.catalog.tableExists(name):
        return name
    if not force and os.path.isdir(path) and os.path.exists(
        os.path.join(path, "_SUCCESS")
    ):
        _register_existing(spark, name, path, bucket_col, n_buckets, sort_cols)
        return name
    df = load_table(spark, sf_dir, table)
    if sort_cols:
        # one write task per bucket => exactly one file per bucket
        # (repartition's pmod(murmur3(col), n) IS the native bucket-id
        # expression, so task i holds exactly bucket i's rows).
        from pyspark.sql import functions as F

        df = df.repartition(n_buckets, F.col(bucket_col))
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    writer.saveAsTable(name)
    if sort_cols:
        _assert_one_file_per_bucket(path, n_buckets)
    # Prune stale same-spec siblings only AFTER the fresh generation
    # landed successfully (ADVICE r12: GC used to run before the write,
    # so a failed write deleted the old copy without producing a new
    # one). Each in-place source regeneration mints a new
    # fingerprint-named table and would otherwise orphan the old full
    # copy under spark-warehouse/bucketed forever. Gated (ADVICE r11):
    # SPARK_GRAFT_LAYOUT_GC=0 defers to tools/layout_gc.py so implicit
    # reads never delete files another process may scan; pruned names
    # are logged by gc_stale_siblings.
    if inline_gc_enabled():
        gc_stale_siblings(spark, _BUCKET_ROOT, name)
    return name


def bucketed_pair(
    spark: SparkSession,
    sf_dir: str,
    n_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """The engine's canonical co-located fact pair: orders and
    lineitem bucketed by their join key (orderkey), sorted within
    buckets, ready for a zero-Exchange, zero-Sort SortMergeJoin."""
    ob = bucketed_table(
        spark, sf_dir, "orders", "o_orderkey", n_buckets, sort_cols=("o_orderkey",)
    )
    lb = bucketed_table(
        spark, sf_dir, "lineitem", "l_orderkey", n_buckets, sort_cols=("l_orderkey",)
    )
    return spark.table(ob), spark.table(lb)

"""SparkSession factory with a 100-TB-minded default configuration.

Defaults are tuned so the same logical plans that pass correctness at
sf0.01 locally would be the plans you want on a 1000-executor cluster:
AQE on (runtime partition coalescing, skew-join splitting, broadcast
demotion), sane shuffle partitioning, Arrow for every Python<->JVM batch
transfer, and UTC session time so timestamp semantics match the DuckDB
oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(master: str) -> str:
    """Resolve the local-JVM heap for a ``local[N]`` master.

    $SPARK_DRIVER_MEMORY wins when set. Otherwise the heap scales with
    the executor-thread count — ``max(8, N // 2)`` GiB — because in
    local mode all N "executors" share the single driver JVM: 32
    threads each holding a shuffle/agg partition of a sf≥3 run
    overflowed the stock 8 GiB heap once mid-catalog (SCALE.md
    round-10), while the same catalog at 16 GiB is comfortable. On a
    real cluster ``master`` comes from spark-submit and executor
    memory is sized there; this guard is local-mode-only.
    """
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    if master.startswith("local["):
        # ADVICE r11: the bracket may carry a maxFailures suffix
        # (``local[N,F]``) and ``*`` means all cores; parse the leading
        # thread count instead of falling back to full-host sizing.
        inner = master[len("local["):].rstrip("]").split(",")[0].strip()
        n = (os.cpu_count() or 8) if inner == "*" else (
            int(inner) if inner.isdigit() else 1
        )
    elif master.startswith("local"):
        n = 1  # bare 'local' runs one executor thread
    else:
        return "8g"  # non-local master: driver does no executor work
    return f"{max(8, n // 2)}g"


def get_spark(
    app_name: str = "batch-processing-system-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    On a real cluster, ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N from $SPARK_GRAFT_CPUS (default all).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: the scale story. AQE re-plans joins from
        # runtime shuffle stats (broadcast demotion), coalesces tiny
        # post-shuffle partitions, and splits skewed ones.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Shuffle sizing. 32 locally; a cluster deployment overrides via
        # $SPARK_SHUFFLE_PARTITIONS (rule of thumb: 2-3x total cores, or let
        # AQE coalesce from a high initial number).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- Broadcast: dims like region/nation/supplier (and the
        # batch_jobs state table of the reference pipeline) must broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- Arrow for pandas UDFs / toPandas: the only sane Python lane.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- Determinism vs the oracle: UTC everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # --- Parquet: vectorized reader on, sane split sizes.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- Cost-based optimizer: on, with join reordering. Inert for
        # path-based parquet reads (no stats exist), active the moment
        # tables are catalog-registered and ANALYZEd —
        # tools/cbo_demo.py records the resulting join-reorder plan
        # change on the q65-shaped 6-table join (PLANS.md §CBO).
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.statistics.histogram.enabled", "true")
        # Keep the UI off in tests/bench; one less port to fight over.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", default_driver_memory(master))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()

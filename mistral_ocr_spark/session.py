"""SparkSession factory with scale-appropriate defaults, and the one
partition-width policy (``partition_width``, ``spread``).

Settings chosen for the 100 TB design point (and harmless at test scale):
AQE on (runtime coalescing + skew-join splitting), modest Arrow batch size
so the Python extraction workers stream instead of buffering whole
partitions, and parquet pushdown left at defaults (on).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "mistral-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
    # Shuffle/spill scratch: prefer tmpfs when present. On a real cluster
    # shuffle lands on node-local disks whose aggregate bandwidth scales
    # with the node count; a single box's one shared disk does not, so
    # leaving shuffle on it would under-measure the pipeline's scaling.
    local_dir = os.environ.get(
        "SPARK_LOCAL_DIRS", "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else None
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Stream Arrow batches through the Python extraction workers:
        # bounded memory per batch regardless of partition size.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def partition_width(spark: SparkSession) -> int:
    """Partitions for a compute-heavy stage: twice the cluster's cores, at
    least 8 — never a constant tuned to one box. A keyed repartition in
    front of fan-out work must pass this count explicitly: an unpinned one
    is coalesced by AQE to its (often small) shuffle bytes, and the work
    after it then runs on 1-2 partitions."""
    return max(2 * spark.sparkContext.defaultParallelism, 8)


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to ``partition_width`` iff it is
    planned narrower — the guard for kernels (per-gram hashing,
    ``mapInArrow`` signatures, explodes) that would otherwise inherit a
    small table's 1-2 scan partitions. A no-op returning ``df`` on an
    input with enough splits, as at production scale.

    Runs no Spark job: the count is the physical plan's output
    partitioning (an adaptive plan's initial, uncoalesced one). Only when
    that is unknown (a scan plus narrow operators) are file splits
    counted through ``.rdd``, which lists files; on a shuffled input
    ``.rdd`` would run the shuffle's map stage as a job of its own."""
    n = partition_width(df.sparkSession)
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    planned = plan.outputPartitioning().numPartitions() or df.rdd.getNumPartitions()
    return df.repartition(n) if planned < n else df

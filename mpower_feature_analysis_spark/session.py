"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime re-plan + skew-join splitting), Arrow transport
for the pandas kernels, shuffle partitions sized to cores (not the 200
default), UTC session timezone so timestamps compare exactly against
UTC-naive parquet/DuckDB values.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Engine-level tuning that must hold at any scale.
ENGINE_CONFS = {
    # AQE: coalesce tiny post-shuffle partitions, split skewed ones at runtime.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transport for pandas_udf / applyInPandas kernels.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bigger Arrow batches amortize per-batch pandas conversion in kernels;
    # at ~20-50B/row this is still only a few MB per batch
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    # Deterministic timestamp semantics vs UTC-naive parquet + DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # At 100 TB these would be set per input; sane local defaults.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Round-7 (guide §6): the 4 MB default open-cost packs a whole small
    # parquet file into one split, so a compute-dense scan (text kernels,
    # signal windows) of an input smaller than ~128 MB ran on 1-2 cores.
    # A small open cost lets minPartitionNum (set per-session below) split
    # small inputs across the cores; 100 TB inputs still get 128 MB splits.
    "spark.sql.files.openCostInBytes": "262144",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # keep stdout clean for harnesses that parse a single JSON line
    "spark.ui.showConsoleProgress": "false",
}


#: free space ``/dev/shm`` must have for the tmpfs shuffle default; below
#: it shuffle and spill stay on Spark's default local dir, because a full
#: tmpfs fails the task (no space left) where a disk only slows down
SHM_MIN_FREE_BYTES = 1 << 30


def _shm_local_dir() -> str | None:
    """``/dev/shm/spark-local`` when ``/dev/shm`` is a writable directory
    with at least :data:`SHM_MIN_FREE_BYTES` free, else None (Spark's
    default local dir)."""
    shm = "/dev/shm"
    if not (os.path.isdir(shm) and os.access(shm, os.W_OK)):
        return None
    st = os.statvfs(shm)
    if st.f_bavail * st.f_frsize < SHM_MIN_FREE_BYTES:
        return None
    return os.path.join(shm, "spark-local")


def get_spark(
    master: str | None = None,
    app_name: str = "mpower_feature_analysis_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster the caller passes none and lets spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))
    builder = SparkSession.builder.master(master).appName(app_name)
    # local mode = driver-only JVM; the 1g default OOMs on real workloads
    builder = builder.config(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # Scan-parallelism floor (guide §6): derived from the session's core
    # count, never a constant — a small input splits across the cores, a
    # 100 TB input still gets maxPartitionBytes-sized splits.
    builder = builder.config(
        "spark.sql.files.minPartitionNum", str(2 * shuffle_partitions)
    )
    # Shuffle/spill dir (guide §9 "fast local disks"): with the default
    # /tmp on this sandbox's root disk, full-suite runs showed random
    # 10-18 s stalls on otherwise 1-2 s queries (shuffle writeback);
    # tmpfs removed them (suite 98 s -> 53 s, BENCH.md round-7). A real
    # cluster sets spark.local.dir per node — honored here via the env
    # override or an explicit extra_confs entry. A /dev/shm short of
    # SHM_MIN_FREE_BYTES free keeps Spark's default local dir.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and "spark.local.dir" not in (extra_confs or {}):
        local_dir = _shm_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    builder = builder.config("spark.ui.enabled", "false")
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

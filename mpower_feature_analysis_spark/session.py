"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
per-executor: AQE on (runtime re-plan + skew-join splitting), Arrow transport
for the pandas kernels, UTC session timezone so timestamps compare exactly
against UTC-naive parquet/DuckDB values.

One full wave per shuffle stage: ``spark.sql.shuffle.partitions`` defaults
to the session's cores and AQE does not coalesce post-shuffle partitions.
Coalescing packed the flagship's 8 shuffle partitions into 5 tasks on 4
cores (a second wave on the critical path) and the window kernel's into 2
(two idle cores).  A full wave of Python tasks needs a cheap task start:
:mod:`._zipstamp` (installed when the package is imported) stops each
Python task from re-reading every zip on the worker's path, ~76 ms a task.
Together, on 4 vCPU, perfbench's ``flagship_batch`` ``rows_per_s`` went
231.6k -> 260.6k (+12.5%, median of 10 alternating pairs, 10/10 won).
Apart they pay little: measured alone, cores without the stamp gained 3%
and the stamp without a full wave nothing (its re-read overlapped the
JVM's shuffle read while two cores idled).

Not used: ``spark.python.unix.domain.socket.enabled`` fails session start
with ``OSError: AF_UNIX path too long`` when ``TMPDIR`` is a deep
directory (perfbench puts it in the checkout), and a custom
``spark.python.daemon.module`` is imported before ``--py-files`` exist.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Engine-level tuning that must hold at any scale.
ENGINE_CONFS = {
    # AQE: runtime re-plan, skewed partitions split at runtime.  No
    # coalescing: shuffle partitions = cores is one full wave, and packing
    # them into fewer tasks idles cores or adds a wave (module docstring).
    # A tiny shuffle now runs shuffle_partitions tasks instead of one.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
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
    # no Python call-site capture per DataFrame/Column call: with it on,
    # every F.* / Column call makes about five extra py4j round trips
    # (building the flagship plan on a warm session: median 0.25 s on,
    # 0.15-0.17 s off), and the incremental refresh rebuilds that plan on
    # every step.  The cost: analysis errors no longer name the Python
    # line that built the failing expression.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
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


def _cores(master: str) -> int:
    """Task slots of a local master: N of ``local[N]`` / ``local[N,F]``, 1
    for ``local``, else the CPUs this process may run on."""
    m = re.fullmatch(r"local\[(\d+)(?:,\d+)?\]", master)
    if m:
        return int(m.group(1))
    return 1 if master == "local" else len(os.sched_getaffinity(0))


def session_confs(
    master: str,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> dict[str, str]:
    """The confs :func:`get_spark` sets on a ``master`` session, without
    starting a JVM.  ``shuffle_partitions`` defaults to the master's cores
    (:func:`_cores`); on a cluster, pass the executors' total."""
    if shuffle_partitions is None:
        shuffle_partitions = _cores(master)
    # local mode = driver-only JVM; the 1g default OOMs on real workloads.
    # Not sized to the host: at ¾ of a 15 GB host's RAM (12 GB) G1 picks
    # 8 MB heap regions instead of 32 MB, so 4-16 MB allocations become
    # humongous; 12 flagship ops ran 81 and 177 GC pauses against 52 and
    # 54, and 5 of 20 perfbench flagship runs were 4-11% slow.
    confs = {
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        **ENGINE_CONFS,
    }
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Scan-parallelism floor (guide §6): derived from the session's core
    # count, never a constant — a small input splits across the cores, a
    # 100 TB input still gets maxPartitionBytes-sized splits.
    confs["spark.sql.files.minPartitionNum"] = str(2 * shuffle_partitions)
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
        confs["spark.local.dir"] = local_dir
    confs["spark.ui.enabled"] = "false"
    confs.update(extra_confs or {})
    return confs


def get_spark(
    master: str | None = None,
    app_name: str = "mpower_feature_analysis_spark",
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults
    (:func:`session_confs`).

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster the caller passes none and lets spark-submit decide.
    """
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in session_confs(master, shuffle_partitions, extra_confs).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def materialize(df: DataFrame, mode) -> DataFrame:
    """Share one computation of ``df`` across multiple plan branches.

    * ``'persist'`` — non-eager ``persist(MEMORY_AND_DISK)``: no barrier job at plan
      build, the FIRST consumer materializes the cache and later branches
      read it. Lineage is preserved, so on a real cluster a lost executor
      recomputes the partitions instead of failing the query (round-4
      advice: ``localCheckpoint`` storage is executor-local and
      non-recoverable). Measured round 5: removes the eager checkpoint's
      serial barrier that capped dedup scaling efficiency at ~0.72.
    * ``False`` / ``None`` — leave the plan alone (every branch
      recomputes; correct, sometimes faster for wide frames — the
      exploded-shingle frame measured 2x slower cached).

    Lifecycle (round-5 advice): Spark's CacheManager holds a STRONG
    plan-keyed reference to every persisted frame, so — unlike the old
    ``localCheckpoint``, whose storage was GC-reclaimable — each
    ``'persist'``-mode library call in a long-lived session accumulates
    memory+disk cache until released, and plan matching can silently
    serve that cache to later identical queries. Every frame persisted
    here is therefore parked in a module registry; long-lived sessions
    should call :func:`unpersist_all` once the results of a library call
    are materialized (or ``spark.catalog.clearCache()`` for a blunt
    global reset, as bench.py does between timed passes).
    """
    if mode in (False, None):
        return df
    if mode == "persist":
        from pyspark import StorageLevel

        p = df.persist(StorageLevel.MEMORY_AND_DISK)
        _PERSISTED.append(p)
        return p
    raise ValueError("cache mode must be 'persist' or False")


#: frames persisted by :func:`materialize`'s ``'persist'`` mode, pending
#: release — see the Lifecycle note in its docstring
_PERSISTED: list[DataFrame] = []


def unpersist_all(blocking: bool = False) -> int:
    """Release every frame :func:`materialize` persisted since the last
    call; returns how many were released. Safe to call at any time — the
    dedup/similarity results built on those frames stay CORRECT (lineage
    recomputes them if re-evaluated), this only drops the shared cache."""
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


def ensure_parallelism(df: DataFrame, factor: int = 2) -> DataFrame:
    """Round-robin repartition a frame whose planned parallelism is below
    the session's core count.

    A single-file, single-row-group parquet input plans as ONE scan task
    no matter how small the byte-based split size is (row groups are the
    parallelism floor), so every compute-dense operator downstream of it
    — Arrow kernels, per-word hashing — ran on one core (guide §2.5,
    "input skew: repartition immediately after the read"). The exchange
    this adds moves only the frame's real bytes (small by construction
    when the input planned few tasks); inputs that already plan at least
    ``cores`` partitions pass through UNTOUCHED, so at 100 TB this is a
    no-op. Plan inspection only — no job is triggered."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target * factor)


def ts_ms(col) -> Column:
    """Epoch milliseconds (BIGINT) of a timestamp column.

    Parquet written without timezone loads as TIMESTAMP_NTZ, which
    ``unix_millis`` rejects; with the session timezone pinned to UTC
    (session.py) the cast to TIMESTAMP preserves the instant exactly.
    Integer milliseconds keep gap features exact across engines (no float
    epoch rounding).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_millis(c.cast("timestamp"))

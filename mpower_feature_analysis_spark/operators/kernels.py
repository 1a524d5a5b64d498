"""Arrow-vectorized group-wise feature kernels (the F1 operator).

The reference's central execution pattern is a group-wise table UDF:
``plyr::ddply(.data, c("recordId","fileColumnName"), .parallel, .fun)`` where
``.fun`` parses a record's samples, windows the signal (windowLen=256,
ovlp=0.5 — extract_mhealthtools_tremor_features_mpower1.R:56,135-139), and
emits one row of summary statistics PER WINDOW (mean/median/IQR/entropy…,
via mhealthtools::time_domain_summary — extract_mhealthtools_tremor_features.R:144-145).
Errors never kill the job: they become an ``error``-string row
(extract_mhealthtools_tapping_features.R:117-121).

Engine form: one grouped-batch harness, :func:`mapgroups_with_carry`. The
input is hash-partitioned on the group key and sorted within partitions, so
a ``mapInArrow`` loop can hold back the group that spans an Arrow batch
boundary and hand the kernel whole groups, many per call, as a
``pyarrow.Table``. Kernels are numpy over the Arrow columns (sliding
windows via stride tricks) and return one array per output column; the
harness builds the output batch from the declared schema (§1.3: Spark
schemas are static), writing NaN float cells as NULL. No per-row Python
anywhere. The window, signal, frequency and loess kernels all run on it.

Hot conversations take the same path: :func:`run_chunked` assigns each row
to every (conversation, chunk) group that needs it in the JVM, runs the
operator's own batch kernel on the harness with one group per chunk, and
keeps each chunk's own windows — the ``*_skew_split`` operators.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..utils import ts_ms

WINDOW_FEATURE_SCHEMA = (
    "conv_id string, window_idx int, n int, "
    "start_turn_idx int, end_turn_idx int, "
    "mean_gap_ms double, median_gap_ms double, iqr_gap_ms double, "
    "entropy_gap double, error string"
)

#: Entropy spec (deterministic, mirrored by the pandas oracle): Shannon
#: entropy (nats) of the B-bin histogram of the window's values, where the
#: bin of x is ``clip(floor((x - min) / (max - min) * B), 0, B-1)``;
#: 0.0 when all values are equal.
_ENTROPY_BINS = 10

_WINDOW_STATS = ("mean_gap_ms", "median_gap_ms", "iqr_gap_ms", "entropy_gap")


def window_step(window: int, overlap: float) -> int:
    """Window start stride for ``overlap`` (a fraction of ``window``)."""
    return max(1, int(round(window * (1.0 - overlap))))


def _entropy_rows(sw: np.ndarray) -> np.ndarray:
    """Vectorized per-row entropy of a (m, w) window matrix."""
    m, w = sw.shape
    lo = sw.min(axis=1)
    hi = sw.max(axis=1)
    span = hi - lo
    flat_ok = span > 0
    out = np.zeros(m)
    if not flat_ok.any():
        return out
    norm = (sw - lo[:, None]) / np.where(span == 0, 1.0, span)[:, None]
    idx = np.clip(np.floor(norm * _ENTROPY_BINS).astype(np.int64), 0, _ENTROPY_BINS - 1)
    offs = np.arange(m)[:, None] * _ENTROPY_BINS + idx
    hist = np.bincount(offs.ravel(), minlength=m * _ENTROPY_BINS).reshape(
        m, _ENTROPY_BINS
    )
    p = hist / w
    with np.errstate(divide="ignore", invalid="ignore"):
        plogp = np.where(p > 0, p * np.log(p), 0.0)
    ent = -plogp.sum(axis=1)
    out[flat_ok] = ent[flat_ok]
    return out


def run_starts(col) -> np.ndarray:
    """Offsets at which a run of equal values starts in the Arrow column
    ``col`` (NULL equals NULL). Compared C-side: turning every row's key
    into a Python object was ~30% of kernel time."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    if not n:
        return np.zeros(0, dtype=np.int64)
    a, b = col.slice(1), col.slice(0, n - 1)
    change = pc.not_equal(a, b)
    if col.null_count:
        # NULL compares as unknown: a run starts where exactly one side is NULL
        change = pc.if_else(
            pc.is_null(change), pc.xor(pc.is_null(a), pc.is_null(b)), change)
    return np.flatnonzero(
        np.concatenate([[True], change.to_numpy(zero_copy_only=False)]))


def mapgroups_with_carry(
    df: DataFrame,
    kernel,
    schema: str,
    columns: list[str],
    group_col: str = "conv_id",
    sort_cols: tuple[str, ...] = ("turn_idx", "ts"),
    shuffle_key: str | None = None,
    presorted: bool = False,
) -> DataFrame:
    """Run ``kernel`` over whole groups of ``df``, many groups per call.

    The input is arranged with ``repartition(key)`` and
    ``sortWithinPartitions(key, group_col, *sort_cols)``, so every group is
    contiguous and ordered even when ``key`` maps to several groups.
    ``key`` is ``shuffle_key`` when given — a precursor of the group column
    (e.g. the raw ``user_id`` that ``conv_id`` derives from), so an upstream
    exchange on it is reused instead of re-shuffling on the derived
    string — else the group column. ``presorted=True`` skips that step; the
    input must then already hold every group wholly inside one partition,
    contiguous and ordered (the bucketed, sorted layout
    ``sources.write_stable_parquet`` writes, read with
    ``spark.sql.files.maxPartitionBytes`` above the largest file).

    Only the group column, renamed ``conv_id``, and ``columns`` cross the
    Arrow boundary. The group that ends a batch is held back and prepended
    to the next, so ``kernel(table)`` sees whole groups only; it is called
    once per run of them and returns one numpy array per column of
    ``schema``. NaN float cells are written as NULL.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    out_schema = to_arrow_schema(StructType.fromDDL(schema))
    key = shuffle_key or group_col
    if not presorted:
        sort_keys = [key] + ([group_col] if group_col != key else []) + list(sort_cols)
        df = df.repartition(key).sortWithinPartitions(*sort_keys)
    shipped = df.select(F.col(group_col).alias("conv_id"), *columns)

    def emit(tbl: pa.Table) -> pa.RecordBatch:
        cols = kernel(tbl)
        return pa.RecordBatch.from_arrays(
            [pa.array(cols[f.name], type=f.type, from_pandas=True)
             for f in out_schema],
            schema=out_schema,
        )

    def run(batches):
        carry = None
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            if carry is not None:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            if not tbl.num_rows:
                continue
            cut = int(run_starts(tbl.column("conv_id"))[-1])
            carry = tbl.slice(cut)
            if cut:
                yield emit(tbl.slice(0, cut))
        if carry is not None and carry.num_rows:
            yield emit(carry)

    return shipped.mapInArrow(run, schema)


def _window_kernel(window: int, overlap: float):
    """Batch window kernel over a table of whole conversations (``conv_id``,
    ``turn_idx``, ``ts_ms``; each ordered by turn): overlapping windows of
    ``window`` gaps, one output row per window over the inter-turn gap
    series, one window over all gaps for a conversation shorter than that.

    Windows of one width (every full window, and short conversations of
    equal length) are stacked into one matrix, so each statistic runs once
    per width, not once per conversation. A conversation with fewer than 2
    turns, or with a NULL ``ts_ms`` or ``turn_idx``, emits one error row
    (F5 error channel); so does one the kernel fails on, never the task.
    """
    step = window_step(window, overlap)

    def error_row(conv: str, msg: str) -> dict:
        row = {"conv_id": np.array([conv], dtype=object),
               "window_idx": np.array([-1], dtype="int32"),
               "n": np.array([0], dtype="int32"),
               "start_turn_idx": np.array([-1], dtype="int32"),
               "end_turn_idx": np.array([-1], dtype="int32")}
        row.update({c: np.array([np.nan]) for c in _WINDOW_STATS})
        row["error"] = np.array([msg], dtype=object)
        return row

    def windows(tbl: pa.Table, starts: np.ndarray) -> dict:
        n_turns = np.diff(np.append(starts, tbl.num_rows))
        tid_col, ts_col = tbl.column("turn_idx"), tbl.column("ts_ms")
        n_null = np.zeros(len(starts), dtype=np.int64)
        if tid_col.null_count or ts_col.null_count:
            null = pc.or_(pc.is_null(tid_col), pc.is_null(ts_col))
            n_null = np.add.reduceat(null.to_numpy().astype(np.int64), starts)
            tid_col, ts_col = tid_col.fill_null(0), ts_col.fill_null(0)
        tid = tid_col.to_numpy().astype(np.int64, copy=False)
        # gaps[i] = ts[i+1] - ts[i], labeled by its right turn tid[i+1]
        gaps = np.diff(ts_col.to_numpy().astype(np.int64, copy=False)).astype("float64")

        n_gaps = n_turns - 1
        ok = (n_null == 0) & (n_gaps >= 1)
        full = ok & (n_gaps >= window)
        width = np.where(full, window, n_gaps)
        m = np.where(full, (n_gaps - window) // step + 1, 1)
        first = np.cumsum(m) - m
        run = np.repeat(np.arange(len(starts)), m)
        widx = np.arange(len(run)) - first[run]
        pos = starts[run] + widx * step  # gap offset of each window's first gap
        ok_row, w_row = ok[run], width[run]

        out = {
            "conv_id": tbl.column("conv_id").take(starts).to_numpy(
                zero_copy_only=False)[run],
            "window_idx": np.where(ok_row, widx, -1).astype("int32"),
            "n": np.where(ok_row, w_row, 0).astype("int32"),
            "start_turn_idx": np.full(len(run), -1, dtype="int32"),
            "end_turn_idx": np.full(len(run), -1, dtype="int32"),
        }
        out.update({c: np.full(len(run), np.nan) for c in _WINDOW_STATS})
        for w in np.unique(w_row[ok_row]):
            rows = np.flatnonzero(ok_row & (w_row == w))
            p = pos[rows]
            sw = np.lib.stride_tricks.sliding_window_view(gaps, w)[p]
            q1, md, q3 = np.percentile(sw, [25, 50, 75], axis=1, method="linear")
            out["mean_gap_ms"][rows] = sw.mean(axis=1)
            out["median_gap_ms"][rows] = md
            out["iqr_gap_ms"][rows] = q3 - q1
            out["entropy_gap"][rows] = _entropy_rows(sw)
            out["start_turn_idx"][rows] = tid[p + 1]
            out["end_turn_idx"][rows] = tid[p + w]
        out["error"] = np.full(len(run), None, dtype=object)
        for r in np.flatnonzero(~ok):
            out["error"][first[r]] = (
                f"null ts or turn_idx in {n_null[r]} of {n_turns[r]} turns"
                if n_null[r] else f"group too small: {n_turns[r]} turns")
        return out

    def kernel(tbl: pa.Table) -> dict:
        starts = run_starts(tbl.column("conv_id"))
        try:
            return windows(tbl, starts)
        except Exception as e:  # F5: never fail the task
            if len(starts) == 1:
                conv = tbl.column("conv_id")[0].as_py()
                return error_row(conv, f"{type(e).__name__}: {e}")
            ends = np.append(starts[1:], tbl.num_rows)
            parts = [kernel(tbl.slice(s, e - s)) for s, e in zip(starts, ends)]
            return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}

    return kernel


def windowed_summary_features(
    transcripts: DataFrame,
    window: int = 8,
    overlap: float = 0.5,
    group_col: str = "conv_id",
    shuffle_key: str | None = None,
    presorted: bool = False,
) -> DataFrame:
    """Per-conversation windowed summary features: the window kernel on
    :func:`mapgroups_with_carry`, which amortizes per-group overhead across
    thousands of small conversations per Arrow batch — the dominant case at
    10^12-turn scale (billions of short conversations).

    The timestamp crosses as int64 epoch-ms: the JVM cast is codegen'd and
    the Python side does no datetime conversion. ``shuffle_key`` and
    ``presorted`` are the harness's. With ``presorted=True`` the kernel is
    a pure scan→Python map with NO shuffle.
    """
    cols = [group_col, "turn_idx", ts_ms("ts").alias("ts_ms")]
    if shuffle_key and shuffle_key != group_col:
        cols.append(shuffle_key)
    return mapgroups_with_carry(
        transcripts.select(*cols), _window_kernel(window, overlap),
        WINDOW_FEATURE_SCHEMA, ["turn_idx", "ts_ms"], group_col=group_col,
        sort_cols=("turn_idx", "ts_ms"), shuffle_key=shuffle_key,
        presorted=presorted,
    )


def run_chunked(
    df: DataFrame,
    kernel,
    schema: str,
    columns: list[str],
    group_col: str,
    pos,
    sort_cols: tuple[str, ...],
    split: int,
    window: int,
    step: int,
    left: int,
    right: int,
) -> DataFrame:
    """Skew path for HOT groups: run a batch window kernel per (group,
    chunk) on :func:`mapgroups_with_carry`, so one huge group becomes
    bounded tasks instead of one straggler held whole in the carry.

    ``pos`` is each row's dense position in its group (a Column). Chunk k
    owns the windows whose global start lies in ``[k·split, (k+1)·split)``
    and gets the rows at positions ``[k·split − M, (k+1)·split + right)``,
    where ``M`` is ``left`` rounded up to a multiple of ``step`` — so the
    slice starts on the global window grid and the kernel's chunk-local
    windows are global windows. ``left``/``right`` must cover the kernel's
    context (filter and detrend reach) on each side.

    A JVM explode assigns rows to chunks; the kernel sees one group per
    (group, chunk), keyed by a string that also separates NULL groups; the
    thin step below keeps each chunk's own full windows (plus, in chunk 0
    only, the short window and the error rows of a group that fits one
    chunk) and restores ``window_idx = start / step`` and the group id.
    ``split`` must be a multiple of ``step`` (chunks start on the window
    grid) and at least ``window``.
    """
    if split % step:
        raise ValueError(f"split {split} must be a multiple of the window step {step}")
    if split < window:
        raise ValueError(f"split {split} must be >= window {window}")
    M = -(-left // step) * step
    k_lo = F.greatest(F.floor((pos - right) / split), F.lit(0))
    k_hi = F.floor((pos + M) / split)
    chunked = df.withColumn(
        "__chunk", F.explode(F.sequence(k_lo.cast("long"), k_hi.cast("long")))
    ).withColumn("__key", F.concat_ws(  # a NULL group drops its ':'
        ":", F.col("__chunk").cast("string"), F.col(group_col).cast("string")))

    def own_windows(tbl: pa.Table) -> dict:
        gstart = run_starts(tbl.column("conv_id"))
        out = kernel(tbl)
        # every group emits >= 1 row, in table order
        ostart = run_starts(pa.array(out["conv_id"], type=pa.string()))
        m = np.diff(np.append(ostart, len(out["conv_id"])))
        k = np.repeat(tbl.column("__chunk").take(gstart).to_numpy(), m)
        g = np.maximum(k * split - M, 0) + out["window_idx"] * step
        full = out["n"] == window
        keep = np.where(full, (g >= k * split) & (g < (k + 1) * split), k == 0)
        out["window_idx"] = np.where(
            full, g // step, out["window_idx"]).astype("int32")
        out["conv_id"] = np.repeat(
            tbl.column("__conv").take(gstart).to_numpy(zero_copy_only=False), m)
        return {c: v[keep] for c, v in out.items()}

    return mapgroups_with_carry(
        chunked.withColumn("__conv", F.col(group_col)), own_windows, schema,
        ["__conv", "__chunk", *columns], group_col="__key", sort_cols=sort_cols,
    )


def windowed_summary_features_skew_split(
    transcripts: DataFrame,
    window: int = 8,
    overlap: float = 0.5,
    split_turns: int = 4096,
    group_col: str = "conv_id",
) -> DataFrame:
    """Skew path for HOT conversations (SURVEY.md §4 skew row): the window
    kernel on :func:`run_chunked`, chunked by ``split_turns`` of dense
    turn_idx; each chunk also gets the ``window`` turns after it, so every
    window is computed exactly once with full context.

    Output is EXACTLY equal to :func:`windowed_summary_features` on deduped,
    dense-turn_idx input (asserted by tests/test_kernels.py). Requires
    split_turns to be a multiple of the window step. A 100M-turn
    conversation becomes ~24k bounded tasks instead of one straggler.
    One window aggregate counts each conversation's NULL ``ts`` /
    ``turn_idx`` turns first; a conversation with any goes whole to chunk
    0 and gets the unsplit operator's error row.
    """
    slim = transcripts.select(group_col, "turn_idx", ts_ms("ts").alias("ts_ms"))
    # a conversation with a NULL ts or turn_idx goes whole to chunk 0,
    # whose kernel sees all of its turns and emits the one error row the
    # unsplit operator emits (F5); a chunk past 0 would see the NULL only
    # locally and drop it with the chunk's error rows
    nulls = F.count(F.when(
        F.col("turn_idx").isNull() | F.col("ts_ms").isNull(), 1
    )).over(Window.partitionBy(group_col))
    slim = slim.withColumn(
        "__pos", F.when(nulls > 0, F.lit(0)).otherwise(F.col("turn_idx")))
    # window g (on gap g, between turns g and g+1) reads turns [g, g+window]
    return run_chunked(
        slim, _window_kernel(window, overlap), WINDOW_FEATURE_SCHEMA,
        ["turn_idx", "ts_ms"], group_col, F.col("__pos"), ("turn_idx", "ts_ms"),
        split_turns, window, window_step(window, overlap), 0, window,
    )

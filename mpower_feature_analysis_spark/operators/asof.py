"""Point-in-time (as-of) join, interval join, and schedule expansion.

The reference implements "which burst does this record fall in" as a
per-row nested loop: ``rowwise() %>% mutate(burst = getBurstInfo(createdOn,
healthCode, burst_info))`` (/root/reference/analysis/mPTS_record.R:23-35,
221-223; analysis/pd_severity/get_mpower_predicted_prob_burst.R:143-145).
That is O(turns × states) and driver-bound. The engine replaces it with a
sort-merge as-of join built from public DataFrame ops:

    union(turns, states) → hash-shuffle on conv_id → per-conv sort by
    (ts, kind) → ``last(payload, ignorenulls=True)`` over unbounded-preceding
    → keep turn rows.

* **Zero temporal leakage by construction**: a state can only reach a turn
  through the running window, which never looks ahead. The inclusive bound
  (state_ts == ts matches) mirrors the reference's ``in_burst = createdOn >=
  start & <= end`` (analysis/mPTS_record.R:31): state rows sort BEFORE turn
  rows at equal ts.
* **One shuffle**, map-side sized; both inputs shuffle on the same key so
  the exchange is reused by downstream per-conv windows.
* **Skew**: a hot conversation makes the window a single task. The
  ``bucket_ms`` variant range-splits each conversation into time buckets,
  runs the window per (conv, bucket), and carries the last state across
  buckets via a tiny per-bucket summary (SURVEY.md §4 skew row) — the
  big window becomes many bounded tasks plus one small one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..utils import ts_ms


def _union_marked(
    turns: DataFrame,
    states: DataFrame | None,
    on: str,
    turn_ts: str,
    state_ts: str,
    payload: list[str],
    state_seq: str | None,
) -> tuple[DataFrame, list[str]]:
    """Align turn and state rows onto one schema with an order marker.

    kind=0 → state, kind=1 → turn; at equal ts states sort first
    (inclusive as-of bound). Turn columns ride along as plain (nullable)
    columns rather than a packed struct so the post-join projection is a
    pure alias of the partitioning key — downstream windows on the same key
    reuse this exchange instead of re-shuffling.  ``states=None`` gives
    the turn rows alone in the same layout (no ``__p_*`` columns).
    """
    turn_cols = [c for c in turns.columns]
    rest = [c for c in turn_cols if c not in (on, turn_ts)]
    seq = F.col(state_seq).cast("long") if state_seq else F.lit(0).cast("long")
    left = turns.select(
        F.col(on).alias("__k"),
        F.col(turn_ts).alias("__ts"),
        F.lit(1).alias("__kind"),
        F.lit(None).cast("long").alias("__seq"),
        *[F.col(c) for c in rest],
        # payload columns: null on turn rows, value on state rows
        *[F.lit(None).cast(states.schema[c].dataType).alias(f"__p_{c}") for c in payload],
    )
    if states is None:
        return left, turn_cols
    right = states.select(
        F.col(on).alias("__k"),
        F.col(state_ts).alias("__ts"),
        F.lit(0).alias("__kind"),
        seq.alias("__seq"),
        *[F.lit(None).cast(turns.schema[c].dataType).alias(c) for c in rest],
        *[F.col(c).alias(f"__p_{c}") for c in payload],
    )
    return left.unionByName(right), turn_cols


def asof_join(
    turns: DataFrame,
    states: DataFrame,
    on: str = "conv_id",
    turn_ts: str = "ts",
    state_ts: str = "state_ts",
    payload: list[str] | None = None,
    state_seq: str | None = "state_seq",
    bucket_ms: int | None = None,
) -> DataFrame:
    """Attach to every turn the latest state with ``state_ts <= ts``.

    Returns all turn columns plus one column per ``payload`` entry (null if
    no state precedes the turn). ``state_seq`` breaks ties among states at
    the same timestamp (larger wins). ``bucket_ms`` enables the range-split
    skew path.
    """
    payload = payload or ["label"]
    unioned, turn_cols = _union_marked(turns, states, on, turn_ts, state_ts, payload, state_seq)
    return asof_attach_from_union(
        unioned, turn_cols, on=on, turn_ts=turn_ts, payload=payload,
        bucket_ms=bucket_ms,
    )


def asof_attach_from_union(
    unioned: DataFrame,
    turn_cols: list[str],
    on: str = "conv_id",
    turn_ts: str = "ts",
    payload: list[str] | None = None,
    bucket_ms: int | None = None,
) -> DataFrame:
    """The window-fill + turn-projection half of :func:`asof_join`, split
    out so a PRE-STAGED union layout can drive it directly: a table
    written by ``sources.io.write_bucketed_union_table`` (bucketed on
    ``__k``) satisfies every window's clustering requirement straight
    from the scan, so the whole flagship pipeline plans with ZERO
    Exchange nodes (round-5 verdict item 6; asserted in
    tests/test_plans.py). Takes the ``_union_marked`` column layout
    (``__k/__ts/__kind/__seq``, turn rest columns, ``__p_*`` payloads)."""
    payload = payload or ["label"]
    pay_struct = F.struct(*[F.col(f"__p_{c}") for c in payload])
    tagged = unioned.withColumn(
        "__pay", F.when(F.col("__kind") == 0, pay_struct)
    )

    if bucket_ms is None:
        w = (
            W.partitionBy("__k")
            .orderBy("__ts", "__kind", "__seq")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        filled = tagged.withColumn("__eff", F.last("__pay", ignorenulls=True).over(w))
    else:
        filled = _asof_bucketed(tagged, bucket_ms)

    return turn_rows(
        filled.filter(F.col("__kind") == 1), turn_cols, on, turn_ts,
        [F.col(f"__eff.__p_{c}").alias(c) for c in payload],
    )


def turn_rows(
    unioned: DataFrame, turn_cols: list[str], on: str = "conv_id",
    turn_ts: str = "ts", extra: list | None = None,
) -> DataFrame:
    """The turn frame's columns back out of a ``_union_marked`` layout
    (``__k``/``__ts`` renamed to ``on``/``turn_ts``, in ``turn_cols``
    order), then ``extra``.  A pure alias of ``__k``, so an exchange or
    clustering on ``__k`` still holds for ``on`` downstream."""
    return unioned.select(
        *[
            F.col("__k").alias(c) if c == on
            else F.col("__ts").alias(c) if c == turn_ts
            else F.col(c)
            for c in turn_cols
        ],
        *(extra or []),
    )


def dedup_turns_in_union(
    unioned: DataFrame,
    turn_cols: list[str],
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    order_by: tuple[str, ...] = ("ts",),
    on: str = "conv_id",
    turn_ts: str = "ts",
) -> DataFrame:
    """Last-wins dedup of the TURN rows inside a ``_union_marked`` frame;
    state rows pass through untouched.

    Bit-equivalent winner choice to ``dedup.dedup_last_wins(transcripts,
    keys, order_by)`` run BEFORE the union: same ordering columns, same
    ``xxhash64`` tie-break over the turn frame's non-key columns in
    schema order (labels/payloads never participate — they don't exist on
    the pre-union frame).  Like ``dedup_last_wins``' ``partition_by``
    form, the window partitions by ``on`` alone and keeps the first turn
    row of each run of equal other keys (states sort first, so they never
    open a turn's run): its only requirement is clustering on ``__k``,
    which one shuffle, one task or a scan hash-clustered on ``on``
    (a bucketed layout: a Sort but ZERO Exchange) already meets, and
    every later window on ``on`` reuses it."""
    non_key = [c for c in turn_cols if c not in set(keys)]

    def u(c: str):
        return "__k" if c == on else "__ts" if c == turn_ts else c

    tiebreak = (
        F.xxhash64(*[F.col(u(c)) for c in non_key]) if non_key
        else F.lit(0).cast("long")
    )
    run_cols = [F.col("__kind"), *[F.col(u(c)) for c in keys if c != on]]
    w = W.partitionBy("__k").orderBy(
        *run_cols, *[F.col(u(c)).desc() for c in order_by], tiebreak.desc()
    )
    run = F.struct(*run_cols)
    # NULL-safe: the partition's first row (no previous row) opens a run
    new_run = ~F.lag(run).over(w).eqNullSafe(run)
    return (
        unioned.withColumn("__new", (F.col("__kind") == 0) | new_run)
        .filter(F.col("__new"))
        .drop("__new")
    )


def _asof_bucketed(tagged: DataFrame, bucket_ms: int) -> DataFrame:
    """Range-split skew path: window per (conv, time-bucket) + cross-bucket
    carry of the last state. Equivalent output to the single-window path
    (asserted by tests/test_asof.py)."""
    b = tagged.withColumn(
        "__bkt", (ts_ms("__ts") / F.lit(bucket_ms)).cast("long")
    )
    # 1. within-bucket running last state — bounded task size
    w_in = (
        W.partitionBy("__k", "__bkt")
        .orderBy("__ts", "__kind", "__seq")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    b = b.withColumn("__eff_in", F.last("__pay", ignorenulls=True).over(w_in))
    # 2. per-bucket last state (tiny table: one row per (conv, bucket))
    last_state = (
        b.filter(F.col("__kind") == 0)
        .groupBy("__k", "__bkt")
        .agg(
            F.max_by(
                "__pay", F.struct(F.col("__ts"), F.col("__seq"))
            ).alias("__bkt_last")
        )
    )
    # 3. forward-fill bucket summaries across buckets, shifted to strictly
    #    earlier buckets (the carry a bucket inherits from its past)
    w_carry = (
        W.partitionBy("__k")
        .orderBy("__bkt")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # dense bucket axis: only buckets that exist in the data matter, and the
    # carry window runs over exactly those.
    buckets = b.select("__k", "__bkt").distinct()
    carry = (
        buckets.join(last_state, ["__k", "__bkt"], "left")
        .withColumn("__carry", F.last("__bkt_last", ignorenulls=True).over(w_carry))
        .select("__k", "__bkt", "__carry")
    )
    out = b.join(carry, ["__k", "__bkt"], "left").withColumn(
        "__eff", F.coalesce(F.col("__eff_in"), F.col("__carry"))
    )
    return out


def burst_schedule(
    turns: DataFrame,
    n_bursts: int = 9,
    stride_days: int = 2,
    width_days: int = 1,
    on: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """EP3 schedule expansion (analysis/mpower_study_burst_summary.R:84-93,
    scaled down): per entity, ``n_bursts`` windows of ``width_days`` starting
    every ``stride_days`` from the entity's first turn. groupBy+min then
    explode(sequence(...)) — no rowwise loop."""
    first = turns.groupBy(on).agg(F.min(ts_col).alias("first_ts"))
    return (
        first.select(
            on,
            "first_ts",
            F.explode(F.sequence(F.lit(0), F.lit(n_bursts - 1))).alias("burst_idx"),
        )
        .select(
            on,
            F.col("burst_idx").cast("int").alias("burst_idx"),
            (F.col("first_ts") + F.col("burst_idx") * F.expr(f"INTERVAL {stride_days} DAYS")).alias("burst_start"),
            (
                F.col("first_ts")
                + F.col("burst_idx") * F.expr(f"INTERVAL {stride_days} DAYS")
                + F.expr(f"INTERVAL {width_days} DAYS")
            ).alias("burst_end"),
        )
    )


def burst_membership_counts(
    turns: DataFrame,
    n_bursts: int = 9,
    stride_days: int = 2,
    width_days: int = 1,
    on: str = "conv_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-(entity, burst) turn counts — the arithmetic fast path for the
    fixed-grid burst schedule (round-7).

    ``burst_schedule`` + :func:`interval_join` materializes an
    entity × burst schedule table and sort-merge-joins the full turn
    table against it.  For the FIXED grid (bursts start every
    ``stride_days`` from the entity's first turn, ``width_days`` wide)
    membership is pure integer arithmetic on epoch-ms: turn at offset
    ``d`` belongs to burst ``b`` iff ``b·stride ≤ d ≤ b·stride + width``,
    i.e. ``b ∈ [⌈(d−width)/stride⌉, ⌊d/stride⌋]`` — an explode of at most
    ``width/stride + 1`` candidates per turn, derived from a first-turn
    window that SHARES the entity exchange with the final count.  One
    shuffle total, no join, no schedule table; all divisions are exact
    long floor-divs, so the emitted (entity, burst) pairs are row-equal
    to the interval join's inclusive bounds (pinned by test).  The
    generic :func:`interval_join` remains the J8 operator for arbitrary
    interval tables."""
    stride = stride_days * 86_400_000
    width = width_days * 86_400_000
    w = W.partitionBy(on)
    d = ts_ms(ts_col) - F.min(ts_ms(ts_col)).over(w)

    def floor_div(a, b: int):
        return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")

    b_hi = F.least(floor_div(d, stride), F.lit(n_bursts - 1).cast("long"))
    # ceil((d - width) / stride) as floor((d - width + stride - 1) / stride)
    b_lo = F.greatest(
        floor_div(d - F.lit(width) + F.lit(stride - 1), stride),
        F.lit(0).cast("long"),
    )
    bounded = turns.select(
        F.col(on), b_lo.alias("__lo"), b_hi.alias("__hi")
    )
    seq = F.when(F.col("__hi") >= F.col("__lo"),
                 F.sequence(F.col("__lo"), F.col("__hi")))
    return (
        bounded.select(F.col(on), F.explode(seq).alias("__b"))
        .select(F.col(on), F.col("__b").cast("int").alias("burst_idx"))
        .groupBy(on, "burst_idx")
        .agg(F.count(F.lit(1)).alias("n_turns_in_burst"))
    )


def interval_join(
    turns: DataFrame,
    intervals: DataFrame,
    on: str = "conv_id",
    ts_col: str = "ts",
    start_col: str = "burst_start",
    end_col: str = "burst_end",
    how: str = "inner",
) -> DataFrame:
    """J8 interval-membership join: equi on the entity key + inclusive range
    on ts (replaces the per-burst filter loop,
    mpower_study_burst_summary.R:100-105). With the equi key present this
    plans as a hash/sort-merge join with a residual range predicate — no
    cartesian blowup."""
    t, i = turns.alias("t"), intervals.alias("i")
    cond = (
        (F.col(f"t.{on}") == F.col(f"i.{on}"))
        & (F.col(f"t.{ts_col}") >= F.col(f"i.{start_col}"))
        & (F.col(f"t.{ts_col}") <= F.col(f"i.{end_col}"))
    )
    joined = t.join(i, cond, how)
    keep_t = [F.col(f"t.{c}") for c in turns.columns]
    keep_i = [F.col(f"i.{c}") for c in intervals.columns if c != on]
    return joined.select(*keep_t, *keep_i)

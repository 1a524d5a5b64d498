"""Physical-plan assertions: the optimizer work SURVEY.md §4 promises.

These guard the *plan shape*, not results: filters reach the parquet scan,
small dimensions broadcast, the flagship pipeline shuffles once, and whole-
stage codegen covers the window chain.
"""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from mpower_feature_analysis_spark.plans.pipeline import extract_turn_features

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchanges(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange", plan))


@pytest.fixture
def parallel(monkeypatch):
    """Plan every input as one above the one-task size
    (``utils.fits_one_task``), whatever its size estimate."""
    from mpower_feature_analysis_spark import utils

    monkeypatch.setattr(utils, "ONE_TASK_BYTES", -1)


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") <= "1997-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: scan reads only the needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert set(m.group(1).split(",")) <= {
        "l_orderkey:bigint", "l_quantity:double", "l_shipdate:timestamp_ntz"
    }


def test_small_dim_join_broadcasts(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    supp = spark.read.parquet(f"{SF}/supplier.parquet")
    plan = _plan(li.join(supp, li.l_suppkey == supp.s_suppkey))
    assert "BroadcastHashJoin" in plan


def test_flagship_pipeline_single_pipeline_exchange(spark, parallel):
    """The per-turn feature pipeline (no states) = exactly ONE exchange:
    dedup + 8 windows + fills + sessionize all share the conv_id hash
    partitioning."""
    t = spark.createDataFrame(
        [("c", 0, "user", "x", None, "2024-01-01 00:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool", "cast(ts_s as timestamp) as ts")
    plan = _plan(extract_turn_features(t))
    assert _exchanges(plan) == 1, plan


def test_asof_exchange_reused_by_downstream_window(spark):
    """Windows after the as-of join must NOT re-shuffle: the join's output
    partitioning (conv_id) is preserved through aliasing."""
    from pyspark.sql import Window as W

    from mpower_feature_analysis_spark.operators import asof_join

    t = spark.createDataFrame(
        [("c", 0, "2024-01-01 00:00:01")],
        "conv_id string, turn_idx int, ts_s string",
    ).selectExpr("conv_id", "turn_idx", "cast(ts_s as timestamp) as ts")
    s = spark.createDataFrame(
        [("c", "2024-01-01 00:00:00", "L", 1)],
        "conv_id string, st string, label string, state_seq long",
    ).selectExpr("conv_id", "cast(st as timestamp) as state_ts", "label", "state_seq")
    joined = asof_join(t, s, payload=["label"])
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    out = joined.withColumn("rn", F.row_number().over(w))
    assert _exchanges(_plan(out)) == 1  # only the union's exchange


def test_window_chain_in_whole_stage_codegen(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # AQE hides codegen pre-exec
    try:
        t = spark.read.parquet(f"{SF}/lineitem.parquet")
        from pyspark.sql import Window as W
        w = W.partitionBy("l_suppkey").orderBy("l_shipdate")
        df = t.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)
        plan = _plan(df)
        assert "codegen id" in plan, plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_pivot_with_explicit_values_no_extra_job(spark):
    """pivot with explicit values must not trigger a distinct-values job:
    plan contains a single aggregate chain, no extra exchange beyond the
    groupBy's."""
    t = spark.read.parquet(f"{SF}/events.parquet")
    p = t.groupBy("user_id").pivot("event_type", ["click", "view"]).count()
    plan = _plan(p)
    # two-phase pivot agg shuffles twice at most — and crucially there is no
    # separate distinct-values collection job in the plan
    assert _exchanges(plan) <= 2
    assert "Distinct" not in plan


def test_signal_features_single_events_scan(spark):
    """The signal-feature driver query derives the value signal from events
    in one pass — round 1 joined events back to itself, paying a second scan
    and an extra shuffle."""
    from mpower_feature_analysis_spark.plans.driver_queries_text import (
        q_signal_features,
    )
    plan = _plan(q_signal_features(spark, "/root/testdata/sf0.01"))
    assert plan.count("Location: InMemoryFileIndex") == 1
    # the kernel groups by user_id and reuses the window's exchange: ONE
    # shuffle end-to-end
    assert _exchanges(plan) == 1


def test_bucketed_table_eliminates_all_exchanges(
    spark, dedup_df, tmp_path, parallel
):
    """Reading the transcripts from a planner-visible bucketed table (the
    Iceberg bucket-transform analog) satisfies the conv_id clustering from
    the scan: the ENTIRE turn-feature pipeline plans with zero Exchange
    nodes, vs one over a plain frame."""
    from mpower_feature_analysis_spark.sources.io import write_bucketed_table

    write_bucketed_table(
        dedup_df, "bt_plan_test", str(tmp_path / "tbl"), n_buckets=4
    )
    try:
        bt = spark.table("bt_plan_test")
        assert _exchanges(_plan(extract_turn_features(bt))) == 0
        assert _exchanges(_plan(extract_turn_features(dedup_df))) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_plan_test")


def test_right_join_broadcasts_customer(spark):
    """Round-3 driver gate J3: the customer dimension broadcasts — no
    shuffle of the (at scale, huge) orders fact side for the join itself."""
    from mpower_feature_analysis_spark.plans.driver_queries_extra import (
        q_right_join_orders,
    )
    plan = _plan(q_right_join_orders(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in plan
    # exactly the aggregation exchange remains (partial agg -> final agg)
    assert _exchanges(plan) == 1


def test_loess_residuals_single_exchange(spark):
    """The loess driver query shuffles once, on user_id (the mapgroups
    carry harness reuses the signal frame's key)."""
    from mpower_feature_analysis_spark.plans.driver_queries_extra import (
        q_loess_residuals,
    )
    plan = _plan(q_loess_residuals(spark, "/root/testdata/sf0.01"))
    assert plan.count("Location: InMemoryFileIndex") == 1  # one events scan
    assert _exchanges(plan) <= 2


def test_signal_skew_split_bounded_exchanges(spark):
    """The skew path pays bounded coordination: the sample-index window
    (one exchange on conv_id) + the carry harness's repartition on the
    (conv, chunk) key — it must NOT degenerate into per-iteration or
    per-chunk shuffles of the full input."""
    from mpower_feature_analysis_spark.operators.signal import (
        signal_summary_features_skew_split,
    )
    t = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "CAST(user_id AS STRING) AS conv_id",
        "CAST(event_id AS INT) AS turn_idx",
        "ts",
        "CAST(value AS DOUBLE) AS value",
    )
    plan = _plan(signal_summary_features_skew_split(t, window=16, split_size=64))
    assert _exchanges(plan) <= 3


def test_skew_splits_run_on_the_carry_harness(spark):
    """All three skew splits run the operators' own batch kernels on the
    mapInArrow carry harness: no grouped-pandas node in any plan."""
    from mpower_feature_analysis_spark.operators import (
        freq_domain_features_skew_split,
        signal_summary_features_skew_split,
        windowed_summary_features_skew_split,
    )
    t = spark.read.parquet(f"{SF}/events.parquet").selectExpr(
        "CAST(user_id AS STRING) AS conv_id",
        "CAST(event_id AS INT) AS turn_idx",
        "ts",
        "CAST(value AS DOUBLE) AS value",
    )
    for df in (
        windowed_summary_features_skew_split(t, window=8, split_turns=64),
        signal_summary_features_skew_split(t, window=16, split_size=64),
        freq_domain_features_skew_split(t, window=16, split_size=64),
    ):
        plan = _plan(df)
        assert "FlatMapGroupsInPandas" not in plan
        assert "MapInArrow" in plan


def test_presorted_flagship_zero_exchange_and_hash_identical(
    spark, transcripts_df, states_df, tmp_path, parallel
):
    """Round-5 verdict item 6: the FULL flagship (dedup → as-of state
    attach → gap/rolling/count windows → ffill → sessionize) over a staged
    bucketed union table plans with ZERO Exchange nodes, and its output is
    row-identical to the plain extract_turn_features(transcripts, states)
    route, which unions turns and states first and pays exactly one
    shuffle. transcripts_df is NOT pre-deduped, so the in-union dedup's
    winner choice is exercised too."""
    from mpower_feature_analysis_spark.plans.pipeline import (
        PipelineConfig,
        extract_turn_features,
    )
    from mpower_feature_analysis_spark.sources.io import (
        write_bucketed_union_table,
    )

    cfg = PipelineConfig()
    write_bucketed_union_table(
        transcripts_df, states_df, "union_plan_test", str(tmp_path / "u"),
        n_buckets=4,
    )
    try:
        u = spark.table("union_plan_test")
        pre = extract_turn_features(
            u, None, PipelineConfig(presorted=True)
        )
        assert _exchanges(_plan(pre)) == 0
        plain = extract_turn_features(transcripts_df, states_df, cfg)
        assert _exchanges(_plan(plain)) == 1
        key = lambda r: (r["conv_id"], r["turn_idx"])
        got = sorted((r.asDict() for r in pre.collect()), key=key)
        want = sorted((r.asDict() for r in plain.collect()), key=key)
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS union_plan_test")


def test_register_bucketed_union_table_recovers_bucket_spec(
    spark, transcripts_df, states_df, tmp_path
):
    """Dropping the staged table and re-registering it from the
    _layout.json manifest (the fresh-session path) must recover the
    catalog-side bucket spec: the presorted flagship still plans with
    ZERO exchanges and the same row count."""
    from mpower_feature_analysis_spark.plans.pipeline import (
        PipelineConfig,
        extract_turn_features,
    )
    from mpower_feature_analysis_spark.sources.io import (
        register_bucketed_union_table,
        write_bucketed_union_table,
    )

    path = str(tmp_path / "u2")
    write_bucketed_union_table(
        transcripts_df, states_df, "union_rereg_test", path, n_buckets=4
    )
    try:
        n = extract_turn_features(
            spark.table("union_rereg_test"), None, PipelineConfig(presorted=True)
        ).count()
        spark.sql("DROP TABLE union_rereg_test")
        m = register_bucketed_union_table(spark, "union_rereg_test", path)
        assert m["n_buckets"] == 4
        pre = extract_turn_features(
            spark.table("union_rereg_test"), None, PipelineConfig(presorted=True)
        )
        assert _exchanges(_plan(pre)) == 0
        assert pre.count() == n > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS union_rereg_test")


def test_one_sided_changelog_plans_no_exchange(spark, tmp_path):
    """An append-only changelog range is a tagged scan of the added files
    (no shuffle); a two-sided range (copy-on-write rewrite) still plans
    one exceptAll per direction."""
    from mpower_feature_analysis_spark.sources.snapshots import (
        commit_snapshot,
        overwrite_where,
        row_changelog,
    )

    schema = "id bigint, grp string, val double"
    t = str(tmp_path / "tbl")
    commit_snapshot(spark.createDataFrame(
        [(i, "a", float(i)) for i in range(10)], schema).coalesce(1), t)
    commit_snapshot(spark.createDataFrame(
        [(i, "b", float(i)) for i in range(10, 14)], schema), t, "append")
    overwrite_where(spark, t, "id IN (3, 4)", spark.createDataFrame(
        [(i, "new", -1.0) for i in (3, 4)], schema))

    for a, b in ((1, 2), (2, 1)):
        plan = _plan(row_changelog(spark, t, a, b))
        assert _exchanges(plan) == 0, plan
        assert "replicaterows" not in plan.lower()
    two_sided = _plan(row_changelog(spark, t, 2, 3))
    assert _exchanges(two_sided) == 2, two_sided
    assert two_sided.lower().count("replicaterows") >= 2


def test_keyed_read_plans_no_join_and_pushes_key_filter(spark, tmp_path):
    """read_snapshot_for_keys filters with a literal IN list: no Join, no
    Exchange, and the key predicate reaches the parquet scan."""
    from mpower_feature_analysis_spark.sources.snapshots import (
        commit_snapshot,
        read_snapshot_for_keys,
    )

    t = str(tmp_path / "tbl")
    commit_snapshot(spark.createDataFrame(
        [(i, "a", float(i)) for i in range(20)],
        "id bigint, grp string, val double").coalesce(1), t)
    keys = spark.createDataFrame([(3,), (7,), (7,), (None,)], "id bigint")
    plan = _plan(read_snapshot_for_keys(spark, t, keys, ["id"]))
    assert "Join" not in plan, plan
    assert _exchanges(plan) == 0, plan
    pushed = re.search(r"PushedFilters: \[([^\n]*)\]", plan).group(1)
    assert "In(id, [3,7])" in pushed, pushed


def test_small_recompute_plans_no_exchange_and_pushes_keys(
    spark, transcripts_df, states_df, tmp_path
):
    """An input within the one-task size runs the whole turn-feature
    pipeline as one task: no Exchange.  The refresh's exact key filter on
    top of it (a literal IN) is pushed through the per-conversation
    windows, the union and the coalesce into both parquet scans."""
    from mpower_feature_analysis_spark import utils
    from mpower_feature_analysis_spark.sources.snapshots import _KeySet

    transcripts_df.write.parquet(str(tmp_path / "turns"))
    states_df.write.parquet(str(tmp_path / "states"))
    turns = spark.read.parquet(str(tmp_path / "turns"))
    states = spark.read.parquet(str(tmp_path / "states"))
    assert utils.fits_one_task(turns, states)
    convs = sorted(r[0] for r in turns.select("conv_id").distinct().collect())
    ks = _KeySet([spark.createDataFrame([(c,) for c in convs[:3]],
                                        "conv_id string")], ["conv_id"])
    plan = _plan(ks.keep(extract_turn_features(turns, states)))
    assert _exchanges(plan) == 0, plan
    pushed = re.findall(r"PushedFilters: \[([^\n]*)\]", plan)
    assert len(pushed) == 2, plan
    want = "In(conv_id, [" + ",".join(convs[:3]) + "])"
    assert all(want in p for p in pushed), pushed

import numpy as np
import pandas as pd
import pytest

from mpower_feature_analysis_spark import oracle
from mpower_feature_analysis_spark.plans.pipeline import (
    PipelineConfig,
    extract_turn_features,
    stable_sorted,
)


def test_text_fidelity_and_stable_order(spark, transcripts_df, transcripts_pdf):
    """Per-turn text byte-equality under stable (conv_id, turn_idx) order —
    the BASELINE.json input_hint invariant."""
    out = extract_turn_features(transcripts_df)
    got = stable_sorted(out).toPandas().sort_values(
        ["conv_id", "turn_idx"], kind="mergesort"
    ).reset_index(drop=True)
    want = oracle.dedup_last_wins(transcripts_pdf)
    assert list(got["text"]) == list(want["text"])
    assert list(got["conv_id"]) == list(want["conv_id"])
    assert list(got["turn_idx"]) == list(want["turn_idx"])


def test_full_feature_vector_allclose(spark, transcripts_df, transcripts_pdf, states_df, states_pdf):
    """End-to-end allclose vs the composed pandas oracle."""
    cfg = PipelineConfig()
    got = (
        extract_turn_features(transcripts_df, states_df, cfg)
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    d = oracle.dedup_last_wins(transcripts_pdf)
    want = oracle.asof_labels(d, states_pdf)
    want = oracle.rolling_gap_stats(want, cfg.rolling_k)
    want = oracle.running_role_counts(want, list(cfg.roles))
    want = oracle.forward_fill(want)
    want = oracle.sessionize(want, cfg.session_gap_s)

    assert len(got) == len(want)
    assert list(got["label"].fillna("∅")) == list(want["label"].fillna("∅"))
    np.testing.assert_allclose(
        got["gap_roll_mean"].to_numpy("float64"),
        want["gap_roll_mean"].to_numpy("float64"),
        rtol=1e-12, equal_nan=True,
    )
    np.testing.assert_array_equal(got["session_id"].to_numpy(), want["session_id"].to_numpy())
    for r in cfg.roles:
        np.testing.assert_array_equal(
            got[f"n_{r}_so_far"].to_numpy(), want[f"n_{r}_so_far"].to_numpy()
        )
    assert list(got["tool_ffill"].fillna("∅")) == list(want["tool_ffill"].fillna("∅"))


def test_pipeline_deterministic_across_runs(spark, transcripts_df, states_df):
    a = extract_turn_features(transcripts_df, states_df).orderBy("conv_id", "turn_idx").collect()
    b = extract_turn_features(transcripts_df, states_df).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_fused_window_stack_equals_operator_chain(spark, transcripts_df, states_df):
    """Round-7: the fused two-layer window stack must be row-for-row
    identical (schema order included) to the original operator chain
    turn_gaps -> rolling_stats -> per_role_running_counts -> forward_fill
    -> sessionize."""
    from mpower_feature_analysis_spark.operators import (
        asof_join,
        dedup_last_wins,
        forward_fill,
        per_role_running_counts,
        rolling_stats,
        sessionize,
        turn_gaps,
    )
    from mpower_feature_analysis_spark.plans.pipeline import (
        PipelineConfig,
        _window_feature_stack,
    )

    cfg = PipelineConfig()
    t = dedup_last_wins(
        transcripts_df, ["conv_id", "turn_idx"], ["ts"], partition_by=["conv_id"]
    )
    t = asof_join(t, states_df, payload=["label"])

    fused = _window_feature_stack(t, cfg)
    ref = turn_gaps(t)
    ref = rolling_stats(ref, "gap_ms", k=cfg.rolling_k, prefix="gap_roll")
    ref = per_role_running_counts(ref, list(cfg.roles))
    ref = forward_fill(ref, ["tool"], ["conv_id"], ["turn_idx", "ts"])
    ref = sessionize(ref, gap_s=cfg.session_gap_s)

    assert fused.columns == ref.columns
    a = fused.orderBy("conv_id", "turn_idx").collect()
    b = ref.orderBy("conv_id", "turn_idx").collect()
    assert a == b and len(a) > 0


@pytest.mark.parametrize("one_task", [True, False])
@pytest.mark.parametrize("with_states", [True, False])
def test_union_first_pipeline_equals_dedup_then_asof(
    spark, transcripts_df, states_df, monkeypatch, one_task, with_states
):
    """extract_turn_features unions turns and states first and dedups
    inside the union; it must equal the composition it replaced (dedup
    the turns, then as-of join the states, then the window stack), row
    for row, on the one-task and the one-shuffle route.  Extra rows add a
    resent turn, a NULL turn_idx pair and a NULL conv_id pair."""
    from datetime import datetime

    from mpower_feature_analysis_spark import utils
    from mpower_feature_analysis_spark.operators import (
        asof_join,
        dedup_last_wins,
    )
    from mpower_feature_analysis_spark.plans.pipeline import (
        _window_feature_stack,
    )

    monkeypatch.setattr(utils, "ONE_TASK_BYTES", 1 << 40 if one_task else -1)
    conv = transcripts_df.first()["conv_id"]
    extra = spark.createDataFrame([
        (conv, 0, "user", "resent", None, datetime(2031, 1, 1)),
        (conv, None, "user", "a", None, datetime(2031, 1, 2)),
        (conv, None, "tool", "b", "t", datetime(2031, 1, 3)),
        (None, 1, "user", "c", None, datetime(2031, 1, 4)),
        (None, 1, "user", "d", None, datetime(2031, 1, 5)),
    ], transcripts_df.schema)
    turns = transcripts_df.unionByName(extra)
    states = states_df if with_states else None
    cfg = PipelineConfig()

    ref = dedup_last_wins(
        turns, ["conv_id", "turn_idx"], ["ts"], partition_by=["conv_id"])
    if states is not None:
        ref = asof_join(ref, states, payload=["label"])
    ref = _window_feature_stack(ref, cfg)
    got = extract_turn_features(turns, states, cfg)

    assert got.columns == ref.columns
    key = ["conv_id", "turn_idx", "ts"]
    a = got.orderBy(*key).collect()
    b = ref.orderBy(*key).collect()
    assert a == b and len(a) > 0

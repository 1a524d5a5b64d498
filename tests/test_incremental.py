"""CDC-driven incremental feature refresh (plans/incremental.py):
incremental_refresh must leave the features table bit-identical to a
from-scratch extract_turn_features over the current turns snapshot, while
recomputing only the conversations the changelog touches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mpower_feature_analysis_spark.plans.incremental import (
    SOURCE_KEY,
    full_refresh,
    incremental_refresh,
)
from mpower_feature_analysis_spark.plans.pipeline import (
    PipelineConfig,
    extract_turn_features,
)
from mpower_feature_analysis_spark.sources.snapshots import (
    commit_snapshot,
    read_snapshot,
    snapshot_info,
)
from mpower_feature_analysis_spark.transcripts import spark_transcripts


def _split_late(transcripts_pdf):
    """batch1 = each conversation's first ~80% of turns; batch2 = the late
    tail (arrives later) plus three brand-new cloned conversations."""
    pdf = transcripts_pdf
    cut = pdf.groupby("conv_id")["turn_idx"].transform(
        lambda s: s.max() * 0.8
    )
    early, late = pdf[pdf["turn_idx"] <= cut], pdf[pdf["turn_idx"] > cut]
    clone_ids = sorted(pdf["conv_id"].unique())[:3]
    clones = pdf[pdf["conv_id"].isin(clone_ids)].copy()
    clones["conv_id"] = "new_" + clones["conv_id"]
    return early, late, clones


@pytest.fixture(scope="module")
def states_df(spark, states_pdf):
    return spark.createDataFrame(states_pdf).cache()


def _sorted_pdf(df):
    pdf = df.toPandas()
    return (
        pdf[sorted(pdf.columns)]
        .sort_values(sorted(pdf.columns), kind="mergesort")
        .reset_index(drop=True)
    )


def test_incremental_equals_full(spark, transcripts_pdf, states_df, tmp_path):
    import pandas as pd

    early, late, clones = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    cfg = PipelineConfig()

    commit_snapshot(spark_transcripts(spark, early).coalesce(3), t_dir)
    full_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert snapshot_info(f_dir)["properties"][SOURCE_KEY] == 1

    churn = pd.concat([late, clones], ignore_index=True)
    commit_snapshot(
        spark_transcripts(spark, churn).coalesce(2), t_dir, "append"
    )
    out = incremental_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert out == {
        "refreshed": True,
        "from_snapshot": 1,
        "to_snapshot": 2,
        "features_snapshot": 2,
    }
    assert snapshot_info(f_dir)["properties"][SOURCE_KEY] == 2

    got = _sorted_pdf(read_snapshot(spark, f_dir))
    want = _sorted_pdf(
        extract_turn_features(read_snapshot(spark, t_dir), states_df, cfg)
    )
    pd.testing.assert_frame_equal(got, want)  # bit-exact, incl. doubles

    # second refresh with no new turns snapshot: clean no-op
    again = incremental_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert again["refreshed"] is False
    assert again["features_snapshot"] == 2


def test_incremental_one_sided_range_with_compaction(
    spark, transcripts_pdf, states_df, tmp_path
):
    """A refresh whose range holds a compaction and two appends: the
    compaction's churn cancels, the changelog is add-only (the one-sided
    path, no exceptAll) and the features still equal a full rebuild."""
    import pandas as pd

    from mpower_feature_analysis_spark.sources.snapshots import (
        compact_snapshot,
        row_changelog,
    )

    early, late, clones = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    cfg = PipelineConfig()
    commit_snapshot(spark_transcripts(spark, early).coalesce(3), t_dir)
    full_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert compact_snapshot(spark, t_dir) == 2
    commit_snapshot(spark_transcripts(spark, late).coalesce(2), t_dir, "append")
    commit_snapshot(spark_transcripts(spark, clones), t_dir, "append")

    cdc = row_changelog(spark, t_dir, 1, 4)
    assert {r.change for r in cdc.select("change").distinct().collect()} \
        == {"add"}
    assert cdc.count() == len(late) + len(clones)

    out = incremental_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert (out["from_snapshot"], out["to_snapshot"]) == (1, 4)
    got = _sorted_pdf(read_snapshot(spark, f_dir))
    want = _sorted_pdf(
        extract_turn_features(read_snapshot(spark, t_dir), states_df, cfg)
    )
    pd.testing.assert_frame_equal(got, want)


def test_incremental_only_touches_affected_conversations(
    spark, transcripts_pdf, states_df, tmp_path
):
    """Feature rows of unaffected conversations must carry BY REFERENCE:
    their bytes come from the original full_refresh files, not a rewrite
    (copy-on-write merge scope, keyed by conv_id)."""
    import json
    import os

    early, late, _ = _split_late(transcripts_pdf)
    # write features clustered by conv_id so each file holds few convs
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    cfg = PipelineConfig()
    commit_snapshot(
        spark_transcripts(spark, early).repartition(6, "conv_id"), t_dir
    )
    feats = extract_turn_features(
        read_snapshot(spark, t_dir), states_df, cfg
    ).repartition(6, "conv_id")
    commit_snapshot(
        feats, f_dir, operation="overwrite", properties={SOURCE_KEY: 1}
    )

    one_conv = late[late["conv_id"] == late["conv_id"].iloc[0]]
    commit_snapshot(spark_transcripts(spark, one_conv), t_dir, "append")
    incremental_refresh(spark, t_dir, f_dir, states_df, cfg)

    def files(sid):
        with open(os.path.join(f_dir, "metadata", f"v{sid}.json")) as fh:
            return {e["path"] for e in json.load(fh)["files"]}

    carried = files(1) & files(2)
    assert carried, "unaffected conversations' files must carry by reference"


def test_refresh_without_bootstrap_raises(spark, transcripts_pdf, tmp_path):
    early, _, _ = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    commit_snapshot(spark_transcripts(spark, early), t_dir)
    # a features table not produced by full_refresh: no SOURCE_KEY pin
    commit_snapshot(spark_transcripts(spark, early), f_dir)
    with pytest.raises(ValueError, match="full_refresh"):
        incremental_refresh(spark, t_dir, f_dir)


def test_refresh_turns_behind_features_raises(
    spark, transcripts_pdf, tmp_path
):
    early, _, _ = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    commit_snapshot(spark_transcripts(spark, early), t_dir)
    feats = extract_turn_features(read_snapshot(spark, t_dir))
    commit_snapshot(
        feats, f_dir, operation="overwrite", properties={SOURCE_KEY: 5}
    )
    with pytest.raises(ValueError, match="OLDER"):
        incremental_refresh(spark, t_dir, f_dir)


def test_incremental_handles_full_conversation_delete(
    spark, transcripts_pdf, states_df, tmp_path
):
    """A conversation DELETED from the turns table must lose its feature
    rows: it appears in the CDC diff ('remove' rows) but the recompute
    yields nothing for it, so the merge's widened delete_keys scope is
    what drops it. incremental == full recompute, bit-exact."""
    import pandas as pd

    from mpower_feature_analysis_spark.sources.snapshots import overwrite_where

    early, _, _ = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    cfg = PipelineConfig()
    commit_snapshot(spark_transcripts(spark, early).coalesce(3), t_dir)
    full_refresh(spark, t_dir, f_dir, states_df, cfg)

    victim = sorted(early["conv_id"].unique())[0]
    overwrite_where(spark, t_dir, f"conv_id = '{victim}'")
    out = incremental_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert out["refreshed"] is True

    cur = read_snapshot(spark, f_dir)
    assert cur.filter(F.col("conv_id") == victim).count() == 0
    got = _sorted_pdf(cur)
    want = _sorted_pdf(
        extract_turn_features(read_snapshot(spark, t_dir), states_df, cfg)
    )
    pd.testing.assert_frame_equal(got, want)


def test_merge_into_delete_keys_scope(spark, tmp_path):
    from mpower_feature_analysis_spark.sources.snapshots import merge_into

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(10)],
        schema="id bigint, grp string, val double",
    ).coalesce(2)
    commit_snapshot(base, t)
    src = spark.createDataFrame(
        [(3, "g", -3.0)], schema="id bigint, grp string, val double"
    )
    dead = spark.createDataFrame([(7,)], schema="id bigint")
    merge_into(spark, t, src, ["id"], delete_keys=dead)
    got = sorted((r.id, r.val) for r in read_snapshot(spark, t).collect())
    assert (3, -3.0) in got and all(i != 7 for i, _ in got)
    assert len(got) == 9  # 10 - deleted 7 - replaced 3 + upsert 3

    with pytest.raises(ValueError, match="delete_keys columns"):
        merge_into(spark, t, src, ["id"],
                   delete_keys=spark.createDataFrame([("x",)], "grp string"))


def test_streaming_refresh_advances_features(
    spark, transcripts_pdf, states_df, tmp_path
):
    """Continuous maintenance: the snapshot_cdc commit stream triggers
    incremental_refresh per micro-batch; after availableNow the features
    table equals a from-scratch recompute. A second run with the same
    checkpoint and no new commits is a clean no-op (idempotent handler)."""
    import pandas as pd

    from mpower_feature_analysis_spark.plans.incremental import (
        streaming_refresh,
    )

    early, late, clones = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig()
    commit_snapshot(spark_transcripts(spark, early).coalesce(3), t_dir)
    full_refresh(spark, t_dir, f_dir, states_df, cfg)

    churn = pd.concat([late, clones], ignore_index=True)
    commit_snapshot(
        spark_transcripts(spark, churn).coalesce(2), t_dir, "append"
    )
    q = streaming_refresh(spark, t_dir, f_dir, ckpt, states_df, cfg)
    assert not q.isActive
    assert snapshot_info(f_dir)["properties"][SOURCE_KEY] == 2

    got = _sorted_pdf(read_snapshot(spark, f_dir))
    want = _sorted_pdf(
        extract_turn_features(read_snapshot(spark, t_dir), states_df, cfg)
    )
    pd.testing.assert_frame_equal(got, want)

    fsid = snapshot_info(f_dir)["snapshot_id"]
    streaming_refresh(spark, t_dir, f_dir, ckpt, states_df, cfg)
    assert snapshot_info(f_dir)["snapshot_id"] == fsid  # no-op, no commit


def test_streaming_refresh_requires_bootstrap(spark, transcripts_pdf, tmp_path):
    from mpower_feature_analysis_spark.plans.incremental import (
        streaming_refresh,
    )

    early, _, _ = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    commit_snapshot(spark_transcripts(spark, early), t_dir)
    commit_snapshot(spark_transcripts(spark, early), f_dir)
    with pytest.raises(ValueError, match="full_refresh"):
        streaming_refresh(spark, t_dir, f_dir, str(tmp_path / "ck"))

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


@pytest.fixture(params=["literal", "join"])
def route(request, monkeypatch):
    """The refresh's key set matched by a literal IN list, or (no literal
    list allowed) persisted and matched by joins."""
    from mpower_feature_analysis_spark.sources import snapshots

    if request.param == "join":
        monkeypatch.setattr(snapshots, "KEY_LITERAL_MAX", 0)
    return request.param


def _assert_equals_full(spark, t_dir, f_dir, states_df, cfg):
    import pandas as pd

    got = _sorted_pdf(read_snapshot(spark, f_dir))
    want = _sorted_pdf(
        extract_turn_features(read_snapshot(spark, t_dir), states_df, cfg)
    )
    pd.testing.assert_frame_equal(got, want)  # bit-exact, incl. doubles


def test_incremental_equals_full(
    spark, transcripts_pdf, states_df, tmp_path, route
):
    import pandas as pd

    from mpower_feature_analysis_spark.sources.snapshots import (
        overwrite_where,
        row_changelog,
    )

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
    _assert_equals_full(spark, t_dir, f_dir, states_df, cfg)

    # second refresh with no new turns snapshot: clean no-op
    again = incremental_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert again["refreshed"] is False
    assert again["features_snapshot"] == 2

    # two-sided range: an upsert of one conversation's turns and a
    # copy-on-write delete of another, refreshed in one step
    convs = sorted(early["conv_id"].unique())
    upd = early[early["conv_id"] == convs[1]].copy()
    upd["ts"] = upd["ts"] + pd.Timedelta(seconds=7) * upd["turn_idx"]
    upd["text"] = upd["text"] + " (edited)"
    overwrite_where(spark, t_dir, f"conv_id = '{convs[1]}'",
                    spark_transcripts(spark, upd))
    overwrite_where(spark, t_dir, f"conv_id = '{convs[2]}'")
    cdc = row_changelog(spark, t_dir, 2, 4)
    assert {r.change for r in cdc.select("change").distinct().collect()} \
        == {"add", "remove"}
    out = incremental_refresh(spark, t_dir, f_dir, states_df, cfg)
    assert (out["from_snapshot"], out["to_snapshot"]) == (2, 4)
    assert read_snapshot(spark, f_dir).filter(
        F.col("conv_id") == convs[2]).count() == 0
    _assert_equals_full(spark, t_dir, f_dir, states_df, cfg)


def _bootstrap_and_churn(spark, transcripts_pdf, states_df, tmp_path):
    """A bootstrapped feature table and one committed churn append (the
    late tail of one conversation plus one new conversation)."""
    import pandas as pd

    early, late, clones = _split_late(transcripts_pdf)
    t_dir, f_dir = str(tmp_path / "turns"), str(tmp_path / "feats")
    commit_snapshot(spark_transcripts(spark, early).coalesce(3), t_dir)
    full_refresh(spark, t_dir, f_dir, states_df, PipelineConfig(),
                 cluster_files=4)
    one = late[late["conv_id"] == late["conv_id"].iloc[0]]
    new = clones[clones["conv_id"] == clones["conv_id"].iloc[0]]
    commit_snapshot(
        spark_transcripts(spark, pd.concat([one, new], ignore_index=True)),
        t_dir, "append",
    )
    return t_dir, f_dir


def test_literal_refresh_job_count_and_one_data_dir(
    spark, transcripts_pdf, states_df, tmp_path
):
    """A churn-sized refresh runs exactly 3 Spark jobs of one stage each:
    the key collect and the hit-file scan (de-duplicated in one task) and
    the write of the recompute (one task, no shuffle) with the kept rows.
    The merge commit adds exactly one data directory."""
    import json
    import os

    t_dir, f_dir = _bootstrap_and_churn(
        spark, transcripts_pdf, states_df, tmp_path)
    sc = spark.sparkContext
    group = f"refresh-jobs-{os.getpid()}"
    sc.setJobGroup(group, "incremental refresh job count")
    try:
        out = incremental_refresh(spark, t_dir, f_dir, states_df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 3, jobs
    stages = {j: list(tracker.getJobInfo(j).stageIds) for j in jobs}
    assert all(len(s) == 1 for s in stages.values()), stages

    def dirs(sid):
        with open(os.path.join(f_dir, "metadata", f"v{sid}.json")) as fh:
            return {os.path.dirname(e["path"]) for e in json.load(fh)["files"]}

    sid = out["features_snapshot"]
    assert len(dirs(sid) - dirs(sid - 1)) == 1
    _assert_equals_full(spark, t_dir, f_dir, states_df, PipelineConfig())


def test_refresh_under_perfbench_call_shape(
    spark, transcripts_pdf, states_df, tmp_path, monkeypatch
):
    """perfbench's traced run wraps, as this module holds them,
    snapshot_info, row_changelog, read_snapshot_for_keys,
    extract_turn_features and merge_into, and opens a span on a stack
    shared by the calling thread around each call.  The refresh must keep
    every one of those names, call the ones it uses on the calling thread,
    hand extract_turn_features DataFrames, and stay exact."""
    import threading

    from pyspark.sql import DataFrame

    from mpower_feature_analysis_spark.plans import incremental

    calls = []

    def recording(name, orig):
        def wrapped(*a, **kw):
            calls.append((name, threading.current_thread(), a))
            return orig(*a, **kw)
        return wrapped

    for name in ("snapshot_info", "row_changelog", "read_snapshot_for_keys",
                 "extract_turn_features", "merge_into"):
        monkeypatch.setattr(incremental, name,
                            recording(name, getattr(incremental, name)))
    t_dir, f_dir = _bootstrap_and_churn(
        spark, transcripts_pdf, states_df, tmp_path)
    calls.clear()
    out = incremental_refresh(spark, t_dir, f_dir, states_df)
    assert out["refreshed"] is True
    assert {n for n, _, _ in calls} == {
        "snapshot_info", "row_changelog", "extract_turn_features"}
    assert all(t is threading.current_thread() for _, t, _ in calls)
    (args,) = [a for n, _, a in calls if n == "extract_turn_features"]
    assert isinstance(args[0], DataFrame) and isinstance(args[1], DataFrame)
    _assert_equals_full(spark, t_dir, f_dir, states_df, PipelineConfig())


def test_refresh_reraises_key_collect_error_and_commits_nothing(
    spark, transcripts_pdf, states_df, tmp_path, monkeypatch
):
    """The key collect runs on a worker thread: an error there reaches the
    caller, and neither table gets a commit."""
    from mpower_feature_analysis_spark.plans import incremental
    from mpower_feature_analysis_spark.sources.snapshots import snapshot_ids

    t_dir, f_dir = _bootstrap_and_churn(
        spark, transcripts_pdf, states_df, tmp_path)

    def failing(*a, **kw):
        raise RuntimeError("key collect failed")

    monkeypatch.setattr(incremental, "_KeySet", failing)
    before = snapshot_ids(f_dir), snapshot_ids(t_dir)
    with pytest.raises(RuntimeError, match="key collect failed"):
        incremental_refresh(spark, t_dir, f_dir, states_df)
    assert (snapshot_ids(f_dir), snapshot_ids(t_dir)) == before


def test_refresh_reads_indented_manifests(
    spark, transcripts_pdf, states_df, tmp_path
):
    """Manifests are written compact; a table whose manifests were written
    indented (the older form) still reads, diffs and refreshes."""
    import glob
    import json

    from mpower_feature_analysis_spark.sources.snapshots import row_changelog

    t_dir, f_dir = _bootstrap_and_churn(
        spark, transcripts_pdf, states_df, tmp_path)
    for path in glob.glob(f"{tmp_path}/*/metadata/v*.json"):
        with open(path) as fh:
            text = fh.read()
        assert "\n" not in text
        with open(path, "w") as fh:
            json.dump(json.loads(text), fh, indent=1, sort_keys=True)
    assert row_changelog(spark, t_dir, 1, 2).count() > 0
    assert read_snapshot(spark, f_dir).count() > 0
    out = incremental_refresh(spark, t_dir, f_dir, states_df)
    assert (out["from_snapshot"], out["to_snapshot"]) == (1, 2)
    _assert_equals_full(spark, t_dir, f_dir, states_df, PipelineConfig())


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

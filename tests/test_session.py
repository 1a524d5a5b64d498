"""Session defaults that depend on the host: the ``/dev/shm`` shuffle-dir
guard, driven through a mocked ``os.statvfs``."""

from __future__ import annotations

import os
from types import SimpleNamespace

from mpower_feature_analysis_spark import session


def _fake_shm(monkeypatch, free_bytes: int) -> None:
    monkeypatch.setattr(session.os.path, "isdir", lambda p: True)
    monkeypatch.setattr(session.os, "access", lambda p, mode: True)
    monkeypatch.setattr(
        session.os, "statvfs",
        lambda p: SimpleNamespace(f_bavail=free_bytes // 4096, f_frsize=4096),
    )


def test_shm_local_dir_with_enough_free_space(monkeypatch):
    _fake_shm(monkeypatch, session.SHM_MIN_FREE_BYTES)
    assert session._shm_local_dir() == os.path.join("/dev/shm", "spark-local")


def test_shm_local_dir_falls_back_when_space_is_short(monkeypatch):
    _fake_shm(monkeypatch, session.SHM_MIN_FREE_BYTES - 4096)
    assert session._shm_local_dir() is None


def test_shm_local_dir_needs_a_writable_dir(monkeypatch):
    _fake_shm(monkeypatch, session.SHM_MIN_FREE_BYTES)
    monkeypatch.setattr(session.os, "access", lambda p, mode: False)
    assert session._shm_local_dir() is None


def test_default_shuffle_partitions_are_the_cores(monkeypatch):
    """One full wave per shuffle stage: shuffle partitions = the master's
    cores, the scan floor twice that, and no AQE coalescing."""
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    for master, cores in (("local[4]", 4), ("local[6,2]", 6), ("local", 1),
                          ("local[*]", 3), ("spark://host:7077", 3)):
        confs = session.session_confs(master)
        assert confs["spark.sql.shuffle.partitions"] == str(cores), master
        assert confs["spark.sql.files.minPartitionNum"] == str(2 * cores), master
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs["spark.sql.adaptive.coalescePartitions.enabled"] == "false"
    assert confs["spark.sql.adaptive.skewJoin.enabled"] == "true"


def test_explicit_shuffle_partitions_and_extra_confs_win():
    confs = session.session_confs(
        "local[4]", shuffle_partitions=8,
        extra_confs={"spark.sql.adaptive.coalescePartitions.enabled": "true"})
    assert confs["spark.sql.shuffle.partitions"] == "8"
    assert confs["spark.sql.files.minPartitionNum"] == "16"
    assert confs["spark.sql.adaptive.coalescePartitions.enabled"] == "true"


def _post_shuffle_tasks(spark, run) -> list[tuple[int, int]]:
    """(tasks, completed tasks) of each stage that ran in ``run``'s last
    job: under AQE the map stages run as jobs of their own, and the last
    job runs the stage that reads the shuffle and writes."""
    import uuid

    sc = spark.sparkContext
    group = f"one-wave-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "post-shuffle task count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the tracker reads its events
    tracker = sc.statusTracker()
    last = max(tracker.getJobIdsForGroup(group))
    stages = [tracker.getStageInfo(s) for s in tracker.getJobInfo(last).stageIds]
    return [(s.numTasks, s.numCompletedTasks) for s in stages
            if s is not None and s.numCompletedTasks]


def test_post_shuffle_stages_run_one_full_wave(spark, transcripts_df, states_df,
                                               monkeypatch):
    """No coalescing: the post-shuffle stage of the turn-feature pipeline
    and of the window kernel each run exactly spark.sql.shuffle.partitions
    tasks (AQE packed them into fewer, idling cores or adding a wave)."""
    from mpower_feature_analysis_spark import utils
    from mpower_feature_analysis_spark.operators import windowed_summary_features
    from mpower_feature_analysis_spark.plans.pipeline import extract_turn_features

    monkeypatch.setattr(utils, "ONE_TASK_BYTES", -1)  # the shuffled route
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for build in (lambda: extract_turn_features(transcripts_df, states_df),
                  lambda: windowed_summary_features(transcripts_df)):
        tasks = _post_shuffle_tasks(
            spark, lambda: build().write.format("noop").mode("overwrite").save())
        assert tasks == [(n, n)], tasks

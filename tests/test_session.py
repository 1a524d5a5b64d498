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

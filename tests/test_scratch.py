"""Session scratch space (scratch.py): one root per application, a
sibling sweeper gated on age AND owner liveness, exit cleanup, and every
temp-writing helper placed under the root."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile
import time

import pytest

from database_migration_engine_spark import scratch

from .conftest import SF_DIR

_OLD = time.time() - scratch.MAX_AGE_S - 60
_YOUNG = time.time() - 60


def _kill_raising(exc):
    def kill(pid, sig):
        assert sig == 0
        if exc is not None:
            raise exc

    return kill


@pytest.mark.parametrize(
    "name, mtime, kill_exc, swept",
    [
        ("dbmig_scratch_dead", _OLD, ProcessLookupError(), True),
        ("dbmig_scratch_live", _OLD, None, False),
        ("dbmig_scratch_eperm", _OLD, PermissionError(), False),
        ("dbmig_scratch_young", _YOUNG, ProcessLookupError(), False),
        ("dbmig_scratch_self", _OLD, ProcessLookupError(), False),
        ("other_prefix_dead", _OLD, ProcessLookupError(), False),
    ],
    ids=["old-dead", "old-live", "old-eperm", "young-dead", "own-root",
         "foreign-name"],
)
def test_sweeper_removes_only_old_roots_with_dead_owner(
    tmp_path, monkeypatch, name, mtime, kill_exc, swept
):
    root = tmp_path / name
    root.mkdir()
    (root / scratch.PIDFILE).write_text("424242")
    (root / "payload").write_text("x")
    os.utime(root, (mtime, mtime))
    monkeypatch.setattr(os, "kill", _kill_raising(kill_exc))
    scratch.sweep_stale(str(tmp_path), keep="dbmig_scratch_self")
    assert root.exists() is not swept


def test_build_once_skips_stamped_path(tmp_path):
    calls = []

    def build(path):
        calls.append(path)
        os.makedirs(path, exist_ok=True)

    target = str(tmp_path / "ds")
    assert scratch.build_once(target, build) == target
    assert scratch.build_once(target, build) == target
    assert len(calls) == 1
    scratch.build_once(target, build, reuse=False)
    assert len(calls) == 2


def test_root_removed_at_interpreter_exit():
    """The atexit cleanup removes the roots a process created."""
    app = f"exit-probe-{os.getpid()}-{time.time_ns()}"
    code = (
        "import types\n"
        "from database_migration_engine_spark import scratch\n"
        "fake = types.SimpleNamespace(sparkContext=types.SimpleNamespace("
        f"applicationId={app!r}))\n"
        "print(scratch.root(fake))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, check=True,
        capture_output=True, text=True,
    ).stdout.strip()
    assert os.path.basename(out) == scratch.PREFIX + app
    assert not os.path.exists(out)


def _entries(path, prefix=""):
    try:
        return {e for e in os.listdir(path) if e.startswith(prefix)}
    except OSError:
        return set()


def test_temp_state_lies_under_the_session_root(spark, monkeypatch):
    """Stream staging, a run_to_memory checkpoint and the dedup drain's
    work dir all live under the session root; nothing is left beside it
    in the temp bases, and the legacy heartbeat dir gains no entry."""
    from database_migration_engine_spark.io import read_table
    from database_migration_engine_spark.streaming import events as SE
    from database_migration_engine_spark.streaming.dedup import (
        run_incremental_dedup_stream,
    )

    legacy = "/tmp/dbmig_heartbeat_stream"
    bases = {"/dev/shm", tempfile.gettempdir()}
    before = {b: _entries(b, "dbmig") for b in bases}
    legacy_before = _entries(legacy)
    root = scratch.root(spark)

    removed = []
    real_rmtree = shutil.rmtree

    def spy(path, *args, **kwargs):
        removed.append(str(path))
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", spy)

    staged = SE.heartbeat_stream_dir(spark, SF_DIR)
    SE.run_to_memory(
        SE.tumbling_counts(SE.read_events_stream(spark, SF_DIR))
    ).count()
    docs = read_table(spark, SF_DIR, "documents")
    assert run_incremental_dedup_stream(spark, docs).count() > 0

    under = root + os.sep
    assert staged.startswith(under)
    # run_to_memory and the dedup drain each remove their own work dir
    assert len(removed) >= 2
    assert all(p.startswith(under) for p in removed), removed
    for b in bases:
        new = _entries(b, "dbmig") - before[b]
        assert new <= {os.path.basename(root)}, (b, new)
    assert _entries(legacy) == legacy_before

"""Session scratch space: the one owner of host-local temp state.

Everything the engine stages on local disk — warehouse tables, stream
staging, streaming checkpoints, the dedup drain's work dir — lives in a
subdirectory of ONE root per Spark application,
``<base>/dbmig_scratch_<applicationId>``. The base is ``/dev/shm`` when
it is a directory (tmpfs: the state is non-durable by design, and RAM
cuts the per-commit fsync tail of streaming checkpoints), else
``tempfile.gettempdir()``.

Lifecycle:

* the first touch of a root stamps it with the owner's pid and sweeps
  stale siblings: a sibling root is removed only when its mtime is older
  than 6 h AND its owner process is dead — warehouse tables are written
  once at startup, so an old root can belong to a live session;
* at interpreter exit every root this process created is removed;
* callers that own a short-lived subdir (a drain's checkpoint or work
  dir) still remove it themselves in ``finally``.

``build_once`` is the write-once protocol for staged datasets: a
``_dbmig_stamp`` file marks a completed build, so a later call in the
same session skips the write (the underscore prefix keeps the stamp
invisible to Spark's file scan).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import SparkSession

PREFIX = "dbmig_scratch_"
PIDFILE = "_dbmig_owner_pid"
STAMP = "_dbmig_stamp"
MAX_AGE_S = 6 * 3600

_OWN_ROOTS: set[str] = set()


def owner_alive(root: str) -> bool:
    """True when ``root``'s pidfile names a live process. EPERM means
    the process exists under another uid, so it counts as alive. A root
    without a readable pidfile reports not-alive and is left to the
    mtime rule. A recycled pid can keep a dead root for one more sweep —
    the safe direction: a leaked root survives, a live one is never
    deleted under its owner."""
    try:
        with open(os.path.join(root, PIDFILE)) as fh:
            pid = int(fh.read().strip())
    except (OSError, ValueError):
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # the process exists under another uid
    return True


def sweep_stale(base: str, keep: str) -> None:
    """Remove the ``PREFIX`` roots under ``base`` (other than ``keep``)
    whose mtime is older than ``MAX_AGE_S`` and whose owner is dead."""
    try:
        sibs = os.listdir(base)
    except OSError:
        return
    now = time.time()
    for sib in sibs:
        if not sib.startswith(PREFIX) or sib == keep:
            continue
        path = os.path.join(base, sib)
        try:
            if now - os.path.getmtime(path) > MAX_AGE_S and not owner_alive(
                path
            ):
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass


def _remove_own_roots() -> None:
    for path in list(_OWN_ROOTS):
        shutil.rmtree(path, ignore_errors=True)


atexit.register(_remove_own_roots)


def root(spark: SparkSession) -> str:
    """This application's scratch root. The first touch sweeps stale
    siblings, writes the pidfile and registers the root for removal at
    exit."""
    base = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    name = f"{PREFIX}{spark.sparkContext.applicationId}"
    path = os.path.join(base, name)
    if path not in _OWN_ROOTS:
        sweep_stale(base, name)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, PIDFILE), "w") as fh:
            fh.write(str(os.getpid()))
        _OWN_ROOTS.add(path)
    return path


def subdir(spark: SparkSession, *parts: str) -> str:
    """Path of a subdirectory of this application's root (not created)."""
    return os.path.join(root(spark), *parts)


def build_once(
    path: str, build: Callable[[str], object], reuse: bool = True
) -> str:
    """Fill ``path`` with ``build(path)`` unless an earlier build left
    its stamp there and ``reuse`` holds; stamp it afterwards. Returns
    ``path``."""
    stamp = os.path.join(path, STAMP)
    if reuse and os.path.exists(stamp):
        return path
    build(path)
    with open(stamp, "w") as fh:
        fh.write("ok\n")
    return path

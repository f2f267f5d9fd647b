"""Per-process frozen artifacts for serve-path registry queries.

Five registry queries measure a production READ path against a fixture
materialized once (the IVF, MinHash band and exact-digest Parquet
indexes, the hash-bucketed events layout, the reorg fork warehouse).
Their artifacts land under a shared ``$TMPDIR`` base as
``<md5-of-sf-dir>_<pid>`` directories; this module owns the lifecycle
rules all of them share:

- :func:`memo` keeps each fixture in ``session.app_memo`` (per
  SparkContext) on its kind and absolute data directory: a fixture
  holds catalog names and py4j-backed state of the session that built
  it, so a restarted session builds its own;
- :func:`acquire` reserves the path, registers ONE shared atexit
  cleanup on first use, and sweeps dead-pid orphans once per base per
  process — so every frozen artifact gets the same lifecycle and a fix
  here fixes all of them (review find: the dance was previously
  duplicated per site);
- the owning process removes its own trees at exit;
- crashed runs' leftovers are swept by the next process's first freeze.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile

from ..session import app_memo, clear_app_memo

_OWNED: list[str] = []
_SWEPT_BASES: set[str] = set()


def acquire(base: str, key: str) -> str:
    """Reserve this process's frozen dir for ``(base, key)`` and return
    its path (not created — the caller materializes into it). First use
    registers the shared atexit cleanup; first use PER BASE sweeps that
    base's dead-pid orphans."""
    if not _SWEPT_BASES:
        atexit.register(release_all)
    if base not in _SWEPT_BASES:
        _SWEPT_BASES.add(base)
        sweep_orphans(base)
    digest = hashlib.md5(key.encode()).hexdigest()[:12]
    path = os.path.join(base, f"{digest}_{os.getpid()}")
    if path not in _OWNED:
        _OWNED.append(path)
    return path


def memo(kind: str, sf_dir: str, build):
    """The frozen fixture ``kind`` of ``sf_dir`` for the active
    SparkContext: ``build(path)`` materializes it into a directory
    reserved by :func:`acquire` under ``$TMPDIR/spark_graft_<kind>``,
    once, and every later call returns what it returned. A fixture
    registered in the catalog of a stopped session is unknown to the
    next one, which rebuilds into the same directory, emptied first."""
    sf_dir = os.path.abspath(sf_dir)

    def fresh():
        base = os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}")
        path = acquire(base, sf_dir)
        shutil.rmtree(path, ignore_errors=True)  # a stopped session's copy
        return build(path)

    return app_memo(("frozen", kind, sf_dir), fresh)


def release_all() -> None:
    """Remove every artifact THIS process froze and empty the
    per-SparkContext memo that hands fixtures out (atexit; tests and
    explicit invalidation call it too — the artifacts are per-process,
    so nothing else can be reading them)."""
    for p in _OWNED:
        shutil.rmtree(p, ignore_errors=True)
    _OWNED.clear()
    clear_app_memo()


def sweep_orphans(base: str) -> None:
    """Remove sibling ``*_<pid>`` dirs under ``base`` whose owning pid
    is gone (review find: repeated bench/pytest runs used to leave one
    orphan tree per process). Best-effort: pid-reuse can spare an
    orphan until the next sweep; a dir owned by a LIVE process is never
    touched. The base is world-writable $TMPDIR, so hostile/garbage
    names must not crash the freeze: a "pid" too large to be real
    (os.kill raises OverflowError, not ProcessLookupError) is treated
    as dead — no live process can have it."""
    try:
        entries = os.listdir(base)
    except OSError:
        return
    for d in entries:
        pid_s = d.rsplit("_", 1)[-1]
        if not pid_s.isdigit() or int(pid_s) == os.getpid():
            continue
        try:
            os.kill(int(pid_s), 0)
        except (ProcessLookupError, OverflowError):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another user: definitely not ours

"""Concurrency-safe write-once fixture guard (ADVICE r10).

Several catalog queries materialize a derived table under a shared tmp
path exactly once per (sf_dir, testdata generation): bucketed copies,
bloom-indexed copies, schema-evolution histories, range-file layouts,
persisted LSH indexes. The original pattern — check an mtime-stamped
marker, rewrite if stale, write the marker last — was check-then-write
with no mutual exclusion: two parallel sessions that both observed a
stale marker could interleave a rewrite, and a third could read a
half-written overwrite.

:func:`fixture_once` closes the race with an ``flock`` on a lock file
around the build:

- fast path (no syscall beyond one read): marker content equals the
  stamp → the fixture is complete and current, return immediately.
  Completeness is implied because the marker is written (atomically,
  via ``os.replace`` of a temp file unique to the owner) only AFTER the
  build returns.
- slow path: open ``<path>.lock`` and take an exclusive ``flock`` on
  it. The owner re-checks freshness (the previous holder may have
  finished the same build), deletes the stale marker BEFORE rebuilding
  (a crash mid-build leaves an unambiguously-incomplete fixture, never
  a fresh-looking one), builds, then atomically publishes the marker.
  Waiters poll the lock at 200 ms, returning as soon as the marker
  goes fresh, and raise ``TimeoutError`` after ``timeout``.

The kernel drops an ``flock`` when its holder's descriptor closes, so
an owner that dies mid-build frees the lock at once; no lock is ever
presumed abandoned. The owner unlinks the lock file before it closes
the descriptor, so a waiter can end up holding the lock of an unlinked
file: a lock counts only while the path still names the locked file
(same device and inode), and a waiter that finds otherwise retries on
the current file. The release unlinks only under the same check, so an
owner never removes a lock file another session created at the path.

Residual (documented, accepted): a session that CACHED the fixture
path earlier and lazily re-scans it while another session rebuilds can
still observe the overwrite — that requires the backing testdata to be
regenerated mid-flight, which invalidates every derived artifact anyway.
"""

from __future__ import annotations

import fcntl
import os
import tempfile
import time
from typing import Callable

MARKER = "_dbkit_fixture_done"


def source_stamp(sf_dir: str, table: str) -> str:
    """The invalidation stamp: mtime of the driver-generated source
    file, so a regenerated /root/testdata rebuilds the fixture instead
    of silently serving stale rows (the q144 fixture discipline)."""
    return str(os.path.getmtime(os.path.join(sf_dir, f"{table}.parquet")))


def fixture_once(
    path: str,
    stamp: str,
    build: Callable[[], None],
    timeout: float = 600.0,
) -> str:
    """Run ``build()`` at most once per (path, stamp) across concurrent
    sessions; return ``path`` once the fixture is complete and current.

    ``build`` must (re)create the fixture's data under/at ``path`` (the
    marker directory is created here if the builder did not)."""
    done = os.path.join(path, MARKER)

    def fresh() -> bool:
        try:
            with open(done) as fh:
                return fh.read() == stamp
        except OSError:
            return False

    def names(fd: int) -> bool:
        """Does the lock path still name the file ``fd`` has open?"""
        try:
            st = os.stat(lock)
        except FileNotFoundError:
            return False
        held = os.fstat(fd)
        return (st.st_dev, st.st_ino) == (held.st_dev, held.st_ino)

    if fresh():
        return path

    lock = path + ".lock"
    deadline = time.monotonic() + timeout
    while True:
        fd = os.open(lock, os.O_CREAT | os.O_RDWR)
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except BlockingIOError:
                    pass
                if time.monotonic() > deadline:
                    raise TimeoutError(f"fixture lock never cleared: {lock}")
                time.sleep(0.2)
                if fresh():
                    return path
            if not names(fd):
                continue  # a previous owner released and unlinked it
            try:
                if not fresh():  # the prior holder may have built this stamp
                    try:
                        os.unlink(done)
                    except OSError:
                        pass
                    build()
                    os.makedirs(path, exist_ok=True)
                    tmp_fd, tmp = tempfile.mkstemp(
                        dir=path, prefix=MARKER + ".tmp."
                    )
                    with os.fdopen(tmp_fd, "w") as fh:
                        fh.write(stamp)
                    os.replace(tmp, done)
                return path
            finally:
                # unlink before the close below releases the lock, and
                # only a file that is still ours
                if names(fd):
                    os.unlink(lock)
        finally:
            os.close(fd)

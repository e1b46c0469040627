"""Operational observability: slow-query log + the package's file lock
(SURVEY §4 rows).

- The reference logs every request slower than its 500 ms SLO
  (`dashboard_app/app.py:894,919`). Spark's QueryExecutionListener is
  JVM-side; the faithful driver-side mapping is a timing wrapper around
  query execution that records breaches to a bounded in-memory log (and
  the standard `logging` channel), exactly the signal the reference's
  log line carries: query name, elapsed seconds, threshold.
- The reference guards its writers with Postgres advisory locks
  (`app.py:95-106`, `src/ingest_v2.py:77-103`). The driver-side analog
  is `file_lock`: a kernel advisory lock (``fcntl.flock`` LOCK_EX) on a
  per-target lock file, with the advisory lock's crash behavior: a
  Postgres advisory lock dies with the session, and an flock dies with
  the process (the kernel releases it on any exit path, including
  SIGKILL), so there is no stale lock to detect or break. The sinks'
  upserts serialize on it. MV refreshes need no cross-process lock:
  the store's atomic content-addressed publish keeps two processes
  refreshing one store correct (they duplicate the build work rather
  than skip it).
  Caveat: flock is advisory and per-machine — correct for local disk;
  on NFS its semantics depend on the mount.
"""

from __future__ import annotations

import fcntl
import logging
import os
import threading
import time
from collections import deque
from collections.abc import Callable, Iterator
from contextlib import contextmanager

log = logging.getLogger("risk_dashboard_database_spark.slowquery")


class SlowQueryLog:
    """Bounded record of queries that exceeded the latency SLO."""

    def __init__(self, threshold_ms: float = 500.0, keep: int = 1000):
        self.threshold_ms = threshold_ms
        self.entries: deque[tuple[str, float]] = deque(maxlen=keep)

    @contextmanager
    def timed(self, name: str) -> Iterator[None]:
        t0 = time.perf_counter()
        try:
            yield
        finally:
            elapsed_ms = (time.perf_counter() - t0) * 1000.0
            if elapsed_ms > self.threshold_ms:
                self.entries.append((name, elapsed_ms))
                log.warning(
                    "slow query %s: %.0f ms (> %.0f ms SLO)",
                    name,
                    elapsed_ms,
                    self.threshold_ms,
                )

    def run(self, name: str, action: Callable[[], object]) -> object:
        with self.timed(name):
            return action()


# fds of lock files currently open in THIS process. flock lives on the
# open file description, which fork() shares (O_CLOEXEC only covers
# exec), so a forked child that never execs — multiprocessing's 'fork'
# start method, the Linux default — would co-hold the lock and keep it
# held after the parent dies (ADVICE r7). The at-fork handler closes
# the child's duplicates immediately, leaving the parent the sole
# holder; its exit then releases the lock as documented.
#
# The registry is guarded by a mutex that the BEFORE-fork handler
# acquires (ADVICE r8): without it, a fork landing between another
# thread's os.open() and _live_lock_fds.add(fd) would inherit an
# UNTRACKED duplicate fd that the child handler cannot see — the
# exact stale-holder class this machinery exists to eliminate. Holding
# the mutex across fork makes open+track (and untrack+close) atomic
# with respect to fork.
_live_lock_fds: set[int] = set()
_live_lock_fds_mu = threading.Lock()


def _drop_inherited_lock_fds() -> None:
    # runs in the child with the mutex held (inherited acquired from
    # the before-fork handler); close duplicates, then release.
    for fd in list(_live_lock_fds):
        try:
            os.close(fd)
        except OSError:
            pass
    _live_lock_fds.clear()
    _live_lock_fds_mu.release()


os.register_at_fork(
    before=_live_lock_fds_mu.acquire,
    after_in_parent=_live_lock_fds_mu.release,
    after_in_child=_drop_inherited_lock_fds,
)


# How long file_lock waits for the current holder before it raises.
LOCK_WAIT_S = 120.0


@contextmanager
def file_lock(path: str) -> Iterator[None]:
    """Hold an exclusive lock on the file `path` for the with-block,
    waiting up to LOCK_WAIT_S for the current holder (then
    TimeoutError).

    Implemented as ``flock(LOCK_EX)`` on a persistent lock file. The
    kernel releases the lock when the last open file description
    referencing it closes — on ANY exit of the sole holder: clean
    return, unhandled exception, SIGKILL — so a crashed holder frees
    the lock immediately and no staleness heuristic (pid probe, TTL,
    break protocol) exists to race or starve. Two inheritance channels
    could create a second holder and are both closed: exec()ed children
    via O_CLOEXEC, and fork()ed children that never exec (the
    multiprocessing 'fork' default on Linux, which O_CLOEXEC does NOT
    cover) via the at-fork handler above. Each call opens its own file
    description, so threads of one process exclude each other too.
    The lock file is created once and NEVER unlinked: unlinking would
    let a later caller lock a fresh inode while an older holder still
    held the unlinked one — two simultaneous holders."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with _live_lock_fds_mu:  # atomic open+track w.r.t. fork
        fd = os.open(path, os.O_CREAT | os.O_RDWR | os.O_CLOEXEC, 0o644)
        _live_lock_fds.add(fd)
    try:
        # Poll without the registry mutex, so a waiter never stalls
        # other threads' lock opens (or a fork) for its whole wait.
        deadline = time.monotonic() + LOCK_WAIT_S
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except BlockingIOError:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"file lock busy: {path}") from None
                time.sleep(0.05)
        yield
    finally:
        with _live_lock_fds_mu:  # atomic untrack+close w.r.t. fork
            _live_lock_fds.discard(fd)
            os.close(fd)  # close releases the flock

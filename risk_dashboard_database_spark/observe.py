"""Operational observability: slow-query log + single-flight job lock
(SURVEY §4 rows).

- The reference logs every request slower than its 500 ms SLO
  (`dashboard_app/app.py:894,919`). Spark's QueryExecutionListener is
  JVM-side; the faithful driver-side mapping is a timing wrapper around
  query execution that records breaches to a bounded in-memory log (and
  the standard `logging` channel), exactly the signal the reference's
  log line carries: query name, elapsed seconds, threshold.
- MV refreshes in the reference are single-flighted with a Postgres
  advisory lock so concurrent requests can't stampede a rebuild
  (`app.py:95-106,809-864`). The driver-side analog is a kernel
  advisory lock (``fcntl.flock`` LOCK_EX|LOCK_NB) on a per-job lock
  file: the first caller wins and runs, others skip — exactly the
  reference's non-blocking ``pg_try_advisory_lock`` semantics,
  including its crash behavior: a Postgres advisory lock dies with
  the session, and an flock dies with the process (the kernel
  releases it on any exit path, including SIGKILL). That removes the
  entire stale-pid/break-protocol family the earlier O_EXCL design
  needed — there is no stale lock to detect, no tombstone rename, no
  breaker race (VERDICT r6 #4 / ADVICE r6 closed at the root).
  Caveat: flock is advisory and per-machine — correct for a driver-
  local lock_dir; on NFS its semantics depend on the mount, so a
  multi-driver deployment should point lock_dir at local disk (each
  driver single-flights its own refreshes; the MV store's atomic
  content-addressed publish already makes cross-machine duplicate
  refreshes safe).
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
# start method, the Linux default — would co-hold the lock and keep the
# job locked after the parent dies (ADVICE r7). The at-fork handler
# closes the child's duplicates immediately, leaving the parent the
# sole holder; its exit then releases the job as documented.
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


@contextmanager
def single_flight(lock_dir: str, name: str) -> Iterator[bool]:
    """Non-blocking per-job lock: yields True for the one caller that
    acquired it (who should run the refresh) and False for everyone
    else (who should skip — the reference returns the cached result
    rather than waiting, `app.py:95-106`).

    Implemented as ``flock(LOCK_EX | LOCK_NB)`` on a persistent
    per-job file. The kernel releases the lock when the last open
    file description referencing it closes — on ANY exit of the sole
    holder: clean return, unhandled exception, SIGKILL — so a crashed
    holder frees the job immediately and no staleness heuristic (pid
    probe, TTL, break protocol) exists to race or starve. Two
    inheritance channels could create a second holder and are both
    closed: exec()ed children via O_CLOEXEC, and fork()ed children
    that never exec (the multiprocessing 'fork' default on Linux,
    which O_CLOEXEC does NOT cover — ADVICE r7) via an
    ``os.register_at_fork`` handler that closes the child's duplicate
    fd immediately after fork, leaving the parent the sole holder.
    The lock file is created once and NEVER unlinked: unlinking would
    let a later caller lock a fresh inode while an older holder still
    held the unlinked one — two simultaneous winners. File content is
    the holder's "pid:epoch" for humans inspecting a stuck refresh;
    no code path trusts it."""
    os.makedirs(lock_dir, exist_ok=True)
    path = os.path.join(lock_dir, f"{name}.lock")
    with _live_lock_fds_mu:  # atomic open+track w.r.t. fork
        fd = os.open(path, os.O_CREAT | os.O_RDWR | os.O_CLOEXEC, 0o644)
        _live_lock_fds.add(fd)
    acquired = False
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            acquired = True
        except OSError:
            acquired = False
        if acquired:
            os.ftruncate(fd, 0)
            os.write(fd, f"{os.getpid()}:{int(time.time())}".encode())
        yield acquired
    finally:
        if acquired:
            try:
                os.ftruncate(fd, 0)
            except OSError:
                pass
        with _live_lock_fds_mu:  # atomic untrack+close w.r.t. fork
            _live_lock_fds.discard(fd)
            os.close(fd)  # close releases the flock

"""Slow-query log + single-flight lock semantics (SURVEY §4)."""

from __future__ import annotations

import time

import pytest

from risk_dashboard_database_spark import observe
from risk_dashboard_database_spark.observe import SlowQueryLog, file_lock


def test_slow_query_log_records_only_breaches():
    sq = SlowQueryLog(threshold_ms=20.0)
    with sq.timed("fast"):
        pass
    with sq.timed("slow"):
        time.sleep(0.05)
    names = [n for n, _ in sq.entries]
    assert names == ["slow"]
    assert sq.entries[0][1] > 20.0


def test_slow_query_run_returns_value():
    sq = SlowQueryLog(threshold_ms=1e9)
    assert sq.run("q", lambda: 42) == 42
    assert not sq.entries


def test_single_flight_one_winner(tmp_path, monkeypatch):
    """Exclusive while held: a second acquire of the same lock waits
    out its deadline and raises; another lock is independent; once
    released, the next caller acquires."""
    monkeypatch.setattr(observe, "LOCK_WAIT_S", 0.3)
    lock = str(tmp_path / "refresh_mv.lock")
    with file_lock(lock):
        with pytest.raises(TimeoutError):
            with file_lock(lock):
                pass
        with file_lock(str(tmp_path / "other_job.lock")):
            pass  # different file: independent lock
    with file_lock(lock):
        pass  # released: acquired again


def test_single_flight_leftover_file_is_not_a_lock(tmp_path, monkeypatch):
    """The lock is the kernel flock, not the file: a lock file left by
    a dead process (any content, any age) holds nothing — the next
    caller acquires immediately. This is the entire stale-lock family
    (dead pid, crashed-holder TTL, resurrected-after-release) closed
    at the root: there is no state to judge stale."""
    monkeypatch.setattr(observe, "LOCK_WAIT_S", 0.3)
    lock = tmp_path / "refresh_mv.lock"
    lock.write_text("999999999:0")  # pid that cannot exist
    with file_lock(str(lock)):
        pass
    assert lock.exists(), "lock files are persistent, never unlinked"


# repo root for spawned children (ADVICE r7: derive from this file, do
# not hardcode the checkout path), passed via argv/sys.path injection.
REPO_ROOT = str(__import__("pathlib").Path(__file__).resolve().parents[1])


def _hold_lock_subprocess(lock: str):
    """Spawn a child that acquires the lock and then idles; returns the
    Popen after the child has CONFIRMED acquisition on stdout."""
    import subprocess
    import sys

    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"import sys, time; sys.path.insert(0, {REPO_ROOT!r})\n"
            "from risk_dashboard_database_spark.observe import file_lock\n"
            f"with file_lock({lock!r}):\n"
            "    print('acquired', flush=True)\n"
            "    time.sleep(60)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert child.stdout.readline().strip() == "acquired"
    return child


def test_single_flight_cross_process_and_sigkill_release(tmp_path, monkeypatch):
    """A second PROCESS is excluded while the holder runs; SIGKILL on
    the holder releases the lock instantly (kernel-owned), with no
    break protocol and no starvation window (ADVICE r6 liveness gap)."""
    import signal

    monkeypatch.setattr(observe, "LOCK_WAIT_S", 0.3)
    lock = str(tmp_path / "job.lock")
    child = _hold_lock_subprocess(lock)
    try:
        with pytest.raises(TimeoutError):  # held by the live child
            with file_lock(lock):
                pass
    finally:
        child.send_signal(signal.SIGKILL)
        child.wait()
    with file_lock(lock):
        pass  # the kernel released the crashed holder's lock


def test_single_flight_forked_child_does_not_co_hold(tmp_path, monkeypatch):
    """ADVICE r7's residual stale-holder case, closed: a holder that
    fork()s a long-lived child (no exec — O_CLOEXEC doesn't apply)
    and then DIES must release the lock even while the orphan child
    is still alive, because the at-fork handler closed the child's
    inherited duplicate of the lock fd."""
    import os
    import signal
    import subprocess
    import sys

    code = (
        "import os, sys, time\n"
        f"sys.path.insert(0, {REPO_ROOT!r})\n"
        "from risk_dashboard_database_spark.observe import file_lock\n"
        "with file_lock(sys.argv[1]):\n"
        "    pid = os.fork()\n"
        "    if pid == 0:\n"
        "        # the at-fork handler has run by the time fork() returns\n"
        "        print('ready', os.getpid(), flush=True)\n"
        "        time.sleep(60)  # orphan survives the parent\n"
        "        os._exit(0)\n"
        "    time.sleep(60)  # parent idles holding the lock\n"
    )
    monkeypatch.setattr(observe, "LOCK_WAIT_S", 0.3)
    lock = str(tmp_path / "job.lock")
    parent = subprocess.Popen(
        [sys.executable, "-c", code, lock],
        stdout=subprocess.PIPE,
        text=True,
    )
    # The child's own line: read before the kill, so the parent never
    # dies while the child has yet to close its inherited lock fd.
    ready, orphan_pid = parent.stdout.readline().split()
    assert ready == "ready"
    orphan_pid = int(orphan_pid)
    try:
        with pytest.raises(TimeoutError):  # the parent holds the lock
            with file_lock(lock):
                pass
        parent.send_signal(signal.SIGKILL)
        parent.wait()
        # the orphan is still alive, but must not hold the lock
        os.kill(orphan_pid, 0)  # raises if the orphan already died
        with file_lock(lock):
            pass  # the forked child does not co-hold (at-fork close)
    finally:
        parent.kill()
        try:
            os.kill(orphan_pid, signal.SIGKILL)
        except OSError:
            pass


def test_single_flight_three_process_race_one_winner(tmp_path):
    """VERDICT r6 #4's three-process race: many processes hammer
    acquire/release concurrently; exactly one may ever be inside the
    critical section. Each winner appends 'enter'/'exit' pairs to a
    shared log with O_APPEND; overlapping winners would interleave
    two 'enter's without an 'exit' between them."""
    import subprocess
    import sys

    logf = tmp_path / "race.log"
    code = (
        "import os, sys, time\n"
        f"sys.path.insert(0, {REPO_ROOT!r})\n"
        "from risk_dashboard_database_spark.observe import file_lock\n"
        "lock, log_path = sys.argv[1], sys.argv[2]\n"
        "me = os.getpid()\n"
        "wins = 0\n"
        "deadline = time.time() + 5.0\n"
        "while time.time() < deadline and wins < 25:\n"
        "    with file_lock(lock):\n"
        "        wins += 1\n"
        "        with open(log_path, 'a') as f:\n"
        "            f.write(f'enter {me}\\n')\n"
        "        time.sleep(0.001)\n"
        "        with open(log_path, 'a') as f:\n"
        "            f.write(f'exit {me}\\n')\n"
        "print(wins)\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", code, str(tmp_path / "locks" / "job.lock"), str(logf)],
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(3)
    ]
    wins = [int(p.communicate()[0].strip()) for p in procs]
    assert all(p.returncode == 0 for p in procs)
    assert all(w > 0 for w in wins), "a blocking acquire is never skipped"
    inside = None
    for line in logf.read_text().splitlines():
        op, pid = line.split()
        if op == "enter":
            assert inside is None, f"pid {pid} entered while {inside} was inside"
            inside = pid
        else:
            assert inside == pid
            inside = None
    assert inside is None

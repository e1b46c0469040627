"""Per-layer measurement helpers for perfbench/run.py.

Every layer is observed from outside the package: calls into public
functions are timed and counted here, and Spark's own bookkeeping (its
event log) is read after the run. Nothing in the package is changed.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

# Task-level SQL metrics that Spark attaches to Python-worker operators
# (MapInPandas, MapInArrow, ArrowEvalPython, ...). Their values are ms.
PYTHON_TIME_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


# --------------------------------------------------------------------------
# Process tree and host probe


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def process_tree(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    """Pids of root and every live descendant (driver, JVM, Python workers)."""
    children = _children() if children is None else children
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _peak_rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _resident_processes(root: int) -> list[int]:
    """The driver, its direct children (the JVM) and every Python process
    (daemon and workers) in its tree. Helpers the JVM spawns are left
    out: until they exec, they share the JVM's memory and would count it
    twice."""
    children = _children()
    direct = set(children.get(root, ()))
    return [
        pid for pid in process_tree(root, children)
        if pid == root or pid in direct or _comm(pid).startswith("python")
    ]


def tree_peak_rss_bytes(root: int) -> int:
    """Sum over the driver, JVM and Python workers of each process's peak
    resident set (VmHWM). A process's own peak needs no sampling luck;
    sampling the sum over time also keeps the peaks of workers that exit
    later."""
    return sum(_peak_rss(pid) for pid in _resident_processes(root))


def tree_peak_rss_by_process(root: int) -> dict[str, float]:
    """The same peaks in MB, keyed by "pid:command"."""
    return {
        f"{pid}:{_comm(pid)}": _peak_rss(pid) / 2**20
        for pid in _resident_processes(root)
    }


def host_probe_ms(reps: int = 5) -> float:
    """Median wall time of a fixed pure-Python CPU task. It only marks
    runs that a host-contention burst hit; it rescales nothing."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


# --------------------------------------------------------------------------
# py4j round trips


# py4j's "release this proxy" command. Python's garbage collector decides
# when it is sent, so it is left out of the count.
PY4J_GC_COMMAND = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands by wrapping the gateway client's send_command
    on this instance only. Installed in the traced run alone."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0

        def counted(command, *args, **kwargs):
            if not command.startswith(PY4J_GC_COMMAND):
                with self._lock:  # refresh_all's pool threads call concurrently
                    self.calls += 1
            return self._send(command, *args, **kwargs)

        self._client.send_command = counted


# --------------------------------------------------------------------------
# MV store snapshots (relcache layer)


def store_snapshot(store: str) -> dict[str, tuple[int, int]]:
    """relpath -> (size, mtime_ns) of every file under the store."""
    out = {}
    for dirpath, _, files in os.walk(store):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except OSError:
                continue
            out[os.path.relpath(path, store)] = (st.st_size, st.st_mtime_ns)
    return out


def store_delta(before: dict, after: dict) -> dict[str, int]:
    """Builds (newly published entries), files and bytes written."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return {
        "builds": sum(1 for p in new if os.path.basename(p) == "_SUCCESS"),
        "files_written": len(new),
        "bytes_written": sum(after[p][0] for p in new),
    }


def store_bytes(store: str) -> int:
    return sum(size for size, _ in store_snapshot(store).values())


# --------------------------------------------------------------------------
# Refresh DAG


def critical_path(timings: dict[str, float], dag) -> float:
    """Longest dependency chain of step durations through MV_STORE_DAG."""
    deps = {step: d for step, _, d in dag}
    memo: dict[str, float] = {}

    def finish(step: str) -> float:
        if step not in memo:
            memo[step] = timings.get(step, 0.0) + max(
                (finish(d) for d in deps[step]), default=0.0
            )
        return memo[step]

    return max((finish(s) for s in deps), default=0.0)


# --------------------------------------------------------------------------
# Spark event log (exec layer)


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk_plan(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _walk_plan(child)


def exec_counters(events: list[dict], windows: list[tuple[str, int, int]]):
    """Spark work attributed to named wall-clock windows [t0_ms, t1_ms].

    Jobs belong to the window their submission time falls in, tasks to
    their stage's first job, SQL executions to their start time. The
    exchange count is taken from each execution's final adaptive plan.
    """
    def window_of(t_ms: int) -> str | None:
        for key, t0, t1 in windows:
            if t0 <= t_ms <= t1:
                return key
        return None

    out = {
        key: dict(jobs=0, tasks=0, exchanges=0, shuffle_bytes=0,
                  spill_bytes=0, scan_rows=0, python_ms=0, python_rows=0)
        for key, _, _ in windows
    }
    stage_window: dict[int, str | None] = {}
    exec_start: dict[int, int] = {}
    final_plan: dict[int, dict] = {}
    python_rows_ids: set[int] = set()
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            key = window_of(ev["Submission Time"])
            if key is not None:
                out[key]["jobs"] += 1
            for sid in ev["Stage IDs"]:
                stage_window.setdefault(sid, key)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
            "SQLAdaptiveExecutionUpdate"
        ):
            eid = ev["executionId"]
            if "time" in ev:
                exec_start[eid] = ev["time"]
            final_plan[eid] = ev["sparkPlanInfo"]
            for node in _walk_plan(ev["sparkPlanInfo"]):
                metrics = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
                if PYTHON_TIME_METRICS[-1] in metrics and "number of output rows" in metrics:
                    python_rows_ids.add(metrics["number of output rows"])
        elif kind == "SparkListenerTaskEnd":
            key = stage_window.get(ev["Stage ID"])
            if key is None:
                continue
            c = out[key]
            c["tasks"] += 1
            tm = ev.get("Task Metrics") or {}
            c["shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            c["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            c["scan_rows"] += tm.get("Input Metrics", {}).get("Records Read", 0)
            for acc in ev["Task Info"].get("Accumulables", ()):
                if acc.get("Name") in PYTHON_TIME_METRICS:
                    c["python_ms"] += int(acc.get("Update", 0))
                elif acc.get("ID") in python_rows_ids:
                    c["python_rows"] += int(acc.get("Update", 0))
    for eid, plan in final_plan.items():
        key = window_of(exec_start.get(eid, -1))
        if key is not None:
            out[key]["exchanges"] += sum(
                1 for n in _walk_plan(plan) if n["nodeName"] == "Exchange"
            )
    return out

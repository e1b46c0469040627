"""The MV-store refresh DAG (`plans/refresh.refresh_all`) under
concurrency and failure: two processes refreshing one store, a step
that raises mid-DAG, and the connected-components checkpoints a cold
refresh must not leave pinned."""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from risk_dashboard_database_spark.plans import relcache
from risk_dashboard_database_spark.plans.refresh import MV_STORE_DAG, refresh_all
from risk_dashboard_database_spark.tables import DEFAULT_SF_DIR

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

# Every concrete store key the DAG declares. The layout_* wildcards are
# scale-gated: tiny testdata never triggers the re-layout seam.
KEYS = {k for _, keys, _ in MV_STORE_DAG for k in keys if not k.endswith("*")}


@pytest.fixture()
def store(tmp_path, monkeypatch):
    root = str(tmp_path / "mv")
    monkeypatch.setattr(relcache, "MV_ROOT", root)
    relcache.clear()
    yield root
    relcache.clear()


def _published(root: str) -> set[str]:
    """Store keys with a completed publish."""
    if not os.path.isdir(root):
        return set()
    return {
        key
        for key in os.listdir(root)
        if os.path.isdir(os.path.join(root, key))
        and any(
            os.path.exists(os.path.join(root, key, fp, "_SUCCESS"))
            for fp in os.listdir(os.path.join(root, key))
        )
    }


def _leftovers(root: str) -> list[str]:
    """Temp and wreck dirs of publishes that never completed."""
    return [
        os.path.join(key, d)
        for key in os.listdir(root)
        if os.path.isdir(os.path.join(root, key))
        for d in os.listdir(os.path.join(root, key))
        if ".tmp-" in d or ".wreck-" in d
    ]


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


_RACER = """
import os, sys, time
sys.path.insert(0, sys.argv[1])
from risk_dashboard_database_spark.plans.refresh import refresh_all
from risk_dashboard_database_spark.session import get_spark

barrier, sf = sys.argv[2], sys.argv[3]
spark = get_spark(app_name="refresh-race", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
open(os.path.join(barrier, f"ready-{os.getpid()}"), "w").close()
while not os.path.exists(os.path.join(barrier, "go")):
    time.sleep(0.01)
refresh_all(spark, sf)
spark.stop()
"""


def test_refresh_all_two_processes_publish_each_key_once(tmp_path):
    """Two processes started together through a file barrier refresh one
    fresh store: both succeed, the atomic publish leaves every key with
    exactly one completed fingerprint dir, and no temp or wreck dir
    survives."""
    root = str(tmp_path / "mv")
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    env = dict(
        os.environ,
        SPARK_GRAFT_MV_DIR=root,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _RACER, REPO_ROOT, str(barrier), SF],
            env=env,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
            text=True,
        )
        for _ in range(2)
    ]
    try:
        deadline = time.monotonic() + 300
        while len([f for f in os.listdir(barrier) if f.startswith("ready-")]) < 2:
            assert all(p.poll() is None for p in procs), "a racer died at startup"
            assert time.monotonic() < deadline, "racers never became ready"
            time.sleep(0.05)
        (barrier / "go").touch()
        errs = [p.communicate(timeout=900)[1] for p in procs]
    finally:
        for p in procs:
            p.kill()
    assert [p.returncode for p in procs] == [0, 0], errs
    assert _published(root) == KEYS
    for key in KEYS:
        fps = os.listdir(os.path.join(root, key))
        assert len(fps) == 1, (key, fps)
        assert os.path.exists(os.path.join(root, key, fps[0], "_SUCCESS"))
    assert not _leftovers(root)


def test_refresh_all_step_failure_stops_its_dependents(spark, store, monkeypatch):
    """A step that raises mid-DAG: the error propagates, no step that
    reads it runs, nothing is left half-written or pinned, and a rerun
    builds exactly the keys the failed run did not publish."""
    _, keys, deps = relcache.MV_STEPS["d2_sigs"]

    def failing(spark, sf_dir):
        time.sleep(1.0)
        raise RuntimeError("injected d2_sigs failure")

    persisted = _persisted(spark)
    with monkeypatch.context() as m:
        m.setitem(relcache.MV_STEPS, "d2_sigs", (failing, keys, deps))
        with pytest.raises(RuntimeError, match="injected"):
            refresh_all(spark, SF)
    done = _published(store)
    assert not done & {"d2_toks", "d2_sigs", "d9_clusters", "dup_edges", "d50_rank1"}
    assert not _leftovers(store)
    assert _persisted(spark) == persisted

    built: list[str] = []
    real_publish = relcache._publish

    def recording_publish(path, df):
        built.append(os.path.basename(os.path.dirname(path)))
        real_publish(path, df)

    monkeypatch.setattr(relcache, "_publish", recording_publish)
    relcache.clear()
    refresh_all(spark, SF)
    assert sorted(built) == sorted(KEYS - done)
    assert _published(store) == KEYS
    assert _persisted(spark) == persisted


def test_cold_refresh_leaves_nothing_persisted(spark, store):
    """Two cold refreshes (store dropped between them) leave the
    persisted-RDD count where it started: the connected-components
    builds (d9_clusters, d19_clusters_v2) release their checkpoints
    once their store writes are done."""
    persisted = _persisted(spark)
    for _ in range(2):
        relcache.drop_store()
        refresh_all(spark, SF)
        assert _persisted(spark) == persisted
    assert {"d9_clusters", "d19_clusters_v2"} <= _published(store)

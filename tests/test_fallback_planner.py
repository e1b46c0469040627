"""Tests for fallback-query semantics (§4) and the executable planner
path (F7 end-to-end).

The reference serves endpoints from a derived table when it exists and
recomputes from base tables when it does not
(`dashboard_app/app.py:3508-3563`). Here the derived -> base path is
`relcache.cached_relation`: a hit scans the published MV; a miss, or a
publish without `_SUCCESS`, builds from the base tables."""

from __future__ import annotations

import os

import pytest

from risk_dashboard_database_spark.functions.planner import execute_plan, plan_query
from risk_dashboard_database_spark.plans import relcache


@pytest.fixture()
def base_dir(spark, tmp_path, monkeypatch):
    """A fresh store plus a one-row base dataset."""
    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    relcache.clear()
    path = str(tmp_path / "base")
    spark.createDataFrame([(3, "z")], "id int, v string").write.parquet(path)
    yield path
    relcache.clear()


def _from_base(spark, path, built):
    def build():
        built.append(path)
        return spark.read.parquet(path)

    return build


def test_fallback_missing_materialization(spark, base_dir):
    built = []
    df = relcache.cached_relation("mv", base_dir, _from_base(spark, base_dir, built))
    assert built == [base_dir]
    assert [tuple(r) for r in df.collect()] == [(3, "z")]


def test_fallback_prefers_materialization(spark, base_dir):
    relcache.cached_relation("mv", base_dir, _from_base(spark, base_dir, []))
    relcache.clear()  # forget the reader: the next call must hit the files

    def must_not_rebuild():
        raise AssertionError("must not rebuild")

    df = relcache.cached_relation("mv", base_dir, must_not_rebuild)
    assert [tuple(r) for r in df.collect()] == [(3, "z")]


def test_fallback_on_empty_materialization(spark, base_dir):
    """An empty materialization whose publish never completed (no
    `_SUCCESS`) is not served: the base is rebuilt and replaces it."""
    path = os.path.join(relcache.MV_ROOT, "mv", relcache._fingerprint(base_dir))
    spark.createDataFrame([], "id int, v string").write.parquet(path)
    os.remove(os.path.join(path, "_SUCCESS"))
    built = []
    df = relcache.cached_relation("mv", base_dir, _from_base(spark, base_dir, built))
    assert built == [base_dir]
    assert df.count() == 1
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_execute_plan_runs_routed_query(spark):
    plan = plan_query("top 3 riskiest users by risk score")
    assert plan is not None
    (df,) = execute_plan(plan, spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert len(rows) == 3
    assert "risk_score" in df.columns


def test_execute_plan_applies_calendar_window(spark):
    plan = plan_query("show anomalies in q1 2024")
    assert plan["tool_calls"][0]["arguments"]["window"]["mode"] == "calendar"
    (df,) = execute_plan(plan, spark, "/root/testdata/sf0.001")
    dates = [r["date"] for r in df.select("date").distinct().collect()]
    assert all("2024-01-01" <= d <= "2024-03-31" for d in dates)

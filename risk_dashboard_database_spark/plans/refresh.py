"""Materialized-aggregate refresh job graph (SURVEY §4 item 1).

The reference rebuilds its MVs in strict dependency order
(`sql/rebuild_serp_feature_mvs.sql:10-30`: feature MVs ->
entity_daily_metrics -> weekly rollup -> anomalies) and recomputes
only the affected slice on override writes (`app.py:6105-6215`).

Spark mapping: each MV is a named query builder; `refresh_aggregates`
materializes them as date-partitioned parquet in dependency order so
downstream layers read the materialized parent instead of rescanning
facts (the VERDICT's cross-query note: 6 of 10 queries recomputed
user_day from raw events — as a stack, materialize once).

`refresh_window` is the targeted-recompute path: rebuild only a date
window of one MV via dynamic partition overwrite (the
delete+rebuild/replaceWhere shape, `crisis_event_rollups.py:725-754`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sinks import replace_window, write_date_partitioned
from .common import user_day
from .registry import QUERIES
from .relcache import MV_STEPS

# MV name -> (builder query name, partition column). Order IS the
# dependency order; later entries may read earlier materializations.
MV_GRAPH: list[tuple[str, str]] = [
    ("user_day", "__user_day__"),            # shared daily fact grain
    ("p2_override_daily", "p2_override_daily"),
    ("a2_control_counts", "a2_control_counts"),
    ("j4_entity_daily_metrics", "j4_entity_daily_metrics"),
    ("w1_weekly_rollup", "w1_weekly_rollup"),
    ("w2_anomaly_baselines", "w2_anomaly_baselines"),
]


def _build(spark: SparkSession, sf_dir: str, query_name: str) -> DataFrame:
    if query_name == "__user_day__":
        return user_day(spark, sf_dir).withColumn(
            "date", F.date_format("date", "yyyy-MM-dd")
        )
    return QUERIES[query_name](spark, sf_dir)


def refresh_aggregates(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> dict[str, str]:
    """Full refresh of the MV stack in dependency order. Returns
    {mv_name: path}. Each MV is written date-partitioned so readers
    prune to their date window (partition pruning = the reference's
    date-range indexes)."""
    paths: dict[str, str] = {}
    for mv_name, query_name in MV_GRAPH:
        path = os.path.join(out_dir, mv_name)
        df = _build(spark, sf_dir, query_name)
        if "date" in df.columns:
            write_date_partitioned(df, path, "date")
        else:
            df.write.mode("overwrite").parquet(path)
        paths[mv_name] = path
    return paths


# ---------------------------------------------------------------------------
# Durable MV-store refresh DAG (VERDICT r6 #5). The relcache MVs are
# built lazily by the first query that touches them — correct, but at
# 100x scale first-touch costs run 17-116 s and land on an arbitrary
# user query. refresh_all() pre-pays every one of them in dependency
# order, mirroring the reference's scheduled MV rebuild script
# (`sql/rebuild_serp_feature_mvs.sql:10-30`), with independent steps
# built concurrently (Spark's scheduler is thread-safe; each thread
# submits independent jobs).
#
# The DAG is generated from the `relcache.mv_step` declarations, one
# on each accessor that owns store keys: calling the accessor IS the
# build (cached_relation writes the parquet eagerly on first call).
# A step's deps name the steps whose MVs its build reads, so each
# parent is store-warm (a plain scan) when the child compiles its
# build plan. Every declaring module is imported by `plans/__init__`
# before this module, so MV_STEPS is complete here.


def _ordered_dag() -> list[tuple[str, tuple[str, ...], tuple[str, ...]]]:
    """(step, keys, deps) for every declared step, most transitive
    dependents first, then by name. refresh_all submits the steps that
    become ready together in this order, so among them the one feeding
    the most steps starts first; a dep always has more dependents than
    its child, so the order is also topological."""
    dependents: dict[str, set[str]] = {s: set() for s in MV_STEPS}

    def mark(step: str, dependent: str) -> None:
        for dep in MV_STEPS[step][2]:
            dependents[dep].add(dependent)
            mark(dep, dependent)

    for step in MV_STEPS:
        mark(step, step)
    order = sorted(MV_STEPS, key=lambda s: (-len(dependents[s]), s))
    return [(s, MV_STEPS[s][1], MV_STEPS[s][2]) for s in order]


MV_STORE_DAG = _ordered_dag()


def refresh_all(
    spark: SparkSession, sf_dir: str, max_workers: int = 4
) -> dict[str, float]:
    """Build every registered MV-store relation for sf_dir's current
    content, dependency-ordered, independent steps concurrent.
    Returns {step: build_seconds}. Idempotent and cheap when warm:
    each accessor returns a plain scan if the store already holds the
    dataset's fingerprint, so a scheduled rerun costs milliseconds."""
    import time as _time
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    timings: dict[str, float] = {}
    done: set[str] = set()
    pending: dict[str, tuple[str, ...]] = {
        s: deps for s, _, deps in MV_STORE_DAG
    }

    def run_step(step: str) -> None:
        t0 = _time.perf_counter()
        MV_STEPS[step][0](spark, sf_dir)
        timings[step] = round(_time.perf_counter() - t0, 3)

    # Event-driven scheduling, no wave barriers (ADVICE r7): each step
    # is submitted the moment its OWN deps are done, so one slow step
    # (d2_sigs) no longer delays steps whose deps completed long ago
    # (d19_clusters can start while d9_clusters is still running).
    with ThreadPoolExecutor(max_workers=max_workers) as pool:
        in_flight: dict = {}
        while pending or in_flight:
            ready = [s for s, deps in pending.items() if done >= set(deps)]
            for s in ready:
                in_flight[pool.submit(run_step, s)] = s
                del pending[s]
            if not in_flight:
                raise RuntimeError(f"MV DAG cycle or missing dep: {pending}")
            finished, _ = wait(in_flight, return_when=FIRST_COMPLETED)
            for fut in finished:
                fut.result()
                done.add(in_flight.pop(fut))
    return timings


def refresh_window(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    mv_name: str,
    start_date: str,
    end_date: str,
) -> str:
    """Targeted recompute: rebuild ONLY [start_date, end_date] of one
    MV (dynamic partition overwrite touches just those date
    partitions) — the override-write recompute scope
    (`app.py:6105-6215`)."""
    query_name = dict(MV_GRAPH)[mv_name]
    path = os.path.join(out_dir, mv_name)
    df = _build(spark, sf_dir, query_name)
    window = df.where(F.col("date").between(start_date, end_date))
    replace_window(spark, path, window, "date")
    return path

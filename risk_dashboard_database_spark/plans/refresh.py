"""MV-store refresh DAG (SURVEY §4 item 1).

The reference rebuilds its MVs in strict dependency order
(`sql/rebuild_serp_feature_mvs.sql:10-30`: feature MVs ->
entity_daily_metrics -> weekly rollup -> anomalies). Here the MVs live
in the content-addressed store (`plans/relcache.py`), built lazily by
the first query that touches them — correct, but at 100x scale
first-touch costs run 17-116 s and land on an arbitrary user query.
`refresh_all` pre-pays every one of them in dependency order, with
independent steps built concurrently (Spark's scheduler is
thread-safe; each thread submits independent jobs).

The DAG is generated from the `relcache.mv_step` declarations, one on
each accessor that owns store keys: calling the accessor IS the build
(cached_relation writes the parquet eagerly on first call). A step's
deps name the steps whose MVs its build reads, so each parent is
store-warm (a plain scan) when the child compiles its build plan.
Every declaring module is imported by `plans/__init__` before this
module, so MV_STEPS is complete here.

The store cannot serve a stale slice (a changed dataset gets a new
fingerprint, hence new keys), so there is no per-window refresh; the
reference's targeted recompute on override writes
(`app.py:6105-6215`) is `sinks.merge_upsert_partitioned` ->
`replace_window`. Two processes refreshing one store stay correct
through the atomic publish: they duplicate build work, never a
half-written MV.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .relcache import MV_STEPS

# Steps refresh_all builds at once.
MAX_WORKERS = 4


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


def refresh_all(spark: SparkSession, sf_dir: str) -> dict[str, float]:
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
    with ThreadPoolExecutor(max_workers=MAX_WORKERS) as pool:
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

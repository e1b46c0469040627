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
# Each step names the relcache keys it materializes and the accessor
# that owns them; calling the accessor IS the build — cached_relation
# writes the parquet eagerly on first call, so no extra action is
# needed. Steps whose MVs derive from other MVs declare deps so the
# parent is always store-warm (and hence a plain scan) when the child
# compiles its build plan.
# r15 (guide §2.6, VERDICT r14 #7): the old single "layouts" step
# warmed all five fact tables SEQUENTIALLY and gated nearly every
# other step behind the whole batch, serializing the refresh start.
# Each table's re-layout is now its own step (independent — they run
# concurrently) and every consumer depends only on the table(s) its
# build actually scans, so d2_sigs starts the moment documents'
# layout exists instead of waiting for lineitem's. The layout_* key
# names keep the wildcard convention: the re-layout seam is
# scale-gated, so tiny datasets legitimately materialize nothing.
_LAYOUT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

MV_STORE_DAG: list[tuple[str, tuple[str, ...], tuple[str, ...]]] = [
    # step            produces (relcache keys)            deps (steps)
    *[
        (f"layout_{t}", (f"layout_{t}*",), ())
        for t in _LAYOUT_TABLES
    ],
    ("user_day",      ("user_day",),                      ("layout_events",)),
    ("override_items", ("override_items",),               ("layout_events",)),
    # narrative keys at _v2 since r14: the full-regex-surface port
    # changed the narr_cand build formula, and the two relations built
    # ON it re-key with it (the MV store content-addresses datasets,
    # not code — a stale key would silently serve pre-port tags).
    ("narr_cand",     ("narr_cand_v2",),                  ("layout_events",)),
    ("narrative_rows", ("narrative_rows_v2",),            ("narr_cand",)),
    ("narr_anch90",   ("narr_anch90_v2",),                ("narrative_rows",)),
    # u3_evidence dropped in r14: the aligned union is no longer
    # stored — u3_codes/u3_enc fold it in-flight (see u3_evidence_union)
    ("u3",            ("u3_codes", "u3_enc"),
     ("layout_lineitem", "layout_orders", "layout_events")),
    ("d2_sigs",       ("d2_toks", "d2_sigs"),             ("layout_documents",)),
    ("d9_clusters",   ("d9_clusters",),                   ("d2_sigs",)),
    ("dup_edges",     ("dup_edges",),                     ("d2_sigs",)),
    ("d50_rank1",     ("d50_rank1",),                     ("dup_edges",)),
    ("d3_normed",     ("d3_normed",),                     ("layout_embeddings",)),
    ("d19_clusters",  ("d19_clusters_v2",),               ("d3_normed",)),
    # d8_assigned (the every-100th-vector index, _ivf_assigned) serves
    # only the cell-local ops d44/d44b/d47 and the streaming
    # semantic-decontamination gate; the IVF/PQ search family reads
    # trained_assigned.
    ("d8_assigned",   ("d8_assigned_v2",),                ("layout_embeddings",)),
    ("d49_codebook",  ("d49_codebook_v3",),               ("layout_embeddings",)),
    ("trained_assigned", ("ivf_trained_assigned_v2",),       ("d49_codebook",)),
    ("d15_grams",     ("d15_grams",),                     ("layout_documents",)),
    ("d30_grams",     ("d30_grams",),                     ("layout_documents",)),
    ("t_tri_grams",   ("t_tri_grams",),                   ("layout_documents",)),
    ("t_word_tf",     ("t_word_tf",),                     ("layout_documents",)),
    ("d43_lm_score",  ("d43_doc_lm_score",),              ("layout_documents",)),
]


def _mv_warmer(step: str):
    """Accessor that owns the step's relcache key(s). Imported lazily
    to keep module import light and avoid cycles."""
    from ..tables import load_table
    from . import dedup, endpoints, narrative, overrides, textstats, unions
    from .common import user_day as user_day_mv

    if step.startswith("layout_"):
        table = step.removeprefix("layout_")
        return lambda spark, sf_dir: load_table(spark, sf_dir, table)

    return {
        "user_day": user_day_mv,
        "override_items": overrides.items,
        "narr_cand": narrative.narrative_candidates,
        "narrative_rows": endpoints._narrative_rows,
        "narr_anch90": endpoints._anchored_win90,
        "u3": unions.u3_evidence_union,
        "d2_sigs": dedup.d2_minhash_pairs,
        "d9_clusters": dedup.d9_dedup_clusters,
        "dup_edges": dedup._dup_edges,
        "d50_rank1": dedup._d50_rank1,
        "d19_clusters": dedup.d19_embedding_clusters,
        "d3_normed": dedup._normed_embeddings,
        "d8_assigned": dedup._ivf_assigned,
        "d49_codebook": dedup._d49_codebook,
        "trained_assigned": dedup._trained_assigned,
        "d15_grams": dedup._decon_grams,
        "d30_grams": dedup._span_grams,
        "t_tri_grams": textstats.t_ngram_docfreq,
        "t_word_tf": textstats._word_tf,
        "d43_lm_score": dedup._d43_doc_scores,
    }[step]


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
        _mv_warmer(step)(spark, sf_dir)
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

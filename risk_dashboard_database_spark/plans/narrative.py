"""Narrative tagging rollup + temporal operators (SURVEY §2.9 T1/T3,
§2.5 W6/W9, §2.4 A10/A11 applied).

T1 ports `dashboard_app/narrative_runtime.py:448-548`:
  per (date, entity): candidates = negative, non-finance-routine
  items; per-item regex tagging; volume gate (>=2 candidates);
  majority vote ordered by (-count, canonical tag order); 'Other'
  fallback only when >=2 candidates matched no tag.

The Spark side tags titles with the real regex matchers; every oracle
derives expected tags from the k phrase wheel (plans/synth.py) — no
shared code path.

Scale notes: T1 is two hash aggregations over (date, entity[, tag])
— bounded per-group state, no Python. W6/W9 are window/island
compositions on the entity key: one shuffle each.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.sessionize import episodes
from ..tables import load_table
from .common import USER_DAY_CTE, user_day
from .registry import query
from .relcache import cached_relation, mv_step
from .synth import K_SQL, k_col, source_host_col, title_col
from ..functions.urls import is_financial_routine

DATE_FMT = "yyyy-MM-dd"

# Canonical tag order (`narrative_runtime.py:8-33`): crisis tags first,
# then non-crisis; vote ties break toward the earlier tag.
TAG_ORDER = [
    "Workforce Reductions",
    "Accidents & Disasters",
    "Data Breaches",
    "Activist Investor Interest",
    "Legal & Regulatory",
    "Unforced Errors",
    "Labor Disputes",
    "CEO Departures (firings, resignations)",
    "Fraud",
    "Other",
    "Rebranding",
    "Mergers and acquisitions",
    "Planned Executive Turnover",
]
CRISIS_TAGS = set(TAG_ORDER[:10])

def narrative_tag(
    title: Column,
    snippet: Column | None = None,
    url: Column | None = None,
    source: Column | None = None,
) -> Column:
    """Item-level primary narrative tag under the reference's FULL
    regex surface — all 30 compiled families of
    `narrative_runtime.py:35-219` including the LOW_PRIORITY_*
    suppressors, via `functions/narrative_rules.py`. NULL when the
    story is suppressed as low-priority business news (e.g. a pure
    layoff headline with no crisis/legal term), when nothing matches,
    or when the haystack is empty; otherwise the first match in the
    classify append order (crisis families first —
    `narrative_runtime.py:384-404`).

    Convenience single-expression form; the corpus-path MV build below
    binds each family flag to a column first (codegen does not CSE
    repeated rlikes)."""
    from ..functions.narrative_rules import family_flags, primary_tag_from_flags

    return primary_tag_from_flags(family_flags(title, snippet, url, source))


def _tag_order_col(tag: Column) -> Column:
    out = F.lit(len(TAG_ORDER))
    for i, t in enumerate(reversed(TAG_ORDER)):
        out = F.when(tag == t, F.lit(len(TAG_ORDER) - 1 - i)).otherwise(out)
    return out


# Oracle-side: expected tag per phrase index (hand-derived under the
# FULL reference semantics; phrase 3 'ceo resigns abruptly' -> CEO
# Departures, etc.). Phrase 0 'massive layoffs announced' matches the
# workforce family but is SUPPRESSED by the low-priority workforce
# suppressor (`narrative_runtime.py:281-287`: workforce term with no
# crisis-blocker / legal-enforcement term is routine business news),
# so it lands in the unmatched pool — the r14 full-surface port's one
# phrase-wheel change, which exercises the suppressor leg end-to-end.
_PHRASE_TAG_SQL = """
    CASE ({k}) % 11
      WHEN 0 THEN NULL
      WHEN 1 THEN 'Data Breaches'
      WHEN 2 THEN 'Legal & Regulatory'
      WHEN 3 THEN 'CEO Departures (firings, resignations)'
      WHEN 4 THEN 'Fraud'
      WHEN 5 THEN 'Accidents & Disasters'
      WHEN 6 THEN 'Labor Disputes'
      WHEN 7 THEN 'Activist Investor Interest'
      ELSE NULL
    END
"""

_TAG_ORDER_SQL = (
    "CASE tag "
    + " ".join(f"WHEN '{t}'" + f" THEN {i}" for i, t in enumerate(TAG_ORDER))
    + " ELSE 99 END"
)


@mv_step("narr_cand", keys=("narr_cand_v2",), deps=("layout_events",))
def narrative_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The regex-tagged candidate relation (date, user_id, tag — tag
    NULL when no family matched OR a low-priority suppressor fired),
    stored through the MV seam: the 30-family regex pass over the fact
    table is by far the most expensive narrative stage and every
    consumer (t1, e14's overlay, and the narrative_rows relation
    endpoints build on) needs the same rows — the reference likewise
    tags at ingest and stores the tag column
    (`narrative_runtime.py:448-548`).

    Haystack = title + source host, mirroring the reference's
    [title, snippet, source, url] assembly for the legs the synthetic
    schema carries (its snippet/url contribute no matcher terms).
    Build shape: three stacked narrow projections — (1) bind the
    title/source CASE wheels once, (2) one rlike per regex family into
    a bound boolean column (codegen does not CSE repeated rlikes, and
    the crisis-blocker family feeds six suppressor combinations),
    (3) combine the booleans into the tag. Still one scan, map-only."""
    from ..functions.narrative_rules import family_flags, primary_tag_from_flags

    def _build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        k = k_col()
        title = title_col(k)
        src = source_host_col(k)
        # r14 (guide §2.5/§6.1): the scan-stage work here (title/source
        # CASE wheels + the finance-routine screen's two
        # large-alternation rlikes) parallelizes via the events
        # re-layout seam (tables.py — the single-split source file was
        # the bottleneck: 3.39 s min single-task at sf0.1). The guarded
        # repartition below additionally spreads the 30-family regex
        # pass over all cores; it moves only the four narrow bound
        # columns and is a no-op wherever the scan already arrives in
        # >= defaultParallelism splits.
        bound = ev.where(
            (F.col("event_type") == "error")
            & ~is_financial_routine(title, src)
        ).select(
            F.col("ts").cast("date").alias("date"),
            "user_id",
            title.alias("__title"),
            src.alias("__src"),
        )
        n = spark.sparkContext.defaultParallelism
        if bound.rdd.getNumPartitions() < n:
            bound = bound.repartition(n)
        flags = family_flags(F.col("__title"), source=F.col("__src"))
        flagged = bound.select(
            "date",
            "user_id",
            *[c.alias(f"__f_{name}") for name, c in flags.items()],
        )
        bound_flags = {name: F.col(f"__f_{name}") for name in flags}
        return flagged.select(
            "date",
            "user_id",
            primary_tag_from_flags(bound_flags).alias("tag"),
        )

    return cached_relation("narr_cand_v2", sf_dir, _build)



@query(
    "t1_narrative_rollup",
    oracle=f"""
    WITH cand AS (
      SELECT CAST(ts AS DATE) AS date, user_id,
             {_PHRASE_TAG_SQL.format(k=K_SQL)} AS tag
      FROM events
      WHERE event_type = 'error'
        AND NOT (({K_SQL}) % 11 IN (8, 9) OR ({K_SQL}) % 9 = 0
                 OR ({K_SQL}) % 13 = 0)
    ),
    stats AS (
      SELECT date, user_id,
             COUNT(*) AS negative_item_count,
             COUNT(*) FILTER (WHERE tag IS NULL) AS unmatched
      FROM cand GROUP BY 1, 2
    ),
    votes AS (
      SELECT date, user_id, tag, COUNT(*) AS n
      FROM cand WHERE tag IS NOT NULL
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT date, user_id, tag, n,
             ROW_NUMBER() OVER (PARTITION BY date, user_id
                                ORDER BY n DESC, {_TAG_ORDER_SQL}) AS rn
      FROM votes
    )
    SELECT STRFTIME(s.date, '%Y-%m-%d') AS date,
           s.user_id,
           CAST(CASE WHEN s.negative_item_count >= 2 THEN 1 ELSE 0 END AS INTEGER) AS gate_met,
           CAST(s.negative_item_count AS BIGINT) AS negative_item_count,
           CASE WHEN s.negative_item_count < 2 THEN NULL
                WHEN b.tag IS NOT NULL THEN b.tag
                WHEN s.unmatched >= 2 THEN 'Other'
                ELSE NULL END AS primary_tag,
           CAST(CASE WHEN s.negative_item_count < 2 THEN NULL
                WHEN b.tag IS NOT NULL OR s.unmatched >= 2 THEN 1
                ELSE NULL END AS INTEGER) AS is_crisis,
           CAST(CASE WHEN s.negative_item_count < 2 THEN 0
                WHEN b.tag IS NOT NULL THEN b.n
                WHEN s.unmatched >= 2 THEN s.unmatched
                ELSE 0 END AS BIGINT) AS supporting_negative_items,
           CAST(s.unmatched AS BIGINT) AS unmatched_negative_items
    FROM stats s
    LEFT JOIN best b ON b.date = s.date AND b.user_id = s.user_id AND b.rn = 1
    """,
)
def t1_narrative_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrative day-rollup (T1): regex-tag candidates, volume gate,
    majority vote with canonical tie-break, 'Other' fallback at >=2
    unmatched — `narrative_runtime.py:448-548`. All phrase tags here
    sit in the crisis group, so is_crisis is 1 whenever a primary tag
    resolves (non-crisis tags are exercised in unit tests)."""
    cand = narrative_candidates(spark, sf_dir)
    stats = cand.groupBy("date", "user_id").agg(
        F.count("*").alias("negative_item_count"),
        F.count(F.when(F.col("tag").isNull(), 1)).alias("unmatched"),
    )
    votes = (
        cand.where(F.col("tag").isNotNull())
        .groupBy("date", "user_id", "tag")
        .agg(F.count("*").alias("n"))
        .withColumn("ord", -_tag_order_col(F.col("tag")))
    )
    best = votes.groupBy("date", "user_id").agg(
        F.expr("max_by(tag, struct(n, ord))").alias("best_tag"),
        F.max(F.struct("n", "ord")).getField("n").alias("best_n"),
    )
    gate = F.col("negative_item_count") >= 2
    out = stats.join(best, ["date", "user_id"], "left")
    return out.select(
        F.date_format("date", DATE_FMT).alias("date"),
        "user_id",
        gate.cast("int").alias("gate_met"),
        "negative_item_count",
        F.when(~gate, F.lit(None))
        .when(F.col("best_tag").isNotNull(), F.col("best_tag"))
        .when(F.col("unmatched") >= 2, F.lit("Other"))
        .alias("primary_tag"),
        F.when(~gate, F.lit(None))
        .when(
            F.col("best_tag").isNotNull() | (F.col("unmatched") >= 2), F.lit(1)
        )
        .cast("int")
        .alias("is_crisis"),
        F.when(~gate, F.lit(0))
        .when(F.col("best_tag").isNotNull(), F.col("best_n"))
        .when(F.col("unmatched") >= 2, F.col("unmatched"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("supporting_negative_items"),
        F.col("unmatched").cast("long").alias("unmatched_negative_items"),
    )


@query(
    "t3_first_wins_dedup",
    oracle=f"""
    WITH evidence AS (
      SELECT event_id, user_id,
             CASE WHEN ({K_SQL}) % 4 <> 0
                  THEN 'u' || CAST(({K_SQL}) % 31 AS VARCHAR)
                  ELSE event_type || '::news' || CAST(({K_SQL}) % 20 AS VARCHAR)
             END AS dedup_key
      FROM events
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, dedup_key
                                   ORDER BY event_id) AS rn
      FROM evidence
    )
    SELECT event_id, user_id, dedup_key FROM ranked WHERE rn = 1
    """,
)
def t3_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence dedup, order-preserving first-wins (T3): key = url if
    present else title::source; the FIRST row in input order survives —
    `crisis_event_rollups.py:259-271`. Input order = event_id (the
    reference iterates rows in fetch order; a deterministic engine
    needs an explicit order column)."""
    ev = load_table(spark, sf_dir, "events")
    k = k_col()
    key = F.when(
        k % 4 != 0, F.concat(F.lit("u"), (k % 31).cast("string"))
    ).otherwise(
        F.concat(F.col("event_type"), F.lit("::news"), (k % 20).cast("string"))
    )
    w = Window.partitionBy("user_id", "dedup_key").orderBy("event_id")
    return (
        ev.select("event_id", "user_id", key.alias("dedup_key"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "w6_anchored_windows",
    oracle=f"""
    WITH {USER_DAY_CTE},
    numbered AS (
      SELECT user_id, date, total,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY date DESC) - 1 AS INTEGER) AS rn
      FROM user_day
    )
    SELECT user_id,
           CAST(rn // 7 AS INTEGER) AS week_idx,
           STRFTIME(MIN(date), '%Y-%m-%d') AS window_start,
           STRFTIME(MAX(date), '%Y-%m-%d') AS window_end,
           COUNT(*) AS days_observed,
           CAST(SUM(total) AS BIGINT) AS total_events
    FROM numbered
    WHERE rn < 28
    GROUP BY user_id, CAST(rn // 7 AS INTEGER)
    """,
)
def w6_anchored_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchored trailing 7-day windows (W6): windows anchored every 7
    DISTINCT active days back from each entity's latest day, tolerant
    of calendar gaps — `app.py:1390-1440`
    (build_trailing_window_rollups). Four windows per entity."""
    ud = user_day(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("date").desc())
    numbered = ud.withColumn("rn", F.row_number().over(w) - 1).where(F.col("rn") < 28)
    return (
        numbered.withColumn("week_idx", (F.col("rn") / 7).cast("int"))
        .groupBy("user_id", "week_idx")
        .agg(
            F.date_format(F.min("date"), DATE_FMT).alias("window_start"),
            F.date_format(F.max("date"), DATE_FMT).alias("window_end"),
            F.count("*").alias("days_observed"),
            F.sum("total").cast("long").alias("total_events"),
        )
    )


@query(
    "w9_duration_asof",
    oracle=f"""
    WITH {USER_DAY_CTE},
    before AS (SELECT user_id, date FROM user_day WHERE date <= DATE '2024-01-20'),
    starts AS (
      SELECT d.user_id, d.date FROM before d
      WHERE NOT EXISTS (SELECT 1 FROM before p
                        WHERE p.user_id = d.user_id AND p.date = d.date - 1)
    ),
    active AS (SELECT DISTINCT user_id FROM user_day WHERE date = DATE '2024-01-20')
    SELECT u.user_id,
           CAST(CASE WHEN a.user_id IS NOT NULL THEN
             DATE '2024-01-20'
               - (SELECT MAX(s.date) FROM starts s WHERE s.user_id = u.user_id)
               + 1
           ELSE 0 END AS INTEGER) AS current_duration
    FROM (SELECT DISTINCT user_id FROM user_day) u
    LEFT JOIN active a ON a.user_id = u.user_id
    """,
)
def w9_duration_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Current-duration-as-of-date (W9): walk back from the target date
    while days stay consecutive (`app.py:3850-3859`) == the length of
    the gaps-and-islands episode containing the target. Oracle uses an
    independent gap-start + correlated-max formulation."""
    target = "2024-01-20"
    ud = user_day(spark, sf_dir)
    eps = episodes(ud.where(F.col("date") <= F.lit(target)), ["user_id"], "date")
    containing = eps.where(
        (F.col("episode_start") <= F.lit(target)) & (F.col("episode_end") == F.lit(target))
    ).select(
        "user_id",
        (F.datediff(F.lit(target).cast("date"), F.col("episode_start")) + 1).alias(
            "current_duration"
        ),
    )
    users = ud.select("user_id").distinct()
    return users.join(containing, "user_id", "left").select(
        "user_id",
        F.coalesce("current_duration", F.lit(0)).cast("int").alias("current_duration"),
    )

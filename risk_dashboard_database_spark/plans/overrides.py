"""Override-resolution MV family (SURVEY §2.2 P2, §2.3 J2/J4, §2.4
A2/A3/A4).

The reference's single most pervasive expression is the override-
resolution coalesce: human corrections live in small override tables
LEFT-joined onto facts, and every MV/endpoint reads
``coalesce(override, url_override, llm, raw)``
(`sql/serp_feature_daily_mv.sql:8-13`, `sql/article_daily_counts_mv.sql:11-16`,
4-level variant `dashboard_app/app.py:3397-3405`).

Synthetic mapping: `events` rows are the feature items. Label layers
are derived deterministically from the row itself (k = props->k):

- raw_label      : from event_type (purchase/signup=positive,
                   view/click=neutral, error=negative)
- llm_label      : k%3 -> label, NULL when k%5=0 (nullable layer)
- item override  : rows with event_id%23=0 carry an item-level
                   override ((k+1)%3 -> label)
- url override   : "url_hash" analog is k%37; hash buckets with
                   bucket%11=3 carry a key-level override
                   (bucket%3 -> label), keyed (user_id, event_type,
                   hash_bucket) like `serp_feature_url_overrides`
- control layers : raw k%4 (NULL at 3), llm k%2 (NULL when k%6=0),
                   item override k%2 on override rows

Scale notes: override tables are tiny by construction (human edits),
so both LEFT joins broadcast — zero extra shuffles over the base agg.
The daily MV is one hash-agg shuffle; the index grain re-aggregates
the (already tiny) daily MV, exactly like
`sql/serp_feature_daily_index_mv.sql` re-aggregates the feature MV.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .registry import query
from .relcache import cached_relation, mv_step

DATE_FMT = "yyyy-MM-dd"

_LABELS = {0: "negative", 1: "neutral", 2: "positive"}


def _label_case(expr: F.Column) -> F.Column:
    c = F.when(expr == 0, "negative").when(expr == 1, "neutral")
    return c.otherwise("positive")


@mv_step("override_items", keys=("override_items",), deps=("layout_events",))
def items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact side: events + derived raw/llm label+control layers.

    Cached per dataset (`relcache`): the reference stores these label
    layers as ingest-time columns on the fact tables themselves (one
    enrichment pass at write time); here the whole override family
    (p2/a2/a3/j4/e5 and both override tables) reads the same enriched
    relation, so the JSON k-parse + label derivation runs once per
    dataset instead of once per consumer."""
    return cached_relation("override_items", sf_dir, lambda: _build_items(spark, sf_dir))


def _build_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.select(
        "event_id",
        F.col("ts").cast("date").alias("date"),
        "user_id",
        "event_type",
        k.alias("k"),
        (k % 37).alias("hash_bucket"),
        F.when(F.col("event_type").isin("purchase", "signup"), "positive")
        .when(F.col("event_type").isin("view", "click"), "neutral")
        .otherwise("negative")
        .alias("raw_label"),
        F.when(k % 5 == 0, F.lit(None)).otherwise(_label_case(k % 3)).alias("llm_label"),
        F.when(k % 4 == 3, F.lit(None))
        .otherwise(
            F.when(k % 4 == 0, "controlled").when(k % 4 == 1, "earned").otherwise("other")
        )
        .alias("raw_control"),
        F.when(k % 6 == 0, F.lit(None))
        .otherwise(F.when(k % 2 == 0, "controlled").otherwise("earned"))
        .alias("llm_control"),
    )


def item_overrides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-keyed override rows (`serp_feature_item_overrides` analog,
    `sql/schema.sql:362-377`): sparse human corrections."""
    it = items(spark, sf_dir)
    return it.where(F.col("event_id") % 23 == 0).select(
        "event_id",
        _label_case((F.col("k") + 1) % 3).alias("override_label"),
        F.when(F.col("k") % 2 == 0, "controlled").otherwise("earned").alias(
            "override_control"
        ),
    )


def url_overrides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level override rows (`serp_feature_url_overrides` analog —
    compound natural key, `sql/serp_feature_daily_mv.sql:13`)."""
    it = items(spark, sf_dir)
    return (
        it.where(F.col("hash_bucket") % 11 == 3)
        .select("user_id", "event_type", "hash_bucket")
        .distinct()
        .withColumn("url_override_label", _label_case(F.col("hash_bucket") % 3))
    )


# Shared DuckDB CTEs mirroring the derivations (independent SQL spelling).
ITEMS_CTE = """
items AS (
  SELECT event_id,
         CAST(ts AS DATE) AS date,
         user_id,
         event_type,
         CAST(props->>'$.k' AS INTEGER) AS k,
         CAST(props->>'$.k' AS INTEGER) % 37 AS hash_bucket,
         CASE WHEN event_type IN ('purchase','signup') THEN 'positive'
              WHEN event_type IN ('view','click') THEN 'neutral'
              ELSE 'negative' END AS raw_label,
         CASE WHEN CAST(props->>'$.k' AS INTEGER) % 5 = 0 THEN NULL
              ELSE CASE CAST(props->>'$.k' AS INTEGER) % 3
                     WHEN 0 THEN 'negative' WHEN 1 THEN 'neutral'
                     ELSE 'positive' END END AS llm_label,
         CASE WHEN CAST(props->>'$.k' AS INTEGER) % 4 = 3 THEN NULL
              ELSE CASE CAST(props->>'$.k' AS INTEGER) % 4
                     WHEN 0 THEN 'controlled' WHEN 1 THEN 'earned'
                     ELSE 'other' END END AS raw_control,
         CASE WHEN CAST(props->>'$.k' AS INTEGER) % 6 = 0 THEN NULL
              ELSE CASE WHEN CAST(props->>'$.k' AS INTEGER) % 2 = 0
                        THEN 'controlled' ELSE 'earned' END END AS llm_control
  FROM events
),
item_overrides AS (
  SELECT event_id,
         CASE (k + 1) % 3 WHEN 0 THEN 'negative' WHEN 1 THEN 'neutral'
              ELSE 'positive' END AS override_label,
         CASE WHEN k % 2 = 0 THEN 'controlled' ELSE 'earned' END AS override_control
  FROM items WHERE event_id % 23 = 0
),
url_overrides AS (
  SELECT DISTINCT user_id, event_type, hash_bucket,
         CASE hash_bucket % 3 WHEN 0 THEN 'negative' WHEN 1 THEN 'neutral'
              ELSE 'positive' END AS url_override_label
  FROM items WHERE hash_bucket % 11 = 3
)
"""

_EFFECTIVE = "COALESCE(ov.override_label, uov.url_override_label, i.llm_label, i.raw_label)"


@query(
    "p2_override_daily",
    oracle=f"""
    WITH {ITEMS_CTE}
    SELECT STRFTIME(i.date, '%Y-%m-%d') AS date,
           i.user_id,
           i.event_type AS feature_type,
           COUNT(*) AS total_count,
           CAST(SUM(CASE WHEN {_EFFECTIVE} = 'positive' THEN 1 ELSE 0 END) AS BIGINT) AS positive_count,
           CAST(SUM(CASE WHEN {_EFFECTIVE} = 'neutral'  THEN 1 ELSE 0 END) AS BIGINT) AS neutral_count,
           CAST(SUM(CASE WHEN {_EFFECTIVE} = 'negative' THEN 1 ELSE 0 END) AS BIGINT) AS negative_count,
           ROUND(CAST(SUM(CASE WHEN {_EFFECTIVE} = 'negative' THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS neg_pct
    FROM items i
    LEFT JOIN item_overrides ov ON ov.event_id = i.event_id
    LEFT JOIN url_overrides uov
      ON uov.user_id = i.user_id AND uov.event_type = i.event_type
     AND uov.hash_bucket = i.hash_bucket
    GROUP BY i.date, i.user_id, i.event_type
    """,
)
def p2_override_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Override-resolution daily MV (P2 + J2 + A3 feature grain):
    4-level `coalesce(item_override, url_override, llm, raw)` exactly as
    `sql/serp_feature_daily_mv.sql:8-13` / `app.py:3397-3405`, then the
    sentiment pivot-count per (date, entity, feature_type).

    Both override sides are broadcast (tiny) — verify with .explain:
    two BroadcastHashJoins feeding one hash aggregate."""
    it = items(spark, sf_dir)
    ov = F.broadcast(item_overrides(spark, sf_dir))
    uov = F.broadcast(url_overrides(spark, sf_dir))
    eff = F.coalesce("override_label", "url_override_label", "llm_label", "raw_label")
    cnt = lambda v: F.sum(F.when(eff == v, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        it.join(ov, "event_id", "left")
        .join(uov, ["user_id", "event_type", "hash_bucket"], "left")
        .groupBy(
            F.date_format("date", DATE_FMT).alias("date"),
            "user_id",
            F.col("event_type").alias("feature_type"),
        )
        .agg(
            F.count("*").alias("total_count"),
            cnt("positive").alias("positive_count"),
            cnt("neutral").alias("neutral_count"),
            cnt("negative").alias("negative_count"),
            F.round(
                F.sum(F.when(eff == "negative", 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("neg_pct"),
        )
    )


@query(
    "a2_control_counts",
    oracle=f"""
    WITH {ITEMS_CTE}
    SELECT STRFTIME(i.date, '%Y-%m-%d') AS date,
           i.user_id,
           COUNT(*) AS total,
           CAST(COUNT(*) FILTER (WHERE COALESCE(ov.override_control, i.llm_control, i.raw_control) = 'controlled') AS BIGINT) AS controlled,
           CAST(COUNT(*) FILTER (WHERE COALESCE(ov.override_control, i.llm_control, i.raw_control) IS NOT NULL) AS BIGINT) AS classified,
           CAST(GREATEST(COUNT(*) - COUNT(*) FILTER (WHERE COALESCE(ov.override_control, i.llm_control, i.raw_control) = 'controlled'), 0) AS BIGINT) AS uncontrolled
    FROM items i
    LEFT JOIN item_overrides ov ON ov.event_id = i.event_id
    GROUP BY i.date, i.user_id
    """,
)
def a2_control_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Control-class counts with FILTER semantics (A2):
    `sql/serp_daily_counts_mv.sql:10-14` 3-level control coalesce +
    `sql/serp_feature_control_daily_mv.sql:7-13` count FILTER over
    non-null classes, + the `greatest(total-controlled, 0)`
    uncontrolled fill from `sql/entity_daily_metrics_v.sql:32`."""
    it = items(spark, sf_dir)
    ov = F.broadcast(item_overrides(spark, sf_dir))
    eff = F.coalesce("override_control", "llm_control", "raw_control")
    controlled = F.sum(F.when(eff == "controlled", 1).otherwise(0)).cast("long")
    return (
        it.join(ov, "event_id", "left")
        .groupBy(F.date_format("date", DATE_FMT).alias("date"), "user_id")
        .agg(
            F.count("*").alias("total"),
            controlled.alias("controlled"),
            F.count(F.when(eff.isNotNull(), 1)).alias("classified"),
            F.greatest(F.count("*") - controlled, F.lit(0)).alias("uncontrolled"),
        )
    )


@query(
    "a3_feature_index",
    oracle=f"""
    WITH {ITEMS_CTE},
    daily AS (
      SELECT i.date, i.user_id, i.event_type,
             COUNT(*) AS total_count,
             SUM(CASE WHEN {_EFFECTIVE} = 'negative' THEN 1 ELSE 0 END) AS negative_count
      FROM items i
      LEFT JOIN item_overrides ov ON ov.event_id = i.event_id
      LEFT JOIN url_overrides uov
        ON uov.user_id = i.user_id AND uov.event_type = i.event_type
       AND uov.hash_bucket = i.hash_bucket
      GROUP BY i.date, i.user_id, i.event_type
    )
    SELECT STRFTIME(date, '%Y-%m-%d') AS date,
           event_type AS feature_type,
           CAST(COUNT(*) AS BIGINT) AS entity_count,
           CAST(SUM(total_count) AS BIGINT) AS total_count,
           CAST(SUM(negative_count) AS BIGINT) AS negative_count
    FROM daily
    GROUP BY date, event_type
    """,
)
def a3_feature_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-grain re-aggregation (A3): per (date, feature_type) sums
    of the per-entity daily MV — `sql/serp_feature_daily_index_mv.sql:1-12`,
    `app.py:3128-3139`. Re-aggs the daily result rather than rescanning
    facts (the MV dependency order of `rebuild_serp_feature_mvs.sql`)."""
    daily = p2_override_daily(spark, sf_dir)
    return daily.groupBy("date", "feature_type").agg(
        F.count("*").alias("entity_count"),
        F.sum("total_count").cast("long").alias("total_count"),
        F.sum("negative_count").cast("long").alias("negative_count"),
    )


@query(
    "j4_entity_daily_metrics",
    oracle=f"""
    WITH {ITEMS_CTE},
    article AS (
      SELECT i.date, i.user_id,
             COUNT(*) AS article_total,
             SUM(CASE WHEN COALESCE(ov.override_label, i.llm_label, i.raw_label) = 'negative'
                      THEN 1 ELSE 0 END) AS article_negative
      FROM items i
      LEFT JOIN item_overrides ov ON ov.event_id = i.event_id
      WHERE i.event_type IN ('purchase','signup')
      GROUP BY i.date, i.user_id
    ),
    serp AS (
      SELECT date, user_id,
             COUNT(*) AS serp_total,
             SUM(CASE WHEN COALESCE(llm_control, raw_control) = 'controlled'
                      THEN 1 ELSE 0 END) AS serp_controlled
      FROM items WHERE event_type IN ('view','click')
      GROUP BY date, user_id
    ),
    crisis AS (
      SELECT date, user_id,
             COUNT(*) FILTER (WHERE k % 7 = 0) AS crisis_risk_count
      FROM items WHERE event_type = 'error'
      GROUP BY date, user_id
    ),
    tops AS (
      SELECT date, user_id,
             COUNT(*) AS top_total,
             SUM(CASE WHEN COALESCE(llm_label, raw_label) = 'negative'
                      THEN 1 ELSE 0 END) AS top_negative
      FROM items WHERE event_type = 'click' AND hash_bucket % 2 = 0
      GROUP BY date, user_id
    ),
    entity_keys AS (
      SELECT date, user_id FROM article
      UNION SELECT date, user_id FROM serp
      UNION SELECT date, user_id FROM crisis
      UNION SELECT date, user_id FROM tops
    )
    SELECT STRFTIME(k.date, '%Y-%m-%d') AS date,
           k.user_id,
           CAST(COALESCE(a.article_total, 0) AS BIGINT) AS article_total,
           CAST(COALESCE(a.article_negative, 0) AS BIGINT) AS article_negative,
           CAST(COALESCE(s.serp_total, 0) AS BIGINT) AS serp_total,
           CAST(COALESCE(s.serp_controlled, 0) AS BIGINT) AS serp_controlled,
           CAST(GREATEST(COALESCE(s.serp_total, 0) - COALESCE(s.serp_controlled, 0), 0) AS BIGINT) AS serp_uncontrolled,
           CAST(COALESCE(c.crisis_risk_count, 0) AS BIGINT) AS crisis_risk_count,
           CAST(COALESCE(t.top_total, 0) AS BIGINT) AS top_total,
           CAST(COALESCE(t.top_negative, 0) AS BIGINT) AS top_negative
    FROM entity_keys k
    LEFT JOIN article a ON a.date = k.date AND a.user_id = k.user_id
    LEFT JOIN serp    s ON s.date = k.date AND s.user_id = k.user_id
    LEFT JOIN crisis  c ON c.date = k.date AND c.user_id = k.user_id
    LEFT JOIN tops    t ON t.date = k.date AND t.user_id = k.user_id
    """,
)
def j4_entity_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer-join emulation (J4 + A4): the reference unions the
    keys of 4 aggregates then LEFT-joins each back with coalesce-to-0
    fills (`sql/entity_daily_metrics_v.sql:122-167`).

    Spark-first formulation: instead of a key-union plus N join
    shuffles, union the branch aggregates column-wise (each branch
    contributes its own metric columns, nulls elsewhere) and re-agg on
    (date, entity) — ONE shuffle total, same semantics, no join skew.
    The oracle deliberately spells the literal key-union + 4 LEFT
    joins, so the two formulations check each other."""
    it = items(spark, sf_dir)
    ov = F.broadcast(item_overrides(spark, sf_dir))

    eff3 = F.coalesce("override_label", "llm_label", "raw_label")
    article = (
        it.where(F.col("event_type").isin("purchase", "signup"))
        .join(ov, "event_id", "left")
        .groupBy("date", "user_id")
        .agg(
            F.count("*").alias("article_total"),
            F.sum(F.when(eff3 == "negative", 1).otherwise(0)).alias("article_negative"),
        )
    )
    eff_ctrl = F.coalesce("llm_control", "raw_control")
    serp = (
        it.where(F.col("event_type").isin("view", "click"))
        .groupBy("date", "user_id")
        .agg(
            F.count("*").alias("serp_total"),
            F.sum(F.when(eff_ctrl == "controlled", 1).otherwise(0)).alias("serp_controlled"),
        )
    )
    crisis = (
        it.where(F.col("event_type") == "error")
        .groupBy("date", "user_id")
        .agg(F.count(F.when(F.col("k") % 7 == 0, 1)).alias("crisis_risk_count"))
    )
    eff2 = F.coalesce("llm_label", "raw_label")
    tops = (
        it.where((F.col("event_type") == "click") & (F.col("hash_bucket") % 2 == 0))
        .groupBy("date", "user_id")
        .agg(
            F.count("*").alias("top_total"),
            F.sum(F.when(eff2 == "negative", 1).otherwise(0)).alias("top_negative"),
        )
    )

    merged = (
        article.unionByName(serp, allowMissingColumns=True)
        .unionByName(crisis, allowMissingColumns=True)
        .unionByName(tops, allowMissingColumns=True)
        .groupBy("date", "user_id")
        .agg(
            *[
                F.coalesce(F.max(c), F.lit(0)).cast("long").alias(c)
                for c in [
                    "article_total",
                    "article_negative",
                    "serp_total",
                    "serp_controlled",
                    "crisis_risk_count",
                    "top_total",
                    "top_negative",
                ]
            ]
        )
    )
    return merged.select(
        F.date_format("date", DATE_FMT).alias("date"),
        "user_id",
        "article_total",
        "article_negative",
        "serp_total",
        "serp_controlled",
        F.greatest(F.col("serp_total") - F.col("serp_controlled"), F.lit(0)).alias(
            "serp_uncontrolled"
        ),
        "crisis_risk_count",
        "top_total",
        "top_negative",
    )

"""Shared intermediate builders used by several named queries.

`user_day` is the analog of the reference's per-(date, entity) daily
fact grain (`company_article_mentions_daily`): one row per (user_id,
calendar day) with class counts — the substrate for every window /
anomaly / crisis operator, exactly like the daily MVs are in the
reference (`sql/article_daily_counts_mv.sql`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import FACT_TABLES, load_table
from .relcache import cached_relation, mv_step

# One refresh step per fact table's re-layout (tables.py's scale-gated
# seam, so the keys are wildcards: tiny datasets write none). Declared
# here rather than in tables.py, which must stay importable without
# the plans package.
for _t in sorted(FACT_TABLES):
    mv_step(f"layout_{_t}", keys=(f"layout_{_t}*",))(
        lambda spark, sf_dir, t=_t: load_table(spark, sf_dir, t)
    )


@mv_step("user_day", keys=("user_day",), deps=("layout_events",))
def user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, day) counts: total / errors / purchases + exact
    decimal value sum. Single hash-agg over the events scan.

    Cached per dataset (`relcache`): this IS the reference's daily MV
    (`sql/article_daily_counts_mv.sql`) — a dozen window/anomaly/
    endpoint queries consume it, so the events aggregation runs once
    per dataset, exactly like the MV refresh, not once per query."""
    return cached_relation(
        "user_day", sf_dir, lambda: _build_user_day(spark, sf_dir)
    )


def _build_user_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flag = lambda t: F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long")  # noqa: E731
    return ev.groupBy("user_id", F.col("ts").cast("date").alias("date")).agg(
        F.count("*").alias("total"),
        flag("error").alias("errors"),
        flag("purchase").alias("purchases"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("value_dec"),
    )


USER_DAY_CTE = """
user_day AS (
  SELECT
    user_id,
    CAST(ts AS DATE) AS date,
    COUNT(*) AS total,
    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
    SUM(CAST(value AS DECIMAL(18,2))) AS value_dec
  FROM events
  GROUP BY 1, 2
)
"""

"""Structured Streaming daily rollup (SURVEY §2.10).

The reference is an incremental daily batch system; its
streaming-shaped semantics (daily tumbling windows, late-data-tolerant
idempotent upserts) map to Structured Streaming as: file source ->
event-time tumbling window + watermark -> aggregation. This module is
that mapping, exercised by tests against the batch result
(availableNow trigger == bounded replay).

Scale notes: the state store holds one row per (window, user) until
the watermark passes; with a 2-day watermark on daily windows, state
is bounded at ~2 days x |entities|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_events_stream(
    spark: SparkSession, events_dir: str, schema=None
) -> DataFrame:
    """readStream over an events parquet directory with the schema
    derived from the files themselves (a batch-read footer probe, and
    the `tables.table_probe` that tables.load_table reads). Testdata
    `ts` is plain parquet timestamp[us] and is read natively; if a
    source ever ships TIMESTAMP(NANOS) columns (read as long under the
    session's nanosAsLong guard), they are truncated to micros here
    exactly like the batch loaders do — so stream and batch always
    agree.

    To start the stream BEFORE any file has landed (the normal file-
    source pattern), pass `schema` explicitly — e.g.
    `tables.load_table(spark, sf_dir, "events").schema` — since an
    empty directory has nothing to probe."""
    from pyspark.sql.types import TimestampNTZType

    from ..tables import table_probe

    if schema is None:  # not truthiness: an explicit empty StructType must error below, not silently re-probe
        schema = spark.read.parquet(events_dir).schema
    ev = spark.readStream.schema(schema).parquet(events_dir)
    # Probe every file PRESENT AT DEFINITION TIME for TIMESTAMP(NANOS)
    # columns (read as long under the session guard) and truncate them
    # to micros like the batch loaders. The cast list is frozen when
    # the stream is defined — that is a property of any static stream
    # schema, not of this probe: a ns-typed file arriving LATER into a
    # natively-typed stream mismatches the declared schema and fails
    # the micro-batch loudly (never silently wrong values).
    for c in table_probe(events_dir).ns_cols:
        ev = ev.withColumn(c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS LONG))"))
    # Watermarks require TIMESTAMP (ltz); parquet timestamp[us] without
    # tz metadata reads as TIMESTAMP_NTZ. The session timezone is pinned
    # UTC (session.get_spark / tables.load_table), so this cast is
    # value-identical to the batch readers' ntz column.
    for f in schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            ev = ev.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return ev


def stream_daily_counts(
    spark: SparkSession,
    events_dir: str,
    watermark: str = "2 days",
    schema=None,
) -> DataFrame:
    """readStream over a parquet directory -> per-(day, user) class
    counts with late-data watermarking — the streaming twin of
    plans/common.user_day."""
    ev = read_events_stream(spark, events_dir, schema=schema)
    flag = lambda t: F.sum(F.when(F.col("event_type") == t, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "user_id")
        .agg(
            F.count("*").alias("total"),
            flag("error").alias("errors"),
            flag("purchase").alias("purchases"),
        )
        .select(
            F.col("w.start").cast("date").alias("date"),
            "user_id",
            "total",
            "errors",
            "purchases",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drain everything currently available into a memory sink and
    return the result as a batch DataFrame (bounded replay — how the
    tests and backfills consume the stream). complete for aggregation
    streams; append for row streams (dedup)."""
    from .quality import apply_trigger

    spark = stream_df.sparkSession
    q = apply_trigger(
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode),
        mode="backfill",
    ).start()
    q.awaitTermination()
    return spark.table(query_name)

"""SparkSession factory.

Tuned for correctness parity with the DuckDB oracle (UTC session time,
ANSI off so silent-null casts match Postgres-ish reference behavior)
and for scale (AQE on, skew-join handling, broadcast threshold sized
for dimension tables, Arrow for the few Pandas-UDF paths).

At 100 TB these same settings hold: AQE coalesces post-shuffle
partitions and splits skewed ones at runtime, so the plan survives a
1000x scale-up without hand-retuning `spark.sql.shuffle.partitions`
per query. Local test runs use local[N]; a cluster deployment only
swaps the master URL and executor sizing.

DataFrame debugging (`spark.python.sql.dataFrameDebugging.enabled`) is
off. With it on, PySpark wraps every Column method and `F.*` call to
record its Python call site in the JVM: about five py4j round trips and
a Python stack walk per call, which was most of plan construction's
cost on the vector-search queries. What is given up is the Python
call-site fragment in Spark's DataFrame query context. Classic mode
analyzes each DataFrame as it is built, so an analysis error still
raises on the builder line that caused it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Driver-JVM heap default: a quarter of host RAM, clamped to
    [4g, 24g] (24g was sized against the 100x scale runs; 4g keeps a
    tiny CI box functional). SPARK_GRAFT_DRIVER_MEM overrides."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{max(4, min(24, total_gb // 4))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    app_name: str = "risk-dashboard-database-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Env overrides: SPARK_GRAFT_CPUS sets local parallelism (default 32).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Shuffle partitions: match local core count so small-SF runs don't
    # schedule hundreds of empty tasks; AQE re-coalesces anyway. On a
    # real cluster this should be ~2-3x total cores (AQE shrinks it).
    shuffle_partitions = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching — the scale-survival switches.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dimension tables (region/nation/customer/supplier/part and the
        # reference's companies/ceos/overrides) are broadcast-size.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for the pandas_udf / applyInPandas paths (simhash,
        # fuzzy-match, multimodal decode).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Guard only: current testdata timestamps are plain timestamp[us]
        # (read natively). If a source ever ships TIMESTAMP(NANOS), this
        # reads them as long and the loaders' footer probe converts to
        # micros; on this Spark build the flag is otherwise a no-op.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Reference semantics are Postgres-style permissive casts; the
        # oracle comparison also depends on non-ANSI null-on-bad-cast.
        .config("spark.sql.ansi.enabled", "false")
        # Local mode runs everything in the driver JVM, so this IS the
        # executor heap: 8g OOM'd the 100x connected-components run
        # (50M cached edges + label generations) on a 128 GiB box.
        # Default scales with host RAM (a fixed 24g would drive a
        # 16 GiB contributor box into kernel OOM-kill instead of a
        # clean JVM OutOfMemoryError); takes effect only at JVM
        # launch (first getOrCreate in the process).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_heap()),
        )
        .config("spark.ui.enabled", "false")
        # No per-call call-site capture (module docstring). PySpark
        # reads this once per process, from the first active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

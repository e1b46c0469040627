"""Testdata table loaders.

The driver materializes a deterministic TPC-H-ish star schema plus an
`events` stream table, a `documents` corpus, and an `embeddings` table
(TESTDATA.md). Every named query in plans/ takes (spark, sf_dir) and
reads through these loaders.

Scale posture: each loader is a plain parquet scan, so Catalyst pushes
filters/projections into the scan (PushedFilters/ReadSchema). At 100 TB
the fact tables (lineitem/orders/events) would be date-partitioned on
disk; loaders stay identical because partition pruning happens at plan
time from the same predicates.

Ingest re-layout seam: the reference owns its storage layout (CSV ->
database load, `src/bulk_ingest.py`, `src/ingest_csvs.py`); our
analog detects fact
files whose row groups are too big to split (a single-row-group 600k-
row file is ONE scan task no matter the cluster size) and serves a
range-clustered multi-file copy from the durable MV store instead —
clustered on the table's natural time/key column so parquet min/max
stats keep pruning date-range predicates. Tables that already
parallelize are never touched, so at 100 TB (thousands of well-sized
files) the seam is a no-op probe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension-sized tables we always hint for broadcast in star joins.
DIM_TABLES = {"region", "nation", "customer", "supplier", "part"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Tables eligible for the ingest re-layout seam (below). Dims never
# need it. `embeddings` joined in r8: at the default sf it is 2k rows
# (below every threshold, so nothing changes), but a grown vector
# corpus in a single row group serializes the ANN kernels onto ONE
# task — and vector rows carry O(dim) kernel work each, so the
# rows-per-split knob is ~dim x smaller than for scalar facts.
FACT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}

# Re-layout only kicks in when a table is big enough to matter AND its
# files are effectively unsplittable (giant row groups): Spark assigns
# scan splits at row-group granularity, so a 600k-row single-row-group
# file is a single task no matter what maxPartitionBytes says.
# r14 retune (guide §2.5/§6.1, measured): the row thresholds were set
# for SCAN cost, but events rows carry heavy per-row COMPUTE (the
# 30-family regex pass, per-row JSON assembly, byte histograms), so a
# 100k-row single-split events file serializes multi-second expression
# work onto one task while 31 cores idle — measured 3.4 s for the
# narr_cand build at sf0.1. The target is deliberately COARSE (4
# splits at sf0.1): an A/B over the full suite showed that per-stage
# task overhead multiplies across the many small exchanges of the
# composed queries, so a 25-way split taxed stage-heavy tiny queries
# (d17/d18/d21/d22 +0.5 s each) more than it bought; 4-way keeps the
# compute-heavy paths parallel at ~1/6 the tax. documents was A/B'd
# the same way and REVERTED: its heavy consumers (shingles, token
# stats) are kernel-parallelized internally, so the relayout was pure
# stage tax for the d17/d18/d21/d22 family. The min-rows gate keeps
# tiny datasets (sf0.01 and below) untouched, and the seam remains a
# no-op at 100 TB, where ingest already produces thousands of
# well-sized files and the probe returns 0.
_RELAYOUT_MIN_ROWS = {"embeddings": 20_000, "events": 40_000}
_RELAYOUT_MIN_ROWS_DEFAULT = 150_000
_RELAYOUT_MONO_ROWS = {"embeddings": 10_000, "events": 20_000}
_RELAYOUT_MONO_ROWS_DEFAULT = 100_000  # rows/row-group that counts as unsplittable
_RELAYOUT_TARGET_ROWS = {"embeddings": 5_000, "events": 25_000}
_RELAYOUT_TARGET_ROWS_DEFAULT = 50_000  # rows per output split
_RELAYOUT_MAX_PARTS = 64

# Natural clustering column per fact: the re-layout range-partitions and
# sorts by it, so every output file is a key/time slice and parquet
# min/max stats keep pruning date-range predicates (a round-robin
# split would destroy the source's time clustering and force full
# scans for windowed queries). This mirrors the 100 TB layout, where
# facts are date-partitioned on disk.
_CLUSTER_KEY = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read
    them natively; we read them as long and truncate to micros (the
    same truncation DuckDB applies when it loads ns into its us-
    precision TIMESTAMP). Current testdata stores plain timestamp[us]
    everywhere, so this probe returns [] and reads are native — it
    stays as a guard so a ns-producing source can't silently break
    the batch/stream loaders again."""
    import pyarrow.parquet as pq
    import pyarrow.types as pat

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns"
    ]


# r15 (guide §5/§7.3 — driver-side overhead is real latency): load_table
# used to pay ~70 ms of pure plan-construction cost on EVERY call even
# when everything was warm — two conf round-trips, a pyarrow schema
# probe, a pyarrow footer-metadata probe, and a fresh spark.read — and
# the bench rebuilds each query's plan per timed run, so that tax landed
# on every query multiple times. The file probes are now memoized per
# path as (stat signature, values) — relcache's `_FP` discipline: a
# regenerated dataset re-probes immediately and REPLACES its entry, so
# the memo holds one entry per path however often a file is rewritten.
# The conf guard runs once per session, and the raw reader DataFrame is
# memoized the same way on the session object (it dies with the
# session; DataFrames are immutable, so handing the same instance out
# is safe). Re-laid-out facts defer the raw read into the relayout
# build closure, which never runs when the layout MV is store-warm.
_META_MEMO: dict[str, tuple[str, list[str], int]] = {}


def _stat_sig_one(path: str) -> str:
    try:
        st = os.stat(path)
        return f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        return "<none>"


def _session_memo(spark: SparkSession) -> dict:
    memo = getattr(spark, "_graft_table_memo", None)
    if memo is None:
        memo = {}
        spark._graft_table_memo = memo
    return memo


def _raw_reader(spark: SparkSession, path: str, ns_cols: list[str]) -> DataFrame:
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST({c} DIV 1000 AS LONG))"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo = _session_memo(spark)
    if "confs_set" not in memo:
        # The driver may hand us a session not built by get_spark(), so
        # make sure the nanos-as-long guard is on before the first read
        # (a no-op against the current timestamp[us] testdata). Set once
        # per session (not per-table) so read behavior never flips
        # mid-session based on which table loaded first. Session
        # timezone is pinned too: `CAST(ts AS DATE)` is timezone-
        # sensitive and the DuckDB oracle treats the stored instants as
        # naive/UTC.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        memo["confs_set"] = True
    sig = _stat_sig_one(path)
    meta = _META_MEMO.get(path)
    if meta is None or meta[0] != sig:
        n = _relayout_parts(path, name) if name in FACT_TABLES else 0
        meta = _META_MEMO[path] = (sig, _nanos_ts_columns(path), n)
    _, ns_cols, n = meta
    if n >= 2:
        return _relayout(spark, name, sf_dir, path, ns_cols, n)
    key = ("reader", path)
    hit = memo.get(key)
    if hit is None or hit[0] != sig:
        hit = (sig, _raw_reader(spark, path, ns_cols))
        memo[key] = hit
    return hit[1]


def _relayout_parts(path: str, name: str) -> int:
    """How many scan splits this fact table SHOULD have, or 0 if its
    files are already scan-parallel. The reference engine owns its
    storage layout (CSV -> Postgres load); our analog is re-laying-out
    a monolithic source parquet into a multi-file relation once per
    dataset content. At 100 TB ingest naturally produces thousands of
    well-sized files and this probe returns 0 — the seam only repairs
    small-but-unsplittable local data, it never touches data that
    already parallelizes."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return 0
    rows, groups = md.num_rows, max(md.num_row_groups, 1)
    min_rows = _RELAYOUT_MIN_ROWS.get(name, _RELAYOUT_MIN_ROWS_DEFAULT)
    mono = _RELAYOUT_MONO_ROWS.get(name, _RELAYOUT_MONO_ROWS_DEFAULT)
    target = _RELAYOUT_TARGET_ROWS.get(name, _RELAYOUT_TARGET_ROWS_DEFAULT)
    if rows < min_rows or rows // groups < mono:
        return 0
    return min(_RELAYOUT_MAX_PARTS, max(2, rows // target))


def _relayout(
    spark: SparkSession, name: str, sf_dir: str, path: str,
    ns_cols: list[str], n: int,
) -> DataFrame:
    """Serve the table from a range-clustered n-file copy in the
    durable MV store (content-addressed: source regeneration
    invalidates it). Row order changes — safe because every query in
    plans/ orders windows and dedups by explicit keys, never by file
    position (CI: the full oracle gate runs against this layout).
    The raw source read happens inside the build closure, so a
    store-warm call never constructs it."""
    from .plans.relcache import cached_relation

    key = _CLUSTER_KEY[name]

    def _build() -> DataFrame:
        df = _raw_reader(spark, path, ns_cols)
        return df.repartitionByRange(n, F.col(key)).sortWithinPartitions(key)

    return cached_relation(f"layout_{name}", sf_dir, _build)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so spark.sql() plans match
    the DataFrame API paths (same Catalyst plans either way)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

"""Streaming shard-pack gate: a doc_id-ordered availableNow replay's
per-item assignments must fold to exactly the oracle-verified batch
m7_shard_pack card, under one-shot AND per-file arrival; offsets
must be contiguous on each (source, stream) packing axis."""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

from risk_dashboard_database_spark.plans.multimodal import (
    M7_SHARD_BYTES,
    m7_shard_pack,
)
from risk_dashboard_database_spark.streaming.daily import run_available_now
from risk_dashboard_database_spark.streaming.shardgate import (
    stream_shard_pack,
)

SF_DIR = "/root/testdata/sf0.001"


def _batch_want(spark):
    return {
        (r["source"], r["stream"], r["shard"]): (
            r["n_items"],
            r["payload_bytes"],
        )
        for r in m7_shard_pack(spark, SF_DIR).collect()
    }


def _check(spark, rows):
    # fold per-item emissions to the shard card
    card: dict = defaultdict(lambda: [0, 0])
    axis: dict = defaultdict(list)
    for r in rows:
        c = card[(r["source"], r["stream"], r["shard"])]
        c[0] += 1
        c[1] += r["payload_bytes"]
        axis[(r["source"], r["stream"])].append(
            (r["doc_id"], r["shard"], r["shard_offset"], r["payload_bytes"])
        )
    assert {k: tuple(v) for k, v in card.items()} == _batch_want(spark)
    # offsets are contiguous along each packing axis in doc_id order
    for items in axis.values():
        cum = 0
        for doc_id, shard, off, b in sorted(items):
            assert shard == cum // M7_SHARD_BYTES
            assert off == cum % M7_SHARD_BYTES
            cum += b


def test_stream_shard_pack_matches_batch(spark, tmp_path):
    docs_dir = tmp_path / "docs_shard"
    docs_dir.mkdir()
    shutil.copy(f"{SF_DIR}/documents.parquet", docs_dir / "part-0.parquet")

    streamed = run_available_now(
        stream_shard_pack(spark, str(docs_dir)),
        "t_stream_shard",
        output_mode="append",
    )
    _check(spark, streamed.collect())


def test_stream_shard_pack_single_file_batches(spark, tmp_path):
    """Per-file micro-batches arriving in doc_id order: the running
    byte counter carries across batches, so the fold still equals the
    batch card."""
    import pyarrow.parquet as pq

    full = pq.read_table(f"{SF_DIR}/documents.parquet").sort_by("doc_id")
    docs_dir = tmp_path / "docs_shard_files"
    docs_dir.mkdir()
    third = max(1, full.num_rows // 3)
    for i in range(3):
        lo = i * third
        hi = full.num_rows if i == 2 else (i + 1) * third
        path = docs_dir / f"part-{i}.parquet"
        pq.write_table(full.slice(lo, hi - lo), path)
        # The file source orders files by modification time (ms), and
        # ties fall back to directory-listing order; three quick writes
        # often share a millisecond. One second apart, they arrive in
        # doc_id order.
        os.utime(path, (1_000_000_000 + i, 1_000_000_000 + i))

    spark_schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from risk_dashboard_database_spark.plans.multimodal import M7_STREAMS
    from risk_dashboard_database_spark.streaming.shardgate import (
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        _update,
    )

    stream = (
        spark.readStream.schema(spark_schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(docs_dir))
    )
    gated = (
        stream.select(
            "source",
            "doc_id",
            (F.col("doc_id") % M7_STREAMS).cast("long").alias("stream"),
            "text",
        )
        .groupBy("source", "stream")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    streamed = run_available_now(
        gated, "t_stream_shard_files", output_mode="append"
    )
    rows = streamed.collect()
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(rows) == n_docs  # append mode: exactly one row per payload
    _check(spark, rows)


def test_stream_shard_pack_multi_chunk_groups(spark, tmp_path):
    """Regression (code-review r11): applyInPandasWithState splits a
    group's micro-batch into MULTIPLE pandas chunks at the arrow
    batch size, in shuffle order — the fold must sort the WHOLE
    group's batch, not each chunk. Forced here with a tiny
    maxRecordsPerBatch and a parquet written in shuffled doc_id
    order."""
    import pandas as pd

    from risk_dashboard_database_spark.plans.multimodal import (
        M7_SHARD_BYTES,
        M7_STREAMS,
    )

    rng_order = [7, 2, 9, 0, 5, 11, 4, 1, 10, 3, 8, 6]
    rows = [
        {
            "doc_id": i * M7_STREAMS,  # one stream -> one state group
            "text": "x" * (50 + 17 * i),
            "lang": "en",
            "source": "srcA",
            "n_chars": 50 + 17 * i,
        }
        for i in rng_order
    ]
    docs_dir = tmp_path / "docs_shard_chunks"
    docs_dir.mkdir()
    pd.DataFrame(rows).to_parquet(docs_dir / "part-0.parquet")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "5")
    try:
        streamed = run_available_now(
            stream_shard_pack(spark, str(docs_dir)),
            "t_stream_shard_chunks",
            output_mode="append",
        )
        got = {
            r["doc_id"]: (r["shard"], r["shard_offset"])
            for r in streamed.collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )
    cum = 0
    want = {}
    for i in sorted(rng_order):
        b = 50 + 17 * i
        want[i * M7_STREAMS] = (cum // M7_SHARD_BYTES, cum % M7_SHARD_BYTES)
        cum += b
    assert got == want

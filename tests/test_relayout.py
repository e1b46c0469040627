"""Ingest re-layout seam (tables.py): monolithic single-row-group fact
files are served as a range-clustered multi-file MV; splittable or
small files are never touched; contents are identical either way."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from risk_dashboard_database_spark import tables


@pytest.fixture()
def fat_dataset(tmp_path):
    """A dataset dir whose lineitem is one 200k-row row group
    (unsplittable) and whose orders is small (left alone)."""
    n = 200_000
    li = pa.table(
        {
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array([i % 997 for i in range(n)], pa.int64()),
            "l_suppkey": pa.array([i % 89 for i in range(n)], pa.int64()),
            "l_linenumber": pa.array([i % 7 for i in range(n)], pa.int32()),
            "l_quantity": pa.array([float(i % 50) for i in range(n)]),
            "l_extendedprice": pa.array([float(i % 1000) for i in range(n)]),
            "l_discount": pa.array([(i % 10) / 100.0 for i in range(n)]),
            "l_tax": pa.array([(i % 8) / 100.0 for i in range(n)]),
            "l_returnflag": pa.array(["A", "N", "R"][i % 3] for i in range(n)),
            "l_linestatus": pa.array(["F", "O"][i % 2] for i in range(n)),
            "l_shipdate": pa.array(
                [1_000_000_000_000 + i * 1000 for i in range(n)],
                pa.timestamp("us"),
            ),
        }
    )
    pq.write_table(li, tmp_path / "lineitem.parquet", row_group_size=n)
    pq.write_table(li.slice(0, 1000), tmp_path / "orders.parquet")
    return str(tmp_path)


def _layout_dir(fat_dataset: str) -> str:
    from risk_dashboard_database_spark.plans import relcache

    return os.path.join(
        relcache.MV_ROOT, "layout_lineitem", relcache._fingerprint(fat_dataset)
    )


def test_unsplittable_fact_is_relayouted(spark, fat_dataset):
    df = tables.load_table(spark, fat_dataset, "lineitem")
    assert df.rdd.getNumPartitions() >= 2
    # durable: the MV store holds a multi-file copy for THIS dataset,
    # and the scan reads it (not the monolithic source file)
    assert all(_layout_dir(fat_dataset) in f for f in df.inputFiles())
    assert len(df.inputFiles()) >= 2


def test_relayout_preserves_contents(spark, fat_dataset):
    on = tables.load_table(spark, fat_dataset, "lineitem")
    off = spark.read.parquet(os.path.join(fat_dataset, "lineitem.parquet"))
    assert on.count() == off.count() == 200_000
    assert on.exceptAll(off).isEmpty() and off.exceptAll(on).isEmpty()


def test_relayout_clusters_by_time(spark, fat_dataset):
    """Each output file is a time slice: per-file min/max ranges must
    not overlap, so date predicates prune whole files."""
    tables.load_table(spark, fat_dataset, "lineitem")
    ranges = []
    root = _layout_dir(fat_dataset)
    for f in os.listdir(root):
        if True:
            if not f.startswith("part-") or not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, f)).metadata
            if md.num_rows == 0:
                continue
            idx = [c.name for c in md.schema].index("l_shipdate")
            stats = md.row_group(0).column(idx).statistics
            lo = stats.min
            hi = pq.ParquetFile(os.path.join(root, f)).metadata.row_group(
                md.num_row_groups - 1
            ).column(idx).statistics.max
            ranges.append((lo, hi))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2


def test_small_and_splittable_tables_untouched(spark, fat_dataset):
    df = tables.load_table(spark, fat_dataset, "orders")  # 1k rows
    assert [f for f in df.inputFiles()] == [f"file://{fat_dataset}/orders.parquet"]


def test_table_memos_keep_one_entry_per_path(spark, tmp_path):
    """load_table's file-probe memo and per-session reader memo are
    revalidated by stat signature: rewriting a table replaces its
    entries, so a dataset regenerated in place leaves one entry per
    path (not one per rewrite) and the fresh contents are served."""
    path = str(tmp_path / "orders.parquet")
    for i in range(3):
        pq.write_table(pa.table({"o_orderkey": pa.array(range(10 + i), pa.int64())}), path)
        assert tables.load_table(spark, str(tmp_path), "orders").count() == 10 + i
    assert len([k for k in tables._META_MEMO if path in str(k)]) == 1
    assert len([k for k in spark._graft_table_memo if path in str(k)]) == 1

"""`tables.table_probe` identifies a table's content whether the table
is one parquet file or a directory of parts, as `sinks.merge_upsert`
writes it: the loader reads directory tables, the MV store notices a
replaced part, and the corpus-scaled widths read the footer row count
without a Spark job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from risk_dashboard_database_spark import tables
from risk_dashboard_database_spark.plans import common, dedup, relcache
from risk_dashboard_database_spark.sources.sinks import merge_upsert

SF_DIR = os.path.join(os.path.dirname(tables.DEFAULT_SF_DIR), "sf0.001")


@pytest.fixture()
def mv_root(tmp_path, monkeypatch):
    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    relcache.clear()
    yield
    relcache.clear()


def _upserted_events_dataset(spark, tmp_path):
    """A copy of sf0.001 whose `events` table `merge_upsert` wrote, so
    it is a directory of parts."""
    ds = tmp_path / "ds"
    ds.mkdir()
    for name in tables.TABLE_NAMES:
        if name != "events":
            shutil.copyfile(f"{SF_DIR}/{name}.parquet", ds / f"{name}.parquet")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    merge_upsert(spark, str(ds / "events.parquet"), events, ["event_id"])
    assert os.path.isdir(ds / "events.parquet")  # test premise
    return str(ds)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_load_table_reads_a_directory_table(spark, tmp_path):
    ds = _upserted_events_dataset(spark, tmp_path)
    got = tables.load_table(spark, ds, "events")
    want = tables.load_table(spark, SF_DIR, "events")
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_fingerprint_changes_when_a_part_is_replaced(tmp_path):
    table = tmp_path / "ds" / "events.parquet"
    table.mkdir(parents=True)
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"v": pa.array([1, 2, 3], pa.int64())}), part)
    fp1 = relcache._fingerprint(str(tmp_path / "ds"))

    staged = tmp_path / "staged.parquet"
    pq.write_table(pa.table({"v": pa.array([4, 5, 6, 7], pa.int64())}), staged)
    os.replace(staged, part)
    assert relcache._fingerprint(str(tmp_path / "ds")) != fp1


def test_user_day_counts_rows_upserted_into_a_directory_table(
    spark, tmp_path, mv_root
):
    """The store must not serve `user_day` built before an upsert into
    directory-form `events`."""
    ds = _upserted_events_dataset(spark, tmp_path)

    def total():
        return common.user_day(spark, ds).agg(F.sum("total")).first()[0]

    assert total() == 1000
    new = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(200).withColumn(
        "event_id", F.col("event_id") + 1_000_000
    )
    merge_upsert(spark, os.path.join(ds, "events.parquet"), new, ["event_id"])
    assert total() == 1200


def test_corpus_widths_run_no_spark_job(spark, tmp_path):
    """The IVF cell count and the sign-LSH width read the embeddings
    row count from the parquet footer: a fresh dataset starts no job."""
    ds = tmp_path / "ds"
    ds.mkdir()
    shutil.copyfile(f"{SF_DIR}/embeddings.parquet", ds / "embeddings.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    cells = dedup._ivf_cells(spark, str(ds))
    bits = dedup._sign_bits(spark, str(ds))
    assert set(tracker.getJobIdsForGroup()) == before

    n = spark.read.parquet(str(ds / "embeddings.parquet")).count()
    assert cells == dedup.d49_cells(n)
    assert bits == max(8, min(64, (max(n, 2) - 1).bit_length() - 6))

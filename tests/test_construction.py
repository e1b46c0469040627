"""Plan-construction budget: building a query's DataFrame costs py4j
round trips, and that cost sits inside every query's latency. These
tests pin the IVF search builders under a command budget and check
that switching off PySpark's per-call call-site capture keeps
analysis errors loud."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from risk_dashboard_database_spark.tables import DEFAULT_SF_DIR

# The smallest test dataset, a sibling of the default one.
SF_DIR = os.path.join(os.path.dirname(DEFAULT_SF_DIR), "sf0.001")

# py4j commands one warm-store construction may send. The folds built
# as SQL text send 100-200; node-by-node Column builds with call-site
# capture sent 700-2,900.
CONSTRUCT_BUDGET = 300

# py4j's proxy-release command; released proxies are not construction.
PY4J_GC_COMMAND = "m\nd\n"


class _CommandCounter:
    """Counts py4j commands sent through one gateway client while
    installed (a `send_command` wrapper), proxy releases left out."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        send = self._send = self._client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(PY4J_GC_COMMAND):
                self.calls += 1
            return send(command, *args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc):
        self._client.send_command = self._send


def test_get_spark_turns_off_call_site_capture(spark):
    import pyspark.errors.utils as err_utils

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert err_utils.is_debugging_enabled() is False


@pytest.mark.parametrize("name", ["d24_ann_ivfpq", "d8_ann_ivf"])
def test_ivf_search_construction_within_py4j_budget(spark, tmp_path, monkeypatch, name):
    """A warm-store construction of an IVF search stays under
    CONSTRUCT_BUDGET py4j commands (the store read is a cache hit, so
    every command counted is plan building)."""
    from risk_dashboard_database_spark.plans import QUERIES, relcache

    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    relcache.clear()
    try:
        build = QUERIES[name]
        build(spark, SF_DIR).collect()  # warms the store
        with _CommandCounter(spark) as counter:
            df = build(spark, SF_DIR)
        assert 0 < counter.calls <= CONSTRUCT_BUDGET, counter.calls
        assert df.columns
    finally:
        relcache.clear()


def test_missing_column_still_raises_at_construction(spark):
    """With call-site capture off, a builder that names a missing
    column still fails on the line that builds it, not at the action:
    classic mode analyzes each DataFrame as it is constructed."""
    from risk_dashboard_database_spark.plans.dedup import _dot_spark
    from risk_dashboard_database_spark.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    with pytest.raises(AnalysisException, match="no_such_vec"):
        emb.select(_dot_spark("embedding", "no_such_vec").alias("dot"))
    with pytest.raises(AnalysisException, match="no_such_col"):
        emb.selectExpr("vec_id", "no_such_col AS x")
    with pytest.raises(AnalysisException, match="no_such_col"):
        emb.where(F.col("no_such_col") > 0)

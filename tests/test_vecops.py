"""The shared vector-scoring kernel (`vecops`) under d3, d36 and d66:
invariants that must fail loudly, exact cosine ties split across Arrow
batches, and kernels that run from any working directory."""

from __future__ import annotations

import hashlib
import os
import struct
import subprocess
import sys
import textwrap

import pytest

from risk_dashboard_database_spark.plans import dedup, relcache
from tests.test_r14_opt import SF_DIR, _d36_declarative

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIM = dedup.PQ_M * dedup.PQ_SUBDIM


def _write_embeddings(path, vecs, labels):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        path / "embeddings.parquet",
    )
    return str(path)


def _unit_vecs(n, seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    return [list(map(float, v)) for v in rng.uniform(-1.0, 1.0, (n, DIM)).astype("float32")]


def _never_a_probe(n):
    """The vec_id that md5-ranks last: a candidate, never a probe."""
    return max(range(n), key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v))


@pytest.fixture()
def mv_root(tmp_path, monkeypatch):
    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    relcache.clear()
    yield
    relcache.clear()


@pytest.mark.parametrize(
    "fault, message",
    [("zero", "zero-norm vector"), ("null", "null vector or coordinate")],
)
def test_vector_family_rejects_null_and_zero_vectors(spark, tmp_path, mv_root, fault, message):
    """One zero (or null) vector among the candidates makes d3, d36 and
    d66 raise a ValueError that names the fault, instead of scoring a
    NaN cosine that the top-k then drops without a word."""
    n = 60
    vecs = _unit_vecs(n, seed=3)
    vecs[_never_a_probe(n)] = [0.0] * DIM if fault == "zero" else None
    sf = _write_embeddings(tmp_path / "data", vecs, [i % 3 for i in range(n)])
    for q in (dedup.d3_ann_topk, dedup.d36_hard_negatives, dedup.d66_nprobe_sweep):
        with pytest.raises(Exception) as exc:
            q(spark, sf).collect()
        err = exc.value
        assert message in str(err), q.__name__
        assert isinstance(err, ValueError) or "ValueError" in str(err), q.__name__
        relcache.clear()


def _bits(rows, cols):
    return sorted(
        tuple(struct.pack(">d", r[c]) if isinstance(r[c], float) else r[c] for c in cols)
        for r in rows
    )


def test_exact_ties_across_arrow_batches_match_the_references(spark, tmp_path, mv_root):
    """Exact-duplicate vectors tie on cosine; with 7-row Arrow batches
    each tie group is split across batches. d3 must still equal
    `_d3_fold_reference` and d36 the declarative join, raw cosine bits
    and the candidate_id tie-break included."""
    base = _unit_vecs(10, seed=5)
    n = 70
    # vec_id i copies base vector i % 10: every tie group spans batches
    sf = _write_embeddings(
        tmp_path / "ties", [base[i % 10] for i in range(n)], [(i // 10) % 3 for i in range(n)]
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        d3_cols = ("query_id", "candidate_id", "label", "cosine", "rank")
        got = dedup.d3_ann_topk(spark, sf).collect()
        assert len(got) == dedup.D3_PROBES * 5
        assert _bits(got, d3_cols) == _bits(
            dedup._d3_fold_reference(spark, sf).collect(), d3_cols
        )
        d36_cols = ("query_id", "candidate_id", "neg_label", "cosine", "margin", "rank")
        got = dedup.d36_hard_negatives(spark, sf).collect()
        assert len(got) == dedup.D3_PROBES * dedup.HARDNEG_TOPK
        assert _bits(got, d36_cols) == _bits(_d36_declarative(spark, sf).collect(), d36_cols)
    finally:
        spark.conf.set(key, old)


def test_kernels_run_from_any_working_directory(tmp_path):
    """d3, d66 and a cold `_trained_assigned` build work when the
    driver's working directory is outside the checkout and the
    checkout is on the driver's sys.path only: the kernels' Python
    workers must not import this package."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from risk_dashboard_database_spark.plans import dedup
        from risk_dashboard_database_spark.session import get_spark

        spark = get_spark(app_name="anycwd", master="local[2]", shuffle_partitions=2)
        sf = {SF_DIR!r}
        n = dedup._trained_assigned(spark, sf).count()
        print(n, dedup.d3_ann_topk(spark, sf).count(),
              dedup.d66_nprobe_sweep(spark, sf).count())
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_MV_DIR"] = str(tmp_path / "mv")
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    work = tmp_path / "elsewhere"
    work.mkdir()
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=work,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    n, d3, d66 = map(int, out.stdout.split()[-3:])
    assert n > 0 and d3 == dedup.D3_PROBES * 5 and d66 == len(dedup.D66_NPROBES)

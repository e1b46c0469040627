"""Brute-force vector scoring for the ANN kernels: one left-fold
cosine, one Arrow vector decode and one probe top-k kernel.

Bit-exactness contract (the driver hash-compares raw doubles): a dot
product is `acc += a[i] * b[i]`, one dimension at a time in float64
from 0.0 — the IEEE operation sequence of `plans.dedup._dot_spark` and
of the oracle's list_reduce. A cosine then divides by (norm_a * norm_b)
in that order, and a norm is the sqrt of the same fold.

Invariants: a null vector, a null coordinate and a zero (or null) norm
raise ValueError. Spark's Divide would yield NULL where numpy yields
NaN, so a NaN cosine would otherwise be dropped or picked silently.

This module is a leaf: it imports only numpy, pyarrow and pyspark, and
it registers itself with cloudpickle to be pickled by value. A kernel
closure that calls these helpers therefore ships them to the Python
workers with it, and a worker imports nothing from this package (no
import cost on its first task, and no dependence on the driver's
working directory).
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _fold(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Left-fold dot products over the last axis of A and B, whose
    leading axes broadcast: ((0 + a0*b0) + a1*b1) + ... in float64."""
    acc = np.zeros(np.broadcast_shapes(A.shape[:-1], B.shape[:-1]))
    tmp = np.empty_like(acc)
    for i in range(A.shape[-1]):
        np.multiply(A[..., i], B[..., i], out=tmp)
        np.add(acc, tmp, out=acc)
    return acc


def _check_norms(n: np.ndarray) -> None:
    if not (n > 0).all():
        raise ValueError(
            "zero-norm vector: cosine undefined (Spark's Divide would "
            "yield NULL, numpy NaN)"
        )


def fold_norm(A: np.ndarray) -> np.ndarray:
    """L2 norm of each row of (n, D) A: the sqrt of the left fold."""
    return np.sqrt(_fold(A, A))


def fold_cos(A: np.ndarray, an: np.ndarray, B: np.ndarray, bn: np.ndarray) -> np.ndarray:
    """(n, m) cosines of the rows of (n, D) A against the rows of
    (m, D) B, given their norms. Raises on a zero norm."""
    _check_norms(an)
    _check_norms(bn)
    return _fold(A[:, None, :], B[None, :, :]) / (an[:, None] * bn[None, :])


def decode(col: pa.Array | pa.ChunkedArray, name: str) -> np.ndarray:
    """An Arrow list<number> column as an (n, D) float64 matrix. The
    flattened values are one buffer, so for list<double> the matrix is
    a zero-copy view. Raises on a null vector or coordinate, which
    flattening would drop silently."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten()
    if col.null_count or flat.null_count:
        raise ValueError(
            f"null vector or coordinate in column {name!r}: cosine undefined"
        )
    if not len(col):
        return np.zeros((0, 0))
    return np.asarray(flat, dtype=np.float64).reshape(len(col), -1)


def collect_vectors(df: DataFrame, vec: str) -> dict[str, np.ndarray]:
    """Collect a bounded relation to the driver as numpy columns, with
    the vector column `vec` decoded to an (n, D) float64 matrix."""
    t = df.toArrow()
    return {
        n: decode(c, n) if n == vec else c.to_numpy()
        for n, c in zip(t.column_names, t.columns)
    }


def probe_topk(
    spark: SparkSession,
    probes: tuple[np.ndarray, np.ndarray, np.ndarray],
    cands: DataFrame,
    k: int,
    legs: tuple = (None,),
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Score every candidate against every probe and keep, per Arrow
    batch, the local top-k of each (probe, leg) by (cosine desc,
    candidate_id).

    ``probes`` is (query_ids, vectors, norms), collected and broadcast.
    ``cands`` carries candidate_id, cv (the vector), cnorm, the ``keep``
    columns and the columns the legs read. Each leg is ``None`` (every
    candidate) or ``(column, probe_keys, same)``: candidate j is in the
    leg of probe q when ``(cands[column][j] == probe_keys[q]) == same``.
    A candidate never pairs with the probe of the same id.

    Returns (query_id, leg, candidate_id, cosine, *keep). Top-k of a
    union of local top-ks is the global top-k (candidate_id is unique,
    so the order has no ties to lose), so a window over (query_id,
    leg) finishes the search and the probes x corpus pair relation is
    never emitted."""
    qids, Q, qn = probes
    qids = np.asarray(qids, dtype=np.int64)
    _check_norms(qn)
    bc = spark.sparkContext.broadcast((qids, Q, qn, legs))
    types = {f.name: f.dataType.simpleString() for f in cands.schema.fields}
    schema = ", ".join(
        ["query_id bigint", "leg int", "candidate_id bigint", "cosine double"]
        + [f"{c} {types[c]}" for c in keep]
    )

    def gen(batches):
        qids, Q, qn, legs = bc.value
        nq = len(qids)
        for b in batches:
            if b.num_rows == 0 or nq == 0:
                continue
            ids = b.column("candidate_id").to_numpy()
            # candidate-id-sorted batch: a STABLE argsort on -cosine
            # then realizes (cosine desc, candidate_id)
            order = np.argsort(ids, kind="stable")
            cids = ids[order]
            cn = np.asarray(b.column("cnorm"), dtype=np.float64)
            cos = fold_cos(Q, qn, decode(b.column("cv"), "cv"), cn)[:, order]
            cos[cids[None, :] == qids[:, None]] = -np.inf
            rows, cols, leg_ix = [], [], []
            for li, leg in enumerate(legs):
                s = cos
                if leg is not None:
                    col, qkeys, same = leg
                    ck = np.asarray(b.column(col))[order]
                    s = np.where((ck[None, :] == qkeys[:, None]) == same, cos, -np.inf)
                kk = min(k, len(cids))
                top = np.argsort(-s, axis=1, kind="stable")[:, :kk]
                r = np.repeat(np.arange(nq), kk)
                c = top.ravel()
                hit = s[r, c] > -np.inf
                rows.append(r[hit])
                cols.append(c[hit])
                leg_ix.append(np.full(int(hit.sum()), li, dtype=np.int32))
            r, c = np.concatenate(rows), np.concatenate(cols)
            if not len(r):
                continue
            take = pa.array(order[c])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(qids[r]),
                    pa.array(np.concatenate(leg_ix)),
                    pa.array(cids[c].astype(np.int64)),
                    pa.array(cos[r, c], type=pa.float64()),
                ]
                + [b.column(name).take(take) for name in keep],
                names=["query_id", "leg", "candidate_id", "cosine", *keep],
            )

    return cands.mapInArrow(gen, schema=schema)

"""Streaming trained-index maintenance: arriving vectors get their
IVF cell and PQ codes ON ARRIVAL, against the shipped trained
codebook — the standard production ingestion path for an IVF-PQ index
(train rarely, assign constantly).

Batch `_trained_assigned` (plans/dedup.py) builds the index MV with
one corpus fan-out; an ingest pipeline must route NEW vectors into the
existing index without retraining or re-scanning the corpus. The
codebook is a fixed-k trained artifact (16 rows here), so the
streaming form is fully STATELESS: the codebook ships as a 1-row
static side of sorted (cid, centroid) structs (semdecontam's layout),
and each arriving vector computes its argmax-cosine cell AND all PQ_M
sub-code argmins as per-row expression folds — no shuffle, no state
store, no watermark; per-vector cost is O(k * dim), corpus-free.

Determinism: the folds reproduce the batch max_by/min_by tie-breaks
exactly (cosine desc then cid asc; sub-distance asc then cid asc) over
the identical ppb fixed-point vectors, so an availableNow replay over
the corpus equals the stored `ivf_trained_assigned` MV row-for-row
(tested, including vnorm to the bit).

Staleness contract: assignments are correct w.r.t. the SHIPPED
codebook generation; after a d49 retrain, previously-assigned vectors
keep their old cells until the MV rebuild sweeps them — the same
refresh-cadence trade as every static-artifact gate here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.dedup import (
    PQ_M,
    PQ_SUBDIM,
    _DOT_SPARK_SQL,
    _SQL2_SPARK_SQL,
    _dot_spark,
    _trained_centroids,
    ppb_vector,
)
from .semdecontam import _argmax_fold


def _argmin_fold(arr: str, dist_of: str, id_of: str) -> Column:
    """aggregate() argmin with the batch min_by tie-break
    (distance asc, id asc), in the SQL text form of `_argmax_fold`.
    Returns struct(bd double, bid long)."""
    return F.expr(
        f"aggregate({arr}, named_struct('bd', CAST('Infinity' AS DOUBLE),"
        f" 'bid', CAST({2**62} AS BIGINT)),"
        f" (acc, x) -> CASE WHEN ({dist_of}) < acc.bd"
        f" OR (({dist_of}) = acc.bd AND ({id_of}) < acc.bid)"
        f" THEN named_struct('bd', {dist_of}, 'bid', CAST({id_of} AS BIGINT))"
        " ELSE acc END)"
    )


def codebook_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row static side carrying the trained mean centroids as a
    sorted (cid, ce, cnorm) struct array — the shipped model artifact.
    Norms fold once here (k rows), never per arriving vector."""
    return (
        _trained_centroids(spark, sf_dir)
        .withColumn("cnorm", F.sqrt(_dot_spark("ce", "ce")))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("cid", "ce", "cnorm"))
            ).alias("cents")
        )
        .withColumn("one", F.lit(1))
    )


def with_trained_assignment(
    vecs: DataFrame, static_side: DataFrame
) -> DataFrame:
    """(vec_id, embedding, label, ...) -> the trained-index row for
    each vector: (vec_id, label, cell, code_1..code_PQ_M, vnorm) —
    batch `_trained_assigned`'s schema minus the stored v array.
    Works identically on batch and streaming DataFrames."""
    df = (
        vecs.select(
            "vec_id", "label", ppb_vector(F.col("embedding")).alias("v")
        )
        .withColumn("one", F.lit(1))
        .join(static_side, "one")
        .withColumn("vnorm", F.sqrt(_dot_spark("v", "v")))
    )
    cell_pick = _argmax_fold(
        "cents",
        f"{_DOT_SPARK_SQL.format(a='v', b='x.ce')} / (vnorm * x.cnorm)",
        "x.cid",
    )
    codes = [
        _argmin_fold(
            "cents",
            _SQL2_SPARK_SQL.format(
                a=f"slice(v, {(s - 1) * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                b=f"slice(x.ce, {(s - 1) * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
            ),
            "x.cid",
        )
        .getField("bid")
        .alias(f"code_{s}")
        for s in range(1, PQ_M + 1)
    ]
    return df.select(
        "vec_id",
        "label",
        cell_pick.getField("bid").alias("cell"),
        *codes,
        "vnorm",
    )


def stream_trained_assignment(
    spark: SparkSession, vecs_dir: str, sf_dir: str, schema=None
) -> DataFrame:
    """readStream over an embeddings directory -> trained-index rows
    on arrival, assigned against sf_dir's stored trained codebook."""
    if schema is None:
        schema = spark.read.parquet(vecs_dir).schema
    side = codebook_side(spark, sf_dir)
    vecs = spark.readStream.schema(schema).parquet(vecs_dir)
    return with_trained_assignment(vecs, side)

"""Streaming semantic-decontamination gate: batch d47 ON ARRIVAL.

d15's streaming twin (`decontam.py`) broadcasts a bounded benchmark
GRAM set and probes it statelessly per arriving document; this module
is the same deployment shape in embedding space — the benchmark EVAL
VECTORS (with their IVF cells and norms, read from the stored d8
assignment MV) and the centroid codebook ride along as a 1-row static
side of a stream-static join, and every verdict is a pure per-row
expression fold:

    cell  = argmax-cosine centroid        (fold over the codebook)
    best  = argmax-cosine eval IN cell    (fold over cell's eval rows)
    leak  = best.cosine >= D47_COS_MIN

No state store, no watermark, no shuffle: the gate's working set is
(k centroids + benchmark-sized eval set) per executor — the exact
broadcast-dimension justification the batch plan uses, so a 100 TB/day
ingest runs this at scan rate. Both folds reproduce the batch argmax
tie-breaks ((cosine desc, id asc)) and the batch cosine expression
tree, so replaying the corpus yields d47's rows BIT-identically
(tested, including the stored-norm path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.dedup import (
    D47_COS_MIN,
    D47_EVAL_MOD,
    _DOT_SPARK_SQL,
    _dot_spark,
    _ivf_assigned,
    _ivf_centroids,
)


def _static_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row DataFrame carrying the codebook and the eval set as
    sorted struct arrays (deterministic fold order; argmax is
    order-independent anyway given the strict tie-breaks)."""
    cents = _ivf_centroids(spark, sf_dir).agg(
        F.sort_array(F.collect_list(F.struct("cid", "ce"))).alias("cents")
    )
    evs = (
        _ivf_assigned(spark, sf_dir)
        .where(F.col("vec_id") % D47_EVAL_MOD == 0)
        .select(
            F.struct(
                F.col("vec_id").alias("eval_id"),
                F.col("cell").alias("ecell"),
                F.col("embedding").alias("ee"),
                F.col("norm").alias("enorm"),
            ).alias("e")
        )
        .agg(F.sort_array(F.collect_list("e")).alias("evs"))
    )
    return cents.crossJoin(evs).withColumn("one", F.lit(1))


def _argmax_fold(arr: str, cos_of: str, id_of: str) -> Column:
    """aggregate() argmax with the batch max_by tie-break
    (cosine desc, id asc). `arr` is SQL text for the array; `cos_of`
    and `id_of` are SQL text over its lambda element `x`. Returns
    struct(bc double, bid long); bc stays -2.0 when arr is empty
    (cosine >= -1 always beats it)."""
    return F.expr(
        f"aggregate({arr}, named_struct('bc', -2D, 'bid', CAST({2**62} AS BIGINT)),"
        f" (acc, x) -> CASE WHEN ({cos_of}) > acc.bc"
        f" OR (({cos_of}) = acc.bc AND ({id_of}) < acc.bid)"
        f" THEN named_struct('bc', {cos_of}, 'bid', CAST({id_of} AS BIGINT))"
        " ELSE acc END)"
    )


def with_leak_flags(vecs: DataFrame, static_side: DataFrame) -> DataFrame:
    """(vec_id, embedding, ...) -> batch-d47-schema leak rows
    (train_id, matched_eval, max_cosine, cell). Works identically on
    batch and streaming DataFrames (stream-static equi-join on the
    constant key broadcasts the 1-row side)."""
    df = (
        vecs.where(F.col("vec_id") % D47_EVAL_MOD != 0)
        .withColumn("one", F.lit(1))
        .join(static_side, "one")
        .withColumn("tnorm", F.sqrt(_dot_spark("embedding", "embedding")))
    )
    # pass 1: the _ivf_assigned expression tree (full sqrt form — the
    # centroid norm varies per candidate)
    cell_pick = _argmax_fold(
        "cents",
        f"{_DOT_SPARK_SQL.format(a='embedding', b='x.ce')}"
        f" / (tnorm * sqrt({_DOT_SPARK_SQL.format(a='x.ce', b='x.ce')}))",
        "x.cid",
    )
    df = df.withColumn("cell", cell_pick.getField("bid"))
    # pass 2: the d47 expression tree (stored-norm form) over this
    # cell's eval rows only
    best = _argmax_fold(
        "filter(evs, e -> e.ecell = cell)",
        f"{_DOT_SPARK_SQL.format(a='embedding', b='x.ee')} / (tnorm * x.enorm)",
        "x.eval_id",
    )
    return (
        df.withColumn("best", best)
        .where(F.col("best").getField("bc") >= D47_COS_MIN)
        .select(
            F.col("vec_id").alias("train_id"),
            F.col("best").getField("bid").alias("matched_eval"),
            F.col("best").getField("bc").alias("max_cosine"),
            "cell",
        )
    )


def stream_semantic_decontam(
    spark: SparkSession, vecs_dir: str, sf_dir: str, schema=None
) -> DataFrame:
    """readStream over an embeddings directory -> leak rows on
    arrival, judged against sf_dir's stored eval set + codebook."""
    if schema is None:
        schema = spark.read.parquet(vecs_dir).schema
    stream = spark.readStream.schema(schema).parquet(vecs_dir)
    return with_leak_flags(stream, _static_side(spark, sf_dir))

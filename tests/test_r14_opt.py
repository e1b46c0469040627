"""Round-14 optimization parity pins: every kernel/restructure that
changes HOW a relation is computed must stay bit-identical to the
declarative form it replaced (the d3-kernel discipline — the driver
hash-compares results, so 'close' is a regression)."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _dot_ref(a, b):
    """The Column-built left-fold dot product that `dedup._dot_spark`
    replaced with one SQL-text expression, kept as the parity
    reference: same IEEE operation order as the oracle's list_reduce."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sql2_ref(a, b):
    """The Column-built squared-L2 left fold that the SQL text
    `dedup._SQL2_SPARK_SQL` replaced, kept as the parity reference."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _bits(x):
    return None if x is None else struct.pack(">d", x)


def test_sql_text_folds_are_bit_identical_to_column_reference(spark):
    """`_dot_spark`/`_SQL2_SPARK_SQL` are single SQL-text expressions; every
    double they return must carry the same bits as the Column-built
    fold they replaced: real embeddings (float arrays, adjacent vec_ids
    paired), whole and per-subspace slices, plus hand-built rows with
    negative coordinates, an all-zero vector and long arrays."""
    from risk_dashboard_database_spark.plans.dedup import (
        PQ_SUBDIM,
        _SQL2_SPARK_SQL,
        _dot_spark,
    )
    from risk_dashboard_database_spark.tables import load_table

    def _sql2_spark(a, b):
        return F.expr(_SQL2_SPARK_SQL.format(a=a, b=b))

    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = emb.select("vec_id", F.col("embedding").alias("a")).join(
        emb.select((F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("b")),
        "vec_id",
    ).select("a", "b")
    hand = spark.createDataFrame(
        [
            ([-1.5, 2.25, -3.0e-7, 0.0, 1e300, -7.0, 0.1, -0.2],
             [0.5, -0.125, 1e10, -2.0, 1e10, -7.0, 0.3, 0.7]),
            ([0.0] * 8, [-1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.0]),
            ([0.0] * 8, [0.0] * 8),
            ([-0.0] * 8, [-2.5] * 8),
        ],
        "a array<double>, b array<double>",
    )
    longs = spark.createDataFrame(
        [([-(10**12), 3, -5, 0], [7, -(10**9), 0, 11]), ([0, 0, 0, 0], [0, 0, 0, 0])],
        "a array<bigint>, b array<bigint>",
    )
    o = PQ_SUBDIM + 1
    checked = 0
    for df in (pairs, hand, longs):
        got = df.select(
            _dot_spark("a", "b").alias("dot"),
            _dot_ref(F.col("a"), F.col("b")).alias("ref_dot"),
            _dot_spark("a", "a").alias("self"),
            _dot_ref(F.col("a"), F.col("a")).alias("ref_self"),
            _sql2_spark("a", "b").alias("sq"),
            _sql2_ref(F.col("a"), F.col("b")).alias("ref_sq"),
            _sql2_spark(f"slice(a, {o}, {PQ_SUBDIM})", f"slice(b, {o}, {PQ_SUBDIM})")
            .alias("sub"),
            _sql2_ref(
                F.slice(F.col("a"), o, PQ_SUBDIM), F.slice(F.col("b"), o, PQ_SUBDIM)
            ).alias("ref_sub"),
        ).collect()
        assert got
        for r in got:
            assert _bits(r["dot"]) == _bits(r["ref_dot"])
            assert _bits(r["self"]) == _bits(r["ref_self"])
            assert _bits(r["sq"]) == _bits(r["ref_sq"])
            assert _bits(r["sub"]) == _bits(r["ref_sub"])
            checked += 1
    assert checked > 6


def test_d2_sigs_arrow_kernel_matches_declarative_fold(spark):
    """The mapInArrow minhash build (r14: memoized per-distinct-shingle
    digests, parallel partitions) must reproduce the declarative
    `_minhash_spark` fold row-for-row — md5 hex min over ASCII strings
    is ordering-identical between UTF8String and Python str."""
    from risk_dashboard_database_spark.plans import dedup

    toks = dedup._shingle_toks(spark, SF_DIR)
    decl = toks.where(F.size("sh") > 0).withColumn(
        "mh", dedup._minhash_spark(F.col("sh"))
    )
    kern = dedup._minhash_arrow_sigs(spark, toks)
    a = {r["doc_id"]: (r["sh"], r["mh"]) for r in decl.collect()}
    b = {r["doc_id"]: (r["sh"], r["mh"]) for r in kern.collect()}
    assert a == b
    assert len(a) > 0


def _decl_assign(vecs, codebook, vec_col, cvec_col):
    """The pre-r14 declarative assignment (broadcast n x k fan-out +
    max_by re-fold), kept here as the parity reference."""
    cos = _dot_ref(F.col(vec_col), F.col(cvec_col)) / (
        F.sqrt(_dot_ref(F.col(vec_col), F.col(vec_col)))
        * F.sqrt(_dot_ref(F.col(cvec_col), F.col(cvec_col)))
    )
    return (
        vecs.join(F.broadcast(codebook))
        .select("vec_id", "cid", cos.alias("__cos"))
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cid"),
                F.struct(F.col("__cos").alias("c"), (-F.col("cid")).alias("nc")),
            ).alias("cell"),
        )
    )


def test_assign_arrow_kernel_matches_declarative_d49(spark):
    """_assign_arrow (r14) must reproduce the broadcast-join + max_by
    assignment bit-for-bit: same left-fold cosine op order, first-max
    argmax == (cos desc, cid asc) tie-break."""
    from risk_dashboard_database_spark.plans import dedup

    vecs = dedup._d49_vecs(spark, SF_DIR).select("vec_id", "v")
    gen1 = dedup._d49_codebook(spark, SF_DIR)
    kern = {
        r["vec_id"]: r["cell"]
        for r in dedup._d49_assign(spark, vecs, gen1).collect()
    }
    decl = {
        r["vec_id"]: r["cell"]
        for r in _decl_assign(vecs, gen1, "v", "c").collect()
    }
    assert kern == decl
    assert len(kern) > 0


def test_assign_arrow_kernel_matches_declarative_trained(spark, tmp_path, monkeypatch):
    """The trained-index build (cell argmax + PQ_M sub-code argmins +
    vnorm) must match the declarative fan-out row-for-row, including
    every float: vnorm is the same left-fold + sqrt, sub-distances the
    same (x-y)^2 fold, ties the same (dist, cid) ordering."""
    from risk_dashboard_database_spark.plans import dedup, relcache
    from risk_dashboard_database_spark.plans.dedup import PQ_M, PQ_SUBDIM

    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    relcache.clear()
    try:
        kern = dedup._trained_assigned(spark, SF_DIR).collect()
        vecs = dedup._d49_vecs(spark, SF_DIR)
        cm = dedup._trained_centroids(spark, SF_DIR)
        cos = _dot_ref(F.col("v"), F.col("ce")) / (
            F.sqrt(_dot_ref(F.col("v"), F.col("v")))
            * F.sqrt(_dot_ref(F.col("ce"), F.col("ce")))
        )
        subdists = [
            _sql2_ref(
                F.slice(F.col("v"), (s - 1) * PQ_SUBDIM + 1, PQ_SUBDIM),
                F.slice(F.col("ce"), (s - 1) * PQ_SUBDIM + 1, PQ_SUBDIM),
            ).alias(f"d_{s}")
            for s in range(1, PQ_M + 1)
        ]
        fan = vecs.join(F.broadcast(cm)).select(
            "vec_id", "label", "v", "cid", cos.alias("__cos"), *subdists
        )
        decl = (
            fan.groupBy("vec_id")
            .agg(
                F.any_value("label").alias("label"),
                F.any_value("v").alias("v"),
                F.max_by(
                    F.col("cid"),
                    F.struct(F.col("__cos").alias("c"), (-F.col("cid")).alias("nc")),
                ).alias("cell"),
                *[
                    F.min_by(F.col("cid"), F.struct(F.col(f"d_{s}"), F.col("cid")))
                    .alias(f"code_{s}")
                    for s in range(1, PQ_M + 1)
                ],
            )
            .withColumn("vnorm", F.sqrt(_dot_ref(F.col("v"), F.col("v"))))
        ).collect()
        key = lambda rows: {
            r["vec_id"]: (
                r["label"],
                tuple(r["v"]),
                r["cell"],
                tuple(r[f"code_{s}"] for s in range(1, PQ_M + 1)),
                r["vnorm"],
            )
            for r in rows
        }
        a, b = key(kern), key(decl)
        assert a == b
        assert len(a) > 0
    finally:
        relcache.clear()


def test_ivf_assigned_kernel_matches_declarative_stub(spark, tmp_path, monkeypatch):
    """_ivf_assigned (stub codebook) through the kernel: cell + norm
    bit-identical to the old broadcast fan-out."""
    from risk_dashboard_database_spark.plans import dedup, relcache
    from risk_dashboard_database_spark.tables import load_table

    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    relcache.clear()
    try:
        kern = dedup._ivf_assigned(spark, SF_DIR).collect()
        emb = load_table(spark, SF_DIR, "embeddings")
        centroids = dedup._ivf_centroids(spark, SF_DIR)
        cos = _dot_ref(F.col("embedding"), F.col("ce")) / (
            F.sqrt(_dot_ref(F.col("embedding"), F.col("embedding")))
            * F.sqrt(_dot_ref(F.col("ce"), F.col("ce")))
        )
        decl = (
            emb.join(centroids)
            .select("vec_id", "label", "embedding", "cid", cos.alias("__cos"))
            .groupBy("vec_id")
            .agg(
                F.any_value("label").alias("label"),
                F.any_value("embedding").alias("embedding"),
                F.max_by(
                    F.col("cid"),
                    F.struct(F.col("__cos").alias("c"), (-F.col("cid")).alias("nc")),
                ).alias("cell"),
            )
            .withColumn(
                "norm", F.sqrt(_dot_ref(F.col("embedding"), F.col("embedding")))
            )
        ).collect()
        key = lambda rows: {
            r["vec_id"]: (r["label"], tuple(r["embedding"]), r["cell"], r["norm"])
            for r in rows
        }
        a, b = key(kern), key(decl)
        assert a == b
        assert len(a) > 0
    finally:
        relcache.clear()


def _d36_declarative(spark, sf_dir):
    """d36 as the declarative probes x corpus join + window: the
    reference its mining kernel must reproduce."""
    from pyspark.sql import Window

    from risk_dashboard_database_spark.plans.dedup import (
        D3_PROBES,
        HARDNEG_TOPK,
        _normed_embeddings,
    )

    normed = _normed_embeddings(spark, sf_dir)
    probes = F.broadcast(
        normed.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(D3_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("embedding").alias("qe"),
            F.col("norm").alias("qnorm"),
        )
    )
    cand = normed.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("label").alias("cand_label"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cnorm"),
    )
    scored = probes.join(cand, F.col("candidate_id") != F.col("query_id")).select(
        "query_id",
        "query_label",
        "candidate_id",
        "cand_label",
        (_dot_ref(F.col("qe"), F.col("ce")) / (F.col("qnorm") * F.col("cnorm"))).alias(
            "cosine"
        ),
    )
    best_pos = (
        scored.where(F.col("cand_label") == F.col("query_label"))
        .groupBy("query_id")
        .agg(F.max("cosine").alias("best_pos"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("candidate_id")
    )
    negs = (
        scored.where(F.col("cand_label") != F.col("query_label"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= HARDNEG_TOPK)
    )
    return negs.join(F.broadcast(best_pos), "query_id", "left").select(
        "query_id",
        "candidate_id",
        F.col("cand_label").alias("neg_label"),
        "cosine",
        (F.col("best_pos") - F.col("cosine")).alias("margin"),
        F.col("rank").cast("int").alias("rank"),
    )


def test_d36_mining_kernel_matches_declarative(spark):
    """d36's local-top-k mining kernel must reproduce the declarative
    probes x corpus join + window exactly — cosines, margins (NULL
    when a probe has no same-label candidate), ranks, tie-breaks."""
    from risk_dashboard_database_spark.plans import dedup

    decl = _d36_declarative(spark, SF_DIR)
    key = lambda rows: {
        (r["query_id"], r["rank"]): (
            r["candidate_id"],
            r["neg_label"],
            r["cosine"],
            r["margin"],
        )
        for r in rows
    }
    a = key(dedup.d36_hard_negatives(spark, SF_DIR).collect())
    b = key(decl.collect())
    assert a == b
    assert len(a) > 0


def test_assign_arrow_rejects_null_vectors(spark, tmp_path, monkeypatch):
    """A null embedding row, or a zero one, must fail the IVF index
    build with a descriptive error (before the kernel's flatten/reshape),
    not an opaque reshape error or a silently wrong cell."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from risk_dashboard_database_spark.plans import dedup, relcache

    monkeypatch.setattr(relcache, "MV_ROOT", str(tmp_path / "mv"))
    for bad, message in (
        (None, "null vector or coordinate"),
        ([0.0] * 4, "zero-norm vector"),
    ):
        data = tmp_path / f"data-{message.split()[0]}"
        data.mkdir()
        rows = [[float(i + 1), 1.0, 0.5, -0.25] for i in range(5)]
        rows[3] = bad
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(5), pa.int64()),  # centroid: 0
                    "embedding": pa.array(rows, pa.list_(pa.float32())),
                    "label": pa.array([0] * 5, pa.int32()),
                }
            ),
            data / "embeddings.parquet",
        )
        relcache.clear()
        try:
            with pytest.raises(Exception, match=message):
                dedup._ivf_assigned(spark, str(data)).collect()
        finally:
            relcache.clear()

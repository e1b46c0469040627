"""Large-scale training-data dedup + similarity search (brief §extras;
reference analog: articles dedup by canonical-url hash,
`sql/schema.sql:163-173`, `src/url_utils.py:12-47`).

Components, each a driver-checked query:

- d1_exact_dedup      — exact dedup by sha256(normalized url) with
                        first-seen-wins + duplicate counts
- d2_minhash_pairs    — MinHash + LSH banding near-dup pairs: shingle
                        -> 12 md5-order minhashes -> 4 bands x 3 rows
                        -> band-bucket join -> exact Jaccard on
                        candidates only (never all-pairs)
- d4_ngram_jaccard    — word-3-gram Jaccard, language-blocked
                        all-pairs (the small-scale baseline d2 must
                        agree with on its candidates)
- d6_simhash          — 32-bit SimHash fingerprints from token hashes
- d3_ann_topk         — brute-force cosine top-k over embeddings
                        (broadcast probes; the correctness baseline)
- d5_ann_lsh_bucket   — sign-LSH bucketed ANN (the scale path: probes
                        only search their bucket)
- d23/d24 (PQ)        — product-quantization code index + IVF-PQ
                        asymmetric-distance search (the compressed
                        billion-scale ANN leg)

Determinism: all "random" hash functions are md5-based (identical in
Spark and DuckDB); MinHash uses the lexicographic order of md5 hex
strings as its random total order, so Spark and the oracle agree
bit-for-bit. Cosines are left-fold dot products over float->double
casts — the same IEEE expression tree on both engines, so raw doubles
hash-match without rounding. In Spark SQL the fold is `_dot_spark`;
in numpy it is `vecops.fold_cos`, the one fold behind the probe top-k
kernel of d3, d36 and d66 (`vecops.probe_topk`) and the IVF cell
assignment (`_assign_arrow`).

Scale notes: d2 shuffles on band keys only (candidate sets), d5 on
LSH buckets; d1 is one hash-agg; d3 broadcasts the (small) probe set
against the corpus — the classic brute-force layout; at 100 TB you
shard candidates and keep the same plan. d4 is quadratic by design
(the oracle-grade baseline) and stays language-blocked.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.urls import url_hash
from ..tables import load_table, table_probe
from .registry import query
from .relcache import cached_relation, mv_step
from ..vecops import collect_vectors, decode, fold_cos, fold_norm, probe_topk
from .synth import K_SQL, k_col, normalized_url_sql, url_col

N_MINHASH = 12
N_BANDS = 4
ROWS_PER_BAND = 3
JACCARD_THRESHOLD = 0.5


# ---------------------------------------------------------------- d1
@query(
    "d1_exact_dedup",
    oracle=f"""
    WITH hashed AS (
      SELECT event_id, user_id,
             sha256({normalized_url_sql()}) AS url_hash
      FROM events
    )
    SELECT url_hash,
           MIN(event_id) AS canonical_event_id,
           COUNT(*) AS n_copies,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_duplicates
    FROM hashed
    GROUP BY url_hash
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content identity hash (reference: articles
    unique on canonical_url -> sha256(normalize_url),
    `sql/schema.sql:163-173` + `src/url_utils.py:43-47`).

    Two-phase aggregation: phase 1 hash-aggs on the RAW url string
    (cheap concat key, map-side combine collapses duplicates before
    the shuffle), phase 2 runs the expensive normalize+sha256 pipeline
    on the surviving DISTINCT raw urls only and re-aggregates on the
    hash. raw_url -> url_hash is functional, so min-of-mins /
    sum-of-counts gives the identical result to a single-phase agg.
    In any dedup-worthy corpus the duplicate rate is high, so phase 1
    shrinks normalize invocations by orders of magnitude (sf0.1:
    ~2.3M rows -> ~1.4k distinct raw urls; 3.5s -> well under the 1s
    budget); the extra exchange is tiny (distinct-raw-url rows only)."""
    ev = load_table(spark, sf_dir, "events")
    by_raw = (
        ev.select(
            "event_id", url_col(k_col(), F.col("event_type")).alias("raw_url")
        )
        .groupBy("raw_url")
        .agg(F.min("event_id").alias("min_event_id"), F.count("*").alias("n"))
    )
    return (
        by_raw.select(url_hash(F.col("raw_url")).alias("url_hash"), "min_event_id", "n")
        .groupBy("url_hash")
        .agg(
            F.min("min_event_id").alias("canonical_event_id"),
            F.sum("n").cast("long").alias("n_copies"),
            (F.sum("n") - 1).cast("long").alias("n_duplicates"),
        )
    )


# ------------------------------------------------------------ shingles
def _shingles_spark(text: F.Column) -> F.Column:
    """Distinct word-3-gram shingles (1-based element_at). Guarded for
    short docs: Spark's sequence(1, 0) yields a DESCENDING [1, 0] (not
    an empty array), which would index element_at(words, 0) and throw."""
    words = F.split(text, " ")
    idx = F.sequence(F.lit(1), F.size(words) - 2)
    return F.when(F.size(words) < 3, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(words, i),
                    F.element_at(words, i + 1),
                    F.element_at(words, i + 2),
                ),
            )
        )
    )


_SHINGLES_SQL = """
  list_distinct(list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
    i -> string_split(text, ' ')[i] || ' ' ||
         string_split(text, ' ')[i+1] || ' ' ||
         string_split(text, ' ')[i+2]))
"""

_MINHASH_SQL = f"""
  list_transform(range(0, {N_MINHASH}),
    j -> list_min(list_transform(sh, s -> md5(CAST(j AS VARCHAR) || '|' || s))))
"""


def _minhash_spark(shingles: F.Column) -> F.Column:
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_MINHASH - 1)),
        lambda j: F.array_min(
            F.transform(
                shingles,
                lambda s: F.md5(F.concat(j.cast("string"), F.lit("|"), s)),
            )
        ),
    )


def _minhash_arrow_sigs(spark: SparkSession, toks: DataFrame) -> DataFrame:
    """mapInArrow twin of `withColumn("mh", _minhash_spark(sh))` for the
    d2_sigs MV BUILD (r14 optimization, guide §4.2/§4.5) — the query
    plans that consume the MV are untouched; only how the stored bytes
    are produced changes, and `tests/test_r14_opt.py` pins the kernel
    bit-identical to the declarative fold.

    Why: the declarative form evaluates 12 interpreted HOF lambdas per
    shingle instance — N_MINHASH md5(j + '|' + s) calls per (doc,
    shingle) pair — and at the harness SFs the whole build lands on ONE
    task because the d2_toks MV is a single small parquet split, so the
    md5 storm runs serially (~10 s of the refresh critical path at
    sf0.1). The kernel (a) memoizes the 12 digests per DISTINCT shingle
    once per task — shingles repeat heavily across documents, the
    honest dedup-corpus assumption — and (b) runs on
    defaultParallelism-many partitions (the repartition is guarded: at
    scale, where the shingle relation already arrives in >= that many
    splits, no exchange is added).

    Bit-exactness: md5 hex digests are engine-independent; the per-j
    minimum over hex strings compares ASCII bytes, which is exactly
    UTF8String's unsigned-byte ordering, so `min()` over Python strings
    reproduces `array_min` on every input."""
    import pyarrow as pa

    base = toks.where(F.size("sh") > 0)
    n = spark.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < n:
        base = base.repartition(n)

    prefixes = [f"{j}|".encode() for j in range(N_MINHASH)]

    def gen(batches):
        import hashlib

        cache: dict[str, tuple[str, ...]] = {}  # shingle -> 12 digests
        for b in batches:
            mh_rows = []
            for shingles in b.column("sh").to_pylist():
                digs = []
                for s in shingles:
                    d = cache.get(s)
                    if d is None:
                        enc = s.encode()
                        d = tuple(
                            hashlib.md5(p + enc).hexdigest() for p in prefixes
                        )
                        cache[s] = d
                    digs.append(d)
                mh_rows.append(list(map(min, zip(*digs))))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    b.column("sh"),
                    pa.array(mh_rows, type=pa.list_(pa.string())),
                ],
                names=["doc_id", "sh", "mh"],
            )

    return base.mapInArrow(
        gen, schema="doc_id bigint, sh array<string>, mh array<string>"
    )


def _assign_arrow(
    spark: SparkSession,
    vecs: DataFrame,
    codebook: DataFrame,
    cid_col: str,
    cvec_col: str,
    vec_col: str,
    passthrough: tuple[str, ...],
    cell_name: str = "cell",
    pq: bool = False,
    norm_name: str | None = None,
    parallelize: bool = False,
) -> DataFrame:
    """mapInArrow argmax-cosine cell assignment, shared by the IVF
    family (_ivf_assigned / _d49_assign / _trained_assigned): the
    vectorized twin of `vecs x broadcast(codebook) -> per-row cosine
    fold -> groupBy(vec_id).max_by(...)`.

    The k-row codebook is collected once (k is the plan-bounded cell
    count) and broadcast; each Arrow batch is scored against it with
    `vecops.fold_cos`, so one output row leaves per input row, the
    n x k relation is never materialized and no exchange remains.
    Tie-breaks: centroids are sorted by cid ascending and numpy
    arg{max,min} return the FIRST extremum, reproducing
    max_by(cid, struct(cos, -cid)) / min_by(cid, struct(dist, cid)).
    PQ sub-distances fold `(v[i]-c[i])*(v[i]-c[i])` per dimension in
    `_SQL2_SPARK_SQL`'s order. Parity with the declarative forms is
    pinned by tests/test_r14_opt.py.

    ``parallelize`` adds the d2_sigs guarded repartition for MV
    builds whose source arrives in fewer splits than cores (no-op at
    scale); query paths leave it off to keep their plans exchange-
    free.

    A null vector or centroid, or a zero norm, raises ValueError
    (`vecops`). The codebook collect is EAGER: it runs a Spark job
    when the DataFrame is built, not when it is first evaluated."""
    import numpy as np
    import pyarrow as pa

    cb = collect_vectors(codebook.select(cid_col, cvec_col).orderBy(cid_col), cvec_col)
    bc = spark.sparkContext.broadcast((cb[cid_col].astype(np.int64), cb[cvec_col]))

    base = vecs.select(*passthrough)
    if parallelize:
        n = spark.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < n:
            base = base.repartition(n)

    types = {f.name: f.dataType.simpleString() for f in base.schema.fields}
    out_fields = [f"{c} {types[c]}" for c in passthrough]
    out_fields.append(f"{cell_name} bigint")
    if pq:
        out_fields += [f"code_{s} bigint" for s in range(1, PQ_M + 1)]
    if norm_name:
        out_fields.append(f"{norm_name} double")
    schema = ", ".join(out_fields)

    def gen(batches):
        cids, C = bc.value  # cid-ascending
        cn = fold_norm(C)
        for b in batches:
            if b.num_rows == 0:
                continue
            V = decode(b.column(vec_col), vec_col)
            vn = fold_norm(V)
            cos = fold_cos(V, vn, C, cn)
            cols = [b.column(c) for c in passthrough]
            names = list(passthrough)
            cols.append(pa.array(cids[np.argmax(cos, axis=1)], type=pa.int64()))
            names.append(cell_name)
            if pq:
                for s in range(1, PQ_M + 1):
                    lo = (s - 1) * PQ_SUBDIM
                    dacc = np.zeros((len(V), len(C)))
                    for i in range(lo, lo + PQ_SUBDIM):
                        d = V[:, i : i + 1] - C[:, i]
                        dacc += d * d
                    cols.append(
                        pa.array(cids[np.argmin(dacc, axis=1)], type=pa.int64())
                    )
                    names.append(f"code_{s}")
            if norm_name:
                cols.append(pa.array(vn, type=pa.float64()))
                names.append(norm_name)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return base.mapInArrow(gen, schema=schema)


def _shingle_toks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, shingle-set) relation through the MV seam
    (`d2_toks`) — shared by d2's signature build and d59's
    within-cluster exact-Jaccard audit.

    r15 (guide §2.5): the build carries the d2_sigs-style guarded
    defaultParallelism repartition — the shingle extraction is the
    refresh DAG's critical path (3.5-4 s of interpreted split/
    transform work serialized on ONE task when documents arrives as a
    single split; the documents re-layout was measured and rejected in
    r14 precisely because its heavy consumers should parallelize
    INTERNALLY). No-op at scale, where the corpus arrives in >= cores
    splits. Content is row-order-independent downstream (every
    consumer aggregates/joins by doc_id)."""
    docs = load_table(spark, sf_dir, "documents")

    def _build() -> DataFrame:
        base = docs.select("doc_id", "text")
        n = spark.sparkContext.defaultParallelism
        if base.rdd.getNumPartitions() < n:
            base = base.repartition(n)
        return base.select(
            "doc_id", _shingles_spark(F.col("text")).alias("sh")
        )

    return cached_relation("d2_toks", sf_dir, _build)


@mv_step("d2_sigs", keys=("d2_toks", "d2_sigs"), deps=("layout_documents",))
def _d2_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored per-doc MinHash signatures that d2, d27 and d37 band.
    Stored rather than inlined: the shingle/minhash expressions are
    referenced by the band explode AND both sides of the candidate
    join, and without a materialization barrier Catalyst's
    CollapseProject inlines the (expensive) md5 transforms into every
    reference — measured 30x recompute at sf0.1. Built via the Arrow
    kernel (r14): same rows bit-for-bit as the declarative
    `withColumn("mh", _minhash_spark(sh))` (pinned by
    tests/test_r14_opt.py), ~10x cheaper and parallel instead of a
    single-task interpreted md5 storm."""
    toks = _shingle_toks(spark, sf_dir)
    return cached_relation(
        "d2_sigs", sf_dir, lambda: _minhash_arrow_sigs(spark, toks)
    )


_JACCARD_SQL = """
  CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
    / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))
"""


# ---------------------------------------------------------------- d2
@query(
    "d2_minhash_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {_MINHASH_SQL} AS mh
      FROM toks WHERE len(sh) > 0
    ),
    bands AS (
      SELECT doc_id,
             b AS band,
             md5(CAST(b AS VARCHAR) || ':' || mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
      FROM sigs, UNNEST(range(0, {N_BANDS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_key = b2.band_key AND b1.band = b2.band
       AND b1.doc_id < b2.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS BIGINT) AS n_common,
           {_JACCARD_SQL} AS jaccard
    FROM cand c
    JOIN toks a ON a.doc_id = c.doc_a
    JOIN toks b ON b.doc_id = c.doc_b
    WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    """,
)
def d2_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banded near-dup detection: per doc a 12-element
    minhash signature (min md5 over shingles — md5 hex order is the
    deterministic 'random' permutation), 4 bands of 3 rows hashed to
    bucket keys, candidate pairs = docs sharing a band bucket, then
    exact Jaccard on candidates only. The shuffle key is the band
    hash; no all-pairs comparison ever happens — at 100 TB the bucket
    join is the only quadratic-risk spot and buckets stay tiny under
    any real near-dup density."""
    toks = _shingle_toks(spark, sf_dir)
    sigs = _d2_sigs(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat(
                            b.cast("string"),
                            F.lit(":"),
                            F.element_at(F.col("mh"), b * 3 + 1),
                            F.element_at(F.col("mh"), b * 3 + 2),
                            F.element_at(F.col("mh"), b * 3 + 3),
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    left = bands.alias("b1")
    right = bands.alias("b2")
    cand = (
        left.join(
            right,
            (F.col("b1.band_key") == F.col("b2.band_key"))
            & (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b"))
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_common"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------- d4
# Quadratic-audit guard (VERDICT r8 #7). d4 and d42 are the deliberate
# all-pairs exact legs — oracle-grade ground truth for the LSH/bucket
# approximations, quadratic BY DESIGN and meant for samples. Nothing
# used to stop a caller pointing them at a full corpus, where n^2 pairs
# is a cluster-killer no optimizer can save. The bound lives IN THE
# PLAN: a limit-pushed probe counts at most AUDIT_MAX_ROWS + 1 input
# rows (cheap at any corpus size — the scan early-exits) and refuses
# loudly above the ceiling, pointing at the scalable counterpart.
AUDIT_MAX_ROWS = 50_000


def _audit_bound(df: DataFrame, name: str, alternative: str) -> DataFrame:
    n = df.limit(AUDIT_MAX_ROWS + 1).count()
    if n > AUDIT_MAX_ROWS:
        raise ValueError(
            f"{name}: refusing the quadratic exact-audit leg on "
            f">{AUDIT_MAX_ROWS} input rows ({n}+ found). This operator is "
            f"oracle-grade ground truth for samples; at corpus scale use "
            f"{alternative}, or audit a deterministic sample (e.g. "
            f"doc_id-hash filter) under the bound."
        )
    return df


@query(
    "d4_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_SHINGLES_SQL} AS sh FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           {_JACCARD_SQL} AS jaccard
    FROM toks a
    JOIN toks b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(a.sh) > 0 AND len(b.sh) > 0
      AND {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    """,
)
def d4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup baseline: language-blocked all-pairs
    word-3-gram similarity. This is the oracle-grade ground truth d2's
    LSH path approximates; quadratic by design, so it stays blocked
    (per-language) and is the small-data baseline only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang", _shingles_spark(F.col("text")).alias("sh")).where(
        F.size("sh") > 0
    )
    toks = _audit_bound(toks, "d4_ngram_jaccard", "d2_minhash_pairs (banded LSH)")
    a = toks.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("sh").alias("sh_a")
    )
    b = toks.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        a.join(b, (F.col("lang") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b")))
        .select(
            "doc_a",
            "doc_b",
            "lang",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------- d6
# bit j of md5(token): hex nibble (j//4)-th char -> int 0..15 -> bit (j%4)
_BIT_SQL = (
    "((instr('0123456789abcdef', substr(md5(t), 1 + (j // 4), 1)) - 1)"
    " // CAST(pow(2, j % 4) AS INTEGER)) % 2"
)


@query(
    "d6_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS tk FROM documents
    )
    SELECT doc_id,
           list_reduce(
             list_transform(range(0, 32), j ->
               CASE WHEN list_reduce(
                      list_transform(tk, t -> 2 * ({_BIT_SQL}) - 1),
                      (a, x) -> a + x) >= 0
                    THEN '1' ELSE '0' END),
             (a, x) -> a || x) AS simhash32
    FROM toks
    """,
)
def d6_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprints: 32 bit positions, each the sign
    of sum over distinct tokens of (+1/-1) from bit j of md5(token).
    Emitted as a 32-char bitstring. Near-dup candidates at scale come
    from banding the fingerprint (same join shape as d2); the
    fingerprint itself is the hash-checked unit here. Pure JVM
    expression (nested higher-order functions), no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("tk")
    )
    simhash = F.expr(
        """
        reduce(
          transform(sequence(0, 31), j ->
            CASE WHEN aggregate(
                   transform(tk, t ->
                     2 * (CAST(FLOOR(
                           (instr('0123456789abcdef',
                                  substring(md5(t), 1 + CAST(FLOOR(j / 4) AS INT), 1)) - 1)
                           / CAST(pow(2, j % 4) AS INT)) AS INT) % 2) - 1
                   ), 0, (a, x) -> a + x) >= 0
                 THEN '1' ELSE '0' END),
          '', (a, x) -> concat(a, x))
        """
    )
    return toks.select("doc_id", simhash.alias("simhash32"))


# ------------------------------------------------------------- cosine
# The Spark SQL text of the folds: one `F.expr` per fold instead of a
# node-by-node Column build (each node a py4j round trip). `0D`, not
# `0.0`, which Spark SQL reads as a decimal.
_DOT_SPARK_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)


def _dot_spark(a: str, b: str) -> F.Column:
    """Left-fold dot product over double casts of the arrays named by
    the SQL text `a` and `b` — matches the oracle's list_reduce
    expression tree bit-for-bit. `_DOT_SPARK_SQL` must stay the same
    expression tree as `_DOT_SQL`: the same products, summed left to
    right from 0."""
    return F.expr(_DOT_SPARK_SQL.format(a=a, b=b))


_DOT_SQL = """
  list_reduce(list_transform(list_zip({a}, {b}),
    p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
"""

# --------------------------------------------- shared vector fragments
# (defined up here, before the first IVF-family @query decorator that
# embeds them in its oracle SQL)

PQ_M = 8        # subspaces
PQ_SUBDIM = 8   # dims per subspace (embeddings are 64-dim)


# Left-fold squared-L2 over double casts of the arrays `a` and `b`, as
# Spark SQL text (every caller embeds it in a larger SQL expression).
# It must stay the same expression tree as `_SQL2_SQL` so sub-distances
# hash-match the oracle.
_SQL2_SPARK_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
    " 0D, (acc, v) -> acc + v)"
)


_SQL2_SQL = """
  list_reduce(list_transform(list_zip({a}, {b}),
    p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)
"""


def _sub_sql(col: str, s: int) -> str:
    """DuckDB 1-based inclusive slice of subspace s."""
    return f"{col}[{(s - 1) * PQ_SUBDIM + 1}:{s * PQ_SUBDIM}]"


D49_PPB = 1_000_000_000  # fixed-point scale for embedding coords
# Fixed-count seed codebook (VERDICT r8 #5): the old `vec_id % 100`
# seed was 1% OF THE CORPUS, so the n x k assignment cost was
# effectively quadratic in corpus size with the bound living in prose.
# The seed is a deterministic md5-rank top-K — the bound is a rank
# predicate in the plan (TakeOrderedAndProject / WindowGroupLimit,
# never a global sort), and the selection is engine-exact (d3's
# md5-of-decimal-string convention).
#
# CORPUS-SCALED cell count (VERDICT r11 "what's missing" #2 — the
# sign-LSH nbits precedent applied to IVF): a constant 16-cell index
# makes every "cell-local" operator (d44/d47/d61/d62/d65) scan 1/16th
# of the corpus per cell, which stops being cell-local the moment the
# corpus grows. k now follows the sqrt law every IVF deployment uses
# (k ~ sqrt(n) keeps per-cell membership ~ sqrt(n), balancing probe
# cost against cell-scan cost): k = 2^clamp(4, bitlen(n-1)//2 - 1,
# 16). Integer-only on BOTH engines — bit length of n-1, halved,
# mapped through a 13-branch CASE (no pow(), which is not correctly
# rounded; no dialect-divergent integer division — FLOOR(x / 2.0) is
# IEEE-exact for these magnitudes). At the driver's test SFs
# (n <= 2000) the formula floors at the historical 16 cells, so every
# stored-MV output is unchanged there; at the 100x vector replica
# (200k vectors) k = 256 (~780 vectors/cell instead of 12.5k); the
# cap 65536 holds per-cell work ~ n/65536 at 10^10+ vectors.
D49_SEED_K = 16  # the floor — and the value at every driver test SF


def d49_cells(n: int) -> int:
    """IVF cell count for an n-vector corpus (python twin of
    _IVF_CELLS_SQL; pinned equal in tests/test_scale_ops.py)."""
    return 1 << min(16, max(4, ((max(n, 2) - 1).bit_length() // 2) - 1))


def _ivf_cells(spark: SparkSession, sf_dir: str) -> int:
    """Deployed cell count for this dataset."""
    return d49_cells(_emb_count(sf_dir))


def _ivf_cells_sql(n_expr: str) -> str:
    """The same formula as SQL text, valid verbatim in BOTH DuckDB and
    Spark (the d68 shared-text discipline): bin()/length()/GREATEST/
    LEAST/FLOOR/CASE mean the same thing in both dialects, and every
    intermediate is integer-exact."""
    shift = (
        f"LEAST(16, GREATEST(4, CAST(FLOOR(length(bin(GREATEST({n_expr}, 2)"
        f" - 1)) / 2.0) AS INT) - 1))"
    )
    return (
        f"CASE {shift} WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64"
        " WHEN 7 THEN 128 WHEN 8 THEN 256 WHEN 9 THEN 512"
        " WHEN 10 THEN 1024 WHEN 11 THEN 2048 WHEN 12 THEN 4096"
        " WHEN 13 THEN 8192 WHEN 14 THEN 16384 WHEN 15 THEN 32768"
        " ELSE 65536 END"
    )

# Shared SQL fragments for the trained-codebook CTE chain (d49's
# training unrolled; reused by every trained-default IVF/PQ oracle so
# each gate re-proves the stored codebook equals retraining from
# scratch).
_D49_VECS_SQL = f"""
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {D49_PPB}.0) AS BIGINT)) AS v
      FROM embeddings
"""
_D49_GEN1_CTES = f"""
    kc AS (SELECT {_ivf_cells_sql('COUNT(*)')} AS k FROM embeddings),
    gen0 AS (SELECT vec_id AS cid, v AS c FROM vecs, kc
             QUALIFY ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= kc.k),
    a1 AS (
      SELECT s.vec_id, s.v,
             (SELECT g.cid FROM gen0 g
              ORDER BY {_DOT_SQL.format(a='s.v', b='g.c')}
                       / (sqrt({_DOT_SQL.format(a='s.v', b='s.v')})
                          * sqrt({_DOT_SQL.format(a='g.c', b='g.c')})) DESC, g.cid
              LIMIT 1) AS cell
      FROM vecs s
    ),
    sums AS (
      SELECT cell, i AS dim, CAST(SUM(v[i]) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM a1, UNNEST(generate_series(1, len(v))) AS t(i)
      GROUP BY cell, i
    ),
    gen1 AS (
      SELECT cell AS cid, list(s ORDER BY dim) AS c, MAX(n) AS n
      FROM sums GROUP BY cell
    )
"""

# Mean centroids from the stored sum-codebook: squared-L2 sub-distances
# are scale-sensitive (unlike cosine), so means are floor(sum / n) in
# DOUBLE on both engines — IEEE division is exactly rounded and
# |sum| < 2^53 at this scale, so the integer coords are engine-equal.
_D25B_CM_SQL = """
      SELECT cid,
             list_transform(c, x -> CAST(floor(CAST(x AS DOUBLE) / n)
                                         AS BIGINT)) AS ce
      FROM gen1
"""

# Bounded probe set for the whole IVF/PQ search family (VERDICT r9 #4
# closes the family on the d3/d36/d49 convention): a FIXED COUNT of
# probes selected by deterministic md5 rank + LIMIT, not the old
# `vec_id % 50` corpus fraction, so per-query search work stops growing
# linearly with the corpus and the bound lives in the plan
# (TakeOrderedAndProject).
IVF_PROBES = 40

# The trained-default oracle preamble: ppb fixed-point vectors (with
# label riding along for the search outputs), the d49 Lloyd round, the
# mean codebook, argmax-cosine cell assignment, and the bounded probe
# set. Every trained IVF/PQ oracle starts with this text.
_TRAINED_PREAMBLE_SQL = f"""vecs AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {D49_PPB}.0) AS BIGINT)) AS v
      FROM embeddings
    ),
{_D49_GEN1_CTES},
    cm AS ({_D25B_CM_SQL}),
    assigned AS (
      SELECT s.vec_id, s.label, s.v,
             (SELECT m.cid FROM cm m
              ORDER BY {_DOT_SQL.format(a='s.v', b='m.ce')}
                       / (sqrt({_DOT_SQL.format(a='s.v', b='s.v')})
                          * sqrt({_DOT_SQL.format(a='m.ce', b='m.ce')})) DESC, m.cid
              LIMIT 1) AS cell
      FROM vecs s
    ),
    q AS (SELECT vec_id, label, v, cell FROM assigned
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {IVF_PROBES})"""

_TRAINED_CODES_SQL = ",\n".join(
    f"""             (SELECT m.cid FROM cm m
              ORDER BY {_SQL2_SQL.format(a=_sub_sql('s.v', s), b=_sub_sql('m.ce', s))}, m.cid
              LIMIT 1) AS code_{s}"""
    for s in range(1, PQ_M + 1)
)
_TRAINED_DT_COLS_SQL = ",\n".join(
    f"             {_SQL2_SQL.format(a=_sub_sql('q.v', s), b=_sub_sql('m.ce', s))} AS td_{s}"
    for s in range(1, PQ_M + 1)
)
_TRAINED_ADC_JOINS_SQL = "\n".join(
    f"      JOIN dt dt{s} ON dt{s}.query_id = q.vec_id AND dt{s}.cid = k.code_{s}"
    for s in range(1, PQ_M + 1)
)
_TRAINED_ADC_SUM_SQL = " + ".join(f"dt{s}.td_{s}" for s in range(1, PQ_M + 1))

# The full trained IVF-PQ recall chain (PQ top-3 vs exact in-cell
# top-3 per probe) — the one oracle of d25_ann_recall, which is also
# registered as d25b_ann_recall_trained.
_TRAINED_RECALL_ORACLE = f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    codes AS (
      SELECT s.vec_id,
{_TRAINED_CODES_SQL}
      FROM vecs s
    ),
    dt AS (
      SELECT q.vec_id AS query_id, m.cid,
{_TRAINED_DT_COLS_SQL}
      FROM q, cm m
    ),
    pq_scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS candidate_id,
             {_TRAINED_ADC_SUM_SQL} AS adc
      FROM q
      JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.vec_id
      JOIN codes k ON k.vec_id = a.vec_id
{_TRAINED_ADC_JOINS_SQL}
    ),
    pq_top AS (
      SELECT query_id, candidate_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc, candidate_id) AS rank
        FROM pq_scored) WHERE rank <= 3
    ),
    exact_scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS candidate_id,
             {_DOT_SQL.format(a='q.v', b='a.v')}
               / (sqrt({_DOT_SQL.format(a='q.v', b='q.v')})
                  * sqrt({_DOT_SQL.format(a='a.v', b='a.v')})) AS cosine
      FROM q JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.vec_id
    ),
    exact_top AS (
      SELECT query_id, candidate_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, candidate_id) AS rank
        FROM exact_scored) WHERE rank <= 3
    )
    SELECT p.query_id,
           CAST(COUNT(*) AS BIGINT) AS k_returned,
           CAST(COUNT(e.candidate_id) AS BIGINT) AS hits
    FROM pq_top p
    LEFT JOIN exact_top e
      ON e.query_id = p.query_id AND e.candidate_id = p.candidate_id
    GROUP BY p.query_id
    """


@mv_step("d3_normed", keys=("d3_normed",), deps=("layout_embeddings",))
def _normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings with their L2 norm precomputed, through the MV seam:
    the norm is an index-like derived column every cosine consumer
    needs, so compute it once per vector (O(n * dim)) and store it,
    rather than per candidate pair (O(pairs * dim)). The expression is
    exactly `sqrt(_dot_spark(e, e))` so downstream cosines match the
    inline formulation bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _build() -> DataFrame:
        return emb.select(
            "vec_id",
            "label",
            "embedding",
            F.sqrt(_dot_spark("embedding", "embedding")).alias("norm"),
        )

    return cached_relation("d3_normed", sf_dir, _build)


# ---------------------------------------------------------------- d3
# d3 and d36 search the ANN family's bounded probe set (`_ivf_probe_set`).
D3_PROBES = IVF_PROBES


@query(
    "d3_ann_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               LIMIT {D3_PROBES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS candidate_id, e.label,
             {_DOT_SQL.format(a='q.embedding', b='e.embedding')}
               / (sqrt({_DOT_SQL.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, candidate_id) AS rank
      FROM scored
    )
    SELECT query_id, candidate_id, label, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def d3_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search (the ANN correctness
    baseline) through the shared probe kernel (`vecops.probe_topk`):
    the bounded probe set (md5-rank + LIMIT, D3_PROBES rows at any
    corpus size) is collected and broadcast, every Arrow batch of the
    stored normed MV emits only its local top-5 per probe, and one
    window merges the per-batch heads. Cosines use the stored
    `d3_normed` norms (one fold per vector, not per pair) and are
    pinned bit-identical to `_d3_fold_reference`, the declarative
    formulation, by tests/test_r8_ops.py. The probe collect runs a
    Spark job at plan-construction time."""
    return (
        _normed_probe_search(spark, sf_dir, 5, by_label=False)
        .where("rank <= 5")
        .selectExpr(
            "query_id", "candidate_id", "label", "cosine", "CAST(rank AS INT) AS rank"
        )
    )


def _normed_probe_search(
    spark: SparkSession, sf_dir: str, k: int, by_label: bool
) -> DataFrame:
    """The probe kernel over the normed MV, with the candidate's label
    kept: one leg (d3), or with ``by_label`` leg 0 = the candidates of
    another label and leg 1 = those of the probe's own label (d36).
    `rank` numbers each probe's rows by (leg, cosine desc,
    candidate_id), so leg 0's ranks start at 1; a window keyed by
    query_id alone lets d36's best_pos window share its exchange."""
    normed = _normed_embeddings(spark, sf_dir)
    P = collect_vectors(
        _ivf_probe_set(normed).selectExpr(
            "vec_id AS query_id", "embedding AS qv", "norm AS qnorm", "label"
        ),
        "qv",
    )
    legs = (
        (("label", P["label"], False), ("label", P["label"], True))
        if by_label
        else (None,)
    )
    local = probe_topk(
        spark,
        (P["query_id"], P["qv"], P["qnorm"]),
        normed.selectExpr(
            "vec_id AS candidate_id", "embedding AS cv", "norm AS cnorm", "label"
        ),
        k,
        legs,
        keep=("label",),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("leg"), F.col("cosine").desc(), F.col("candidate_id")
    )
    return local.withColumn("rank", F.row_number().over(w))


def _d3_fold_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative formulation d3's kernel must match bit-for-bit:
    broadcast probes x corpus with the zip_with/aggregate fold (the
    pre-r8 plan, kept as the parity reference — tests/test_r8_ops.py
    asserts kernel == fold on every row including raw cosine bits)."""
    normed = _normed_embeddings(spark, sf_dir)
    q = F.broadcast(
        normed.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(D3_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("norm").alias("qnorm"),
        )
    )
    cand = normed.select(
        F.col("vec_id").alias("candidate_id"),
        "label",
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cnorm"),
    )
    scored = q.join(cand, F.col("candidate_id") != F.col("query_id")).select(
        "query_id",
        "candidate_id",
        "label",
        (
            _dot_spark("qe", "ce")
            / (F.col("qnorm") * F.col("cnorm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .withColumn("rank", F.col("rank").cast("int"))
    )


# ---------------------------------------------------------------- d5
# Corpus-scaled sign-LSH width (VERDICT r9 #6): the bucket is the
# sign-bit string of the first `nbits` embedding dimensions, and
# `nbits` GROWS with the corpus — nbits = clamp(8, bitlen(n-1) - 6,
# dim) keeps mean bucket occupancy in (32, 64], so within-bucket
# pairwise work stays O(1) per vector and total candidate volume
# linear in n (the fixed 256 buckets saturated: occupancy ~ n/256 made
# the bucket join ~n^2/256 — named term #3, BENCH_NOTES r9, retired
# here). The width is integer-derived on BOTH engines (bit length of
# n-1, no float log), so bucket strings stay engine-identical; at the
# driver's test SFs (n <= 5000) the formula floors at the historical
# 8 bits, so small-corpus outputs are unchanged.
_BUCKET_SQL = """
  list_reduce(list_transform(range(1, nb.nbits + 1),
    i -> CASE WHEN {e}[i] >= 0 THEN '1' ELSE '0' END), (a, x) -> a || x)
"""
_NBITS_CTE_SQL = """nb AS (
      SELECT GREATEST(8, LEAST(64, length(bin(COUNT(*) - 1)) - 6)) AS nbits
      FROM embeddings
    )"""

def _emb_count(sf_dir: str) -> int:
    """Embeddings row count from the parquet footers (`table_probe`):
    no Spark job, and a table rewritten in place recounts at once."""
    return table_probe(os.path.join(sf_dir, "embeddings.parquet")).rows


def _sign_bits(spark: SparkSession, sf_dir: str) -> int:
    """Corpus-scaled sign-LSH width: clamp(8, bitlen(n-1) - 6, 64)."""
    n = _emb_count(sf_dir)
    return max(8, min(64, (max(n, 2) - 1).bit_length() - 6))


def _sign_bucket_spark(nbits: int) -> F.Column:
    """The Spark twin of _BUCKET_SQL for a resolved width."""
    return F.array_join(
        F.transform(
            F.slice(F.col("embedding"), 1, nbits),
            lambda x: F.when(x >= 0, "1").otherwise("0"),
        ),
        "",
    )


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic every-100th-vector codebook. Its k ~ n/100
    cells partition the corpus for the cell-local operators (d44,
    d44b, d47) and the streaming semantic-decontamination gate; the
    IVF/PQ search family reads the d49-trained codebook instead
    (_trained_centroids). k ~ n/100 makes assignment ~n^2/100 — the
    named super-linear term of this index."""
    emb = load_table(spark, sf_dir, "embeddings")
    return F.broadcast(
        emb.where(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
        )
    )


@mv_step("d8_assigned", keys=("d8_assigned_v2",), deps=("layout_embeddings",))
def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector assigned to its max-cosine `_ivf_centroids` cell
    (vec_id, label, embedding, cell, norm): argmax per vector with
    ties to the smaller cid, matching the oracle's ORDER BY ... DESC,
    c.cid LIMIT 1.

    Stored through the MV seam (store key d8_assigned_v2, warmed by
    the refresh DAG's d8_assigned step): it is an index — real systems
    build it once and store it. Consumers: d44/d44b/d47's cell-local
    ops and streaming/semdecontam.py, which want an n/100-cell
    partition of the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")

    def _build_assigned() -> DataFrame:
        # r14: _assign_arrow kernel — same rows bit-for-bit as the old
        # n x k broadcast-join + max_by fold (pinned by
        # tests/test_r14_opt.py); the norm column keeps d3's
        # store-the-norm trick (sqrt of the same left fold).
        return _assign_arrow(
            spark,
            emb,
            _ivf_centroids(spark, sf_dir),
            cid_col="cid",
            cvec_col="ce",
            vec_col="embedding",
            passthrough=("vec_id", "label", "embedding"),
            norm_name="norm",
            parallelize=True,
        )

    # key bumped (v2) when the norm column was added: the store is
    # content-addressed by DATASET, so a build-logic change must change
    # the key or stale v1 files would be reused.
    return cached_relation("d8_assigned_v2", sf_dir, _build_assigned)


def _ivf_probe_set(rel: DataFrame) -> DataFrame:
    """The ANN family's bounded probe set: deterministic md5-rank top-K
    over a vec_id relation (IVF_PROBES rows at any corpus size,
    TakeOrderedAndProject in the plan)."""
    return rel.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id").limit(
        IVF_PROBES
    )


def _ivf_probes(assigned: DataFrame) -> DataFrame:
    """The probe select of the trained index (query_id, qe, qcell,
    qnorm). Every IVF search, audit and d66's sweep kernel reads this
    one select, so all of them score the same probe ids."""
    return _ivf_probe_set(assigned).selectExpr(
        "vec_id AS query_id", "v AS qe", "cell AS qcell", "vnorm AS qnorm"
    )


def _ivf_candidates(
    spark: SparkSession, sf_dir: str, scores: tuple[str, ...], nprobe: int = 1
) -> DataFrame:
    """THE scored in-cell candidate relation of the IVF search family:
    (query_id, candidate_id, label, cell, *scores) — every bounded
    probe paired with every other vector of a cell it probes, in the
    stored trained index (_trained_assigned). d8/d14/d24 rank it;
    d25/d25b audit both rankings over it.

    Routing: nprobe=1 joins on the probe's stored cell; nprobe>1 joins
    on its nprobe max-cosine trained centroids (a window over the bounded
    probes x broadcast k-row codebook fan-out, ties to the smaller
    cid, as the oracle's ORDER BY ... DESC, m.cid). A candidate sits
    in exactly one cell, so probed cells yield disjoint candidate
    sets — no dedup pass. The probe side is broadcast (IVF_PROBES x
    nprobe rows), so the search is one BroadcastHashJoin on the cell
    key at any corpus size.

    ``scores`` names the columns to compute, in output order:
      - "cosine": exact cosine — one `_dot_spark` left fold per pair
        over the stored L2 norms (the sqrt of that same fold, d3's
        store-the-norm trick), bit-equal to the oracle's expression;
      - "adc": PQ asymmetric distance. The probe's distance table
        (k x PQ_M sub-distances, probes x broadcast codebook) folds
        into ONE row per probe — a {centroid -> [td_1..td_M]} map —
        and is broadcast, so every candidate scores with PQ_M hash
        lookups on its stored codes and never touches its floats (the
        IVF-PQ execution model, Jegou et al., TPAMI 2011). Map content
        does not depend on collect_list order (cids are unique per
        probe), and the lookups sum left-associatively, the oracle's
        dt1.td_1 + ... + dtM.td_M IEEE order."""
    assigned = _trained_assigned(spark, sf_dir)
    probes = routed = _ivf_probes(assigned)
    route = "qcell"
    if nprobe > 1:
        cos_to_centroid = (
            f"{_DOT_SPARK_SQL.format(a='qe', b='ce')}"
            f" / (sqrt({_DOT_SPARK_SQL.format(a='qe', b='qe')})"
            f" * sqrt({_DOT_SPARK_SQL.format(a='ce', b='ce')}))"
        )
        routed = (
            probes.join(F.broadcast(_trained_centroids(spark, sf_dir)))
            .selectExpr(
                "*",
                "row_number() OVER (PARTITION BY query_id"
                f" ORDER BY {cos_to_centroid} DESC, cid) AS prk",
            )
            .where(f"prk <= {nprobe}")
            .selectExpr("query_id", "qe", "qnorm", "cid AS pcell")
        )
        route = "pcell"
    cand = assigned.selectExpr(
        "vec_id AS candidate_id",
        "label",
        "v AS ce2",
        "cell",
        "vnorm AS cnorm",
        *[f"code_{s}" for s in range(1, PQ_M + 1)],
    )
    joined = F.broadcast(routed).join(
        cand, F.expr(f"cell = {route} AND candidate_id <> query_id")
    )
    cols = {}
    if "cosine" in scores:
        cols["cosine"] = f"{_DOT_SPARK_SQL.format(a='qe', b='ce2')} / (qnorm * cnorm)"
    if "adc" in scores:
        dt = probes.join(F.broadcast(_trained_centroids(spark, sf_dir))).selectExpr(
            "query_id",
            "cid",
            *[
                _SQL2_SPARK_SQL.format(
                    a=f"slice(qe, {(s - 1) * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                    b=f"slice(ce, {(s - 1) * PQ_SUBDIM + 1}, {PQ_SUBDIM})",
                )
                + f" AS td_{s}"
                for s in range(1, PQ_M + 1)
            ],
        )
        tds = ", ".join(f"td_{s}" for s in range(1, PQ_M + 1))
        dtm = dt.groupBy("query_id").agg(
            F.expr(f"map_from_entries(collect_list(struct(cid, array({tds})))) AS tdm")
        ).withColumnRenamed("query_id", "tq")
        joined = joined.join(F.broadcast(dtm), F.expr("tq = query_id"))
        cols["adc"] = " + ".join(
            f"element_at(tdm, code_{s})[{s - 1}]" for s in range(1, PQ_M + 1)
        )
    return joined.selectExpr(
        "query_id", "candidate_id", "label", "cell",
        *[f"{cols[s]} AS {s}" for s in scores],
    )


def _ivf_top3(scored: DataFrame, order: F.Column) -> DataFrame:
    """Top-3 candidates per probe by `order`, ties to the smaller
    candidate_id; rank is INT like the oracle's CAST(rank AS INTEGER)."""
    w = Window.partitionBy("query_id").orderBy(order, F.col("candidate_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .withColumn("rank", F.col("rank").cast("int"))
    )


@query(
    "d8_ann_ivf",
    oracle=f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id, c.label, q.cell,
             {_DOT_SQL.format(a='q.v', b='c.v')}
               / (sqrt({_DOT_SQL.format(a='q.v', b='q.v')})
                  * sqrt({_DOT_SQL.format(a='c.v', b='c.v')})) AS cosine
      FROM q JOIN assigned c ON c.cell = q.cell AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, candidate_id) AS rank
      FROM scored
    )
    SELECT query_id, candidate_id, label, cell, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def d8_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other scale path beside d5's sign-LSH):
    every vector assigned to its max-cosine cell of the d49-trained
    codebook (corpus-scaled sqrt-law cell count `d49_cells(n)`, r12 —
    16 cells at the test SFs, 65536 max, so the n x k assignment stays
    ~ n^1.5-bounded and per-cell scans shrink as the corpus grows);
    bounded md5-rank probes search ONLY their own cell and keep the
    exact-cosine top-3. The oracle unrolls the full training chain, so
    the gate re-proves the stored index equals retraining from
    scratch."""
    return _ivf_top3(
        _ivf_candidates(spark, sf_dir, ("cosine",)), F.col("cosine").desc()
    )


@query(
    "d7_embedding_dedup",
    oracle=f"""
    WITH {{nbcte}},
    b AS (
      SELECT vec_id, embedding,
             {{bucket}} AS bucket
      FROM embeddings, nb
    )
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b, a.bucket,
           {{dot}}
             / (sqrt({{na}}) * sqrt({{nb}})) AS cosine
    FROM b a JOIN b c ON c.bucket = a.bucket AND a.vec_id < c.vec_id
    WHERE {{dot}}
             / (sqrt({{na}}) * sqrt({{nb}})) >= 0.40
    """.format(
        nbcte=_NBITS_CTE_SQL,
        bucket=_BUCKET_SQL.format(e="embedding"),
        dot=_DOT_SQL.format(a="a.embedding", b="c.embedding"),
        na=_DOT_SQL.format(a="a.embedding", b="a.embedding"),
        nb=_DOT_SQL.format(a="c.embedding", b="c.embedding"),
    ),
)
def d7_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH bucket join
    (same bucketing as d5) then exact cosine on candidates — the
    embedding-space twin of d2's text near-dup path. Shuffles on the
    bucket key only; the bucket width scales with the corpus
    (_sign_bits — constant occupancy, linear candidate volume), so at
    100 TB the join stays bucket-local instead of saturating 256
    fixed buckets. The 0.40 threshold is calibrated to this corpus
    (random synthetic embeddings top out at cosine ~0.51; real
    near-dup corpora would use ~0.95+) — the operator shape, not the
    cutoff, is what transfers."""
    emb = _normed_embeddings(spark, sf_dir)
    bucket = _sign_bucket_spark(_sign_bits(spark, sf_dir))
    b = emb.select("vec_id", "embedding", "norm", bucket.alias("bucket"))
    a = b.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
        "bucket",
    )
    c = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
        F.col("bucket").alias("bucket_b"),
    )
    pairs = a.join(
        c, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b"))
    )
    cosine = _dot_spark("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        pairs.select("vec_a", "vec_b", "bucket", cosine.alias("cosine"))
        .where(F.col("cosine") >= 0.40)
    )


@query(
    "d5_ann_lsh_bucket",
    oracle=f"""
    WITH {_NBITS_CTE_SQL},
    b AS (
      SELECT vec_id, label, embedding,
             {_BUCKET_SQL.format(e='embedding')} AS bucket
      FROM embeddings, nb
    ),
    q AS (SELECT * FROM b
          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
          LIMIT {IVF_PROBES}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id, c.label, q.bucket,
             {_DOT_SQL.format(a='q.embedding', b='c.embedding')}
               / (sqrt({_DOT_SQL.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})) AS cosine
      FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, candidate_id) AS rank
      FROM scored
    )
    SELECT query_id, candidate_id, label, bucket, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def d5_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (the scale path): bucket = sign bits of
    the first _sign_bits dimensions (a deterministic random-projection
    stand-in: the basis vectors are axis-aligned; width scales with
    the corpus so occupancy stays constant), bounded md5-rank probes
    only score candidates in their own bucket. Trades recall for a
    bucket-local join — the shuffle key is the bucket, so 100 TB of
    vectors never cross-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    bucket = _sign_bucket_spark(_sign_bits(spark, sf_dir))
    b = emb.select("vec_id", "label", "embedding", bucket.alias("bucket"))
    q = _ivf_probe_set(b).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qbucket"),
    )
    c = b.select(
        F.col("vec_id").alias("candidate_id"),
        "label",
        F.col("embedding").alias("ce"),
        "bucket",
    )
    scored = F.broadcast(q).join(
        c,
        (F.col("bucket") == F.col("qbucket")) & (F.col("candidate_id") != F.col("query_id")),
    ).select(
        "query_id",
        "candidate_id",
        "label",
        "bucket",
        (
            _dot_spark("qe", "ce")
            / (
                F.sqrt(_dot_spark("qe", "qe"))
                * F.sqrt(_dot_spark("ce", "ce"))
            )
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("candidate_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .withColumn("rank", F.col("rank").cast("int"))
    )


# ---------------------------------------------------------------- d9
# Shared CTE chain (d9 + d10): d2's pair graph -> recursive-CTE
# transitive closure -> per-doc cluster id + canonical rank. An
# independent formulation (closure + MIN label) of what the Spark side
# computes iteratively (label propagation + pointer jumping).
_D9_CTES = f"""toks AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {_MINHASH_SQL} AS mh
      FROM toks WHERE len(sh) > 0
    ),
    bands AS (
      SELECT doc_id,
             b AS band,
             md5(CAST(b AS VARCHAR) || ':' || mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
      FROM sigs, UNNEST(range(0, {N_BANDS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_key = b2.band_key AND b1.band = b2.band
       AND b1.doc_id < b2.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN toks a ON a.doc_id = c.doc_a
      JOIN toks b ON b.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    walk AS (
      SELECT u AS id, u AS reach FROM edges
      UNION
      SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    comp AS (
      SELECT id AS doc_id, MIN(reach) AS cluster_id FROM walk GROUP BY id
    ),
    sized AS (
      SELECT c.cluster_id, c.doc_id, d.n_chars,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size,
             ROW_NUMBER() OVER (
               PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, c.doc_id) AS rn
      FROM comp c JOIN documents d USING (doc_id)
    )"""


def _d9_oracle() -> str:
    return f"""
    WITH RECURSIVE {_D9_CTES}
    SELECT cluster_id, doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           rn = 1 AS is_canonical
    FROM sized
    """


@query("d9_dedup_clusters", oracle=_d9_oracle())
@mv_step("d9_clusters", keys=("d9_clusters",), deps=("d2_sigs",))
def d9_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (the step after d2's pairs): connected
    components over the MinHash+LSH pair graph, then canonical-doc
    selection per cluster — the end-to-end "which copies do I drop"
    answer a training-data dedup pipeline actually executes
    (reference analog: articles collapse to one canonical row per
    url_hash, `sql/schema.sql:163-173`; near-dup generalizes the
    equality key to a similarity graph).

    Algorithm (the standard distributed CC formulation, cf. GraphX /
    connected-components-over-MapReduce): every vertex starts labeled
    with itself; each round takes the min label over neighbors, then
    pointer-jumps (label <- label(label)) so chains collapse in
    O(log n) rounds, not O(diameter). Each round is two shuffles on
    bounded-size relations (edges x labels, labels x labels) and a
    localCheckpoint to truncate lineage — no driver-side data, only a
    1-row convergence count per round. Near-dup components are tiny
    and dense, so in practice this converges in 2-3 rounds regardless
    of corpus size; the final stats/canonical pass is ONE window
    shuffle on cluster_id.

    cluster_id = min doc_id in the component (deterministic);
    canonical = longest text (n_chars), doc_id tiebreak.

    Cached per dataset (`relcache`): the CC rounds run driver-side
    actions, so d10 (and repeated gate/bench invocations) must reuse
    the materialized cluster table rather than re-iterating — the
    same MV seam the signature relations use. The CC checkpoints the
    build leaves pinned are released once the store write is done (or
    the build fails), as u3_evidence_union does with its persist."""
    from ..operators.graph import release

    held: list[DataFrame] = []
    try:
        return cached_relation(
            "d9_clusters", sf_dir, lambda: _build_d9_clusters(spark, sf_dir, held)
        )
    finally:
        release(held)


def _build_d9_clusters(
    spark: SparkSession, sf_dir: str, held: list[DataFrame]
) -> DataFrame:
    from ..operators.graph import connected_components

    pairs = d2_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs, "doc_a", "doc_b", held=held)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comp = labels.select(
        F.col("label").alias("cluster_id"), F.col("id").alias("doc_id")
    ).join(docs, "doc_id")
    w = Window.partitionBy("cluster_id")
    wo = w.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    return comp.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.count("*").over(w).alias("cluster_size"),
        (F.row_number().over(wo) == 1).alias("is_canonical"),
    )


# ---------------------------------------------------------------- d10
def _d10_oracle() -> str:
    from .textstats import _stop_count_sql

    return f"""
    WITH RECURSIVE {_D9_CTES},
    drops AS (SELECT doc_id FROM sized WHERE rn <> 1),
    scored AS (
      SELECT d.lang, d.doc_id, d.n_chars,
             len(string_split(d.text, ' ')) AS n_tokens,
             len(list_distinct(string_split(d.text, ' '))) AS n_unique,
             {_stop_count_sql('en').replace('text', 'd.text')} AS stop_hits,
             dr.doc_id IS NOT NULL AS is_dup
      FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
    ),
    q AS (
      SELECT *,
             CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1 ELSE 0 END
           + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens >= 0.5 THEN 1 ELSE 0 END
           + CASE WHEN CAST(stop_hits AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.6
                  THEN 1 ELSE 0 END AS score
      FROM scored
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS dropped_near_dup,
           CAST(COUNT(*) FILTER (WHERE NOT is_dup AND score < 2) AS BIGINT)
             AS dropped_low_quality,
           CAST(COUNT(*) FILTER (WHERE NOT is_dup AND score >= 2) AS BIGINT)
             AS kept_docs,
           CAST(COALESCE(SUM(n_tokens) FILTER (WHERE NOT is_dup AND score >= 2), 0)
             AS BIGINT) AS kept_ws_tokens,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE NOT is_dup AND score >= 2), 0)
             AS BIGINT) AS kept_chars
    FROM q
    GROUP BY lang
    """


@query("d10_corpus_curation", oracle=_d10_oracle())
def d10_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline composed END TO END as one
    query: near-dup removal (drop every non-canonical member of a d9
    cluster) -> quality gate (t_quality_score >= 2) -> per-language
    corpus accounting (docs in, dropped-by-stage, kept docs / tokens /
    chars). This is the actual decision a 100 TB curation run
    executes per document; each stage is the already-verified operator
    (d2 pair graph, d9 clusters, quality exprs) chained, not
    re-derived.

    Scale shape: the drop list is |near-dup members| << |corpus| and
    broadcasts; the quality exprs are per-row JVM projections; the
    final rollup is one hash-agg on lang. The only iterative part
    (connected components) runs over the tiny pair graph, never the
    corpus."""
    from .textstats import _stop_count, _tokens

    clusters = d9_dedup_clusters(spark, sf_dir)
    drops = F.broadcast(
        clusters.where(~F.col("is_canonical")).select("doc_id", F.lit(True).alias("is_dup"))
    )
    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens(F.col("text"))
    n_tokens = F.size(tk)
    n_unique = F.size(F.array_distinct(tk))
    stop_hits = _stop_count(tk, "en")
    score = (
        F.when(n_tokens.between(20, 80), 1).otherwise(0)
        + F.when(n_unique.cast("double") / n_tokens >= 0.5, 1).otherwise(0)
        + F.when((stop_hits.cast("double") / n_tokens).between(0.01, 0.6), 1).otherwise(0)
    )
    flagged = docs.join(drops, "doc_id", "left").select(
        "lang",
        "n_chars",
        F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        n_tokens.alias("n_tokens"),
        score.alias("score"),
    )
    keep = (~F.col("is_dup")) & (F.col("score") >= 2)
    return flagged.groupBy("lang").agg(
        F.count("*").alias("docs_in"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long").alias(
            "dropped_near_dup"
        ),
        F.sum(F.when((~F.col("is_dup")) & (F.col("score") < 2), 1).otherwise(0))
        .cast("long")
        .alias("dropped_low_quality"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("kept_docs"),
        F.coalesce(F.sum(F.when(keep, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("kept_ws_tokens"),
        F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------- d11
# Deterministic hash bucket 0-99 from the doc id: fold the first 8 md5
# hex chars to an integer, mod 100. Same arithmetic spelled
# independently on both engines (cf. f1's md5 fold).
_HASH_BUCKET_SQL = """
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, 9),
        i -> CAST(instr('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
    (acc, v) -> acc * 16 + v) % 100
"""

SAMPLE_PCT = 10


def _hash_bucket_spark(doc_id: F.Column) -> F.Column:
    return (
        F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 8), 16, 10).cast("long")
        % 100
    )


@query(
    "d11_hash_sample",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS docs_total,
           CAST(COUNT(*) FILTER (WHERE ({_HASH_BUCKET_SQL}) < {SAMPLE_PCT})
             AS BIGINT) AS sample_docs,
           CAST(COALESCE(SUM(len(string_split(text, ' ')))
                  FILTER (WHERE ({_HASH_BUCKET_SQL}) < {SAMPLE_PCT}), 0)
             AS BIGINT) AS sample_ws_tokens,
           ROUND(100.0 * COUNT(*) FILTER (WHERE ({_HASH_BUCKET_SQL}) < {SAMPLE_PCT})
                 / COUNT(*), 2) AS sample_pct
    FROM documents
    GROUP BY lang
    """,
)
def d11_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-mod sampling — the reproducible-sampling
    primitive a training-data pipeline needs (rerun the job, get the
    SAME sample; grow the corpus, previously-sampled docs stay
    sampled): bucket = md5(doc_id) folded to 0-99, keep bucket <
    rate. Unlike rand()/sampleBy this is stable across runs, engines,
    and partitionings — which is why the oracle can check it exactly.

    Per-language rollup proves the sample tracks the population
    (sample_pct ~ the configured 10%). Per-row JVM hash + one
    hash-agg; zero shuffles on the corpus beyond the final rollup."""
    docs = load_table(spark, sf_dir, "documents")
    in_sample = _hash_bucket_spark(F.col("doc_id")) < SAMPLE_PCT
    n_tokens = F.size(F.split(F.col("text"), " "))
    return docs.groupBy("lang").agg(
        F.count("*").alias("docs_total"),
        F.sum(F.when(in_sample, 1).otherwise(0)).cast("long").alias("sample_docs"),
        F.coalesce(F.sum(F.when(in_sample, n_tokens)), F.lit(0))
        .cast("long")
        .alias("sample_ws_tokens"),
        F.round(
            100.0 * F.sum(F.when(in_sample, 1).otherwise(0)) / F.count("*"), 2
        ).alias("sample_pct"),
    )


# ------------------------------------------------------------ d12/d13
# Token-stream packing + stratified sampling — the remaining two
# training-data staples: chunk the corpus into fixed-token training
# sequences, and draw per-stratum deterministic samples with quotas.

PACK_BUDGET = 512   # tokens per training sequence
PACK_SHARDS = 8     # parallel packing streams (per-shard, no global sort)
STRAT_RATE_PCT = 20  # per-language sampling quota


@query(
    "d12_token_stream_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             doc_id % {PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_prev
      FROM t
    )
    SELECT doc_id,
           CAST(shard AS BIGINT) AS shard,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           cum_prev // {PACK_BUDGET} AS start_seq,
           cum_prev % {PACK_BUDGET} AS start_offset,
           (cum_prev + n_tokens - 1) // {PACK_BUDGET} AS end_seq,
           (cum_prev + n_tokens - 1) // {PACK_BUDGET} > cum_prev // {PACK_BUDGET}
             AS spans_boundary
    FROM c
    """,
)
def d12_token_stream_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-stream packing: concatenate documents (deterministic
    doc_id order) into fixed-{PACK_BUDGET}-token training sequences and
    report, per document, which sequence/offset its tokens land in —
    the concat-and-chunk layout LLM pretraining actually uses (docs
    straddle sequence boundaries; `spans_boundary` counts them).

    Scale posture: packing is inherently sequential, so it runs as
    PACK_SHARDS independent streams (shard = doc_id mod S) — one
    window cumsum partitioned by shard, i.e. a single narrow shuffle
    and S parallel sorts, never a global sort. At 100 TB you raise S
    to the write parallelism you want; the layout stays deterministic
    and engine-reproducible (the oracle checks it exactly)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "cum_prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    # integer `div` end-to-end: double division + cast rounds the
    # quotient up one ULP past ~2^52 cumulative tokens (ADVICE r6),
    # silently breaking oracle parity exactly at pretraining scale
    start_seq = F.expr(f"cum_prev div {PACK_BUDGET}")
    end_seq = F.expr(f"(cum_prev + n_tokens - 1) div {PACK_BUDGET}")
    return c.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        start_seq.alias("start_seq"),
        (F.col("cum_prev") % PACK_BUDGET).alias("start_offset"),
        end_seq.alias("end_seq"),
        (end_seq > start_seq).alias("spans_boundary"),
    )


@query(
    "d13_stratified_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(rk AS BIGINT) AS rk,
           CAST(CEIL(n_lang * {STRAT_RATE_PCT} / 100.0) AS BIGINT) AS quota
    FROM ranked
    WHERE rk <= CEIL(n_lang * {STRAT_RATE_PCT} / 100.0)
    """,
)
def d13_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with exact per-stratum quotas: within each
    language, rank documents by md5(doc_id) (a deterministic uniform
    shuffle — same sample on every run, engine, and partitioning) and
    keep the first ceil(n * rate) — the per-language mixture control a
    curation pipeline needs, complementing d11's global hash-mod rate.

    Scale (r8): the original plain per-lang ``row_number`` sorted the
    dominant language in ONE task — named as the curation family's
    last single-task sort in the round-8 Zipf study. Now the same
    two-phase de-skewed shape as d18/d21: rows pre-bucket on the first
    two hex chars of the rank md5 (bucket order IS md5-prefix order),
    rank within (lang, bucket), add broadcast per-bucket prefix-sum
    offsets — global rk is bit-identical to the single-window rank the
    oracle computes — and buckets whose offset already exceeds the
    quota (80% of every language at the 20% rate) are dropped BEFORE
    the window, so most of the corpus is never sorted at all.
    Big-table exchanges: one (lang,bkt) count agg + one (lang,bkt)
    window."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "doc_id",
        "lang",
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bkt"),
    )
    bucket_counts = keyed.groupBy("lang", "bkt").agg(F.count("*").alias("bn"))
    off_w = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    live = (
        bucket_counts.withColumn(
            "off", F.coalesce(F.sum("bn").over(off_w), F.lit(0)).cast("long")
        )
        .withColumn("n_lang", F.sum("bn").over(Window.partitionBy("lang")))
        .withColumn(
            "quota",
            F.ceil(F.col("n_lang") * STRAT_RATE_PCT / 100.0).cast("long"),
        )
        .where(F.col("off") < F.col("quota"))
        .select("lang", "bkt", "off", "quota")
    )
    bucket_rk = F.row_number().over(
        Window.partitionBy("lang", "bkt").orderBy("h", "doc_id")
    )
    return (
        keyed.join(F.broadcast(live), ["lang", "bkt"])
        .withColumn("rk", (F.col("off") + bucket_rk).cast("long"))
        .where(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "rk", "quota")
    )


# --------------------------------------------------------------- d14
@query(
    "d14_ann_ivf_nprobe2",
    oracle=f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    pcells AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, q.v AS qe, m.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_DOT_SQL.format(a='q.v', b='m.ce')}
                          / (sqrt({_DOT_SQL.format(a='q.v', b='q.v')})
                             * sqrt({_DOT_SQL.format(a='m.ce', b='m.ce')})) DESC, m.cid
               ) AS prk
        FROM q, cm m
      ) WHERE prk <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS candidate_id, a.label, a.cell,
             {_DOT_SQL.format(a='p.qe', b='a.v')}
               / (sqrt({_DOT_SQL.format(a='p.qe', b='p.qe')})
                  * sqrt({_DOT_SQL.format(a='a.v', b='a.v')})) AS cosine
      FROM pcells p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, candidate_id) AS rank
      FROM scored
    )
    SELECT query_id, candidate_id, label, cell, cosine, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def d14_ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2 — the standard recall knob: each probe
    searches its TWO nearest centroid cells instead of one, recovering
    neighbors that fall just across a Voronoi boundary (d8's known
    miss mode) at ~2x the per-probe candidate cost.

    Plan shape: d8's candidate relation (`_ivf_candidates`) routed by
    the probe x trained-centroid window instead of the stored cell;
    the search still joins on the cell key. At 100 TB: same posture as
    d8, with nprobe scaling candidate volume linearly."""
    return _ivf_top3(
        _ivf_candidates(spark, sf_dir, ("cosine",), nprobe=2),
        F.col("cosine").desc(),
    )


# --------------------------------------------------------------- d15
_DECON_N = 4  # words per shingle; real pipelines use ~13-gram tokens —
# this synthetic corpus is word-random, so 4 plays the same
# rare-but-surgical role (8 of ~500 docs flagged at sf0.01)


@query(
    "d15_decontaminate",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT DISTINCT
        unnest(list_transform(range(1, greatest(len(w) - {_DECON_N - 2}, 1)),
               i -> array_to_string(list_slice(w, i, i + {_DECON_N - 1}), ' '))) AS h
      FROM d WHERE doc_id % 97 = 0
    ),
    nb AS (
      SELECT doc_id, lang,
             list_transform(range(1, greatest(len(w) - {_DECON_N - 2}, 1)),
               i -> array_to_string(list_slice(w, i, i + {_DECON_N - 1}), ' ')) AS hs
      FROM d WHERE doc_id % 97 <> 0
    ),
    expl AS (
      SELECT doc_id, lang,
             unnest(CASE WHEN len(hs) = 0 THEN [NULL] ELSE hs END) AS h
      FROM nb
    )
    SELECT doc_id, lang,
           CAST(MAX(CASE WHEN h IN (SELECT h FROM bg) THEN 1 ELSE 0 END) AS INTEGER)
             AS contaminated
    FROM expl GROUP BY doc_id, lang
    """,
)
def d15_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the classic training-data step:
    flag every training document sharing ANY word n-gram with an
    evaluation benchmark so it can be dropped before training. The
    benchmark stand-in is the deterministic doc_id % 97 == 0 subset.

    Plan shape (the 100 TB design): the benchmark's distinct n-grams
    are a bounded set (benchmarks are small by definition) and
    broadcast; the corpus side streams through explode -> broadcast
    probe -> per-doc max-flag aggregation — ONE shuffle on doc_id
    whose map-side partial agg collapses it to one row per doc, no
    corpus-side distinct, no sort. The join key is the raw gram
    (cheapest at this gram width; a production 13-gram filter would
    xxhash64 both sides engine-internally to narrow the broadcast
    table — collisions only over-remove, the safe direction for
    decontamination). Docs too short to have any n-gram flow through
    explode_outer with a null probe -> contaminated 0.

    Tokenization is an ingest-time transform, not a per-query one:
    the exploded (doc_id, lang, gram) relation is stored through the
    MV seam (same design as d2's stored MinHash signatures), so both
    the benchmark and corpus branches compile to plain MV scans. Short
    gramless docs are stored with a null gram (explode_outer) so the
    corpus branch never loses them."""
    g = _decon_grams(spark, sf_dir)
    bench_g = (
        g.where((F.col("doc_id") % 97 == 0) & F.col("h").isNotNull())
        .select("h")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        g.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench_g), "h", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.max(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("int")
            .alias("contaminated")
        )
    )


@mv_step("d15_grams", keys=("d15_grams",), deps=("layout_documents",))
def _decon_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored word-n-gram relation for decontamination: (doc_id, lang,
    h) with one row per overlapping n-gram, null h for docs shorter
    than n words. The word split is PROJECTED to a bound column before
    the gram lambda references it: higher-order functions run
    interpreted (no whole-stage codegen) and don't common-
    subexpression-eliminate, so an inline `split(text)` would
    re-tokenize the document once per gram — measured 3x slower."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.col("text"), " ").alias("__w")
    )
    words = F.col("__w")
    grams = F.when(
        F.size(words) >= _DECON_N,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (_DECON_N - 1)),
            lambda i: F.array_join(F.slice(words, i, _DECON_N), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

    def _build() -> DataFrame:
        return docs.select("doc_id", "lang", F.explode_outer(grams).alias("h"))

    return cached_relation("d15_grams", sf_dir, _build)


# --------------------------------------------------------------- d16
def _md5_fold_sql(expr: str) -> str:
    """BIGINT from the first 8 md5 hex chars of `expr` (DuckDB side of
    the engine-parity hash fold; cf. d11's bucket fold)."""
    return f"""
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, 9),
            i -> CAST(instr('0123456789abcdef',
                            substr(md5({expr}), i, 1)) - 1 AS BIGINT))),
        (acc, v) -> acc * 16 + v)
    """


def _d16_oracle() -> str:
    # d8_ann_ivf is registered earlier in THIS module, so the read is
    # order-safe by construction (unlike cross-module reads, which must
    # import their defining module first — see endpoints._e14_oracle).
    from .registry import ORACLES

    ce = _md5_fold_sql(
        "CAST(query_id AS VARCHAR) || ':' || CAST(candidate_id AS VARCHAR)"
    )
    return f"""
    WITH base AS ({ORACLES["d8_ann_ivf"]}),
    scored AS (
      SELECT query_id, candidate_id, label, cosine,
             ({ce}) / 4294967296.0 AS ce_score
      FROM base
    ),
    rr AS (
      SELECT query_id, candidate_id, label, cosine, ce_score,
             0.7 * cosine + 0.3 * ce_score AS blended,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY 0.7 * cosine + 0.3 * ce_score DESC,
                                         candidate_id) AS rerank
      FROM scored
    )
    SELECT query_id, candidate_id, label, cosine, ce_score, blended,
           CAST(rerank AS INTEGER) AS rerank
    FROM rr WHERE rerank <= 2
    """


@query("d16_rerank", oracle=_d16_oracle())
def d16_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: d8's IVF ANN supplies the top-3 candidate
    set per probe (cheap, recall-oriented), then a cross-encoder-style
    scorer re-ranks the candidates and keeps the top 2 (precision-
    oriented) — the standard retrieve -> rerank topology of a
    curation / RAG pipeline.

    The scorer here is the deterministic md5-fold fake (uniform in
    [0,1), identical arithmetic in the DuckDB oracle); a real
    cross-encoder slots into this seam exactly like
    functions/hfinfer.infer_batch: an Arrow-batched mapInPandas over
    the (query, candidate) pair batch. Scale posture: the rerank
    stage only ever sees the candidate set (k x probes rows, NOT the
    corpus), so model cost is decoupled from corpus size — which is
    the entire point of the topology. The rerank window partitions by
    query_id over <= 3 rows per group."""
    base = d8_ann_ivf(spark, sf_dir).drop("rank").drop("cell")
    ce_score = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("query_id").cast("string"),
                        F.lit(":"),
                        F.col("candidate_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    ).alias("ce_score")
    scored = base.select("query_id", "candidate_id", "label", "cosine", ce_score)
    blended = (F.lit(0.7) * F.col("cosine") + F.lit(0.3) * F.col("ce_score"))
    w = Window.partitionBy("query_id").orderBy(
        blended.desc(), F.col("candidate_id")
    )
    return (
        scored.withColumn("blended", blended)
        .withColumn("rerank", F.row_number().over(w).cast("int"))
        .where(F.col("rerank") <= 2)
    )


# ---------------------------------------------------------------- d17
def _d17_oracle() -> str:
    from .textstats import _stop_count_sql

    return f"""
    WITH RECURSIVE {_D9_CTES},
    nd_drops AS (SELECT doc_id FROM sized WHERE rn <> 1),
    dw AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    dc_bg AS (
      SELECT DISTINCT
        unnest(list_transform(range(1, greatest(len(w) - 2, 1)),
               i -> array_to_string(list_slice(w, i, i + 3), ' '))) AS h
      FROM dw WHERE doc_id % 97 = 0
    ),
    dc_flag AS (
      SELECT doc_id,
             MAX(CASE WHEN h IN (SELECT h FROM dc_bg) THEN 1 ELSE 0 END)
               AS contaminated
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(hs) = 0 THEN [NULL] ELSE hs END) AS h
        FROM (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(list_slice(w, i, i + 3), ' ')) AS hs
          FROM dw WHERE doc_id % 97 <> 0
        )
      )
      GROUP BY doc_id
    ),
    qual AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80
                  THEN 1 ELSE 0 END
           + CASE WHEN CAST(len(list_distinct(string_split(text, ' ')))
                       AS DOUBLE) / len(string_split(text, ' ')) >= 0.5
                  THEN 1 ELSE 0 END
           + CASE WHEN CAST({_stop_count_sql('en')} AS DOUBLE)
                       / len(string_split(text, ' '))
                       BETWEEN 0.01 AND 0.6
                  THEN 1 ELSE 0 END AS score
      FROM documents
    ),
    survivors AS (
      SELECT d.doc_id, d.lang, CAST(q.n_tokens AS BIGINT) AS n_tokens
      FROM documents d
      JOIN qual q USING (doc_id)
      JOIN dc_flag f USING (doc_id)
      LEFT JOIN nd_drops nd ON nd.doc_id = d.doc_id
      WHERE nd.doc_id IS NULL AND q.score >= 2 AND f.contaminated = 0
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             doc_id % {PACK_SHARDS} AS shard,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY doc_id % {PACK_SHARDS} ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_prev
      FROM survivors
    )
    SELECT doc_id, lang,
           CAST(shard AS BIGINT) AS shard,
           n_tokens,
           cum_prev // {PACK_BUDGET} AS start_seq,
           cum_prev % {PACK_BUDGET} AS start_offset,
           (cum_prev + n_tokens - 1) // {PACK_BUDGET} AS end_seq,
           (cum_prev + n_tokens - 1) // {PACK_BUDGET}
             > cum_prev // {PACK_BUDGET} AS spans_boundary
    FROM packed
    """


@query("d17_pretrain_build", oracle=_d17_oracle())
def d17_pretrain_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pretraining-data build as ONE query — the capstone a
    100 TB curation run actually executes per document: near-dup drop
    (non-canonical members of d9 clusters) -> quality gate (score >=
    2) -> benchmark exclusion + decontamination (d15 flags; benchmark
    docs themselves leave the corpus) -> token-stream packing of the
    SURVIVORS into fixed-{PACK_BUDGET}-token sequences (d12 layout).
    Output: one row per surviving document with its shard/sequence/
    offset placement — the exact write plan of the training-shard job.

    Every stage is the already-driver-verified operator composed, not
    re-derived: d9's cluster MV, d15's stored-gram flags, the
    t_quality exprs, d12's per-shard window. Scale posture follows the
    pieces: drop list broadcasts, flags come off the stored gram MV
    with one per-doc agg, quality is per-row JVM, packing is
    {PACK_SHARDS} parallel streams (one narrow shuffle) — the corpus
    is never globally sorted or exchanged more than once.
    (Rotation note: lands with full local-gate evidence — exact at
    sf0.001/sf0.01 — and enters the driver sample window in round 7;
    its constituent operators all have fresh driver rows already.)"""
    from .textstats import _stop_count, _tokens

    clusters = d9_dedup_clusters(spark, sf_dir)
    nd_drops = F.broadcast(
        clusters.where(~F.col("is_canonical")).select(
            "doc_id", F.lit(True).alias("is_dup")
        )
    )
    flags = d15_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens(F.col("text"))
    n_tokens = F.size(tk)
    score = (
        F.when(n_tokens.between(20, 80), 1).otherwise(0)
        + F.when(F.size(F.array_distinct(tk)).cast("double") / n_tokens >= 0.5, 1)
        .otherwise(0)
        + F.when(
            (_stop_count(tk, "en").cast("double") / n_tokens).between(0.01, 0.6), 1
        ).otherwise(0)
    )
    survivors = (
        docs.select(
            "doc_id", "lang", n_tokens.cast("long").alias("n_tokens"), score.alias("score")
        )
        .join(flags, "doc_id")
        .join(nd_drops, "doc_id", "left")
        .where(
            F.col("is_dup").isNull()
            & (F.col("score") >= 2)
            & (F.col("contaminated") == 0)
        )
        .select("doc_id", "lang", "n_tokens")
    )
    w = (
        Window.partitionBy(F.col("doc_id") % PACK_SHARDS)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = survivors.withColumn(
        "cum_prev", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    )
    # integer `div`, matching the oracle's // exactly at any cumulative
    # token count (double division drifts past ~2^52 — ADVICE r6)
    start_seq = F.expr(f"cum_prev div {PACK_BUDGET}")
    end_seq = F.expr(f"(cum_prev + n_tokens - 1) div {PACK_BUDGET}")
    return c.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % PACK_SHARDS).cast("long").alias("shard"),
        "n_tokens",
        start_seq.alias("start_seq"),
        (F.col("cum_prev") % PACK_BUDGET).alias("start_offset"),
        end_seq.alias("end_seq"),
        (end_seq > start_seq).alias("spans_boundary"),
    )


# --------------------------------------------------------------- d18
# Mixture-sampling temperature: weights per domain are n^(1/2)
# (alpha = 0.5), the standard down-weighting of over-represented
# sources in pretraining data recipes. All boundary math is pure
# integer arithmetic so no float summation order can move a quota.
MIX_W_SCALE = 1_000_000


@query(
    "d18_temperature_mix",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE)) * {MIX_W_SCALE} + 0.5)
                      AS BIGINT) AS w
          FROM c),
    t AS (SELECT SUM(w) AS sw, SUM(n) AS n_total FROM w),
    q AS (SELECT lang, n, w,
                 (((n_total + 3) // 4) * w + sw - 1) // sw AS quota
          FROM w, t),
    r AS (SELECT doc_id, lang,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS rk
          FROM documents)
    SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS rk,
           CAST(q.quota AS BIGINT) AS quota
    FROM r JOIN q ON q.lang = r.lang
    WHERE r.rk <= q.quota
    """,
)
def d18_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture sampling: per-domain quotas
    proportional to n^alpha (alpha=0.5) over a global target of 1/4 of
    the corpus, filled by deterministic md5-rank within each domain —
    the source-rebalancing step of a pretraining data recipe (rare
    domains are up-weighted relative to proportional sampling; the
    dominant domain is down-weighted). Complements d13's fixed-rate
    stratified quota: d13 keeps the mixture, d18 reshapes it.

    Determinism at boundaries is engineered, not hoped for: weights
    are ``floor(sqrt(n) * 1e6 + 0.5)`` as BIGINT — the identical IEEE
    double expression on both engines (Spark's ``round`` is HALF_UP
    via BigDecimal, DuckDB's is half-away-from-zero via libm; floor
    of x+0.5 sidesteps the dialect split entirely) — and the quota is
    ``ceil(target * w / sum_w)`` computed entirely with integer
    division, so Spark and the oracle can never disagree by one ULP on
    a ceil edge.

    Scale — two-phase bucketed rank, no single-task domain sort: a
    Zipf-skewed corpus puts most rows in one domain, and a plain
    ``row_number() over (partition by lang)`` would sort that domain
    in ONE task. Instead rows are pre-bucketed on the first two hex
    chars of the same md5 the rank orders by (256 buckets; fixed-width
    lowercase hex sorts identically as text and as its integer value,
    so bucket order IS md5-prefix order), ranked within
    (lang, bucket), and offset by broadcast per-bucket prefix-sum
    counts: global rk = offset + bucket_rk, bit-identical to the
    single-window rank the oracle computes. Buckets whose offset
    already exceeds the domain quota are dropped BEFORE the window, so
    the dominant domain's tail — the vast majority of its rows under
    temperature down-weighting — is never sorted at all, and the
    survivors' sort spreads across ~256 tasks per domain. Big-table
    exchanges: one (lang,bucket) count agg + one (lang,bucket) window;
    the bucket/quota tables are a few thousand rows and broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "doc_id",
        "lang",
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bkt"),
    )
    bucket_counts = keyed.groupBy("lang", "bkt").agg(F.count("*").alias("bn"))
    # ALL quota/offset math happens as windows over the tiny
    # (langs x 256)-row bucket frame, so the big table is aggregated
    # exactly once and never re-scanned for a second quota branch.
    # Each lang's weight is summed once globally by taking it on the
    # lang's first bucket row only. The global window over this frame
    # is a deliberate tiny single-partition exchange (see PLANS.md).
    off_w = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lang_w = Window.partitionBy("lang")
    first_w = Window.partitionBy("lang").orderBy("bkt")
    glob_w = Window.partitionBy(F.lit(1))
    first_only = lambda c: F.when(F.row_number().over(first_w) == 1, c).otherwise(
        F.lit(0)
    )
    live_buckets = (
        bucket_counts.withColumn(
            "off", F.coalesce(F.sum("bn").over(off_w), F.lit(0)).cast("long")
        )
        .withColumn("n", F.sum("bn").over(lang_w))
        .withColumn(
            "w",
            F.floor(F.sqrt(F.col("n").cast("double")) * MIX_W_SCALE + 0.5).cast(
                "long"
            ),
        )
        .withColumn("sw", F.sum(first_only(F.col("w"))).over(glob_w))
        .withColumn("n_total", F.sum(first_only(F.col("n"))).over(glob_w))
        .withColumn(
            "quota",
            F.expr("(((n_total + 3) div 4) * w + sw - 1) div sw").cast("long"),
        )
        .where(F.col("off") < F.col("quota"))  # dead buckets never sort
        .select("lang", "bkt", "off", "quota")
    )
    bucket_rk = F.row_number().over(
        Window.partitionBy("lang", "bkt").orderBy("h", "doc_id")
    )
    return (
        keyed.join(F.broadcast(live_buckets), ["lang", "bkt"])
        .withColumn("rk", (F.col("off") + bucket_rk).cast("long"))
        .where(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "rk", "quota")
    )


# --------------------------------------------------------------- d19
def _d19_oracle() -> str:
    return f"""
    WITH RECURSIVE {_NBITS_CTE_SQL},
    b AS (
      SELECT vec_id, embedding,
             {_BUCKET_SQL.format(e='embedding')} AS bucket
      FROM embeddings, nb
    ),
    prs AS (
      SELECT a.vec_id AS va, c.vec_id AS vb
      FROM b a JOIN b c ON c.bucket = a.bucket AND a.vec_id < c.vec_id
      WHERE {_DOT_SQL.format(a='a.embedding', b='c.embedding')}
              / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
                 * sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')})) >= 0.40
    ),
    edges AS (
      SELECT va AS u, vb AS v FROM prs
      UNION ALL
      SELECT vb, va FROM prs
    ),
    walk AS (
      SELECT u AS id, u AS reach FROM edges
      UNION
      SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    comp AS (
      SELECT id AS vec_id, MIN(reach) AS cluster_id FROM walk GROUP BY id
    )
    SELECT cluster_id, vec_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           vec_id = cluster_id AS is_canonical
    FROM comp
    """


@query("d19_embedding_clusters", oracle=_d19_oracle())
@mv_step("d19_clusters", keys=("d19_clusters_v2",), deps=("d3_normed",))
def d19_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup CLUSTERS — the ANN twin of d9: d7's
    sign-LSH + exact-cosine near-dup PAIRS become transitive clusters
    via distributed connected components, with the min-vec_id member
    as the canonical representative (everything else is the drop
    list). Composes two already-verified operators (d7 pairs,
    operators/graph.py CC vs the recursive-CTE oracle); one new plan,
    no new primitives. Scale posture follows d9's: the CC preamble
    contracts clique-heavy duplicate groups in one pass, and the
    bucket join never goes all-pairs."""
    from ..operators.graph import release

    held: list[DataFrame] = []  # CC checkpoints, released as in d9
    try:
        return cached_relation(
            # key bumped (v2) when the sign-LSH width became corpus-scaled:
            # identical at test SFs, but a store written by the fixed-8-bit
            # build must not be reused for a large dataset.
            "d19_clusters_v2",
            sf_dir,
            lambda: _build_d19_clusters(spark, sf_dir, held),
        )
    finally:
        release(held)


def _build_d19_clusters(
    spark: SparkSession, sf_dir: str, held: list[DataFrame]
) -> DataFrame:
    # CC is iterative (driver-side loop with actions), so the cluster
    # table is materialized once per dataset via the MV seam — the
    # same policy as d9; serving reads are a plain scan.
    from ..operators.graph import connected_components

    pairs = d7_embedding_dedup(spark, sf_dir).select("vec_a", "vec_b")
    labels = connected_components(pairs, "vec_a", "vec_b", held=held)
    comp = labels.select(
        F.col("label").alias("cluster_id"), F.col("id").alias("vec_id")
    )
    w = Window.partitionBy("cluster_id")
    return comp.select(
        "cluster_id",
        "vec_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("vec_id") == F.col("cluster_id")).alias("is_canonical"),
    )


# --------------------------------------------------------------- d20
@query(
    "d20_decontam_spans",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT DISTINCT
        unnest(list_transform(range(1, greatest(len(w) - {_DECON_N - 2}, 1)),
               i -> array_to_string(list_slice(w, i, i + {_DECON_N - 1}), ' '))) AS h
      FROM d WHERE doc_id % 97 = 0
    ),
    expl AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, greatest(len(w) - {_DECON_N - 2}, 1)),
               i -> array_to_string(list_slice(w, i, i + {_DECON_N - 1}), ' '))) AS h
      FROM d WHERE doc_id % 97 <> 0
    )
    SELECT doc_id, lang,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_hits,
           string_agg(DISTINCT h, ' | ' ORDER BY h) AS hits
    FROM expl
    WHERE h IN (SELECT h FROM bg)
    GROUP BY doc_id, lang
    """,
)
def d20_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination AUDIT: for every corpus document
    d15 would flag, report WHICH benchmark n-grams matched (canonical
    sorted list) and how many — the evidence trail a data-governance
    review wants before dropping training documents, not just the
    boolean. Same plan shape as d15 (the bounded benchmark gram set
    broadcasts; the corpus side reads the stored gram MV, probes the
    broadcast, and collapses to one row per flagged doc in a single
    doc-keyed aggregation); output is only the flagged docs, so the
    result stays benchmark-sized at any corpus scale."""
    g = _decon_grams(spark, sf_dir)
    bench_g = (
        g.where((F.col("doc_id") % 97 == 0) & F.col("h").isNotNull())
        .select("h")
        .distinct()
    )
    hits = g.where((F.col("doc_id") % 97 != 0) & F.col("h").isNotNull()).join(
        F.broadcast(bench_g), "h"
    )
    return hits.groupBy("doc_id", "lang").agg(
        F.countDistinct("h").alias("n_hits"),
        F.array_join(F.sort_array(F.collect_set("h")), " | ").alias("hits"),
    )


# --------------------------------------------------------------- d21
@query(
    "d21_token_budget_mix",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (SELECT lang, SUM(n_tokens) AS t FROM tok GROUP BY lang),
    w AS (SELECT lang, t,
                 CAST(floor(sqrt(CAST(t AS DOUBLE)) * {MIX_W_SCALE} + 0.5)
                      AS BIGINT) AS w
          FROM c),
    tt AS (SELECT SUM(w) AS sw, SUM(t) AS t_total FROM w),
    q AS (SELECT lang, (((t_total + 3) // 4) * w + sw - 1) // sw AS quota
          FROM w, tt),
    r AS (SELECT doc_id, lang, n_tokens,
                 COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev
          FROM tok)
    SELECT r.doc_id, r.lang, r.n_tokens,
           CAST(r.cum_prev AS BIGINT) AS cum_prev,
           CAST(q.quota AS BIGINT) AS quota
    FROM r JOIN q ON q.lang = r.lang
    WHERE r.cum_prev < q.quota
    """,
)
def d21_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget temperature mixture (new r8): d18 reshapes the
    mixture in DOCUMENT counts, but real pretraining recipes budget in
    TOKENS — per-domain token quotas proportional to sqrt(domain token
    mass) over a global target of 1/4 of the corpus tokens, filled
    greedily in deterministic md5 order (a doc is kept iff the tokens
    BEFORE it in its domain's shuffle order are under the quota, so
    each domain overshoots by at most one document).

    All boundary math is integer (token counts, integer-division
    ceil); the weight is floor(sqrt(t)*1e6 + 0.5), the same
    dialect-split-free rounding as d18.

    Scale: the same two-phase de-skewed shape as d18 — rows pre-bucket
    on the leading two hex chars of the rank md5 (bucket order IS md5
    order), per-bucket TOKEN sums roll into broadcast prefix-sum
    offsets, and buckets whose offset already exceeds the quota are
    dropped before the cumulative-sum window. A Zipf-dominant domain
    never sorts in one task, and its beyond-quota tail is never sorted
    at all. Big-table exchanges: one (lang,bkt) agg + one (lang,bkt)
    window."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bkt"),
    )
    bucket_sums = keyed.groupBy("lang", "bkt").agg(
        F.sum("n_tokens").alias("bt")
    )
    off_w = (
        Window.partitionBy("lang")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lang_w = Window.partitionBy("lang")
    first_w = Window.partitionBy("lang").orderBy("bkt")
    glob_w = Window.partitionBy(F.lit(1))
    first_only = lambda c: F.when(
        F.row_number().over(first_w) == 1, c
    ).otherwise(F.lit(0))
    live = (
        bucket_sums.withColumn(
            "off", F.coalesce(F.sum("bt").over(off_w), F.lit(0)).cast("long")
        )
        .withColumn("t", F.sum("bt").over(lang_w))
        .withColumn(
            "w",
            F.floor(F.sqrt(F.col("t").cast("double")) * MIX_W_SCALE + 0.5).cast(
                "long"
            ),
        )
        .withColumn("sw", F.sum(first_only(F.col("w"))).over(glob_w))
        .withColumn("t_total", F.sum(first_only(F.col("t"))).over(glob_w))
        .withColumn(
            "quota",
            F.expr("(((t_total + 3) div 4) * w + sw - 1) div sw").cast("long"),
        )
        .where(F.col("off") < F.col("quota"))
        .select("lang", "bkt", "off", "quota")
    )
    cum_w = (
        Window.partitionBy("lang", "bkt")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        keyed.join(F.broadcast(live), ["lang", "bkt"])
        .withColumn(
            "cum_prev",
            (
                F.col("off")
                + F.coalesce(F.sum("n_tokens").over(cum_w), F.lit(0))
            ).cast("long"),
        )
        .where(F.col("cum_prev") < F.col("quota"))
        .select("doc_id", "lang", "n_tokens", "cum_prev", "quota")
    )


# --------------------------------------------------------------- d22
# Epoch-shuffle constants: the seed makes each training epoch a
# different (but fully reproducible) global permutation; the shard
# count models the writer parallelism of a packed training-data sink.
SHUFFLE_SEED = "e1:"
SHUFFLE_SHARDS = 8


@query(
    "d22_epoch_shuffle",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5('{SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, CAST(rk AS BIGINT) AS rk,
           CAST((rk - 1) % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
           CAST((rk - 1) // {SHUFFLE_SHARDS} AS BIGINT) AS pos
    FROM r
    """,
)
def d22_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (new r8): the global training-order
    permutation a data loader needs — every document gets a unique
    global rank in seeded-md5 order, a round-robin shard, and its
    position within the shard. Same seed -> same order on any engine,
    any partitioning, any run; a new epoch is just a new seed prefix.

    The naive formulation is a GLOBAL row_number — one total sort on a
    single task, the textbook 100 TB scale-killer. This plan computes
    the identical rank two-phase: rows pre-bucket on the leading two
    hex chars of the seeded md5 (fixed-width lowercase hex sorts the
    same as its integer value, so bucket order IS global md5 order),
    rank within bucket, and add broadcast per-bucket prefix-sum
    offsets. One count agg + one 256-way-partitioned window; no task
    ever sees more than ~1/256th of the corpus, and the tiny bucket
    frame's running sum is the only single-partition step."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit(SHUFFLE_SEED), F.col("doc_id").cast("string")))
    keyed = docs.select(
        "doc_id",
        h.alias("h"),
        F.conv(F.substring(h, 1, 2), 16, 10).cast("int").alias("bkt"),
    )
    counts = keyed.groupBy("bkt").agg(F.count("*").alias("bn"))
    # 256-row frame: the global running sum is the sanctioned tiny
    # single-partition window (see PLANS.md).
    off_w = (
        Window.partitionBy(F.lit(1))
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "bkt",
        F.coalesce(F.sum("bn").over(off_w), F.lit(0)).cast("long").alias("off"),
    )
    bucket_rk = F.row_number().over(
        Window.partitionBy("bkt").orderBy("h", "doc_id")
    )
    ranked = (
        keyed.join(F.broadcast(offsets), "bkt")
        .withColumn("rk", (F.col("off") + bucket_rk).cast("long"))
    )
    return ranked.select(
        "doc_id",
        "rk",
        ((F.col("rk") - 1) % SHUFFLE_SHARDS).cast("long").alias("shard"),
        F.expr(f"(rk - 1) div {SHUFFLE_SHARDS}").cast("long").alias("pos"),
    )


# ---------------------------------------------------------- d23 / d24
# Product quantization: the third leg of the ANN family (d5 sign-LSH,
# d8/d14 IVF, d23/d24 PQ). At 100 TB the raw float vectors do not fit
# hot storage; PQ compresses each vector to PQ_M small integer codes
# against per-subspace codebooks, and search scores candidates with a
# per-probe distance TABLE (|codebook| x PQ_M lookups computed once
# per probe) instead of touching any candidate's floats — IVF-PQ is
# the standard billion-scale ANN layout (Jegou et al., TPAMI 2011).
# (PQ_M / PQ_SUBDIM / _SQL2_SPARK_SQL / _sub_sql live in the shared
# vector-fragments block near the top of the module.)


@query(
    "d23_pq_codes",
    oracle=f"""
    WITH vecs AS ({_D49_VECS_SQL}),
    {_D49_GEN1_CTES},
    cm AS ({_D25B_CM_SQL})
    SELECT s.vec_id,
{_TRAINED_CODES_SQL}
    FROM vecs s
    """,
)
def d23_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code build: every vector compressed to
    PQ_M=8 nearest-centroid codes over 8-dim subspaces of the
    d49-trained codebook. 64 floats become 8 small ints: the
    compressed index d24 searches without touching candidate floats.
    Output is pure integers, so cross-engine hash-exactness needs only
    that the argmin COMPARISONS agree — and they do, because each
    sub-distance is the identical left-fold IEEE expression on both
    engines. Steady state compiles to a scan of the stored index MV
    (the oracle unrolls the training chain, so the gate re-proves the
    stored codes equal a from-scratch build)."""
    return _trained_assigned(spark, sf_dir).select(
        "vec_id", *[F.col(f"code_{s}").cast("long") for s in range(1, PQ_M + 1)]
    )


@query(
    "d24_ann_ivfpq",
    oracle=f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    codes AS (
      SELECT s.vec_id,
{_TRAINED_CODES_SQL}
      FROM vecs s
    ),
    dt AS (
      SELECT q.vec_id AS query_id, m.cid,
{_TRAINED_DT_COLS_SQL}
      FROM q, cm m
    ),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS candidate_id, a.label, q.cell,
             {_TRAINED_ADC_SUM_SQL} AS adc
      FROM q
      JOIN assigned a ON a.cell = q.cell AND a.vec_id <> q.vec_id
      JOIN codes k ON k.vec_id = a.vec_id
{_TRAINED_ADC_JOINS_SQL}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc, candidate_id) AS rank
      FROM scored
    )
    SELECT query_id, candidate_id, label, cell, adc, CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def d24_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (new r8): probes search only their IVF cell of
    the stored trained index and score candidates by ASYMMETRIC
    DISTANCE — the sum over subspaces of the distance from the probe's
    sub-vector to the candidate's ASSIGNED CENTROID sub-vector, read
    from its stored PQ codes. No candidate float is ever touched: the
    probe computes one distance table (|codebook| x PQ_M entries) and
    every candidate scores via PQ_M table lookups. That inversion is
    the PQ scale story: scoring cost is O(codes) per candidate
    regardless of dimension, and the float corpus stays cold.

    Plan shape: `_ivf_candidates` with the "adc" score (the broadcast
    per-probe distance-table map, one equi-join on probe id), then
    top-3 per probe by (adc asc, candidate_id)."""
    return _ivf_top3(_ivf_candidates(spark, sf_dir, ("adc",)), F.col("adc"))


# ---------------------------------------------------------------- d25
@query("d25b_ann_recall_trained", oracle=_TRAINED_RECALL_ORACLE)
@query("d25_ann_recall", oracle=_TRAINED_RECALL_ORACLE)
def d25_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality report: per-probe recall of d24's IVF-PQ
    top-3 against the EXACT in-cell cosine top-3 (d8's ground truth —
    same cell restriction, so the number isolates PQ quantization
    loss from cell-routing loss, which is d14's knob). This is the
    'measure, don't guess' operator for the ANN family: a pipeline
    tunes PQ_M / nprobe by exactly this query. Output is pure
    integers (probe, k returned, hits in truth) — the oracle
    re-derives both rankings independently and must agree row-for-row,
    which it can only do if every ADC comparison and every cosine
    comparison matches across engines. Registered under two names:
    d25b_ann_recall_trained is the same builder and the same oracle.

    Spark shape: both scores are columns of ONE `_ivf_candidates`
    relation (one index scan, one probe x candidate join), and the two
    rankings are two windows over ONE query_id exchange; the recall
    join-back is a conditional count (rank_adc <= 3 rows counted,
    hits = those also rank_cos <= 3). The exchange carries the full
    in-cell scored relation, which is probe-bounded (IVF_PROBES x
    in-cell candidates) at any corpus size."""
    scored = _ivf_candidates(spark, sf_dir, ("adc", "cosine"))
    wq = Window.partitionBy("query_id").orderBy(F.col("adc"), F.col("candidate_id"))
    we = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("candidate_id")
    )
    return (
        scored.withColumn("rank_adc", F.row_number().over(wq))
        .withColumn("rank_cos", F.row_number().over(we))
        .where(F.col("rank_adc") <= 3)
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("k_returned"),
            F.count_if(F.col("rank_cos") <= 3).cast("long").alias("hits"),
        )
    )


# ---------------------------------------------------------------- d26
# Deterministic cardinality sketch. HLL (approx_count_distinct) gives
# engine-specific answers, so it can never pass a cross-engine value
# gate; KMV (k minimum values; Bar-Yossef et al. 2002) over md5 is
# deterministic — same data, same k, same estimate, on ANY engine and
# any partitioning. That reproducibility is worth real money in a
# pipeline: sketch-based dashboards stop flickering between runs.
KMV_K = 16
# 13 hex chars = 52 bits: exactly representable in a double, so the
# fraction below is the same IEEE value on both engines.
_KMV_HEX_CHARS = 13
_KMV_SCALE = 16 ** _KMV_HEX_CHARS


@query(
    "d26_kmv_distinct",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT d.lang, w.w AS word
      FROM documents d, unnest(string_split(d.text, ' ')) AS w(w)
    ),
    hashed AS (
      SELECT lang,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, {_KMV_HEX_CHARS + 1}),
                   i -> CAST(instr('0123456789abcdef',
                                   substr(md5(word), i, 1)) - 1 AS BIGINT))),
               (acc, v) -> acc * 16 + v) AS hv
      FROM vocab
    ),
    ranked AS (
      SELECT lang, hv,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv) AS rk
      FROM hashed
    ),
    kept AS (SELECT lang, hv, rk FROM ranked WHERE rk <= {KMV_K}),
    sketch AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS k_kept,
             MAX(hv) AS hv_k
      FROM kept GROUP BY lang
    ),
    exact AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab_exact
              FROM vocab GROUP BY lang)
    SELECT s.lang, e.vocab_exact, s.k_kept,
           CASE WHEN s.k_kept < {KMV_K} THEN CAST(s.k_kept AS DOUBLE)
                ELSE ({KMV_K} - 1) / (CAST(s.hv_k AS DOUBLE) / {_KMV_SCALE}.0)
           END AS vocab_est
    FROM sketch s JOIN exact e ON e.lang = s.lang
    """,
)
def d26_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic distinct-cardinality sketch (new r8): per-language
    vocabulary size estimated from the KMV_K smallest md5 values of the
    distinct tokens — est = (k-1) / frac(h_k), falling back to the
    exact kept-count when a language has fewer than k distinct tokens
    (then the sketch IS the set). The exact count rides along so the
    operator self-reports its error, same stance as d25: the sketch
    you would actually trust at 100 TB is the one whose error you have
    measured.

    Scale shape: the only corpus-sized work is the (lang, word)
    distinct — one shuffle that map-side combines down to vocabulary
    size. The per-lang rank is WindowGroupLimit-pushed (Spark computes
    per-partition top-k BEFORE the exchange), so the window moves
    ~k * partitions rows, not the vocabulary. Estimate arithmetic uses
    a 52-bit hash prefix (exact in a double) and one division of
    engine-exact integers — bit-identical to the oracle.

    Determinism is the design point: approx_count_distinct (HLL) is
    engine-specific and run-stable only per engine; KMV's answer is a
    pure function of the data, so it cross-checks between Spark and
    DuckDB to the last bit — the same reproducibility contract as
    d11's hash-mod sampling."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("word"))
        .distinct()
    )
    hashed = vocab.select(
        "lang",
        F.conv(F.substring(F.md5(F.col("word")), 1, _KMV_HEX_CHARS), 16, 10)
        .cast("long")
        .alias("hv"),
    )
    rk = F.row_number().over(Window.partitionBy("lang").orderBy("hv"))
    kept = hashed.withColumn("rk", rk).where(F.col("rk") <= KMV_K)
    sketch = kept.groupBy("lang").agg(
        F.count("*").alias("k_kept"), F.max("hv").alias("hv_k")
    )
    exact = vocab.groupBy("lang").agg(F.count("*").alias("vocab_exact"))
    est = F.when(
        F.col("k_kept") < KMV_K, F.col("k_kept").cast("double")
    ).otherwise(
        F.lit(KMV_K - 1) / (F.col("hv_k").cast("double") / F.lit(float(_KMV_SCALE)))
    )
    return (
        sketch.join(exact, "lang")
        .select("lang", "vocab_exact", "k_kept", est.alias("vocab_est"))
    )


# ---------------------------------------------------------------- d27
# Incremental snapshot split: deterministic by doc_id so the oracle
# sees the same base/incoming partition.
INC_MOD = 10
INC_BASE_LT = 8  # doc_id % 10 < 8 -> base corpus; else incoming


@query(
    "d27_incremental_neardup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {_MINHASH_SQL} AS mh
      FROM toks WHERE len(sh) > 0
    ),
    bands AS (
      SELECT doc_id,
             b AS band,
             md5(CAST(b AS VARCHAR) || ':' || mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
      FROM sigs, UNNEST(range(0, {N_BANDS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT bi.doc_id AS inc_id, bb.doc_id AS base_id
      FROM bands bi JOIN bands bb
        ON bi.band_key = bb.band_key AND bi.band = bb.band
      WHERE bi.doc_id % {INC_MOD} >= {INC_BASE_LT}
        AND bb.doc_id % {INC_MOD} < {INC_BASE_LT}
    ),
    scored AS (
      SELECT c.inc_id, c.base_id, {_JACCARD_SQL} AS jaccard
      FROM cand c
      JOIN toks a ON a.doc_id = c.inc_id
      JOIN toks b ON b.doc_id = c.base_id
      WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    )
    SELECT inc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_base_matches,
           MIN(base_id) AS first_match,
           MIN_BY(jaccard, base_id) AS first_match_jaccard
    FROM scored GROUP BY inc_id
    """,
)
def d27_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup (new r8): the snapshot-over-snapshot
    question every recurring crawl asks — which INCOMING documents are
    near-duplicates of the BASE corpus (and so get dropped under
    first-seen-wins)? Batch-oracle-checkable counterpart of the
    streaming arrival gate (`streaming/neardup.py`): same MinHash+LSH
    banding as d2, but the candidate join is base x incoming only —
    the base-base and incoming-incoming quadrants are never generated,
    which at a 100 TB base with a daily-crawl-sized increment is the
    difference between probing an index and re-deduping the world.

    Reuses the stored d2 signature MVs (the persisted index a real
    incremental pipeline maintains); the band join keys on
    (band, band_key) with the incoming side filtered BEFORE the join;
    exact Jaccard re-checks candidates; per incoming doc the output is
    (match count, lowest-id base match, its jaccard) — min_by keyed on
    base_id, so the doubles that survive are pair-deterministic."""
    toks = _shingle_toks(spark, sf_dir)
    sigs = _d2_sigs(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat(
                            b.cast("string"),
                            F.lit(":"),
                            F.element_at(F.col("mh"), b * 3 + 1),
                            F.element_at(F.col("mh"), b * 3 + 2),
                            F.element_at(F.col("mh"), b * 3 + 3),
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    inc = bands.where(F.col("doc_id") % INC_MOD >= INC_BASE_LT).select(
        F.col("doc_id").alias("inc_id"), "band", "band_key"
    )
    base = bands.where(F.col("doc_id") % INC_MOD < INC_BASE_LT).select(
        F.col("doc_id").alias("base_id"),
        F.col("band").alias("band_b"),
        F.col("band_key").alias("band_key_b"),
    )
    cand = (
        inc.join(
            base,
            (F.col("band_key") == F.col("band_key_b"))
            & (F.col("band") == F.col("band_b")),
        )
        .select("inc_id", "base_id")
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("inc_id"), F.col("sh").alias("sh_a"))
    tb = toks.select(F.col("doc_id").alias("base_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter.cast("double") / union
    scored = (
        cand.join(ta, "inc_id")
        .join(tb, "base_id")
        .select("inc_id", "base_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    return scored.groupBy(F.col("inc_id").alias("doc_id")).agg(
        F.count("*").alias("n_base_matches"),
        F.min("base_id").alias("first_match"),
        F.min_by("jaccard", F.col("base_id")).alias("first_match_jaccard"),
    )


# ---------------------------------------------------------------- d28
# Overlapping token-window chunking — the context-building step a
# RAG / pretraining pipeline runs between curation and indexing:
# every document becomes ceil(n_tokens / stride) windows of
# CHUNK_W whitespace tokens advancing by CHUNK_STRIDE (interior
# chunks overlap by CHUNK_W - CHUNK_STRIDE tokens so no sentence is
# ever split without context on at least one side).

CHUNK_W = 64
CHUNK_STRIDE = 48


def _hash_bucket_sql_for(col: str) -> str:
    """The d11 md5-fold bucket (0-99), parametrized on the hashed
    column — same arithmetic spelled independently on both engines."""
    return f"""
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, 9),
        i -> CAST(instr('0123456789abcdef',
                        substr(md5(CAST({col} AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
    (acc, v) -> acc * 16 + v) % 100
"""


@query(
    "d28_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    )
    SELECT doc_id,
           CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(s AS BIGINT) AS chunk_start,
           CAST(len(list_slice(tk, s + 1, s + {CHUNK_W})) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(tk, s + 1, s + {CHUNK_W}), ' '))
             AS chunk_hash
    FROM toks, UNNEST(range(0, len(tk), {CHUNK_STRIDE})) AS t(s)
    """,
)
def d28_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (RAG / context building).

    Spark shape: one per-row projection — split, generate the stride
    sequence, posexplode, slice, hash — with NO shuffle anywhere: the
    plan is scan -> generate -> project, embarrassingly parallel at
    any corpus size, and the output volume is bounded at
    ~(W / stride)x the token volume by construction. Everything stays
    JVM-side (split / sequence / posexplode / slice / array_join /
    md5 are all codegen'd); chunk identity ships as an md5 of the
    chunk text so the result is compact and hash-comparable while the
    text itself never leaves the executor.

    Pipeline role (beyond-reference curation family, SURVEY §6):
    curation (d10) -> chunking (d28) -> embedding / indexing (d3/d8);
    the chunk_hash doubles as the exact-dedup key for chunk-level d1.
    """
    docs = load_table(spark, sf_dir, "documents")
    piece = F.slice(F.col("tk"), F.col("chunk_start") + 1, F.lit(CHUNK_W))
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("tk"))
        .select(
            "doc_id",
            "tk",
            F.posexplode(
                F.sequence(
                    F.lit(0), F.size("tk") - 1, F.lit(CHUNK_STRIDE)
                )
            ).alias("chunk_idx", "chunk_start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.size(piece).cast("long").alias("n_chunk_tokens"),
            F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------- d29
# Leakage-safe train/val/test split: route every document by the md5
# bucket of its near-dup CLUSTER REPRESENTATIVE (the d9 cluster_id =
# min doc_id of the component; singletons route by their own id), so
# an entire duplicate family always lands in ONE split — the
# assignment a pretraining pipeline must make, because hashing raw
# doc_ids leaks near-identical text across the train/eval boundary.

SPLIT_TRAIN_LT = 80
SPLIT_VAL_LT = 90


@query(
    "d29_split_assign",
    oracle=f"""
    WITH RECURSIVE {_D9_CTES},
    rep AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    SELECT doc_id, rep_id,
           CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
                WHEN bucket < {SPLIT_VAL_LT} THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, rep_id,
             ({_hash_bucket_sql_for('rep_id')}) AS bucket
      FROM rep
    )
    """,
)
def d29_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-aware train/val/test split assignment.

    Spark shape: the d9 cluster membership (near-dup members only —
    tiny relative to the corpus, read from the stored cluster MV) is
    BROADCAST and left-joined onto the corpus; the split decision is a
    per-row md5 fold of the representative id (the exact d11 bucket
    arithmetic, spelled independently on both engines). No data-sized
    shuffle: corpus-scan -> broadcast-join -> project. At 100 TB the
    cost is the scan plus a dictionary-sized broadcast, and the
    assignment is reproducible on any engine/partitioning.

    The leakage guarantee is structural: split = f(rep_id) and every
    member of a cluster shares rep_id, so no near-dup family can
    straddle train and eval (pinned by an invariant test against d9).
    """
    clusters = d9_dedup_clusters(spark, sf_dir)
    members = F.broadcast(
        clusters.select("doc_id", F.col("cluster_id").alias("rep_of"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    rep = F.coalesce(F.col("rep_of"), F.col("doc_id"))
    bucket = _hash_bucket_spark(rep)
    return (
        docs.join(members, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("rep_id"),
            F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
            .when(bucket < SPLIT_VAL_LT, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


# ---------------------------------------------------------------- d30
# Verbatim-span duplication coverage — the substring-level dedup
# metric of Lee et al. 2022 ("Deduplicating Training Data Makes
# Language Models Better"): for every document, how many of its token
# positions are covered by a SPAN_L-token span that also appears
# verbatim in ANOTHER document? This is the measurement that decides
# substring-level dedup (vs d2's whole-document near-dup): boilerplate
# headers, license blocks and templated sentences show up here long
# before whole documents look similar.

SPAN_L = 8


def span_gram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text, ...) -> positional SPAN_L-gram rows
    (doc_id, pos, g) — THE gram convention of the span-dedup family
    (one definition; the d30_grams MV build and the streaming
    span-strip gate both call this, so the hash/window rule can never
    fork). Works identically on batch and streaming DataFrames."""
    tk = F.split(F.col("text"), " ")
    n = F.size("tk")
    gram_starts = F.when(
        n >= SPAN_L,
        F.sequence(F.lit(0), n - SPAN_L),
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select("doc_id", tk.alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    gram_starts,
                    lambda s: F.struct(
                        s.alias("pos"),
                        F.md5(
                            F.array_join(F.slice("tk", s + 1, SPAN_L), " ")
                        ).alias("g"),
                    ),
                )
            ).alias("pg"),
        )
        .select(
            "doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g")
        )
    )


@mv_step("d30_grams", keys=("d30_grams",), deps=("layout_documents",))
def _span_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positional SPAN_L-gram inverted relation (doc_id, pos, g),
    through the MV seam (VERDICT r8 #3; the t_word_tf precedent cut
    t_tfidf 19.4x -> 3.32x at 100x): d30 reads positions for its
    coverage fold. (d39 keeps its per-row array_distinct gram stream —
    reading this positional MV would force a (doc,g) distinct exchange
    it currently avoids, a worse trade at its pinned 4 exchanges.)
    Stored once per dataset content; every consumer compiles to a
    parquet scan instead of re-paying the tokenize + explode + gram
    hash per run."""
    docs = load_table(spark, sf_dir, "documents")
    return cached_relation(
        "d30_grams", sf_dir, lambda: span_gram_rows(docs)
    )


def shared_span_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grams appearing in >= 2 distinct documents (g) — the
    cross-document dictionary, as ONE map-side-combinable min!=max agg
    over the stored gram MV. Shared by batch d57 and the streaming
    span-strip gate (one definition of 'duplicated span')."""
    grams = _span_grams(spark, sf_dir)
    return (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("g")
    )


@query(
    "d30_span_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, s AS pos,
             md5(array_to_string(list_slice(tk, s + 1, s + {SPAN_L}), ' ')) AS g
      FROM toks, UNNEST(range(0, len(tk) - {SPAN_L} + 1)) AS t(s)
    ),
    shared AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM shared)
    ),
    cov AS (
      SELECT doc_id,
             COUNT(*) AS dup_spans,
             COUNT(DISTINCT q) AS covered_tokens
      FROM dup, UNNEST(range(pos, pos + {SPAN_L})) AS u(q)
      GROUP BY doc_id
    ),
    spans AS (
      SELECT doc_id, COUNT(*) AS dup_spans FROM dup GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(COALESCE(s.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           ROUND(100.0 * COALESCE(c.covered_tokens, 0) / len(t.tk), 2)
             AS dup_pct
    FROM toks t
    LEFT JOIN spans s USING (doc_id)
    LEFT JOIN cov c USING (doc_id)
    """,
)
def d30_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-span duplication coverage per document.

    Spark shape (the 100 TB-honest version of the paper's suffix-array
    pass): the positional gram relation is a stored MV (`d30_grams` —
    tokenize-at-ingest, VERDICT r8 #3), so the query is ONE exchange
    on gram for the shared-gram docfreq (the same inverted-index
    shuffle t_ngram_docfreq pays), a join-back of positions to the
    shared-gram set, then a per-doc fold. The coverage union is NOT
    computed by exploding positions (the oracle does that — it only
    has to be right, not fast): Spark sorts each doc's duplicated
    starts and folds interval lengths JVM-side — integer arithmetic,
    one pass, no L-fold row blow-up.

    Docs shorter than SPAN_L tokens produce no grams (Spark
    ``sequence`` DESCENDS when stop < start, so the gram sequence in
    the MV build is explicitly guarded) and report zero coverage."""
    docs = load_table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    grams = _span_grams(spark, sf_dir)
    # a gram is shared across docs iff its doc_id set is non-degenerate
    # — min != max, ONE map-side-combinable hash-agg instead of the
    # two-phase partial-distinct count_distinct would plan
    shared = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("g")
    )
    dup = grams.join(shared, "g").select("doc_id", "pos")
    # interval-union fold over the sorted duplicated starts: each span
    # adds (pos + L) - max(pos, end_so_far) new covered positions
    # (non-negative because starts are ascending => end is monotone).
    zero = F.struct(
        F.lit(0).cast("long").alias("cov"), F.lit(-1).cast("long").alias("end")
    )
    per_doc = dup.groupBy("doc_id").agg(
        F.count("*").alias("dup_spans"),
        F.aggregate(
            F.sort_array(F.collect_list("pos")),
            zero,
            lambda acc, s: F.struct(
                (
                    acc["cov"]
                    + (s + SPAN_L - F.greatest(s.cast("long"), acc["end"]))
                ).alias("cov"),
                F.greatest(acc["end"], (s + SPAN_L).cast("long")).alias("end"),
            ),
            lambda acc: acc["cov"],
        ).alias("covered_tokens"),
    )
    return (
        docs.select("doc_id", F.size(tk).alias("n_tokens"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_spans", F.lit(0)).cast("long").alias("dup_spans"),
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.round(
                100.0 * F.coalesce("covered_tokens", F.lit(0)) / F.col("n_tokens"),
                2,
            ).alias("dup_pct"),
        )
    )


# ---------------------------------------------------------------- d31
# Split-leakage audit — the measurement that justifies d29: for each
# candidate split policy, how many near-dup pairs (the d2 pair
# relation) straddle the train/eval boundary? The cluster-rep policy
# is ZERO BY CONSTRUCTION (both endpoints of any near-dup edge share a
# connected component, hence a representative, hence a split); the
# naive per-doc hash policy leaks ~2 * P(train) * P(eval) of all
# pairs. Companion to d25_ann_recall: a query whose OUTPUT is the
# design argument, oracle-checked.


def _split_case_sql(bucket_expr: str) -> str:
    return (
        f"CASE WHEN ({bucket_expr}) < {SPLIT_TRAIN_LT} THEN 'train' "
        f"WHEN ({bucket_expr}) < {SPLIT_VAL_LT} THEN 'val' "
        f"ELSE 'test' END"
    )


@query(
    "d31_split_leakage",
    oracle=f"""
    WITH RECURSIVE {_D9_CTES},
    rep AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    asg AS (
      SELECT doc_id,
             {_split_case_sql(_hash_bucket_sql_for('rep_id'))} AS split_rep,
             {_split_case_sql(_hash_bucket_sql_for('doc_id'))} AS split_hash
      FROM rep
    ),
    j AS (
      SELECT a.split_rep AS ra, b.split_rep AS rb,
             a.split_hash AS ha, b.split_hash AS hb
      FROM pairs p
      JOIN asg a ON a.doc_id = p.doc_a
      JOIN asg b ON b.doc_id = p.doc_b
    ),
    agg AS (
      SELECT COUNT(*) AS np,
             COUNT(*) FILTER (WHERE ra != rb) AS lr,
             COUNT(*) FILTER (WHERE ha != hb) AS lh
      FROM j
    )
    SELECT 'cluster_rep' AS policy,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(lr AS BIGINT) AS leaked_pairs
    FROM agg
    UNION ALL
    SELECT 'doc_hash', CAST(np AS BIGINT), CAST(lh AS BIGINT) FROM agg
    """,
)
def d31_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair leakage across splits, per assignment policy.

    Spark shape: the d2 pair relation (stored signature MVs, banded
    join — never all-pairs) joins the per-doc assignment table twice
    on doc id, then ONE hash-agg computes all three counters and a
    ``stack`` unpivots the row per policy. The assignment table is the
    d29 output extended with the naive per-doc-hash split, computed in
    the same projection — no second corpus pass."""
    asg = d29_split_assign(spark, sf_dir)
    hash_bucket = _hash_bucket_spark(F.col("doc_id"))
    asg = asg.select(
        "doc_id",
        F.col("split").alias("split_rep"),
        F.when(hash_bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(hash_bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split_hash"),
    )
    pairs = d2_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    a = asg.select(
        F.col("doc_id").alias("doc_a"),
        F.col("split_rep").alias("ra"),
        F.col("split_hash").alias("ha"),
    )
    b = asg.select(
        F.col("doc_id").alias("doc_b"),
        F.col("split_rep").alias("rb"),
        F.col("split_hash").alias("hb"),
    )
    agg = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.count("*").alias("np"),
            F.count_if(F.col("ra") != F.col("rb")).alias("lr"),
            F.count_if(F.col("ha") != F.col("hb")).alias("lh"),
        )
    )
    return agg.selectExpr(
        "stack(2, 'cluster_rep', np, lr, 'doc_hash', np, lh)"
        " AS (policy, n_pairs, leaked_pairs)"
    )


# ---------------------------------------------------------------- d33
# Dataset card — the artifact a pretraining run actually publishes:
# per (split, language), how many documents / whitespace tokens /
# chars survive curation (near-dup drop + quality gate), with the
# drop accounting. Composes three verified operators without
# re-deriving any of them: d29's leakage-safe split routing, d9's
# canonical-member drop list, d10's quality score.


def _d33_oracle() -> str:
    from .textstats import _stop_count_sql

    return f"""
    WITH RECURSIVE {_D9_CTES},
    rep AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    asg AS (
      SELECT doc_id,
             {_split_case_sql(_hash_bucket_sql_for('rep_id'))} AS split
      FROM rep
    ),
    drops AS (SELECT doc_id FROM sized WHERE rn <> 1),
    scored AS (
      SELECT a.split, d.lang, d.n_chars,
             len(string_split(d.text, ' ')) AS n_tokens,
             len(list_distinct(string_split(d.text, ' '))) AS n_unique,
             {_stop_count_sql('en').replace('text', 'd.text')} AS stop_hits,
             dr.doc_id IS NOT NULL AS is_dup
      FROM documents d
      JOIN asg a USING (doc_id)
      LEFT JOIN drops dr ON dr.doc_id = d.doc_id
    ),
    q AS (
      SELECT *,
             CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1 ELSE 0 END
           + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens >= 0.5 THEN 1 ELSE 0 END
           + CASE WHEN CAST(stop_hits AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.6
                  THEN 1 ELSE 0 END AS score
      FROM scored
    )
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS docs_in,
           CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS dropped_near_dup,
           CAST(COUNT(*) FILTER (WHERE NOT is_dup AND score < 2) AS BIGINT)
             AS dropped_low_quality,
           CAST(COUNT(*) FILTER (WHERE NOT is_dup AND score >= 2) AS BIGINT)
             AS kept_docs,
           CAST(COALESCE(SUM(n_tokens) FILTER (WHERE NOT is_dup AND score >= 2), 0)
             AS BIGINT) AS kept_ws_tokens,
           CAST(COALESCE(SUM(n_chars) FILTER (WHERE NOT is_dup AND score >= 2), 0)
             AS BIGINT) AS kept_chars
    FROM q
    GROUP BY split, lang
    """


@query("d33_dataset_card", oracle=_d33_oracle())
def d33_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(split, lang) curation accounting — the dataset card.

    Spark shape: one corpus scan; the d9 drop list and the d29
    assignment both derive from the same cluster MV (drop list
    broadcasts; the split is a per-row md5 fold of the joined rep);
    the quality score is a per-row JVM projection; ONE hash-agg on
    (split, lang) — 30 output rows at any corpus size. The card's
    grain is fixed, so at 100 TB this costs the scan plus two
    dictionary-sized broadcasts, nothing else."""
    from .textstats import _stop_count, _tokens

    clusters = d9_dedup_clusters(spark, sf_dir)
    drops = F.broadcast(
        clusters.where(~F.col("is_canonical")).select(
            "doc_id", F.lit(True).alias("is_dup")
        )
    )
    members = F.broadcast(
        clusters.select("doc_id", F.col("cluster_id").alias("rep_of"))
    )
    docs = load_table(spark, sf_dir, "documents")
    rep = F.coalesce(F.col("rep_of"), F.col("doc_id"))
    bucket = _hash_bucket_spark(rep)
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tk = _tokens(F.col("text"))
    n_tokens = F.size(tk)
    n_unique = F.size(F.array_distinct(tk))
    stop_hits = _stop_count(tk, "en")
    score = (
        F.when(n_tokens.between(20, 80), 1).otherwise(0)
        + F.when(n_unique.cast("double") / n_tokens >= 0.5, 1).otherwise(0)
        + F.when(
            (stop_hits.cast("double") / n_tokens).between(0.01, 0.6), 1
        ).otherwise(0)
    )
    flagged = (
        docs.join(members, "doc_id", "left")
        .join(drops, "doc_id", "left")
        .select(
            split.alias("split"),
            "lang",
            "n_chars",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            n_tokens.alias("n_tokens"),
            score.alias("score"),
        )
    )
    keep = (~F.col("is_dup")) & (F.col("score") >= 2)
    return flagged.groupBy("split", "lang").agg(
        F.count("*").alias("docs_in"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("long")
        .alias("dropped_near_dup"),
        F.sum(F.when((~F.col("is_dup")) & (F.col("score") < 2), 1).otherwise(0))
        .cast("long")
        .alias("dropped_low_quality"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("kept_docs"),
        F.coalesce(F.sum(F.when(keep, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("kept_ws_tokens"),
        F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
        .cast("long")
        .alias("kept_chars"),
    )


# ---------------------------------------------------------------- d32
# Retrieval with context assembly — the serving leg of a RAG pipeline
# over the d28 chunk table: score every chunk by keyword hits, take
# the global top-k, and hand back each hit WITH its neighboring
# chunks (the context window an LLM actually receives; returning the
# bare chunk loses the sentence that started two chunks ago).

RAG_TOPK = 5


def _d32_oracle() -> str:
    from .textstats import KEYWORD_TERMS

    terms = ", ".join(f"'{t}'" for t in KEYWORD_TERMS)
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST(s // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
             md5(array_to_string(list_slice(tk, s + 1, s + {CHUNK_W}), ' '))
               AS chunk_hash,
             CAST(len(list_filter(list_slice(tk, s + 1, s + {CHUNK_W}),
                                  t -> t IN ({terms}))) AS BIGINT) AS kw_hits
      FROM toks, UNNEST(range(0, len(tk), {CHUNK_STRIDE})) AS t(s)
    ),
    ctx AS (
      SELECT *,
             LAG(chunk_hash) OVER w AS prev_hash,
             LEAD(chunk_hash) OVER w AS next_hash
      FROM chunks
      WINDOW w AS (PARTITION BY doc_id ORDER BY chunk_idx)
    ),
    top AS (
      SELECT doc_id, chunk_idx, kw_hits, chunk_hash,
             md5(COALESCE(prev_hash, '') || chunk_hash
                 || COALESCE(next_hash, '')) AS context_hash
      FROM ctx WHERE kw_hits > 0
      ORDER BY kw_hits DESC, doc_id, chunk_idx
      LIMIT {RAG_TOPK}
    )
    SELECT CAST(ROW_NUMBER()
                OVER (ORDER BY kw_hits DESC, doc_id, chunk_idx) AS BIGINT)
             AS rank,
           doc_id, chunk_idx, kw_hits, chunk_hash, context_hash
    FROM top
    """


@query("d32_rag_context", oracle=_d32_oracle())
def d32_rag_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword top-k over chunks, returned with assembled context.

    Spark shape: ZERO data shuffles before the final top-k — the chunk
    hashes, keyword hits, and neighbor context are all built inside
    ONE per-document projection (arrays indexed by chunk position:
    prev/next are `element_at(hashes, i)` / `element_at(hashes, i+2)`
    on the same in-row array, so "window over (doc, chunk_idx)" costs
    nothing), then exploded, filtered on hits, and fed to
    TakeOrderedAndProject. The rank window runs on the post-LIMIT
    {RAG_TOPK}-row relation — bounded, single partition by design."""
    from .textstats import KEYWORD_TERMS

    docs = load_table(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    n = F.size("tk")
    starts = F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))
    with_arrays = docs.select("doc_id", tk.alias("tk")).select(
        "doc_id",
        F.transform(
            starts,
            lambda s: F.md5(F.array_join(F.slice("tk", s + 1, CHUNK_W), " ")),
        ).alias("hashes"),
        F.transform(
            starts,
            lambda s: F.size(
                F.filter(
                    F.slice("tk", s + 1, CHUNK_W),
                    lambda t: t.isin(*KEYWORD_TERMS),
                )
            ),
        ).alias("hits"),
    )
    packed = F.transform(
        F.sequence(F.lit(0), F.size("hashes") - 1),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.element_at(F.col("hashes"), i + 1).alias("chunk_hash"),
            F.element_at(F.col("hits"), i + 1).cast("long").alias("kw_hits"),
            F.md5(
                F.concat(
                    F.when(i > 0, F.element_at(F.col("hashes"), i)).otherwise(
                        F.lit("")
                    ),
                    F.element_at(F.col("hashes"), i + 1),
                    F.when(
                        i < F.size("hashes") - 1,
                        F.element_at(F.col("hashes"), i + 2),
                    ).otherwise(F.lit("")),
                )
            ).alias("context_hash"),
        ),
    )
    top = (
        with_arrays.select("doc_id", F.explode(packed).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.kw_hits").alias("kw_hits"),
            F.col("c.chunk_hash").alias("chunk_hash"),
            F.col("c.context_hash").alias("context_hash"),
        )
        .where(F.col("kw_hits") > 0)
        .orderBy(F.col("kw_hits").desc(), "doc_id", "chunk_idx")
        .limit(RAG_TOPK)
    )
    w = Window.orderBy(F.col("kw_hits").desc(), "doc_id", "chunk_idx")
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "chunk_idx",
        "kw_hits",
        "chunk_hash",
        "context_hash",
    )


# ---------------------------------------------------------------- d34
# Tokenizer induction — the BPE statistic. A byte-pair-encoding
# trainer's inner loop is "count adjacent symbol pairs weighted by
# word frequency, merge the most frequent" (Sennrich et al. 2016).
# d34 is that induction step as a query: the top-K adjacent
# character-pair merge candidates over the corpus vocabulary. The
# full iterative trainer lives in functions/bpe.py (learn_bpe) — the
# corpus-sized work (word counting) runs distributed ONCE; the merge
# loop then operates on the vocabulary-sized count table, which is
# how production tokenizer trainers work too (they train on word
# counts, not on the raw corpus).

BPE_TOPK = 20


@query(
    "d34_bpe_merges",
    oracle=f"""
    WITH w AS (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
      GROUP BY t
      HAVING length(t) >= 2
    ),
    p AS (
      SELECT pr AS pair, CAST(SUM(n) AS BIGINT) AS pair_count
      FROM w, UNNEST(list_transform(range(1, length(word)),
                                    i -> substr(word, i, 2))) AS v(pr)
      GROUP BY pr
    ),
    top AS (
      SELECT * FROM p ORDER BY pair_count DESC, pair LIMIT {BPE_TOPK}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
             AS merge_rank,
           pair, pair_count
    FROM top
    """,
)
def d34_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K BPE merge candidates: adjacent char pairs weighted by
    corpus word frequency.

    Spark shape: ONE corpus-sized exchange (the word-count hash-agg,
    map-side combined from token grain down to vocabulary grain);
    everything after is vocabulary-sized — the per-word pair explode
    is a higher-order transform over positions (no join), the pair
    agg reduces a vocab-sized relation, and the top-K is
    TakeOrderedAndProject. The rank window runs on the post-LIMIT
    K-row relation. At 100 TB the only term that grows is the first
    agg, and it is exactly the word-count any tokenizer trainer must
    pay once."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .where(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(BPE_TOPK)
    )
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return top.select(
        F.row_number().over(w).cast("long").alias("merge_rank"),
        "pair",
        "pair_count",
    )


# ---------------------------------------------------------------- d35
# Vocabulary-coverage audit — the OOV (out-of-vocabulary) rate a
# tokenizer/vocab choice leaves on the corpus, per language. Pairs
# with d34: d34 induces the vocabulary, d35 measures what a fixed
# top-V word vocabulary fails to cover (the statistic that decides V).

OOV_VOCAB_K = 64


@query(
    "d35_oov_rate",
    oracle=f"""
    WITH w AS (
      SELECT t AS word, COUNT(*) AS n
      FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
      GROUP BY t
    ),
    v AS (
      SELECT list(word ORDER BY word) AS vocab
      FROM (SELECT word FROM w ORDER BY n DESC, word LIMIT {OOV_VOCAB_K})
    ),
    per_doc AS (
      SELECT d.lang,
             len(string_split(d.text, ' ')) AS n_tok,
             len(list_filter(string_split(d.text, ' '),
                             t -> list_contains(v.vocab, t))) AS in_v
      FROM documents d, v
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tok - in_v) AS BIGINT) AS oov_tokens,
           CAST((SUM(n_tok - in_v) * 1000000) // SUM(n_tok) AS BIGINT)
             AS oov_ppm,
           CAST(COUNT(*) FILTER (WHERE (n_tok - in_v) * 2 > n_tok) AS BIGINT)
             AS high_oov_docs
    FROM per_doc
    GROUP BY lang
    """,
)
def d35_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OOV rate against the corpus top-V word vocabulary.

    Spark shape: the vocabulary reduces to ONE row (top-V words via
    TakeOrderedAndProject, folded into a sorted array) that crossJoins
    back — the t_keyword_topk 1-row-anchor pattern, a broadcast
    nested-loop over a single row by design. Per-document OOV counting
    is then a PER-ROW higher-order filter against the in-row 64-word
    array (no token-level explode, no token-level exchange); the only
    corpus-sized exchanges are the word-count agg and the final
    5-row language agg, both map-side combined. The ppm rate is
    integer `div` — no float division to drift between engines."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    vocab = (
        words.orderBy(F.col("n").desc(), "word")
        .limit(OOV_VOCAB_K)
        .agg(F.array_sort(F.collect_list("word")).alias("vocab"))
    )
    toks = F.split(F.col("text"), " ")
    per_doc = docs.join(F.broadcast(vocab)).select(
        "lang",
        F.size(toks).alias("n_tok"),
        F.size(
            F.filter(toks, lambda t: F.array_contains(F.col("vocab"), t))
        ).alias("in_v"),
    )
    oov = F.col("n_tok") - F.col("in_v")
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(oov).cast("long").alias("oov_tokens"),
            F.sum((oov * 2 > F.col("n_tok")).cast("long"))
            .cast("long")
            .alias("high_oov_docs"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            "oov_tokens",
            F.expr("(oov_tokens * 1000000) div total_tokens").alias("oov_ppm"),
            "high_oov_docs",
        )
    )


# ---------------------------------------------------------------- d36
# Contrastive hard-negative mining — for each probe embedding, the
# most-similar vectors with a DIFFERENT label, plus the margin to the
# probe's best same-label match. This is the pair-mining step of
# contrastive/metric training (triplet loss wants exactly these:
# negatives the model currently confuses with positives).

HARDNEG_TOPK = 3


@query(
    "d36_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding, label FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {D3_PROBES}
    ),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS query_label,
             e.vec_id AS candidate_id, e.label AS cand_label,
             {_DOT_SQL.format(a='q.embedding', b='e.embedding')}
               / (sqrt({_DOT_SQL.format(a='q.embedding', b='q.embedding')})
                  * sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})) AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    ),
    pos AS (
      SELECT query_id, MAX(cosine) AS best_pos
      FROM scored WHERE cand_label = query_label GROUP BY query_id
    ),
    negs AS (
      SELECT s.query_id, s.candidate_id, s.cand_label, s.cosine,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
                                ORDER BY s.cosine DESC, s.candidate_id) AS rank
      FROM scored s WHERE s.cand_label <> s.query_label
    )
    SELECT n.query_id, n.candidate_id,
           n.cand_label AS neg_label, n.cosine,
           p.best_pos - n.cosine AS margin,
           CAST(n.rank AS INTEGER) AS rank
    FROM negs n LEFT JOIN pos p USING (query_id)
    WHERE n.rank <= {HARDNEG_TOPK}
    """,
)
def d36_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k cross-label neighbors per probe, with the positive margin.

    One pass of the shared probe kernel (`_normed_probe_search`) over
    the stored normed MV: leg 0 holds each batch's local top-k
    candidates of another label, leg 1 those of the probe's own label
    (self excluded). One window over a query_id-keyed exchange then
    ranks leg 0 and takes best_pos as the max cosine of leg 1, so the
    probes x corpus scored relation is never materialized and the
    kernel runs once. Probes with no same-label candidate take a NULL
    best_pos and margin (max over an empty set), the oracle's
    semantics. The margin is a difference of two fold-derived doubles,
    the same IEEE expression tree on both engines.

    Labels match with numpy `==`, so the kernel relies on the loader's
    non-null int labels. The probe collect runs a Spark job at
    plan-construction time."""
    mined = _normed_probe_search(spark, sf_dir, HARDNEG_TOPK, by_label=True)
    return (
        mined.withColumn(
            "best_pos",
            F.max(F.when(F.col("leg") == 1, F.col("cosine"))).over(
                Window.partitionBy("query_id")
            ),
        )
        .where((F.col("leg") == 0) & (F.col("rank") <= HARDNEG_TOPK))
        .select(
            "query_id",
            "candidate_id",
            F.col("label").alias("neg_label"),
            "cosine",
            (F.col("best_pos") - F.col("cosine")).alias("margin"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ---------------------------------------------------------------- d37
# MinHash index calibration — does the signature agree with the truth
# it stands in for? Per LSH candidate pair, the Jaccard ESTIMATE the
# 12-component signature implies (fraction of equal components, the
# textbook unbiased MinHash estimator) vs the exact shingle Jaccard,
# aggregated into a calibration table by exact-Jaccard decile. This
# is d25's role for the d2 leg: the measurement that tunes N_MINHASH
# / N_BANDS / JACCARD_THRESHOLD instead of guessing them. All rates
# are integer ppm (div), so the table hash-matches across engines.


@query(
    "d37_minhash_calibration",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {_MINHASH_SQL} AS mh FROM toks WHERE len(sh) > 0
    ),
    bands AS (
      SELECT doc_id, b AS band,
             md5(CAST(b AS VARCHAR) || ':' || mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
      FROM sigs, UNNEST(range(0, {N_BANDS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_key = b2.band_key AND b1.band = b2.band
       AND b1.doc_id < b2.doc_id
    ),
    pairs AS (
      SELECT len(list_filter(range(1, {N_MINHASH} + 1),
                             i -> a.mh[i] = b.mh[i])) AS eq,
             len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
             len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS un
      FROM cand c JOIN sigs a ON a.doc_id = c.doc_a
                  JOIN sigs b ON b.doc_id = c.doc_b
    ),
    ppm AS (
      SELECT (inter * 1000000) // un AS exact_ppm,
             (eq * 1000000) // {N_MINHASH} AS est_ppm
      FROM pairs
    )
    SELECT CAST(exact_ppm // 100000 AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(est_ppm) // COUNT(*) AS BIGINT) AS mean_est_ppm,
           CAST(SUM(exact_ppm) // COUNT(*) AS BIGINT) AS mean_exact_ppm,
           CAST(SUM(abs(est_ppm - exact_ppm)) // COUNT(*) AS BIGINT)
             AS mean_abs_err_ppm
    FROM ppm GROUP BY 1
    """,
)
def d37_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-vs-truth calibration of the d2 MinHash index, by
    exact-Jaccard decile.

    Spark shape: reuses d2's stored shingle/signature MVs and its
    banded candidate join — the pair relation is the LSH candidate
    set, never all-pairs, so the calibration costs what one d2 run
    costs plus an 11-row hash-agg. The component-agreement count is a
    per-row ``zip_with`` fold over the two in-row signatures (no
    explode); every rate is integer ppm via ``div``; the final agg is
    decile-grain (≤11 rows) and map-side combined. At 100 TB this
    inherits d2's scale posture wholesale — the added terms are
    per-candidate-row expressions and a fixed-grain reduce."""
    sigs = _d2_sigs(spark, sf_dir)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat(
                            b.cast("string"),
                            F.lit(":"),
                            F.element_at(F.col("mh"), b * 3 + 1),
                            F.element_at(F.col("mh"), b * 3 + 2),
                            F.element_at(F.col("mh"), b * 3 + 3),
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    cand = (
        bands.alias("b1")
        .join(
            bands.alias("b2"),
            (F.col("b1.band_key") == F.col("b2.band_key"))
            & (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh").alias("sh_a"),
        F.col("mh").alias("mh_a"),
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh").alias("sh_b"),
        F.col("mh").alias("mh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    eq = F.size(
        F.filter(
            F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda m: m
        )
    )
    ppm = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            eq.cast("long").alias("eq"),
            inter.cast("long").alias("inter"),
            union.cast("long").alias("un"),
        )
        .select(
            F.expr("(inter * 1000000) div un").alias("exact_ppm"),
            F.expr(f"(eq * 1000000) div {N_MINHASH}").alias("est_ppm"),
        )
    )
    return (
        ppm.groupBy(F.expr("exact_ppm div 100000").alias("decile"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("est_ppm").alias("s_est"),
            F.sum("exact_ppm").alias("s_exact"),
            F.sum(F.abs(F.col("est_ppm") - F.col("exact_ppm"))).alias("s_err"),
        )
        .select(
            "decile",
            "n_pairs",
            F.expr("s_est div n_pairs").alias("mean_est_ppm"),
            F.expr("s_exact div n_pairs").alias("mean_exact_ppm"),
            F.expr("s_err div n_pairs").alias("mean_abs_err_ppm"),
        )
    )


# ---------------------------------------------------------------- d38
# Distributed order statistics without a global row sort — the
# fixed-bin histogram quantile sketch, with its error self-reported
# beside the exact order statistic, both computed the scale-safe way
# (value-domain cumulative counts: count by value, walk the CDF).
# percentile_approx-class operators are merge-order-dependent; this
# is deterministic by construction (integer counts are associative),
# so the same data gives the same answer on any engine and any
# partitioning. The histogram estimate needs no second pass: because
# the CDF is monotone, the first BIN whose end-count crosses k is
# exactly the bin containing the first VALUE whose count crosses k,
# so both the exact order statistic and its bin-upper-bound estimate
# fall out of one min-over-threshold on the same relation.

QSK_BIN_W = 50  # histogram bin width (chars)
QSK_PS = (50, 90, 99)  # reported percentiles


@query(
    "d38_quantile_sketch",
    oracle=f"""
    WITH by_len AS (
      SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT lang, n_chars, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY n_chars) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS n_docs
      FROM by_len
    )
    SELECT lang, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
           {", ".join(
               f"CAST(MIN(CASE WHEN cum >= ({p} * n_docs + 99) // 100 "
               f"THEN n_chars END) AS BIGINT) AS p{p}_exact, "
               f"CAST(MIN(CASE WHEN cum >= ({p} * n_docs + 99) // 100 "
               f"THEN (n_chars // {QSK_BIN_W} + 1) * {QSK_BIN_W} - 1 END) "
               f"AS BIGINT) AS p{p}_est"
               for p in QSK_PS)}
    FROM cum GROUP BY lang
    """,
)
def d38_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length percentiles (p50/p90/p99): exact order
    statistic beside its fixed-bin histogram estimate, one pass.

    Spark shape: ONE corpus-sized exchange — the (lang, n_chars)
    value-domain hash-agg, keyed on the FULL value domain for
    parallelism (never on lang alone, which would funnel a dominant
    language into one task) and map-side combined (each task emits at
    most |value domain| rows, not |input| rows). Then ONE
    dictionary-sized exchange brings the distinct-length relation
    (5 langs x length domain — bounded by the data's value range, not
    the corpus) to lang partitioning for the CDF window, and the
    final agg reuses that partitioning (subset-key clustering), so
    the whole tail is two WindowExecs + one no-exchange hash-agg: no
    global row sort, no percentile UDAF, no join. k is integer ceil
    (``(p*n + 99) div 100``) on both engines; the estimate's error is
    structural (< bin width above the exact value), asserted in
    tests. The same CDF walk yields the estimate for free: the first
    row with cum >= k is in the first bin whose end-count >= k, so
    min-over-threshold of the bin upper bound IS the histogram
    answer."""
    docs = load_table(spark, sf_dir, "documents")
    by_len = docs.groupBy("lang", "n_chars").agg(
        F.count("*").cast("long").alias("c")
    )
    wl = (
        Window.partitionBy("lang")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = by_len.select(
        "lang",
        "n_chars",
        F.sum("c").over(wl).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("n_docs"),
    )
    aggs = [F.max("n_docs").cast("long").alias("n_docs")]
    for p in QSK_PS:
        k = F.expr(f"({p} * n_docs + 99) div 100")
        aggs.append(
            F.min(F.when(F.col("cum") >= k, F.col("n_chars")))
            .cast("long")
            .alias(f"p{p}_exact")
        )
        aggs.append(
            F.min(
                F.when(
                    F.col("cum") >= k,
                    F.expr(
                        f"(n_chars div {QSK_BIN_W} + 1) * {QSK_BIN_W} - 1"
                    ),
                )
            )
            .cast("long")
            .alias(f"p{p}_est")
        )
    out = cum.groupBy("lang").agg(*aggs)
    return out.select(
        "lang",
        "n_docs",
        *[
            c
            for p in QSK_PS
            for c in (F.col(f"p{p}_exact"), F.col(f"p{p}_est"))
        ],
    )


# ---------------------------------------------------------------- d39
# Cross-split verbatim contamination — the train->eval overlap table a
# model card reports (the GPT-3 appendix's "dirty" eval accounting):
# for each eval split, how many documents share at least one
# SPAN_L-token gram with ANY train document, under the d29
# leakage-safe routing. d31 audits the boundary at the NEAR-DUP pair
# level; d39 audits it at the verbatim-gram level — the two leak
# channels are different (boilerplate spans cross splits long before
# whole documents look similar, exactly the d30 observation applied
# to the split boundary).


@query(
    "d39_split_gram_overlap",
    oracle=f"""
    WITH RECURSIVE {_D9_CTES},
    rep AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ),
    sp AS (
      SELECT doc_id,
             CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
                  WHEN bucket < {SPLIT_VAL_LT} THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT doc_id, ({_hash_bucket_sql_for('rep_id')}) AS bucket
        FROM rep
      )
    ),
    gr AS (
      SELECT d.doc_id, sp.split, g
      FROM documents d JOIN sp USING (doc_id),
           UNNEST(list_distinct(list_transform(
             range(0, len(string_split(d.text, ' ')) - {SPAN_L} + 1),
             s -> md5(array_to_string(
                    list_slice(string_split(d.text, ' '), s + 1, s + {SPAN_L}),
                    ' '))))) AS t(g)
    ),
    flag AS (
      SELECT g FROM gr GROUP BY g
      HAVING MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) = 1
         AND MAX(CASE WHEN split <> 'train' THEN 1 ELSE 0 END) = 1
    ),
    hit AS (
      SELECT gr.split, gr.doc_id, COUNT(*) AS shared_grams
      FROM gr JOIN flag USING (g)
      WHERE gr.split <> 'train'
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT split, COUNT(*) AS n_docs FROM sp
      WHERE split <> 'train' GROUP BY 1
    )
    SELECT t.split, CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(COUNT(h.doc_id) AS BIGINT) AS contaminated_docs,
           CAST(COALESCE(SUM(h.shared_grams), 0) AS BIGINT)
             AS shared_gram_hits,
           CAST((COUNT(h.doc_id) * 1000000) // t.n_docs AS BIGINT)
             AS contaminated_ppm
    FROM tot t LEFT JOIN hit h USING (split)
    GROUP BY t.split, t.n_docs
    """,
)
def d39_split_gram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-split verbatim gram contamination vs the train split.

    Spark shape: split assignment is d29's per-row arithmetic (stored
    cluster MV broadcast + md5 fold — no corpus-sized join); grams are
    the d30 per-row expression, DISTINCT within each doc so counts are
    deterministic. ONE gram-keyed exchange computes the cross-split
    flag as a map-side-combinable max/max agg (d30's min!=max trick,
    per side of the boundary); the qualifying gram set — a SUBSET of
    d30's shared-gram set, the same broadcast-back pattern that plan
    documents — broadcasts onto the eval gram stream, so eval
    occurrences never shuffle on gram. Then a per-(split, doc) agg
    and a 2-row split rollup with integer-ppm rates. The split totals
    are a corpus scan with a 2-row agg, broadcast-joined at the end."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = d9_dedup_clusters(spark, sf_dir)
    members = F.broadcast(
        clusters.select("doc_id", F.col("cluster_id").alias("rep_of"))
    )
    rep = F.coalesce(F.col("rep_of"), F.col("doc_id"))
    bucket = _hash_bucket_spark(rep)
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, F.lit("train"))
        .when(bucket < SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    with_split = docs.join(members, "doc_id", "left").select(
        "doc_id", split.alias("split"), F.split("text", " ").alias("tk")
    )
    n = F.size("tk")
    gram_starts = F.when(
        n >= SPAN_L, F.sequence(F.lit(0), n - SPAN_L)
    ).otherwise(F.array().cast("array<int>"))
    # r12 (VERDICT r11 #2): the gram KEY is internal — only aggregated
    # counts cross the oracle boundary — so the Spark side keys grams
    # by xxhash64 OF THE TOKEN ARRAY (one non-crypto pass, no joined-
    # string allocation, an 8-byte exchange key) instead of the
    # oracle's md5-of-joined-string (32+ bytes, crypto, plus the
    # per-gram string build). Identity is preserved: tokens come from
    # splitting on ' ', so the join was lossless, and a 64-bit
    # collision across the shared-gram set is ~1e-8 at sf-scale
    # volumes. Measured A/B at sf0.1 in BENCH_NOTES (r12 addendum).
    gr = with_split.select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(
                F.transform(
                    gram_starts,
                    lambda s: F.xxhash64(F.slice("tk", s + 1, SPAN_L)),
                )
            )
        ).alias("g"),
    )
    is_train = (F.col("split") == "train").cast("int")
    flag = (
        gr.groupBy("g")
        .agg(
            F.max(is_train).alias("ht"),
            F.max(1 - is_train).alias("he"),
        )
        .where((F.col("ht") == 1) & (F.col("he") == 1))
        .select("g")
    )
    hits = (
        gr.where(F.col("split") != "train")
        .join(F.broadcast(flag), "g")
        .groupBy("split", "doc_id")
        .agg(F.count("*").alias("shared_grams"))
    )
    tot = (
        with_split.where(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    per_split = hits.groupBy("split").agg(
        F.count("*").cast("long").alias("contaminated_docs"),
        F.sum("shared_grams").cast("long").alias("shared_gram_hits"),
    )
    return (
        tot.join(F.broadcast(per_split), "split", "left")
        .select(
            "split",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce("contaminated_docs", F.lit(0)).cast("long").alias(
                "contaminated_docs"
            ),
            F.coalesce("shared_gram_hits", F.lit(0)).cast("long").alias(
                "shared_gram_hits"
            ),
            F.expr(
                "(coalesce(contaminated_docs, 0) * 1000000) div n_docs"
            ).alias("contaminated_ppm"),
        )
    )


# ---------------------------------------------------------------- d40
# Vocabulary growth curve (Heaps' law, measured) — how fast does the
# distinct-word vocabulary grow as the corpus streams in? The curve
# that sizes tokenizer vocabularies (d34/d35's V) and predicts
# dictionary-table growth for every word-keyed operator. Checkpoint
# order is the d11 md5 bucket of doc_id (a deterministic RANDOM
# order — the statistically right estimator for Heaps' law, and
# reproducible on any engine), coarsened to 10 arrival waves.

VG_WAVES = 10


@query(
    "d40_vocab_growth",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             (({_HASH_BUCKET_SQL})) // 10 AS w,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    waves AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM d GROUP BY w
    ),
    firsts AS (
      SELECT t AS word, MIN(w) AS fw
      FROM d, UNNEST(string_split(text, ' ')) AS u(t)
      GROUP BY t
    ),
    hist AS (
      SELECT fw AS w, CAST(COUNT(*) AS BIGINT) AS new_words
      FROM firsts GROUP BY fw
    )
    SELECT waves.w AS checkpoint,
           CAST(SUM(waves.n_docs) OVER (ORDER BY waves.w) AS BIGINT)
             AS docs_cum,
           CAST(SUM(waves.n_tokens) OVER (ORDER BY waves.w) AS BIGINT)
             AS tokens_cum,
           CAST(COALESCE(hist.new_words, 0) AS BIGINT) AS new_words,
           CAST(SUM(COALESCE(hist.new_words, 0)) OVER (ORDER BY waves.w)
                AS BIGINT) AS vocab_cum
    FROM waves LEFT JOIN hist ON hist.w = waves.w
    """,
)
def d40_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative vocabulary size at 10 deterministic arrival waves.

    Spark shape: the per-doc wave is a per-row md5 fold (d11's bucket
    arithmetic, div 10); the corpus-sized work is ONE word-grain
    hash-agg (min wave per word — map-side combined, the same
    token->vocab exchange d34/d35 pay) plus the 10-row per-wave
    doc/token stats agg; everything after is a 10-row relation — the
    cumulative window runs on 10 rows (the documented
    fixed-tiny-relation exception to the no-global-window rule, same
    as d18's quota table). New-word attribution by min(wave) is
    order-free and engine-free: no stateful scan of the corpus in
    arrival order is ever needed, which is what makes a Heaps curve
    computable at 100 TB in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    wave = (_hash_bucket_spark(F.col("doc_id")) / 10).cast("long")
    d = docs.select(
        "doc_id",
        wave.alias("w"),
        F.split("text", " ").alias("tk"),
    )
    waves = d.groupBy("w").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size("tk")).cast("long").alias("n_tokens"),
    )
    firsts = (
        d.select("w", F.explode("tk").alias("word"))
        .groupBy("word")
        .agg(F.min("w").alias("fw"))
    )
    hist = firsts.groupBy(F.col("fw").alias("w")).agg(
        F.count("*").cast("long").alias("new_words")
    )
    joined = waves.join(F.broadcast(hist), "w", "left").select(
        "w",
        "n_docs",
        "n_tokens",
        F.coalesce("new_words", F.lit(0)).cast("long").alias("new_words"),
    )
    # 10-row relation: the unpartitioned window is the documented
    # fixed-tiny-relation exception (see d18's quota table)
    cw = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        F.col("w").alias("checkpoint"),
        F.sum("n_docs").over(cw).cast("long").alias("docs_cum"),
        F.sum("n_tokens").over(cw).cast("long").alias("tokens_cum"),
        "new_words",
        F.sum("new_words").over(cw).cast("long").alias("vocab_cum"),
    )


# ---------------------------------------------------------------- d41
# Cross-source duplication matrix — which SOURCE PAIRS share near-dup
# content? The provenance-level reading of the d9 cluster table:
# syndicated/boilerplate text shows up as clusters spanning two
# sources, and the pair counts tell a curation pipeline which feeds
# to dedup against each other (and which are independent). Output is
# bounded by |sources|^2 regardless of corpus size.


@query(
    "d41_cross_source_dups",
    oracle=f"""
    WITH RECURSIVE {_D9_CTES},
    mem AS (
      SELECT c.cluster_id, d.source
      FROM comp c JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS shared_clusters
    FROM mem a JOIN mem b
      ON a.cluster_id = b.cluster_id AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def d41_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters shared per unordered source pair.

    Spark shape: the stored d9 cluster MV (near-dup members only —
    tiny relative to the corpus) broadcasts onto the documents scan to
    pick up each member's source; from there everything is
    cluster-membership-sized: a (cluster, source) distinct agg, a
    cluster-keyed self-join of that deduped relation (bounded by
    members, never corpus), and a |sources|^2-bounded pair count. At
    100 TB the corpus-sized term is the one provenance-lookup scan,
    and the matrix answers which feeds need cross-dedup without ever
    comparing documents pairwise."""
    clusters = d9_dedup_clusters(spark, sf_dir)
    members = F.broadcast(clusters.select("doc_id", "cluster_id"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    mem = (
        docs.join(members, "doc_id")
        .select("cluster_id", "source")
        .distinct()
    )
    a = mem.select("cluster_id", F.col("source").alias("src_a"))
    b = mem.select("cluster_id", F.col("source").alias("src_b"))
    return (
        a.join(b, "cluster_id")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("shared_clusters"))
    )


# ---------------------------------------------------------------- d42
# Embedding-LSH recall report — the measurement for the d7 leg,
# completing the audit symmetry: every approximate index in the repo
# ships with the query that measures it (d2 -> d37, d24 -> d25,
# d7 -> d42). Exact ground truth is the all-pairs cosine >= tau
# relation (quadratic BY DESIGN — d4's class: the oracle-grade
# baseline you run on a sample, not the corpus); found = d7's
# bucket-join pairs. d7 computes exact cosine on its candidates, so
# found is a SUBSET of exact and recall is the only loss — reported
# per 0.05-cosine band, because sign-LSH recall degrades toward the
# threshold (near-orthogonal near-misses flip sign bits).

D42_TAU = 0.40  # d7's threshold


@query(
    "d42_embed_recall",
    oracle=f"""
    WITH {_NBITS_CTE_SQL},
    n AS (
      SELECT vec_id, embedding,
             {_BUCKET_SQL.format(e='embedding')} AS bucket,
             sqrt({_DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings, nb
    ),
    exact AS (
      SELECT CAST(floor(({_DOT_SQL.format(a='a.embedding', b='b.embedding')}
                         / (a.nrm * b.nrm)) * 20) AS BIGINT) AS band,
             (a.bucket = b.bucket) AS same_bucket
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
              / (a.nrm * b.nrm) >= {D42_TAU}
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS exact_pairs,
           CAST(COUNT(*) FILTER (WHERE same_bucket) AS BIGINT) AS found_pairs,
           CAST(COUNT(*) FILTER (WHERE NOT same_bucket) AS BIGINT)
             AS missed_pairs,
           CAST((COUNT(*) FILTER (WHERE same_bucket) * 1000000) // COUNT(*)
                AS BIGINT) AS recall_ppm
    FROM exact GROUP BY band
    """,
)
def d42_embed_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of d7's sign-LSH bucket join vs exact all-pairs cosine,
    per 0.05-cosine band.

    Spark shape: the exact side is the deliberate quadratic audit
    (vec_a < vec_b nested-loop over the stored-norm MV — d4's
    documented class, run on samples at corpus scale); membership in
    d7's candidate set is decided INLINE (bucket equality on the two
    in-row sign buckets) so no join against the d7 output is needed
    at all — one pair stream, one band-grain map-side-combined agg.
    The cosine, bucket, and band expressions are the identical IEEE
    trees on both engines, so the integer band/count/ppm columns
    hash-match exactly."""
    emb = _audit_bound(
        _normed_embeddings(spark, sf_dir),
        "d42_embed_recall",
        "d7_embedding_dedup (sign-LSH bucket join)",
    )
    bucket = _sign_bucket_spark(_sign_bits(spark, sf_dir))
    b = emb.select("vec_id", "embedding", "norm", bucket.alias("bucket"))
    a_side = b.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
        F.col("bucket").alias("bka"),
    )
    b_side = b.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
        F.col("bucket").alias("bkb"),
    )
    cosine = _dot_spark("ea", "eb") / (F.col("na") * F.col("nb"))
    pairs = (
        a_side.join(b_side, F.col("vec_a") < F.col("vec_b"))
        .select(
            F.floor(cosine * 20).cast("long").alias("band"),
            (F.col("bka") == F.col("bkb")).alias("same_bucket"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= D42_TAU)
    )
    return (
        pairs.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("exact_pairs"),
            F.sum(F.col("same_bucket").cast("long"))
            .cast("long")
            .alias("found_pairs"),
            F.sum((~F.col("same_bucket")).cast("long"))
            .cast("long")
            .alias("missed_pairs"),
        )
        .select(
            "band",
            "exact_pairs",
            "found_pairs",
            "missed_pairs",
            F.expr("(found_pairs * 1000000) div exact_pairs").alias(
                "recall_ppm"
            ),
        )
    )


# ---------------------------------------------------------------- d43
# CCNet-style LM-probability quality filter (Wenzek et al. 2020): score
# every document by how predictable its text is under a language model
# trained ON the corpus itself, then split each language into
# head / middle / tail thirds — the bucketing CCNet feeds to the
# pretraining mix (head = most-predictable = cleanest prose). The LM
# here is the corpus's own bigram model, and the score is integer-exact
# by construction: per-bigram probability is (c2 * 1e6) div c1 (c2 =
# corpus occurrences of the bigram, c1 = occurrences of its prefix
# word as a bigram start), and the doc score is the integer mean of
# those ppm probabilities — no log, no float, so Spark and DuckDB
# hash-match bit-for-bit (java Math.log and libm log differ in ulps;
# sqrt is IEEE-exact but log is not, hence the scaled-linear form).

LM_PPM = 1_000_000  # probability scale (parts-per-million)


@mv_step(
    "d43_lm_score",
    keys=("d43_doc_lm_score",),
    deps=("layout_documents",),
)
def _d43_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document integer LM score: the stored score-at-ingest
    artifact (CCNet scores every doc once against its trained LM).
    Build cost (paid once per dataset): ONE gram-keyed corpus
    exchange for the bigram counts (map-side combined), a
    dictionary-sized prefix agg + join to form the probability
    table, the gram-keyed join-back, and the per-doc agg."""
    def _build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", F.split(F.col("text"), " ").alias("__w")
        )
        stream = (
            docs.where(F.size(F.col("__w")) >= 2)
            .select(
                "doc_id",
                "lang",
                F.explode(
                    F.expr(
                        "zip_with("
                        "  slice(__w, 1, size(__w) - 1),"
                        "  slice(__w, 2, size(__w) - 1),"
                        "  (a, b) -> struct(a AS w1, b AS w2))"
                    )
                ).alias("__g"),
            )
            .select(
                "doc_id",
                "lang",
                F.col("__g.w1").alias("w1"),
                F.col("__g.w2").alias("w2"),
            )
        )
        c2 = stream.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
        c1 = c2.groupBy("w1").agg(F.sum("c2").alias("c1"))
        prob = c2.join(c1, "w1").select(
            "w1", "w2", F.expr(f"(c2 * {LM_PPM}) div c1").alias("p_ppm")
        )
        return (
            stream.join(prob, ["w1", "w2"])
            .groupBy("doc_id", "lang")
            .agg(
                F.expr("sum(p_ppm) div count(*)").alias("score"),
                F.count("*").alias("n_bigrams"),
            )
        )

    return cached_relation("d43_doc_lm_score", sf_dir, _build)


# Shared oracle CTE chain: documents -> per-doc integer LM score
# (the SQL mirror of the `d43_doc_lm_score` MV build). Reused by d43's
# bucket split and d54's annealing-mix report so the two oracles can
# never drift apart.
_D43_SCORED_CTES = f"""w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(t)-1),
                                   i -> t[i])) AS w1,
             unnest(list_transform(generate_series(1, len(t)-1),
                                   i -> t[i+1])) AS w2
      FROM w WHERE len(t) >= 2
    ),
    c2 AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM g GROUP BY 1, 2
    ),
    c1 AS (
      SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1
    ),
    p AS (
      SELECT c2.w1, c2.w2, (c2.c2 * {LM_PPM}) // c1.c1 AS p_ppm
      FROM c2 JOIN c1 USING (w1)
    ),
    scored AS (
      SELECT g.doc_id, g.lang,
             SUM(p.p_ppm) // COUNT(*) AS score,
             COUNT(*) AS n_bigrams
      FROM g JOIN p USING (w1, w2)
      GROUP BY 1, 2
    )"""


@query(
    "d43_lm_quality_buckets",
    oracle=f"""
    WITH {_D43_SCORED_CTES},
    dom AS (
      SELECT lang, score, COUNT(*) AS c FROM scored GROUP BY 1, 2
    ),
    cdf AS (
      SELECT lang, score, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS n
      FROM dom
    ),
    cuts AS (
      SELECT lang,
             MIN(CASE WHEN cum >= (n + 2) // 3 THEN score END) AS t1,
             MIN(CASE WHEN cum >= (2*n + 2) // 3 THEN score END) AS t2
      FROM cdf GROUP BY lang
    ),
    bucketed AS (
      SELECT s.lang,
             CASE WHEN s.score <= c.t1 THEN 'tail'
                  WHEN s.score <= c.t2 THEN 'middle'
                  ELSE 'head' END AS bucket,
             s.score, s.n_bigrams
      FROM scored s JOIN cuts c USING (lang)
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(score) AS BIGINT) AS lo_score,
           CAST(MAX(score) AS BIGINT) AS hi_score,
           CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams
    FROM bucketed GROUP BY 1, 2
    UNION ALL
    SELECT lang, 'short',
           CAST(COUNT(*) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           CAST(0 AS BIGINT)
    FROM w WHERE len(t) < 2 GROUP BY lang
    """,
)
def d43_lm_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail LM-quality split per language.

    Spark shape — the t_ngram_docfreq inverted-index profile, then the
    d38 value-domain CDF, so nothing new is paid at scale:
      1. bigram stream (doc_id, lang, w1, w2): per-row codegen'd
         split/slice/zip, no shuffle;
      2. ONE gram-keyed exchange builds the bigram count table (c2),
         map-side combined; the prefix table (c1) derives from c2
         (dictionary-sized agg) and joins back to c2 dictionary-side,
         so the probability table carries (w1, w2, p_ppm);
      3. the join-back of the stream to the probability table reuses
         the SAME (w1, w2) partitioning — no second corpus shuffle;
      4. per-doc integer-mean agg on (doc_id, lang);
      5. tertile cuts via the value-domain CDF (groupBy (lang, score)
         keyed on the full value domain — a dominant language never
         funnels into one task — then a dictionary-sized lang window),
         broadcast back, final (lang, bucket) agg.
    Short docs (< 2 tokens, incl. empty text -> ['']) enter via a
    scan-only UNION branch, never a corpus-wide left join.

    The per-doc score relation is a stored MV (`d43_doc_lm_score`):
    CCNet trains its KenLM once and scores each document once at
    ingest — re-deriving the bigram stream for both the count pass
    and the join-back inside every consuming query would double the
    corpus subtree, so the train+score pipeline is paid once per
    dataset at the relcache seam and the query reads the scored
    table."""
    scored = _d43_doc_scores(spark, sf_dir)
    dom = scored.groupBy("lang", "score").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang")
    cdf = dom.select(
        "lang",
        "score",
        F.sum("c").over(wl.orderBy("score")).alias("cum"),
        F.sum("c").over(wl).alias("n"),
    )
    cuts = cdf.groupBy("lang").agg(
        F.min(F.when(F.expr("cum >= (n + 2) div 3"), F.col("score"))).alias("t1"),
        F.min(F.when(F.expr("cum >= (2*n + 2) div 3"), F.col("score"))).alias("t2"),
    )
    bucketed = scored.join(F.broadcast(cuts), "lang").select(
        "lang",
        F.when(F.col("score") <= F.col("t1"), "tail")
        .when(F.col("score") <= F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
        "score",
        "n_bigrams",
    )
    main = bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("score").cast("long").alias("lo_score"),
        F.max("score").cast("long").alias("hi_score"),
        F.sum("n_bigrams").cast("long").alias("total_bigrams"),
    )
    short = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.split(F.col("text"), " ").alias("__w"))
        .where(F.size(F.col("__w")) < 2)
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .select(
            "lang",
            F.lit("short").alias("bucket"),
            "n_docs",
            F.lit(None).cast("long").alias("lo_score"),
            F.lit(None).cast("long").alias("hi_score"),
            F.lit(0).cast("long").alias("total_bigrams"),
        )
    )
    return main.unionByName(short)


# ---------------------------------------------------------------- ppm
# Guarded ppm arithmetic (self-review r9): the engine's integer-ppm
# convention `x * 1_000_000 div y` wraps SILENTLY to garbage on a
# legacy (ANSI-off) Spark session once x > (2^63-1)/1e6 ≈ 9.2e12,
# while DuckDB and ANSI Spark error loudly. Per-document and
# dictionary-grain ppm expressions can never get near that line, but
# the mixture/packing family multiplies CORPUS-TOTAL token counts —
# inside the 100 TB envelope (~25T tokens) the silent-wrap channel is
# real. These expressions therefore guard the multiplicand in-plan:
# above the bound they raise_error() instead of wrapping, which is the
# same loud degradation the oracle engine exhibits (the ADVICE-r8
# degrade-identically rule). The REPRESENTATION fix at that scale is a
# coarser unit (ppb of a per-shard subtotal, or DECIMAL(38)); the
# guard makes the boundary impossible to cross unnoticed.
PPM_SAFE_MAX = (2**63 - 1) // 1_000_000


def _guarded_ppm_sql(num: str, den: str) -> str:
    """Spark SQL fragment: (num * 1e6) div den, raising loudly when
    num would overflow the bigint multiply."""
    return (
        f"CASE WHEN ({num}) <= {PPM_SAFE_MAX} "
        f"THEN (({num}) * 1000000) div ({den}) "
        f"ELSE CAST(raise_error('ppm overflow: multiplicand exceeds "
        f"{PPM_SAFE_MAX}; re-unit this report (ppb / per-shard "
        f"subtotals) before running at this corpus size') AS BIGINT) END"
    )


# ---------------------------------------------------------------- d54
# Annealing-phase mixture report: late-training "annealing" upsamples
# the highest-quality slice of the corpus (the OLMo/MiniCPM recipe:
# finish training on the head of the quality distribution). d54 is
# the mixture table that phase consumes — for every language, the
# document/token mass of the full corpus ('base') vs the per-language
# LM-quality head tertile ('anneal', d43's head bucket), with each
# row's integer-ppm share of its phase's token total. The report shows
# exactly how annealing reshapes the language mixture: a language with
# disproportionately clean prose gains share in the anneal phase.


@query(
    "d54_anneal_mix",
    oracle=f"""
    WITH {_D43_SCORED_CTES},
    dom AS (SELECT lang, score, COUNT(*) AS c FROM scored GROUP BY 1, 2),
    cdf AS (
      SELECT lang, score, c,
             SUM(c) OVER (PARTITION BY lang ORDER BY score) AS cum,
             SUM(c) OVER (PARTITION BY lang) AS n
      FROM dom
    ),
    cuts AS (
      SELECT lang,
             MIN(CASE WHEN cum >= (2*n + 2) // 3 THEN score END) AS t2
      FROM cdf GROUP BY lang
    ),
    phased AS (
      SELECT s.lang, s.n_bigrams + 1 AS toks, (s.score > c.t2) AS anneal
      FROM scored s JOIN cuts c USING (lang)
    ),
    phase_rows AS (
      SELECT lang, 'base' AS phase,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS n_tokens
      FROM phased GROUP BY lang
      UNION ALL
      SELECT lang, 'anneal',
             CAST(COUNT(*) AS BIGINT), CAST(SUM(toks) AS BIGINT)
      FROM phased WHERE anneal GROUP BY lang
    ),
    tot AS (SELECT phase, SUM(n_tokens) AS pt FROM phase_rows GROUP BY phase)
    SELECT r.lang, r.phase, r.n_docs, r.n_tokens,
           CAST((r.n_tokens * 1000000) // t.pt AS BIGINT) AS tok_share_ppm
    FROM phase_rows r JOIN tot t USING (phase)
    """,
)
def d54_anneal_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language base vs annealing-phase mixture (docs, tokens, and
    integer-ppm token share within each phase).

    Spark shape: reads the stored `d43_doc_lm_score` MV (score-at-
    ingest; no corpus text is touched), derives the per-language head
    cut with d43's value-domain CDF (a (lang, score) agg keyed on the
    full value domain + a dictionary-sized lang window — skew-immune),
    broadcasts the cuts back, and reduces to ~2 x |langs| rows in one
    map-side-combined agg. Phase token totals are a 2-row aggregate
    broadcast onto the result. Token counts are n_bigrams + 1 (exact
    for every scored doc; sub-2-token docs carry no LM score and are
    excluded from both phases, the d43 'short' branch contract)."""
    scored = _d43_doc_scores(spark, sf_dir)
    dom = scored.groupBy("lang", "score").agg(F.count("*").alias("c"))
    wl = Window.partitionBy("lang")
    cdf = dom.select(
        "lang",
        "score",
        F.sum("c").over(wl.orderBy("score")).alias("cum"),
        F.sum("c").over(wl).alias("n"),
    )
    cuts = cdf.groupBy("lang").agg(
        F.min(F.when(F.expr("cum >= (2*n + 2) div 3"), F.col("score"))).alias("t2"),
    )
    phased = scored.join(F.broadcast(cuts), "lang").select(
        "lang",
        (F.col("n_bigrams") + 1).alias("toks"),
        (F.col("score") > F.col("t2")).alias("anneal"),
    )
    # both phases from ONE agg over one scan (a union of filtered
    # branches would re-read the MV and re-derive the cuts per branch —
    # measured at exch=11 before this shape, 5 after), then a 2-row
    # unpivot per language.
    per_lang = phased.groupBy("lang").agg(
        F.count("*").cast("long").alias("base_docs"),
        F.sum("toks").cast("long").alias("base_toks"),
        F.sum(F.when(F.col("anneal"), 1).otherwise(0))
        .cast("long")
        .alias("ann_docs"),
        F.sum(F.when(F.col("anneal"), F.col("toks")).otherwise(0))
        .cast("long")
        .alias("ann_toks"),
    )
    phase_rows = per_lang.select(
        "lang",
        F.explode(
            F.array(
                F.struct(
                    F.lit("base").alias("phase"),
                    F.col("base_docs").alias("n_docs"),
                    F.col("base_toks").alias("n_tokens"),
                ),
                F.struct(
                    F.lit("anneal").alias("phase"),
                    F.col("ann_docs").alias("n_docs"),
                    F.col("ann_toks").alias("n_tokens"),
                ),
            )
        ).alias("p"),
    ).select("lang", "p.phase", "p.n_docs", "p.n_tokens").where(
        F.col("n_docs") > 0  # oracle's WHERE anneal emits no empty rows
    )
    # phase totals via a window over the ~2 x |langs|-row result (the
    # sanctioned tiny frame) — a groupBy+join-back would recompute the
    # whole per-lang subtree as the broadcast build side.
    pt = F.sum("n_tokens").over(Window.partitionBy("phase"))
    return (
        phase_rows.withColumn("__pt", pt)
        .select(
            "lang",
            "phase",
            "n_docs",
            "n_tokens",
            F.expr(_guarded_ppm_sql("n_tokens", "__pt"))
            .cast("long")
            .alias("tok_share_ppm"),
        )
    )


# ---------------------------------------------------------------- d44
# SemDeDup (Abbas et al. 2023): semantic deduplication by pruning
# within clusters of an embedding-space partition — exact duplicates
# are caught by d1, near-verbatim by d2/d7; SemDeDup's contribution is
# dropping SEMANTIC redundancy (paraphrases, boilerplate variants)
# that shares no surface form. The partition here is the stored IVF
# cell assignment (the same k-means-style codebook d8/d14/d24 search
# against); within each cell, a vector is pruned when some LOWER-id
# vector in the cell sits at cosine >= SEM_TAU (first-seen-wins, the
# d1 convention — deterministic, no iterative re-centering). Pairwise
# work is CELL-LOCAL by construction: the same bounded-candidate
# contract as d8's search join, never corpus-quadratic.

SEM_TAU = 0.40  # same semantic-duplicate threshold as d7


@query(
    "d44_semantic_prune",
    oracle=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 100 = 0
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM centroids c
              ORDER BY {_DOT_SQL.format(a='e.embedding', b='c.ce')}
                       / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
                          * sqrt({_DOT_SQL.format(a='c.ce', b='c.ce')})) DESC, c.cid
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    pruned AS (
      SELECT DISTINCT a.cell, a.vec_id
      FROM assigned a JOIN assigned b
        ON b.cell = a.cell AND b.vec_id < a.vec_id
      WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
              / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
                 * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}))
            >= {SEM_TAU}
    ),
    per_cell AS (
      SELECT cell, COUNT(*) AS n_pruned FROM pruned GROUP BY cell
    )
    SELECT a.cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_pruned,
           CAST(COUNT(*) - COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_kept,
           CAST(((COUNT(*) - COALESCE(MAX(p.n_pruned), 0)) * 1000000)
                // COUNT(*) AS BIGINT) AS kept_ppm
    FROM assigned a LEFT JOIN per_cell p ON p.cell = a.cell
    GROUP BY a.cell
    """,
)
def d44_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup per-cell pruning report: how much of each IVF cell is
    semantically redundant at cosine >= SEM_TAU.

    Spark shape: the stored assignment MV (shared with d8/d14/d24)
    supplies (vec_id, embedding, cell, norm); the self-join keys on
    cell, so candidate pairs are cell-local — never corpus-quadratic.
    100 TB caveat (VERDICT r13): under the d49 sqrt law the codebook
    grows ~sqrt(n), so members/cell ALSO grows ~sqrt(n) and the total
    cell-local pair count grows ~n^1.5 — the measured 3.21x wall at
    100x is that super-linear term surfacing (BENCH_NOTES addendum
    13). This exact form stays the oracle-checked default at harness
    scale; the production-scale path is `d44b_semantic_prune_capped`
    below, whose banded pair cap makes compute linear per member. The
    dominated-flag dedup and both per-cell aggs reuse the join's cell
    partitioning (subset-key clustering, no further corpus exchange);
    the cell-grain prune-count table is broadcast back onto the
    cell-grain census. Cosines fold the STORED norms (d3's one-dot
    trick) with the identical IEEE tree the oracle writes inline, so
    the integer report hash-matches without rounding."""
    assigned = _ivf_assigned(spark, sf_dir)
    a = assigned.select(
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("norm").alias("na"),
        "cell",
    )
    b = assigned.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
        "cell",
    )
    cos = _dot_spark("ea", "eb") / (F.col("na") * F.col("nb"))
    pruned = (
        a.join(b, "cell")
        .where((F.col("vb") < F.col("va")) & (cos >= SEM_TAU))
        .select("cell", "va")
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_pruned"))
    )
    census = assigned.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    return (
        census.join(F.broadcast(pruned), "cell", "left")
        .select(
            "cell",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.coalesce(F.col("n_pruned"), F.lit(0)).cast("long").alias("n_pruned"),
            (F.col("n_vecs") - F.coalesce(F.col("n_pruned"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.expr(
                "((n_vecs - coalesce(n_pruned, 0)) * 1000000) div n_vecs"
            )
            .cast("long")
            .alias("kept_ppm"),
        )
    )


# --------------------------------------------------------------- d44b
# The scale-safe SemDeDup leg (VERDICT r13 #3, the j12b disclosure
# pattern): d44's cell-local self-join tests every pair inside a cell,
# and under the d49 sqrt law (members/cell ~ sqrt(n)) that pair count
# grows ~n^1.5 — a scale-killer in the shipped default at exactly the
# corpus sizes this engine targets. d44b caps the candidate set: each
# vector is tested ONLY against the D44B_CAP members immediately
# before it in cell-local vec_id rank, so compute is <= CAP pairs per
# member — linear in n at ANY cell size — and the join is blocked on
# (cell, rank-band) so the bound holds for the WORK, not just the
# output (an equi-join on cell alone would still enumerate every
# cell-local pair before filtering the band).
#
# Semantics disclosure: the capped prune count is a LOWER bound on
# d44's (a vector dominated only by a far-away-rank neighbor is
# missed); the card carries pairs_full vs pairs_scanned per cell so
# the coverage a given CAP buys is visible in the output, and d44's
# exact form remains the oracle-checked default at audit scale.
# Measured at sf0.1 (BENCH_NOTES r14 addendum 10): CAP 16/32/64/128
# catches 34%/56%/91%/100% of the exact prune set while work stays
# CAP*n — the CAP is the coverage lever, and changing it is a
# re-sampled plan change by contract.
D44B_CAP = 16


def _d44b_oracle() -> str:
    return f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 100 = 0
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM centroids c
              ORDER BY {_DOT_SQL.format(a='e.embedding', b='c.ce')}
                       / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
                          * sqrt({_DOT_SQL.format(a='c.ce', b='c.ce')})) DESC, c.cid
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    ranked AS (
      SELECT vec_id, embedding, cell,
             CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id)
                  AS BIGINT) AS rn
      FROM assigned
    ),
    pruned AS (
      SELECT DISTINCT a.cell, a.vec_id
      FROM ranked a JOIN ranked b
        ON b.cell = a.cell AND b.rn < a.rn AND b.rn >= a.rn - {D44B_CAP}
      WHERE {_DOT_SQL.format(a='a.embedding', b='b.embedding')}
              / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})
                 * sqrt({_DOT_SQL.format(a='b.embedding', b='b.embedding')}))
            >= {SEM_TAU}
    ),
    per_cell AS (
      SELECT cell, COUNT(*) AS n_pruned FROM pruned GROUP BY cell
    )
    SELECT a.cell,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_pruned_cap,
           CAST(COUNT(*) - COALESCE(MAX(p.n_pruned), 0) AS BIGINT) AS n_kept_cap,
           CAST(((COUNT(*) - COALESCE(MAX(p.n_pruned), 0)) * 1000000)
                // COUNT(*) AS BIGINT) AS kept_ppm_cap,
           CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS pairs_full,
           CAST(CASE WHEN COUNT(*) <= {D44B_CAP}
                     THEN COUNT(*) * (COUNT(*) - 1) // 2
                     ELSE {D44B_CAP * (D44B_CAP - 1) // 2}
                          + (COUNT(*) - {D44B_CAP}) * {D44B_CAP}
                END AS BIGINT) AS pairs_scanned
    FROM assigned a LEFT JOIN per_cell p ON p.cell = a.cell
    GROUP BY a.cell
    """


@query("d44b_semantic_prune_capped", oracle=_d44b_oracle())
def d44b_semantic_prune_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup prune card under a per-member pair cap: each vector is
    tested against at most {D44B_CAP} cell-local predecessors (vec_id
    rank order), so the pairwise compute is linear in the corpus at
    any cell size — the 100 TB form of d44 (whose exact-but-~n^1.5
    default stays the audit path). pairs_full vs pairs_scanned make
    the coverage trade visible per cell.

    Spark shape: ONE cell-keyed window ranks members; the probe side
    explodes each vector into its two rank-band blocks and the join is
    equi on (cell, block) — the enumerated candidate set is <= 2 x
    CAP^2 per block pair, so the bound caps the JOIN WORK itself, not
    just the filtered output (the d2 banding discipline applied to
    SemDeDup). Dominated-flag distinct + both aggs as in d44; cosines
    fold the stored norms with the identical IEEE tree."""
    assigned = _ivf_assigned(spark, sf_dir)
    w = Window.partitionBy("cell").orderBy("vec_id")
    ranked = assigned.withColumn("rn", F.row_number().over(w).cast("long"))
    blk = ((F.col("rn") - 1) / D44B_CAP).cast("long")
    b_side = ranked.select(
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"),
        F.col("rn").alias("rb"),
        "cell",
        blk.alias("blk"),
    )
    a_side = (
        ranked.select(
            F.col("vec_id").alias("va"),
            F.col("embedding").alias("ea"),
            F.col("norm").alias("na"),
            F.col("rn").alias("ra"),
            "cell",
            blk.alias("__b0"),
        )
        .withColumn("blk", F.explode(F.array(F.col("__b0"), F.col("__b0") - 1)))
        .where(F.col("blk") >= 0)
        .drop("__b0")
    )
    cos = _dot_spark("ea", "eb") / (F.col("na") * F.col("nb"))
    pruned = (
        a_side.join(b_side, ["cell", "blk"])
        .where(
            (F.col("rb") < F.col("ra"))
            & (F.col("rb") >= F.col("ra") - D44B_CAP)
            & (cos >= SEM_TAU)
        )
        .select("cell", "va")
        .distinct()
        .groupBy("cell")
        .agg(F.count("*").alias("n_pruned"))
    )
    census = assigned.groupBy("cell").agg(F.count("*").alias("n_vecs"))
    n = F.col("n_vecs")
    return census.join(F.broadcast(pruned), "cell", "left").select(
        "cell",
        n.cast("long").alias("n_vecs"),
        F.coalesce(F.col("n_pruned"), F.lit(0)).cast("long").alias("n_pruned_cap"),
        (n - F.coalesce(F.col("n_pruned"), F.lit(0)))
        .cast("long")
        .alias("n_kept_cap"),
        F.expr("((n_vecs - coalesce(n_pruned, 0)) * 1000000) div n_vecs")
        .cast("long")
        .alias("kept_ppm_cap"),
        F.expr("n_vecs * (n_vecs - 1) div 2").cast("long").alias("pairs_full"),
        F.when(
            n <= D44B_CAP, F.expr("n_vecs * (n_vecs - 1) div 2")
        )
        .otherwise(D44B_CAP * (D44B_CAP - 1) // 2 + (n - D44B_CAP) * D44B_CAP)
        .cast("long")
        .alias("pairs_scanned"),
    )


# ---------------------------------------------------------------- d45
# Duplication-weighted sampling: instead of HARD-dropping every
# non-canonical near-dup (d10's gate), keep each member of a
# duplication cluster with probability 1/cluster_size — the softer
# policy (cf. the "keep one copy in expectation" discussion in Lee et
# al. 2022) that preserves the corpus distribution while neutralizing
# duplication bias. The coin is the d11 md5 hash at ppm granularity,
# so the sample is deterministic, engine-reproducible, and stable as
# the corpus grows; the keep threshold is LM_PPM div cluster_size
# (integer), so singletons (threshold 1e6) always survive.

_HASH_PPM_SQL = """
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1, 9),
        i -> CAST(instr('0123456789abcdef',
                        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT))),
    (acc, v) -> acc * 16 + v) % 1000000
"""


def _hash_ppm_spark(doc_id: F.Column) -> F.Column:
    return (
        F.conv(F.substring(F.md5(doc_id.cast("string")), 1, 8), 16, 10).cast("long")
        % 1_000_000
    )


def _d45_oracle() -> str:
    return f"""
    WITH RECURSIVE {_D9_CTES},
    sz AS (SELECT doc_id, cluster_size FROM sized),
    coin AS (
      SELECT d.lang, COALESCE(s.cluster_size, 1) AS csize,
             ({_HASH_PPM_SQL}) AS h
      FROM documents d LEFT JOIN sz s USING (doc_id)
    )
    SELECT lang, CAST(csize AS BIGINT) AS csize,
           CAST({LM_PPM} // csize AS BIGINT) AS keep_ppm_target,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE h < {LM_PPM} // csize) AS BIGINT)
             AS n_kept
    FROM coin GROUP BY lang, csize
    """


@query("d45_dup_weighted_sample", oracle=_d45_oracle())
def d45_dup_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-1/cluster_size duplication-weighted sampling audit, at
    (lang, cluster_size) grain: target keep rate vs the deterministic
    md5-coin outcome.

    Spark shape: the d9 cluster table is the stored MV (its CC
    iteration is build cost, shared with d10/d41); only its
    (doc_id, cluster_size) projection — |near-dup members| << |corpus|
    — broadcasts onto the corpus scan (d10's drop-list layout, never a
    corpus-wide shuffle join). The coin and threshold are per-row
    codegen'd integer exprs, and the audit rollup is ONE map-side-
    combined hash-agg on (lang, csize). At 100 TB: scan-rate work plus
    a dictionary-sized exchange."""
    clusters = d9_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_size")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    csize = F.coalesce(F.col("cluster_size"), F.lit(1)).alias("csize")
    target = F.expr(f"{LM_PPM} div csize")
    return (
        docs.join(F.broadcast(clusters), "doc_id", "left")
        .select("lang", csize, _hash_ppm_spark(F.col("doc_id")).alias("h"))
        .groupBy("lang", "csize")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum((F.col("h") < target).cast("long")).cast("long").alias("n_kept"),
        )
        .select(
            "lang",
            F.col("csize").cast("long").alias("csize"),
            target.cast("long").alias("keep_ppm_target"),
            "n_docs",
            "n_kept",
        )
    )


# ---------------------------------------------------------------- d46
# Sentence-level exact dedup — C4's other dedup axis (Raffel et al.
# 2020 discard repeated three-sentence spans; CCNet hashes normalized
# paragraphs): beyond document-grain (d1/d9) and token-window-grain
# (d30), web corpora repeat whole SENTENCES across documents
# (boilerplate, quotes, syndication). Policy: first-instance-wins —
# an instance survives iff it is the lexicographically-first
# (doc_id, position) occurrence of its normalized sentence corpus-wide
# (the same deterministic convention as d1's first-seen canonical).

D46_POS_SCALE = 1_000_000  # composite key doc_id*SCALE + pos; safe
#                            while docs hold < 1e6 sentences


@query(
    "d46_sentence_dedup",
    oracle=f"""
    WITH s0 AS (
      SELECT doc_id,
             list_filter(
               list_transform(regexp_split_to_array(text, '[.!?]+'),
                              x -> trim(lower(x))),
               x -> len(x) > 0) AS ss
      FROM documents
    ),
    inst AS (
      SELECT doc_id,
             unnest(ss) AS sent,
             unnest(generate_series(1, len(ss))) AS pos
      FROM s0 WHERE len(ss) > 0
    ),
    firsts AS (
      SELECT sent,
             MIN(doc_id * {D46_POS_SCALE} + pos) AS first_k
      FROM inst GROUP BY sent
    ),
    flagged AS (
      SELECT i.doc_id,
             CASE WHEN i.doc_id * {D46_POS_SCALE} + i.pos <> f.first_k
                  THEN 1 ELSE 0 END AS is_dup
      FROM inst i JOIN firsts f USING (sent)
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_sentences,
             CAST(SUM(is_dup) AS BIGINT) AS n_dup_instances,
             CAST((SUM(is_dup) * 1000000) // COUNT(*) AS BIGINT)
               AS dup_share_ppm
      FROM flagged GROUP BY doc_id
    )
    SELECT * FROM per_doc
    UNION ALL
    SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    FROM s0 WHERE len(ss) = 0
    """,
)
def d46_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document sentence-duplication profile under the corpus-wide
    first-instance-wins policy.

    Spark shape — the t_ngram_docfreq inverted-index profile at
    sentence grain: per-row codegen'd split/trim/lower/posexplode (no
    shuffle), ONE sentence-keyed exchange computes each sentence's
    first-instance composite key (min over doc_id*SCALE+pos, map-side
    combined), the join-back reuses the SAME sentence partitioning,
    then one doc_id agg. Sentence-less docs (empty/unpunctuated-empty
    text) enter via a scan-only UNION branch. At 100 TB the shuffled
    relation carries (sentence, first_k) pairs — the distinct-sentence
    dictionary, not the corpus."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "filter(transform(split(text, '[.!?]+'),"
            " x -> trim(lower(x))), x -> length(x) > 0)"
        ).alias("ss"),
    )
    inst = (
        docs.where(F.size("ss") > 0)
        .select("doc_id", F.posexplode("ss").alias("pos0", "sent"))
        # posexplode is 0-based; the oracle's generate_series is 1-based
        .select(
            "doc_id",
            "sent",
            (F.col("doc_id") * D46_POS_SCALE + F.col("pos0") + 1).alias("k"),
        )
    )
    firsts = inst.groupBy("sent").agg(F.min("k").alias("first_k"))
    per_doc = (
        inst.join(firsts, "sent")
        .select(
            "doc_id", (F.col("k") != F.col("first_k")).cast("long").alias("is_dup")
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_sentences"),
            F.sum("is_dup").cast("long").alias("n_dup_instances"),
            F.expr("(sum(is_dup) * 1000000) div count(*)")
            .cast("long")
            .alias("dup_share_ppm"),
        )
    )
    empty = (
        docs.where(F.size("ss") == 0)
        .select(
            "doc_id",
            F.lit(0).cast("long").alias("n_sentences"),
            F.lit(0).cast("long").alias("n_dup_instances"),
            F.lit(0).cast("long").alias("dup_share_ppm"),
        )
    )
    return per_doc.unionByName(empty)


# ---------------------------------------------------------------- d47
# Embedding-space benchmark decontamination — the semantic twin of
# d15's n-gram gate (reference analog: the dedup-by-canonical-hash
# family, sql/schema.sql:163-173, generalized to eval-set leakage):
# n-gram decontamination misses paraphrases; modern curation pipelines
# additionally drop training items whose EMBEDDING sits too close to
# any benchmark item. Contract: cell-local probe (nprobe=1 on the
# stored IVF assignment, the d8/d14 index) — each eval vector audits
# only its own cell, the deliberate recall/cost dial every deployed
# semantic-decontam pass makes (the exact audit of what that dial
# misses is d25's recall-report pattern).

D47_EVAL_MOD = 40     # eval/benchmark set = every 40th vector
D47_COS_MIN = 0.35    # leak threshold, calibrated to this synthetic
#                       corpus (random cosines top out ~0.51; real
#                       text embeddings would use ~0.9+)


@query(
    "d47_semantic_decontam",
    oracle=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 100 = 0
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM centroids c
              ORDER BY {_DOT_SQL.format(a='e.embedding', b='c.ce')}
                       / (sqrt({_DOT_SQL.format(a='e.embedding', b='e.embedding')})
                          * sqrt({_DOT_SQL.format(a='c.ce', b='c.ce')})) DESC, c.cid
              LIMIT 1) AS cell
      FROM embeddings e
    ),
    ev AS (SELECT * FROM assigned WHERE vec_id % {D47_EVAL_MOD} = 0),
    tr AS (SELECT * FROM assigned WHERE vec_id % {D47_EVAL_MOD} <> 0),
    scored AS (
      SELECT tr.vec_id AS train_id, ev.vec_id AS eval_id, tr.cell,
             {_DOT_SQL.format(a='tr.embedding', b='ev.embedding')}
               / (sqrt({_DOT_SQL.format(a='tr.embedding', b='tr.embedding')})
                  * sqrt({_DOT_SQL.format(a='ev.embedding', b='ev.embedding')})) AS cosine
      FROM tr JOIN ev ON ev.cell = tr.cell
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id
                                   ORDER BY cosine DESC, eval_id) AS rn
      FROM scored WHERE cosine >= {D47_COS_MIN}
    )
    SELECT train_id, eval_id AS matched_eval, cosine AS max_cosine, cell
    FROM ranked WHERE rn = 1
    """,
)
def d47_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training vectors flagged as semantic benchmark leaks: cosine >=
    D47_COS_MIN to any eval vector in their own IVF cell, reported
    with the closest eval item (tie-break min eval_id).

    Spark shape — d15's broadcast-probe layout in embedding space:
    both sides read the stored d8 assignment MV (cell + norm
    precomputed, built once per dataset), the eval side is
    benchmark-sized and broadcasts, the equi-join key is the cell id,
    and the argmax is a map-side-combinable max_by aggregate (the
    _ivf_assigned trick: never a corpus-wide window sort). At 100 TB
    the corpus never self-joins — each training row meets only the
    broadcast eval rows of its cell."""
    assigned = _ivf_assigned(spark, sf_dir)
    ev = F.broadcast(
        assigned.where(F.col("vec_id") % D47_EVAL_MOD == 0).select(
            F.col("vec_id").alias("eval_id"),
            F.col("embedding").alias("ee"),
            F.col("cell").alias("ecell"),
            F.col("norm").alias("enorm"),
        )
    )
    tr = assigned.where(F.col("vec_id") % D47_EVAL_MOD != 0).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("te"),
        "cell",
        F.col("norm").alias("tnorm"),
    )
    scored = tr.join(ev, F.col("ecell") == F.col("cell")).select(
        "train_id",
        "eval_id",
        "cell",
        (
            _dot_spark("te", "ee")
            / (F.col("tnorm") * F.col("enorm"))
        ).alias("cosine"),
    )
    pick = F.struct(F.col("cosine").alias("c"), (-F.col("eval_id")).alias("nid"))
    return (
        scored.where(F.col("cosine") >= D47_COS_MIN)
        .groupBy("train_id")
        .agg(
            F.max_by(F.col("eval_id"), pick).alias("matched_eval"),
            F.max_by(F.col("cosine"), pick).alias("max_cosine"),
            F.any_value("cell").alias("cell"),
        )
    )


# ---------------------------------------------------------------- d48
# Dedup retention curve — the tuning report every near-dup deployment
# runs before committing to a threshold: for each candidate Jaccard
# cutoff, how many candidate pairs fire and how many documents are
# touched. Built ON the d2 pair relation (LSH-banded candidates with
# exact Jaccard), so the curve audits exactly what the production
# dedup would do at each setting — no separate all-pairs pass.

D48_THRESHOLDS_PPM = [500000, 600000, 700000, 800000, 900000]


@query(
    "d48_retention_curve",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {_MINHASH_SQL} AS mh
      FROM toks WHERE len(sh) > 0
    ),
    bands AS (
      SELECT doc_id,
             b AS band,
             md5(CAST(b AS VARCHAR) || ':' || mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
      FROM sigs, UNNEST(range(0, {N_BANDS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_key = b2.band_key AND b1.band = b2.band
       AND b1.doc_id < b2.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
      FROM cand c
      JOIN toks a ON a.doc_id = c.doc_a
      JOIN toks b ON b.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    ),
    hits AS (
      SELECT t.t_ppm, p.doc_a, p.doc_b
      FROM pairs p
      JOIN (SELECT unnest({D48_THRESHOLDS_PPM}) AS t_ppm) t
        ON p.jaccard >= CAST(t.t_ppm AS DOUBLE) / 1000000.0
    ),
    docs AS (
      SELECT t_ppm, unnest([doc_a, doc_b]) AS doc FROM hits
    )
    SELECT CAST(t_ppm AS BIGINT) AS threshold_ppm,
           CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
    FROM docs GROUP BY t_ppm
    """,
)
def d48_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts and touched-document counts per candidate
    Jaccard threshold (the dedup tuning curve).

    Spark shape — ONE pass over d2's pair relation, no threshold
    fan-out (the first cut exploded pairs x thresholds x docs ahead of
    a countDistinct and measured 79x on the adversarial-duplication
    100x replica; a second cut fixed the fan-out but read the pair
    relation twice, one branch per output column — this shape computes
    it once). The thresholds are ascending, so each pair reduces to
    ONE scalar: nb = how many thresholds its Jaccard clears. Each pair
    fans to its 2 docs; a doc-keyed agg (map-side combined to
    distinct-doc size — the only corpus-scale exchange) computes per
    doc cnt_ge_i = instances clearing threshold i. Then one tiny
    global agg: n_pairs(t_i) = sum(cnt_ge_i) div 2 (each pair counted
    at both ends, integer-exact) and n_docs(t_i) = count(cnt_ge_i >
    0), unpivoted to 5 rows by a literal explode. At 100 TB the added
    cost over d2 is one combinable agg over the pair relation (itself
    780x sub-linear in corpus size, BENCH_NOTES r7 d2 row)."""
    pairs = d2_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    thr = F.array(*[F.lit(v) for v in D48_THRESHOLDS_PPM])
    # nb in 1..5: base threshold == JACCARD_THRESHOLD, every pair clears it
    nb = F.size(
        F.filter(thr, lambda t: F.col("jaccard") >= t.cast("double") / 1000000.0)
    )
    idx = range(1, len(D48_THRESHOLDS_PPM) + 1)
    per_doc = (
        pairs.select(
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias("doc"),
            nb.alias("nb"),
        )
        .groupBy("doc")
        .agg(
            *[
                F.sum((F.col("nb") >= i).cast("long")).alias(f"ge{i}")
                for i in idx
            ]
        )
    )
    totals = per_doc.agg(
        *[F.sum(f"ge{i}").alias(f"s{i}") for i in idx],
        *[
            F.sum((F.col(f"ge{i}") > 0).cast("long")).alias(f"d{i}")
            for i in idx
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(D48_THRESHOLDS_PPM[i - 1]).cast("long").alias("threshold_ppm"),
                F.expr(f"s{i} div 2").cast("long").alias("n_pairs"),
                F.col(f"d{i}").cast("long").alias("n_docs"),
            )
            for i in idx
        ]
    )
    return (
        totals.select(F.explode(rows).alias("r"))
        .select("r.threshold_ppm", "r.n_pairs", "r.n_docs")
        # absent-on-both-sides convention: the oracle emits no row for
        # a threshold no pair clears
        .where(F.col("n_pairs") > 0)
    )


# ---------------------------------------------------------------- d49
# Distributed k-means codebook training — the codebook the IVF/PQ
# search family reads. d49 is the training step as a deterministic
# distributed Lloyd iteration: seed with the fixed-count md5-rank
# seed, assign every vector to its max-cosine centroid, recompute
# centroids from the members, reassign. Two
# determinism tricks make an inherently-float algorithm hash-exact
# across engines: (1) coordinates are floor(x*1e9) INTEGERS, so the
# per-dimension member sums are exact bigint math in any partition
# order; (2) centroids are kept as the raw SUM vectors — cosine is
# scale-invariant, so dividing by the member count (whose floor/
# truncation semantics differ between engines) is never needed.
# (D49_PPB / D49_SEED_K / _D49_VECS_SQL / _D49_GEN1_CTES live in the
# shared vector-fragments block near the top of the module.)


def ppb_vector(embedding: F.Column) -> F.Column:
    """THE fixed-point quantization of the trained-index family:
    floor(x * D49_PPB) per coordinate. One definition — the d49
    training chain and the streaming assignment gate
    (streaming/ivfgate.py) both call this, so the quantization recipe
    can never fork between index build and index maintenance."""
    return F.transform(
        embedding,
        lambda x: F.floor(x.cast("double") * F.lit(float(D49_PPB))),
    )


def _d49_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings projected to exact ppb integers — the fixed-point
    space the whole d49 family trains and assigns in."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", ppb_vector(F.col("embedding")).alias("v"))


def _d49_assign(spark: SparkSession, vecs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Argmax-cosine cell assignment, as the `_assign_arrow` kernel
    (r14): one output row per vector straight off the scan — the n*k
    score relation is never materialized and the old vec_id-keyed
    re-fold exchange is gone entirely (the kernel's argmax is
    task-local). Bit-identical to the broadcast-join + max_by form
    (tests/test_r14_opt.py)."""
    return _assign_arrow(
        spark,
        vecs,
        codebook,
        cid_col="cid",
        cvec_col="c",
        vec_col="v",
        passthrough=("vec_id", "v"),
    )


@mv_step(
    "d49_codebook",
    keys=("d49_codebook_v3",),
    deps=("layout_embeddings",),
)
def _d49_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TRAINED codebook (cid, c: array<bigint>) — one Lloyd update
    from the fixed-count seed — through the MV seam (VERDICT r8 #4/#6).
    Training is a once-per-dataset build (refresh_all pre-pays it);
    every consumer (d49's reassignment report, d25b's trained-recall
    audit) compiles to a k-row parquet scan. Centroids are kept as the
    RAW integer SUM vectors: cosine is scale-invariant, so the
    engine-divergent division by member count never happens.

    Build shape: one seed TakeOrdered pass, one assignment exchange,
    one (cell, dim)-keyed partial-sum exchange (map-side combined —
    the Spark MLlib dense-update layout); at 100 TB further rounds
    iterate exactly like this with a lineage checkpoint per round (the
    d9 connected-components discipline)."""
    def _build() -> DataFrame:
        # inputs constructed INSIDE the closure (r15): a store-warm
        # call must cost a cache lookup, not a plan construction
        vecs = _d49_vecs(spark, sf_dir).select("vec_id", "v")
        gen0 = (
            vecs.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
            .limit(_ivf_cells(spark, sf_dir))
            .select(F.col("vec_id").alias("cid"), F.col("v").alias("c"))
        )
        a1 = _d49_assign(spark, vecs, gen0)
        return (
            a1.select("cell", F.posexplode("v").alias("dim0", "val"))
            .groupBy("cell", (F.col("dim0") + 1).alias("dim"))
            .agg(
                F.sum("val").alias("s"),
                F.count("*").cast("long").alias("n"),
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("dim", "s"))),
                    lambda st: st.getField("s"),
                ).alias("c"),
                F.max("n").alias("n"),
            )
            .select(F.col("cell").alias("cid"), "c", "n")
        )

    return cached_relation("d49_codebook_v3", sf_dir, _build)


@query(
    "d49_kmeans_codebook",
    oracle=f"""
    WITH vecs AS ({_D49_VECS_SQL}),
    {_D49_GEN1_CTES},
    a2 AS (
      SELECT s.vec_id,
             (SELECT g.cid FROM gen1 g
              ORDER BY {_DOT_SQL.format(a='s.v', b='g.c')}
                       / (sqrt({_DOT_SQL.format(a='s.v', b='s.v')})
                          * sqrt({_DOT_SQL.format(a='g.c', b='g.c')})) DESC, g.cid
              LIMIT 1) AS cell
      FROM vecs s
    )
    SELECT a2.cell AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(list_reduce(any_value(g.c), (a, b) -> a + b) AS BIGINT)
             AS coord_sum
    FROM a2 JOIN gen1 g ON g.cid = a2.cell
    GROUP BY a2.cell
    """,
)
def d49_kmeans_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd update of the IVF codebook (assign -> recompute
    -> reassign), reported as final member counts per surviving
    centroid plus an integer digest of the trained centroid vector.

    Spark shape (r9 slim, VERDICT r8 #4): the trained gen1 codebook is
    the stored `d49_codebook` MV, so the query itself is ONE
    assignment pass over the vecs (broadcast k-row codebook, map-side
    max_by), one cell-grain count, and a broadcast digest join — the
    two redundant corpus fan-outs of the old inline 8-exchange plan
    (re-seeding, re-training and re-scanning vecs for both assignment
    generations every run) now live in the once-per-dataset MV build.
    The oracle unrolls the full training chain, so the gate re-proves
    the stored codebook equals retraining from scratch."""
    vecs = _d49_vecs(spark, sf_dir).select("vec_id", "v")
    gen1 = _d49_codebook(spark, sf_dir)
    a2 = _d49_assign(spark, vecs, gen1)
    digest = gen1.select(
        "cid",
        F.aggregate(F.col("c"), F.lit(0).cast("long"), lambda acc, x: acc + x)
        .cast("long")
        .alias("coord_sum"),
    )
    return (
        a2.groupBy("cell")
        .agg(F.count("*").cast("long").alias("n_members"))
        .join(F.broadcast(digest), F.col("cid") == F.col("cell"))
        .select("cid", "n_members", "coord_sum")
    )


# ------------------------------------------------ trained IVF-PQ index
# Every quantizer of the search family is fed from d49's TRAINED
# codebook: cells route by argmax cosine against the trained mean
# centroids, and PQ codes argmin per-subspace against the SAME
# centroid slices.
#
# Mean centroids: the stored codebook keeps RAW SUM vectors (cosine
# never needs the division), but squared-L2 sub-distances are scale-
# sensitive, so the trained family forms means as floor(sum / n) in
# DOUBLE on both engines (_D25B_CM_SQL, shared fragments block).


def _trained_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained MEAN centroids (cid, ce) from the stored sum-codebook —
    the _D25B_CM_SQL expression as Spark SQL (double division then
    floor: IEEE-identical on both engines for |sum| < 2^53)."""
    return _d49_codebook(spark, sf_dir).selectExpr(
        "cid",
        "transform(c, x -> CAST(floor(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)) AS ce",
    )


@mv_step(
    "trained_assigned",
    keys=("ivf_trained_assigned_v2",),
    deps=("d49_codebook",),
)
def _trained_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE trained IVF-PQ index (vec_id, label, v, vnorm, cell,
    code_1..code_M), through the MV seam — the single index relation
    the whole search family (d8/d14/d23/d24/d25/d25b/d66) reads.
    ONE corpus fan-out (vecs x broadcast k-row trained codebook)
    computes the cell argmax AND all PQ_M sub-code argmins in a single
    map-side-combinable groupBy, so routing and code build share the
    scan; every consumer compiles to a plain scan instead of re-paying
    the n x k pass. The L2 norm is stored WITH the index (d3's
    _normed_embeddings trick) so search joins fold one dot per pair."""
    def _build() -> DataFrame:
        # r14: _assign_arrow kernel — cell argmax AND all PQ_M sub-code
        # argmins in one batch sweep, one output row per vector, no
        # n x k fan-out and no re-fold exchange. Rows bit-identical to
        # the old broadcast-join + max_by/min_by form (pinned by
        # tests/test_r14_opt.py); vnorm keeps d3's store-the-norm trick.
        # Inputs constructed INSIDE the closure (r15): a store-warm
        # call must cost a cache lookup, not a plan construction.
        return _assign_arrow(
            spark,
            _d49_vecs(spark, sf_dir),
            _trained_centroids(spark, sf_dir),
            cid_col="cid",
            cvec_col="ce",
            vec_col="v",
            passthrough=("vec_id", "label", "v"),
            pq=True,
            norm_name="vnorm",
            parallelize=True,
        )

    # key bumped from "d25b_assigned": label + vnorm columns added when
    # the whole IVF family graduated to the trained codebook (r10) —
    # the store is content-addressed by dataset, so a build-logic
    # change must change the key or stale files would be reused.
    return cached_relation("ivf_trained_assigned_v2", sf_dir, _build)


# ---------------------------------------------------------------- d50
# Duplicate-graph centrality — canonical-doc selection by structure:
# d9 picks each cluster's canonical document by a scalar convention
# (first-seen); production dedup pipelines often prefer the MOST
# CENTRAL member of a dup cluster (the hub the others are copies of).
# d50 scores every document in the d2 near-dup graph with a
# deterministic integer PageRank: rank in ppm, two unrolled power
# iterations, damping 0.85 — all arithmetic on non-negative bigints
# (ppm shares via `div`, where truncation == floor, so Spark and
# DuckDB agree bit-for-bit; the no-log/no-division discipline of
# d49/t_readability applied to an iterative graph algorithm).

D50_DAMP_PPM = 850_000
D50_BASE_PPM = 150_000
D50_R0_PPM = 1_000_000


def _pr_round(edges: DataFrame, rank: DataFrame) -> DataFrame:
    """One integer PageRank power-iteration step over (src, dst) edges
    given rank rows (src, d, r). share = r div d is exact (non-negative,
    so div truncation == floor on both engines): a src-keyed share join
    + a dst-keyed map-side-combinable sum — two bounded shuffles."""
    incoming = (
        edges.join(rank, "src")
        .select("dst", F.expr("r div d").alias("share"))
        .groupBy("dst")
        .agg(F.sum("share").cast("long").alias("m"))
    )
    return (
        rank.select("src", "d")
        .join(incoming, rank["src"] == incoming["dst"], "left")
        .select(
            "src",
            "d",
            (
                F.lit(D50_BASE_PPM)
                + F.expr(f"({D50_DAMP_PPM} * coalesce(m, 0)) div {D50_R0_PPM}")
            )
            .cast("long")
            .alias("r"),
        )
    )


@mv_step("dup_edges", keys=("dup_edges",), deps=("d2_sigs",))
def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric near-dup edge relation (src, dst) through the MV
    seam (`dup_edges`) — the d2 pair graph both directions. Stored so
    iterative graph consumers (d50) compile to a plain parquet scan
    instead of re-deriving the banded candidate join per round: the
    same discipline as the `d2_sigs`/`d9_clusters` MVs, and exactly
    what a warehouse deployment materializes before running PageRank."""
    def _build() -> DataFrame:
        pairs = d2_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
        return pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )

    return cached_relation("dup_edges", sf_dir, _build)


@mv_step("d50_rank1", keys=("d50_rank1",), deps=("dup_edges",))
def _d50_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 PageRank relation (src, d, r) through the MV seam
    (`d50_rank1`): degree + one power-iteration step from the uniform
    r0, over the stored edge MV. VERDICT r10 #2 — the live d50 query
    was the one consistently straddling the budget line because it
    paid BOTH unrolled rounds; storing round 1 (the d30/d49 precedent)
    leaves exactly one round's two shuffles live."""
    def _build() -> DataFrame:
        edges = _dup_edges(spark, sf_dir)
        deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("d"))
        r0 = deg.select("src", "d", F.lit(D50_R0_PPM).cast("long").alias("r"))
        return _pr_round(edges, r0)

    return cached_relation("d50_rank1", sf_dir, _build)



@query(
    "d50_dup_centrality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    sigs AS (
      SELECT doc_id, sh, {_MINHASH_SQL} AS mh
      FROM toks WHERE len(sh) > 0
    ),
    bands AS (
      SELECT doc_id,
             b AS band,
             md5(CAST(b AS VARCHAR) || ':' || mh[3*b+1] || mh[3*b+2] || mh[3*b+3]) AS band_key
      FROM sigs, UNNEST(range(0, {N_BANDS})) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band_key = b2.band_key AND b1.band = b2.band
       AND b1.doc_id < b2.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN toks a ON a.doc_id = c.doc_a
      JOIN toks b ON b.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    in1 AS (
      SELECT e.dst, CAST(SUM({D50_R0_PPM} // g.d) AS BIGINT) AS m
      FROM edges e JOIN deg g ON g.src = e.src GROUP BY e.dst
    ),
    r1 AS (
      SELECT g.src AS doc_id, g.d,
             CAST({D50_BASE_PPM} + ({D50_DAMP_PPM} * COALESCE(i.m, 0))
                  // {D50_R0_PPM} AS BIGINT) AS r
      FROM deg g LEFT JOIN in1 i ON i.dst = g.src
    ),
    in2 AS (
      SELECT e.dst, CAST(SUM(r.r // r.d) AS BIGINT) AS m
      FROM edges e JOIN r1 r ON r.doc_id = e.src GROUP BY e.dst
    )
    SELECT r1.doc_id, r1.d AS degree,
           CAST({D50_BASE_PPM} + ({D50_DAMP_PPM} * COALESCE(i.m, 0))
                // {D50_R0_PPM} AS BIGINT) AS rank_ppm
    FROM r1 LEFT JOIN in2 i ON i.dst = r1.doc_id
    """,
)
def d50_dup_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (2 unrolled rounds) over the near-dup graph:
    per document in >=1 d2 pair, its degree and ppm centrality.

    Spark shape: the edge table and the round-1 rank relation are
    stored MVs (`dup_edges`, `d50_rank1` — refresh_all steps), so the
    live plan is two parquet scans + ONE PageRank round (a src-keyed
    share join + a dst-keyed map-side-combinable sum). Earlier rounds
    localCheckpointed the edges and paid both rounds live — correct,
    but the only query consistently straddling the 1 s working line;
    the MV seam moves round 1 into the scheduled refresh exactly like
    d30's gram dictionary and d49's codebook. Rounds stay a config
    knob: more rounds = more `_pr_round` steps over the same stored
    graph, each two bounded shuffles, rank lineage truncated
    round-over-round."""
    return _pr_round(
        _dup_edges(spark, sf_dir), _d50_rank1(spark, sf_dir)
    ).select(
        F.col("src").alias("doc_id"),
        F.col("d").alias("degree"),
        F.col("r").alias("rank_ppm"),
    )


# ---------------------------------------------------------------- d51
# Curation funnel — the observability report a 100 TB build publishes
# next to its shards: how many documents and tokens survive each gate
# of the d17 pipeline (corpus -> near-dup drop -> quality -> decontam).
# Every stage predicate is the SAME expression d17 applies — the
# funnel audits the production build, it does not re-derive a variant.


def _d51_oracle() -> str:
    from .textstats import _stop_count_sql

    return f"""
    WITH RECURSIVE {_D9_CTES},
    nd_drops AS (SELECT doc_id FROM sized WHERE rn <> 1),
    dw AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    dc_bg AS (
      SELECT DISTINCT
        unnest(list_transform(range(1, greatest(len(w) - 2, 1)),
               i -> array_to_string(list_slice(w, i, i + 3), ' '))) AS h
      FROM dw WHERE doc_id % 97 = 0
    ),
    dc_flag AS (
      SELECT doc_id,
             MAX(CASE WHEN h IN (SELECT h FROM dc_bg) THEN 1 ELSE 0 END)
               AS contaminated
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(hs) = 0 THEN [NULL] ELSE hs END) AS h
        FROM (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(w) - 2, 1)),
                   i -> array_to_string(list_slice(w, i, i + 3), ' ')) AS hs
          FROM dw WHERE doc_id % 97 <> 0
        )
      )
      GROUP BY doc_id
    ),
    qual AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80
                  THEN 1 ELSE 0 END
           + CASE WHEN CAST(len(list_distinct(string_split(text, ' ')))
                       AS DOUBLE) / len(string_split(text, ' ')) >= 0.5
                  THEN 1 ELSE 0 END
           + CASE WHEN CAST({_stop_count_sql('en')} AS DOUBLE)
                       / len(string_split(text, ' '))
                       BETWEEN 0.01 AND 0.6
                  THEN 1 ELSE 0 END AS score
      FROM documents
    ),
    base AS (
      SELECT d.doc_id, q.n_tokens, q.score, f.contaminated,
             CASE WHEN nd.doc_id IS NULL THEN 0 ELSE 1 END AS nd_dropped
      FROM documents d
      JOIN qual q USING (doc_id)
      JOIN dc_flag f USING (doc_id)
      LEFT JOIN nd_drops nd ON nd.doc_id = d.doc_id
    )
    SELECT CAST(0 AS BIGINT) AS stage_idx, 'corpus' AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM base
    UNION ALL
    SELECT 1, 'near_dup', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
    FROM base WHERE nd_dropped = 0
    UNION ALL
    SELECT 2, 'quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
    FROM base WHERE nd_dropped = 0 AND score >= 2
    UNION ALL
    SELECT 3, 'decontam', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_tokens) AS BIGINT)
    FROM base WHERE nd_dropped = 0 AND score >= 2 AND contaminated = 0
    """


@query("d51_curation_funnel", oracle=_d51_oracle())
def d51_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage survivor counts (docs + tokens) of the d17 pipeline.
    Stage 0 ('corpus') is the pipeline's INPUT — the corpus after the
    benchmark holdout leaves (d15's inner join, d17's convention).

    Spark shape: ONE pass over (documents x d15 flags x broadcast d9
    drop list) computing all four stages as conditional aggregates —
    count(*) FILTER per stage over the cumulative predicates — so the
    funnel costs one scan + one 4-expr singleton agg, never four
    subqueries. The stage predicates are d17's own column expressions
    (same _tokens/_stop_count/score exprs, same MVs), which is the
    point: the report can never drift from the build it audits."""
    from .textstats import _stop_count, _tokens

    clusters = d9_dedup_clusters(spark, sf_dir)
    nd_drops = F.broadcast(
        clusters.where(~F.col("is_canonical")).select(
            "doc_id", F.lit(True).alias("is_dup")
        )
    )
    flags = d15_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens(F.col("text"))
    n_tokens = F.size(tk)
    score = (
        F.when(n_tokens.between(20, 80), 1).otherwise(0)
        + F.when(F.size(F.array_distinct(tk)).cast("double") / n_tokens >= 0.5, 1)
        .otherwise(0)
        + F.when(
            (_stop_count(tk, "en").cast("double") / n_tokens).between(0.01, 0.6), 1
        ).otherwise(0)
    )
    base = (
        docs.select(
            "doc_id", n_tokens.cast("long").alias("n_tokens"), score.alias("score")
        )
        .join(flags, "doc_id")
        .join(nd_drops, "doc_id", "left")
        .select(
            "n_tokens",
            (
                F.col("is_dup").isNull().cast("int").alias("s1")
            ),
            (
                (F.col("is_dup").isNull() & (F.col("score") >= 2))
                .cast("int")
                .alias("s2")
            ),
            (
                (
                    F.col("is_dup").isNull()
                    & (F.col("score") >= 2)
                    & (F.col("contaminated") == 0)
                )
                .cast("int")
                .alias("s3")
            ),
        )
    )
    totals = base.agg(
        F.count("*").cast("long").alias("c0"),
        F.sum("n_tokens").cast("long").alias("t0"),
        F.sum("s1").cast("long").alias("c1"),
        F.sum(F.col("n_tokens") * F.col("s1")).cast("long").alias("t1"),
        F.sum("s2").cast("long").alias("c2"),
        F.sum(F.col("n_tokens") * F.col("s2")).cast("long").alias("t2"),
        F.sum("s3").cast("long").alias("c3"),
        F.sum(F.col("n_tokens") * F.col("s3")).cast("long").alias("t3"),
    )
    stages = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"c{i}").alias("n_docs"),
                F.col(f"t{i}").alias("n_tokens"),
            )
            for i, name in enumerate(["corpus", "near_dup", "quality", "decontam"])
        ]
    )
    return totals.select(F.explode(stages).alias("r")).select(
        "r.stage_idx", "r.stage", "r.n_docs", "r.n_tokens"
    )


# ---------------------------------------------------------------- d52
# Dedup cluster-size histogram — the one-page report every dedup run
# publishes: how much of the corpus sits in dup clusters of size k,
# and how many documents a keep-one-per-cluster policy drops. Reads
# the same stored d9 cluster MV the production drop consumes.


@query(
    "d52_cluster_size_hist",
    oracle=f"""
    WITH RECURSIVE {_D9_CTES}
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - COUNT(DISTINCT cluster_id) AS BIGINT)
             AS n_redundant
    FROM sized GROUP BY cluster_size
    """,
)
def d52_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram over the d9 near-dup clusters:
    (cluster_size, n_clusters, n_docs, n_redundant) where n_redundant
    is what keep-one-per-cluster drops at that size.

    One size-keyed agg over the stored d9 MV (steady-state: an
    MV scan + a histogram-sized exchange, map-side combined); the
    corpus-scale cost is the d9 build, amortized under refresh_all
    like every other MV consumer (d29/d33/d41/d45 pattern)."""
    clusters = d9_dedup_clusters(spark, sf_dir)
    return clusters.groupBy(F.col("cluster_size").cast("long").alias("cluster_size")).agg(
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
        F.count("*").cast("long").alias("n_docs"),
        (F.count("*") - F.countDistinct("cluster_id"))
        .cast("long")
        .alias("n_redundant"),
    )


# ---------------------------------------------------------------- d55
# Context-length tuning report: pretraining pipelines pick a sequence
# length by exactly this table — for each candidate length L, how many
# training slots does per-document padding waste (the BERT-style
# pad-each-doc layout) and how many tokens does truncate-to-one-
# sequence lose? d12's concat-and-chunk layout wastes neither but
# lets documents straddle boundaries; this report quantifies the other
# two layouts so the choice is a measurement, not folklore.

D55_SEQ_LENS = [512, 1024, 2048, 4096]


@query(
    "d55_packing_efficiency",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS t FROM documents
    ),
    e AS (
      SELECT doc_id, t, L
      FROM t, UNNEST([{", ".join(str(x) for x in D55_SEQ_LENS)}]) AS u(L)
    )
    SELECT CAST(L AS BIGINT) AS seq_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(t) AS BIGINT) AS total_tokens,
           CAST(SUM((t + L - 1) // L) AS BIGINT) AS padded_seqs,
           CAST(SUM(((t + L - 1) // L) * L - t) AS BIGINT) AS pad_tokens,
           CAST((SUM(((t + L - 1) // L) * L - t) * 1000000)
                // (SUM((t + L - 1) // L) * L) AS BIGINT) AS pad_ppm,
           CAST(SUM(t - LEAST(t, L)) AS BIGINT) AS trunc_lost_tokens,
           CAST((SUM(t - LEAST(t, L)) * 1000000) // SUM(t) AS BIGINT)
             AS trunc_lost_ppm
    FROM e GROUP BY L
    """,
)
def d55_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding waste and truncation loss per candidate sequence length
    (512/1024/2048/4096), in exact integer token counts and ppm.

    Spark shape: one narrow corpus scan (token count per row), a
    4-way literal-array explode, and ONE map-side-combinable agg to 4
    rows — the explode multiplies rows before the combiner, so the
    exchange carries 4 rows per partition, not 4x the corpus. All
    arithmetic is integer (ceil via (t + L - 1) div L), so the ppm
    columns hash-match bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("t")
    )
    e = t.select(
        "t",
        F.explode(
            F.array(*[F.lit(x).cast("long") for x in D55_SEQ_LENS])
        ).alias("L"),
    )
    seqs = F.expr("(t + L - 1) div L")
    return (
        e.groupBy("L")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("total_tokens"),
            F.sum(seqs).cast("long").alias("padded_seqs"),
            F.sum(seqs * F.col("L") - F.col("t")).cast("long").alias("pad_tokens"),
            F.sum(F.col("t") - F.least(F.col("t"), F.col("L")))
            .cast("long")
            .alias("trunc_lost_tokens"),
        )
        .select(
            F.col("L").cast("long").alias("seq_len"),
            "n_docs",
            "total_tokens",
            "padded_seqs",
            "pad_tokens",
            F.expr(_guarded_ppm_sql("pad_tokens", "padded_seqs * L"))
            .cast("long")
            .alias("pad_ppm"),
            "trunc_lost_tokens",
            F.expr(_guarded_ppm_sql("trunc_lost_tokens", "total_tokens"))
            .cast("long")
            .alias("trunc_lost_ppm"),
        )
    )


# ---------------------------------------------------------------- d56
# Quality x duplication cross-signal: are near-duplicates lower
# quality than unique documents? The diagnostic that decides whether
# dedup and quality filtering are redundant (duplicates would have
# been dropped anyway) or complementary — per (dup status, quality
# score) document counts with each row's ppm share within its status.


def _d56_quality_sql() -> str:
    from .textstats import _stop_count_sql

    return f"""
      SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 80
                  THEN 1 ELSE 0 END
             + CASE WHEN CAST(len(list_distinct(string_split(text, ' ')))
                         AS DOUBLE) / len(string_split(text, ' ')) >= 0.5
                    THEN 1 ELSE 0 END
             + CASE WHEN CAST({_stop_count_sql('en')} AS DOUBLE)
                         / len(string_split(text, ' ')) BETWEEN 0.01 AND 0.6
                    THEN 1 ELSE 0 END AS quality_score
      FROM documents
"""


def _d56_oracle() -> str:
    return f"""
    WITH RECURSIVE {_D9_CTES},
    q AS ({_d56_quality_sql()}),
    st AS (
      SELECT d.doc_id,
             CASE WHEN s.rn = 1 THEN 'canonical'
                  WHEN s.rn IS NOT NULL THEN 'duplicate'
                  ELSE 'unique' END AS dup_status
      FROM documents d LEFT JOIN sized s USING (doc_id)
    ),
    g AS (
      SELECT st.dup_status, q.quality_score,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM st JOIN q USING (doc_id)
      GROUP BY 1, 2
    ),
    tot AS (SELECT dup_status, SUM(n_docs) AS n FROM g GROUP BY 1)
    SELECT g.dup_status,
           CAST(g.quality_score AS INTEGER) AS quality_score,
           g.n_docs,
           CAST((g.n_docs * 1000000) // t.n AS BIGINT) AS share_ppm
    FROM g JOIN tot t USING (dup_status)
    """


@query("d56_quality_dup_cross", oracle=_d56_oracle())
def d56_quality_dup_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document counts per (dup status, t_quality_score value), with
    integer-ppm shares within each status.

    Spark shape: quality is t_quality_score's per-row integer
    expression on the same scan that computes dup status (stored d9
    cluster MV broadcast + left join — the d45 pattern; the cluster
    relation is dup-members-sized, not corpus-sized); ONE map-side-
    combinable agg to <= 12 rows; shares via a window over that tiny
    frame (the d54 discipline — no join-back that would re-derive the
    corpus subtree)."""
    from .textstats import _stop_count

    docs = load_table(spark, sf_dir, "documents")
    clusters = d9_dedup_clusters(spark, sf_dir)
    members = F.broadcast(
        clusters.select("doc_id", F.col("is_canonical").alias("canon"))
    )
    tk = F.split(F.col("text"), " ")
    n_tokens = F.size(tk)
    unique_ratio = F.size(F.array_distinct(tk)).cast("double") / n_tokens
    stop_ratio = _stop_count(tk, "en").cast("double") / n_tokens
    score = (
        F.when(n_tokens.between(20, 80), 1).otherwise(0)
        + F.when(unique_ratio >= 0.5, 1).otherwise(0)
        + F.when(stop_ratio.between(0.01, 0.6), 1).otherwise(0)
    )
    status = (
        F.when(F.col("canon"), "canonical")
        .when(F.col("canon").isNotNull(), "duplicate")
        .otherwise("unique")
    )
    g = (
        docs.join(members, "doc_id", "left")
        .select(status.alias("dup_status"), score.cast("int").alias("quality_score"))
        .groupBy("dup_status", "quality_score")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    n = F.sum("n_docs").over(Window.partitionBy("dup_status"))
    return (
        g.withColumn("__n", n)
        .select(
            "dup_status",
            "quality_score",
            "n_docs",
            F.expr("(n_docs * 1000000) div __n").cast("long").alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------- d57
# Substring-dedup REMOVAL — d30 measures verbatim-span duplication;
# d57 executes the fix (Lee et al. 2022 actually strip the duplicated
# spans, not just count them): every token position covered by a
# SPAN_L-gram that also appears in another document is dropped, and
# the document is re-emitted as the surviving tokens. The cleaned
# text, kept/removed counts, and the empty-after-strip flag (docs that
# were pure boilerplate) all hash-check cross-engine.


@query(
    "d57_span_strip",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    grams AS (
      SELECT doc_id, s AS pos,
             md5(array_to_string(list_slice(tk, s + 1, s + {SPAN_L}), ' ')) AS g
      FROM toks, UNNEST(range(0, len(tk) - {SPAN_L} + 1)) AS t(s)
    ),
    shared AS (
      SELECT g FROM grams GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    dup AS (
      SELECT doc_id, list(pos ORDER BY pos) AS starts
      FROM grams WHERE g IN (SELECT g FROM shared)
      GROUP BY doc_id
    ),
    stripped AS (
      SELECT t.doc_id, len(t.tk) AS n_tokens,
             list_filter(range(0, len(t.tk)),
               p -> len(list_filter(COALESCE(d.starts, []),
                        s -> p >= s AND p < s + {SPAN_L})) = 0) AS keep_pos,
             t.tk
      FROM toks t LEFT JOIN dup d USING (doc_id)
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(len(keep_pos) AS BIGINT) AS kept_tokens,
           CAST(n_tokens - len(keep_pos) AS BIGINT) AS removed_tokens,
           CAST(len(keep_pos) = 0 AS INT) AS fully_removed,
           COALESCE(array_to_string(list_transform(keep_pos, p -> tk[p + 1]),
                                    ' '), '') AS clean_text
    FROM stripped
    """,
)
def d57_span_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip every token position covered by a cross-document
    SPAN_L-gram; emit the cleaned text plus kept/removed accounting.

    Spark shape: the positional gram relation is the stored d30_grams
    MV; the shared-gram flag is d30's ONE map-side-combinable min!=max
    agg; duplicated starts collect per doc (sorted list — gram-grain
    agg); the rebuild is a PER-ROW expression on the docs scan, zero
    extra exchange. r14 (guide §1.2 per-task work): the first form
    tested every position against every start — O(tokens x starts)
    interpreted-HOF work per row, quadratic on span-dense docs. Now
    the start list expands once into the covered-position set
    (starts x SPAN_L elements) and keep_pos is ONE hash-lookup pass:
    array_except(all_positions, covered) — O(tokens + starts x
    SPAN_L), order-preserving and duplicate-free because positions
    are unique. r15 (guide §1.2/§5, VERDICT r14 #1): rows with NO
    duplicated span — the common case on a span-sparse corpus — no
    longer build keep_pos or rebuild the token array at all. For a
    NULL `starts`, keep_pos would be the identity [0..n-1], so kept
    == n_tokens, removed == 0, fully_removed == 0, and clean_text ==
    array_join(tk, ' ') == the original text (split on the literal
    single-space separator then join with it is the identity for
    every string, empty tokens included). The CASE branches confine
    the covered-set build, the position sequence, and the token-array
    rebuild — the per-row allocations that thrashed 32 concurrent
    tasks on the driver box — to the spanned rows that need them.
    The only corpus-scale shuffles remain the gram agg
    and the doc-keyed join of the (usually sparse) dup-starts
    relation back to the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _span_grams(spark, sf_dir)
    shared = shared_span_grams(spark, sf_dir)
    dup = (
        grams.join(shared, "g")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
    )
    t = docs.select(
        "doc_id", "text", F.split(F.col("text"), " ").alias("tk")
    ).join(dup, "doc_id", "left")
    spanned = F.col("starts").isNotNull()
    covered = F.array_distinct(
        F.flatten(
            F.transform(F.col("starts"), lambda s: F.sequence(s, s + SPAN_L - 1))
        )
    )
    keep_expr = F.array_except(F.sequence(F.lit(0), F.size("tk") - 1), covered)
    s = t.select(
        "doc_id",
        "text",
        F.size("tk").alias("n_tokens"),
        # NULL (not the identity sequence) on span-free rows: every
        # consumer below branches on `spanned`, so the allocation
        # happens only where a span was actually found.
        F.when(spanned, keep_expr).alias("keep_pos"),
        "tk",
        spanned.alias("spanned"),
    )
    kept = F.when(F.col("spanned"), F.size("keep_pos")).otherwise(
        F.col("n_tokens")
    )
    return s.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        kept.cast("long").alias("kept_tokens"),
        (F.col("n_tokens") - kept).cast("long").alias("removed_tokens"),
        (kept == 0).cast("int").alias("fully_removed"),
        F.when(
            F.col("spanned"),
            F.array_join(
                F.transform(
                    F.col("keep_pos"), lambda p: F.element_at("tk", p + 1)
                ),
                " ",
            ),
        )
        .otherwise(F.col("text"))
        .alias("clean_text"),
    )


# ---------------------------------------------------------------- d58
# Explicit mixture rebalancing: d18/d21 reshape the mixture through a
# temperature; production mixes are usually specified the other way —
# a TARGET share per source, from which the pipeline must derive each
# source's keep probability and the largest total the corpus can
# supply at those shares. d58 computes exactly that executable quota
# sheet (here the sqrt-temperature target, tau = 0.5 — any target
# vector plugs into the same arithmetic) and then EXECUTES it with the
# d45 deterministic md5 ppm coin, reporting expected vs actual.
#
# Determinism across engines: sqrt is IEEE correctly-rounded on both,
# the weight total folds over the source list in sorted order (never a
# partition-order double sum), every downstream step is integer ppm
# arithmetic, and the coin is the shared _HASH_PPM convention.


@query(
    "d58_source_quota_rebalance",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
             CAST({_HASH_PPM_SQL} AS BIGINT) AS coin
      FROM documents
    ),
    srcs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(ntok) AS BIGINT) AS tok
      FROM per_doc GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(tok) AS BIGINT) AS all_tok,
             list_reduce(
               list_prepend(CAST(0 AS DOUBLE),
                 list_transform(list(tok ORDER BY source),
                                t -> sqrt(CAST(t AS DOUBLE)))),
               (a, w) -> a + w) AS sw
      FROM srcs
    ),
    shared AS (
      SELECT s.source, s.n_docs, s.tok, t.all_tok,
             CAST(floor(sqrt(CAST(s.tok AS DOUBLE)) * 1000000.0 / t.sw)
                  AS BIGINT) AS target_share_ppm
      FROM srcs s, tot t
    ),
    star AS (
      SELECT MIN(tok * 1000000 // GREATEST(target_share_ppm, 1)) AS tstar
      FROM shared
    ),
    quota AS (
      SELECT h.source, h.n_docs, h.tok,
             (h.tok * 1000000) // h.all_tok AS cur_share_ppm,
             h.target_share_ppm,
             LEAST(1000000,
                   ((s.tstar * h.target_share_ppm) // 1000000) * 1000000
                     // h.tok) AS keep_ppm
      FROM shared h, star s
    ),
    kept AS (
      SELECT p.source,
             CAST(COUNT(*) AS BIGINT) AS kept_docs,
             CAST(SUM(p.ntok) AS BIGINT) AS kept_tokens
      FROM per_doc p JOIN quota q USING (source)
      WHERE p.coin < q.keep_ppm
      GROUP BY p.source
    )
    SELECT q.source, q.n_docs, q.tok AS n_tokens,
           CAST(q.cur_share_ppm AS BIGINT) AS cur_share_ppm,
           q.target_share_ppm,
           CAST(q.keep_ppm AS BIGINT) AS keep_ppm,
           CAST((q.tok * q.keep_ppm) // 1000000 AS BIGINT)
             AS expected_tokens,
           CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
    FROM quota q LEFT JOIN kept k USING (source)
    """,
)
def d58_source_quota_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture quota sheet (sqrt-temperature targets) plus
    the executed deterministic sample: current/target shares, the
    derived keep probability at the corpus-feasible total, expected
    tokens, and the md5-coin actuals.

    Spark shape: ONE narrow corpus projection feeds both passes — a
    per-source agg (map-side combined to |sources| rows) for the quota
    arithmetic, and a second combinable agg under the broadcast quota
    frame that carries the quota columns through any_value and counts
    the coin actuals conditionally — quota is consumed ONCE, so the
    corpus subtree never re-derives (the d54 lesson; the agg+crossJoin
    chain version measured exch=15 and was rejected). The quota math
    itself runs as windows over the tiny source frame (the sanctioned
    singleton window): integer sums are order-free, and the ONE double
    quantity (the sqrt-weight total) folds over the SORTED source list
    — a partition-order double SUM would not hash cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ntok"),
        _hash_ppm_spark(F.col("doc_id")).alias("coin"),
    )
    srcs = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("tok"),
    )
    wf = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sw = F.aggregate(
        F.transform(
            F.sort_array(F.collect_list(F.struct("source", "tok")).over(wf)),
            lambda s: s.getField("tok"),
        ),
        F.lit(0.0),
        lambda a, t: a + F.sqrt(t.cast("double")),
    )
    shared = srcs.select(
        "source",
        "n_docs",
        "tok",
        F.sum("tok").over(wf).cast("long").alias("all_tok"),
        F.floor(F.sqrt(F.col("tok").cast("double")) * 1000000.0 / sw)
        .cast("long")
        .alias("target_share_ppm"),
    )
    quota = shared.select(
        "source",
        "n_docs",
        "tok",
        F.expr(_guarded_ppm_sql("tok", "all_tok")).cast("long").alias("cur_share_ppm"),
        "target_share_ppm",
        F.min(F.expr(_guarded_ppm_sql("tok", "greatest(target_share_ppm, 1)")))
        .over(wf)
        .alias("tstar"),
    ).select(
        "source",
        "n_docs",
        "tok",
        "cur_share_ppm",
        "target_share_ppm",
        F.least(
            F.lit(1000000).cast("long"),
            F.expr(
                f"CASE WHEN tstar <= {PPM_SAFE_MAX} THEN "
                + _guarded_ppm_sql("(tstar * target_share_ppm) div 1000000", "tok")
                + " ELSE CAST(raise_error('ppm overflow: tstar exceeds the"
                " bigint-safe multiplicand') AS BIGINT) END"
            ),
        )
        .cast("long")
        .alias("keep_ppm"),
    )
    kept_doc = F.col("coin") < F.col("keep_ppm")
    return (
        per_doc.join(F.broadcast(quota), "source")
        .groupBy("source")
        .agg(
            F.any_value("n_docs").alias("n_docs"),
            F.any_value("tok").alias("n_tokens"),
            F.any_value("cur_share_ppm").alias("cur_share_ppm"),
            F.any_value("target_share_ppm").alias("target_share_ppm"),
            F.any_value("keep_ppm").alias("keep_ppm"),
            F.expr(
                f"CASE WHEN any_value(tok) <= {PPM_SAFE_MAX} THEN "
                "(any_value(tok) * any_value(keep_ppm)) div 1000000 "
                "ELSE CAST(raise_error('ppm overflow: per-source tokens"
                " exceed the bigint-safe multiplicand') AS BIGINT) END"
            )
            .cast("long")
            .alias("expected_tokens"),
            F.sum(F.when(kept_doc, 1).otherwise(0)).cast("long").alias("kept_docs"),
            F.sum(F.when(kept_doc, F.col("ntok")).otherwise(0))
            .cast("long")
            .alias("kept_tokens"),
        )
    )


# ---------------------------------------------------------------- d59
# Transitive-drift audit of the dedup clusters — the classic objection
# to connected-components near-dup: LSH edges chain (A~B, B~C), so a
# component can contain pairs (A, C) far below the pair threshold, and
# dropping "duplicates" then deletes genuinely distinct documents. d59
# measures that drift exactly: for every cluster (size-capped — the
# audit is pairwise within clusters by construction), the worst and
# mean EXACT pairwise Jaccard in integer ppm, rolled up per cluster
# size with a count of clusters whose worst pair falls below the d2
# edge threshold. A drifted_clusters column of zero is the proof the
# corpus's clusters are tight; a non-zero count is the tuning signal
# to raise the threshold or band count (d37's calibration knobs).

D59_MAX_CLUSTER = 64  # clusters above this are reported, not audited
_J_THRESH_PPM = int(JACCARD_THRESHOLD * 1_000_000)


@query(
    "d59_cluster_drift",
    oracle=f"""
    WITH RECURSIVE {_D9_CTES},
    cl AS (
      SELECT cluster_id, doc_id, cluster_size FROM sized
      WHERE cluster_size BETWEEN 2 AND {D59_MAX_CLUSTER}
    ),
    pr AS (
      SELECT x.cluster_id, x.cluster_size,
             CAST(len(list_filter(a.sh, s -> list_contains(b.sh, s)))
                  AS BIGINT) AS inter,
             CAST(len(a.sh) + len(b.sh)
                  - len(list_filter(a.sh, s -> list_contains(b.sh, s)))
                  AS BIGINT) AS uni
      FROM cl x
      JOIN cl y ON y.cluster_id = x.cluster_id AND x.doc_id < y.doc_id
      JOIN toks a ON a.doc_id = x.doc_id
      JOIN toks b ON b.doc_id = y.doc_id
    ),
    pj AS (
      SELECT cluster_id, cluster_size,
             (inter * 1000000) // GREATEST(uni, 1) AS j_ppm
      FROM pr
    ),
    per_cluster AS (
      SELECT cluster_id, cluster_size,
             MIN(j_ppm) AS min_ppm,
             SUM(j_ppm) AS s_ppm, COUNT(*) AS n_pairs
      FROM pj GROUP BY 1, 2
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(MIN(min_ppm) AS BIGINT) AS worst_pair_ppm,
           CAST(SUM(s_ppm) // SUM(n_pairs) AS BIGINT) AS mean_pair_ppm,
           CAST(COUNT(*) FILTER (WHERE min_ppm < {_J_THRESH_PPM}) AS BIGINT)
             AS drifted_clusters
    FROM per_cluster GROUP BY cluster_size
    UNION ALL
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) // cluster_size AS BIGINT) AS n_clusters,
           CAST(-1 AS BIGINT) AS worst_pair_ppm,
           CAST(-1 AS BIGINT) AS mean_pair_ppm,
           CAST(-1 AS BIGINT) AS drifted_clusters
    FROM sized WHERE cluster_size > {D59_MAX_CLUSTER}
    GROUP BY cluster_size
    """,
)
def d59_cluster_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster exact-Jaccard drift per cluster size: worst and
    mean pairwise similarity (integer ppm) and how many clusters hold
    at least one pair below the d2 edge threshold.

    Spark shape: the cluster table and the shingle relation are both
    stored MVs; within-cluster pairs come from ONE cluster-keyed
    self-join (cluster-LOCAL by construction and size-capped at
    {D59_MAX_CLUSTER}, so the pairwise term is bounded per key — the
    d44 cell-local contract, never corpus-quadratic); the exact
    Jaccard is the same per-pair array expression d4 uses; two
    map-side-combinable aggs (cluster grain, then size grain) finish
    it. The ppm is integer (inter * 1e6 div union — shingle-set sizes
    sit far below the guard line), so every column hash-matches.

    Over-cap disclosure (VERDICT r9 #5): cluster sizes above
    {D59_MAX_CLUSTER} are NOT silently dropped — they appear as rows
    whose audit columns (worst/mean/drifted) are the -1 sentinel and
    whose n_clusters counts what went unaudited, in both engines. The
    biggest clusters are the most drift-prone, so an audit that hides
    them would be lying; -1 says 'present, size-refused' loudly."""
    clusters = d9_dedup_clusters(spark, sf_dir)
    toks = _shingle_toks(spark, sf_dir)
    cl = clusters.where(
        F.col("cluster_size").between(2, D59_MAX_CLUSTER)
    ).select("cluster_id", "doc_id", "cluster_size")
    a = cl.select(
        "cluster_id", "cluster_size", F.col("doc_id").alias("doc_a")
    )
    b = cl.select(
        F.col("cluster_id").alias("cid_b"), F.col("doc_id").alias("doc_b")
    )
    pairs = a.join(
        b,
        (F.col("cluster_id") == F.col("cid_b"))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    uni = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    pj = (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "cluster_id",
            "cluster_size",
            F.expr(
                "(cast(size(array_intersect(sh_a, sh_b)) as bigint) * 1000000)"
                " div greatest(cast(size(sh_a) + size(sh_b) as bigint)"
                " - cast(size(array_intersect(sh_a, sh_b)) as bigint), 1)"
            ).alias("j_ppm"),
        )
    )
    per_cluster = pj.groupBy("cluster_id", "cluster_size").agg(
        F.min("j_ppm").alias("min_ppm"),
        F.sum("j_ppm").alias("s_ppm"),
        F.count("*").alias("n_pairs"),
    )
    audited = per_cluster.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.min("min_ppm").cast("long").alias("worst_pair_ppm"),
        F.expr("sum(s_ppm) div sum(n_pairs)").cast("long").alias("mean_pair_ppm"),
        F.sum((F.col("min_ppm") < _J_THRESH_PPM).cast("long"))
        .cast("long")
        .alias("drifted_clusters"),
    )
    # over-cap clusters: counted, sentinel-marked, never silent. The
    # cluster table is doc-grain and every size-s cluster contributes
    # exactly s rows, so n_clusters = count(*) div size — ONE
    # map-side-combinable agg, no count_distinct double-exchange.
    unaudited = (
        clusters.where(F.col("cluster_size") > D59_MAX_CLUSTER)
        .groupBy("cluster_size")
        .agg(
            F.expr("count(*) div cluster_size").cast("long").alias("n_clusters")
        )
        .select(
            F.col("cluster_size").cast("long"),
            "n_clusters",
            F.lit(-1).cast("long").alias("worst_pair_ppm"),
            F.lit(-1).cast("long").alias("mean_pair_ppm"),
            F.lit(-1).cast("long").alias("drifted_clusters"),
        )
    )
    return audited.unionByName(unaudited)


# ---------------------------------------------------------------- d60
# Importance-weighted data selection (the DSIR recipe, Xie et al. 2023,
# "Data Selection for Language Models via Importance Resampling"): to
# grow a TARGET domain's training slice, score every candidate
# document by how much more predictable it is under a target-domain LM
# than under the general-corpus LM, and take the top of that
# importance ranking. Both LMs here are the repo's integer-ppm bigram
# models (d43's no-log discipline: the weight is the DIFFERENCE of the
# two mean bigram-probability ppms — the integer-exact monotone
# analog of DSIR's log-likelihood ratio, so Spark and DuckDB
# hash-match bit-for-bit). The base score comes from the stored
# d43_doc_lm_score MV (trained on the full corpus, every doc's bigram
# is in-vocabulary there, so the MV's inner-join mean equals the
# left-join mean the target side uses); the target LM is trained on
# the DSIR_TARGET source's slice and unseen bigrams contribute 0.

DSIR_TARGET = "src0"  # the domain being grown
DSIR_K = 50           # selection size — a LIMIT in the plan, corpus-independent


@query(
    "d60_dsir_select",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, source, lang, string_split(text, ' ') AS t FROM documents
    ),
    g AS (
      SELECT doc_id, source, lang,
             unnest(list_transform(generate_series(1, len(t)-1),
                                   i -> t[i])) AS w1,
             unnest(list_transform(generate_series(1, len(t)-1),
                                   i -> t[i+1])) AS w2
      FROM w WHERE len(t) >= 2
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM g GROUP BY 1, 2),
    c1 AS (SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
    p AS (
      SELECT c2.w1, c2.w2, (c2.c2 * {LM_PPM}) // c1.c1 AS p_ppm
      FROM c2 JOIN c1 USING (w1)
    ),
    base AS (
      SELECT g.doc_id, SUM(p.p_ppm) // COUNT(*) AS base_ppm
      FROM g JOIN p USING (w1, w2) GROUP BY g.doc_id
    ),
    c2t AS (SELECT w1, w2, COUNT(*) AS c2 FROM g
            WHERE source = '{DSIR_TARGET}' GROUP BY 1, 2),
    c1t AS (SELECT w1, SUM(c2) AS c1 FROM c2t GROUP BY 1),
    pt AS (
      SELECT c2t.w1, c2t.w2, (c2t.c2 * {LM_PPM}) // c1t.c1 AS pt_ppm
      FROM c2t JOIN c1t USING (w1)
    ),
    tgt AS (
      SELECT g.doc_id, any_value(g.source) AS source,
             any_value(g.lang) AS lang,
             SUM(COALESCE(pt.pt_ppm, 0)) // COUNT(*) AS target_ppm
      FROM g LEFT JOIN pt USING (w1, w2) GROUP BY g.doc_id
    ),
    weighted AS (
      SELECT t.doc_id, t.source, t.lang,
             CAST(b.base_ppm AS BIGINT) AS base_ppm,
             CAST(t.target_ppm AS BIGINT) AS target_ppm,
             CAST(t.target_ppm - b.base_ppm AS BIGINT) AS weight_ppm
      FROM tgt t JOIN base b USING (doc_id)
      WHERE t.source <> '{DSIR_TARGET}'
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY weight_ppm DESC, md5(CAST(doc_id AS VARCHAR)), doc_id
      ) AS rank
      FROM weighted
    )
    SELECT doc_id, source, lang, base_ppm, target_ppm, weight_ppm,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= {DSIR_K}
    """,
)
def d60_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection: the DSIR_K candidate documents
    (outside the target source) whose target-LM score most exceeds
    their general-corpus LM score.

    Spark shape:
      1. the base score is a SCAN of the stored d43_doc_lm_score MV
         (train-once/score-once — the expensive general LM is never
         re-derived here);
      2. the target LM trains on the target slice only: one
         (w1, w2)-keyed agg over the SLICE's bigram stream (map-side
         combined; slice-sized, not corpus-sized) + a dictionary-grain
         prefix agg/join — the d43 build shape at 1/|sources| cost;
      3. every candidate's bigram stream probes the target probability
         table through a BROADCAST left join (target LMs are
         domain-sized; were the target huge, the join keys on (w1,w2)
         — d43's exchange — with no shape change) and folds to one
         integer mean per doc;
      4. the importance ranking is TakeOrderedAndProject on (weight
         desc, md5 tie-break) with the corpus-independent DSIR_K LIMIT
         — never a global sort — and the final rank window sees
         exactly DSIR_K rows.
    Documents with < 2 tokens have no bigrams and no score under
    either LM; they are outside the selection universe by definition
    (d43 accounts for them in its 'short' branch)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", F.split(F.col("text"), " ").alias("__w")
    )
    stream = (
        docs.where(F.size(F.col("__w")) >= 2)
        .select(
            "doc_id",
            "source",
            "lang",
            F.explode(
                F.expr(
                    "zip_with("
                    "  slice(__w, 1, size(__w) - 1),"
                    "  slice(__w, 2, size(__w) - 1),"
                    "  (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("__g"),
        )
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("__g.w1").alias("w1"),
            F.col("__g.w2").alias("w2"),
        )
    )
    c2t = (
        stream.where(F.col("source") == DSIR_TARGET)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    c1t = c2t.groupBy("w1").agg(F.sum("c2").alias("c1"))
    pt = c2t.join(c1t, "w1").select(
        "w1", "w2", F.expr(f"(c2 * {LM_PPM}) div c1").alias("pt_ppm")
    )
    # candidates only: the target slice can never be selected (the
    # WHERE in the oracle), so its bigram stream is filtered out
    # BEFORE the broadcast join + per-doc fold, not after.
    tgt = (
        stream.where(F.col("source") != DSIR_TARGET)
        .join(F.broadcast(pt), ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.any_value("lang").alias("lang"),
            F.expr("sum(coalesce(pt_ppm, 0L)) div count(*)").alias(
                "target_ppm"
            ),
        )
    )
    base = _d43_doc_scores(spark, sf_dir).select(
        "doc_id", F.col("score").alias("base_ppm")
    )
    weighted = (
        tgt.join(base, "doc_id")
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("base_ppm").cast("long"),
            F.col("target_ppm").cast("long"),
            (F.col("target_ppm") - F.col("base_ppm"))
            .cast("long")
            .alias("weight_ppm"),
        )
    )
    top = weighted.orderBy(
        F.col("weight_ppm").desc(),
        F.md5(F.col("doc_id").cast("string")),
        "doc_id",
    ).limit(DSIR_K)
    w = Window.orderBy(
        F.col("weight_ppm").desc(),
        F.md5(F.col("doc_id").cast("string")),
        "doc_id",
    )
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------- d61
# Embedding outlier audit — the complement of d44's SemDeDup prune:
# SemDeDup (Abbas et al. 2023) drops near-DUPLICATE cluster members;
# curation pipelines equally prune OUTLIERS — vectors far from their
# own cell centroid, which at training time are noise, OCR garbage, or
# mis-embedded items (and at index time are the rows IVF recall suffers
# on, sitting near Voronoi boundaries). d61 reports, per trained cell,
# how many members sit below a cosine floor to their OWN centroid,
# with the cell's worst cosine riding along — the table a pipeline
# reads before deciding an outlier-prune pass is worth running.

D61_TAU = 0.20  # cosine floor (≈ the 5-10% tail on this corpus)


@query(
    "d61_centroid_outliers",
    oracle=f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    scored AS (
      SELECT a.cell,
             {_DOT_SQL.format(a='a.v', b='m.ce')}
               / (sqrt({_DOT_SQL.format(a='a.v', b='a.v')})
                  * sqrt({_DOT_SQL.format(a='m.ce', b='m.ce')})) AS c
      FROM assigned a JOIN cm m ON m.cid = a.cell
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) FILTER (WHERE c < {D61_TAU}) AS BIGINT)
             AS n_outliers,
           CAST((COUNT(*) FILTER (WHERE c < {D61_TAU}) * 1000000)
                // COUNT(*) AS BIGINT) AS outlier_ppm,
           MIN(c) AS min_cos
    FROM scored GROUP BY cell
    """,
)
def d61_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trained-cell outlier census: members whose cosine to their
    OWN centroid falls below D61_TAU, plus the cell's worst cosine.

    Spark shape: ONE scan of the stored trained-index MV joined to the
    broadcast k-row codebook on the cell key (every row meets exactly
    its own centroid — k-bounded, never a fan-out), a per-row cosine
    folding the STORED norm (d3's one-dot trick), and one
    map-side-combinable cell-grain agg — k rows out at any corpus
    size. The oracle retrains the codebook from scratch, so the gate
    re-proves assignment + outlier arithmetic end-to-end. min_cos is
    the raw double of the identical IEEE expression on both engines;
    the counts and ppm are integers."""
    assigned = _trained_assigned(spark, sf_dir)
    # centroid norms fold ONCE on the k-row broadcast side (bit-equal
    # to the oracle's inline sqrt per the d8 stored-norm equivalence)
    cm = _trained_centroids(spark, sf_dir).withColumn(
        "cnorm", F.sqrt(_dot_spark("ce", "ce"))
    )
    cos = _dot_spark("v", "ce") / (
        F.col("vnorm") * F.col("cnorm")
    )
    scored = assigned.join(
        F.broadcast(cm), F.col("cid") == F.col("cell")
    ).select("cell", cos.alias("c"))
    return scored.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum((F.col("c") < D61_TAU).cast("long"))
        .cast("long")
        .alias("n_outliers"),
        F.min("c").alias("min_cos"),
    ).select(
        F.col("cell").cast("long"),
        "n_members",
        "n_outliers",
        # derived from the agg outputs — one spelling of the predicate
        F.expr("(n_outliers * 1000000) div n_members")
        .cast("long")
        .alias("outlier_ppm"),
        "min_cos",
    )


# ---------------------------------------------------------------- d62
# Codebook quantization-error audit — the third leg of the trained-
# index QA trio: d49 proves the codebook equals a from-scratch retrain,
# d61 censuses hard OUTLIERS below a cosine floor, d62 measures the
# continuous DISTORTION the quantizer imposes per cell — mean and worst
# (1 - cosine-to-own-centroid) in integer ppm, plus each cell's fill
# share. This is the table an IVF/PQ tuning loop actually reads when
# deciding whether k is too small (high mean distortion everywhere),
# a cell should split (one cell dominates fill with high distortion),
# or another Lloyd round pays for itself (compare before/after mean).


@query(
    "d62_quantization_error",
    oracle=f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    scored AS (
      SELECT a.cell,
             CAST(floor(greatest(0.0,
               1.0 - {_DOT_SQL.format(a='a.v', b='m.ce')}
                 / (sqrt({_DOT_SQL.format(a='a.v', b='a.v')})
                    * sqrt({_DOT_SQL.format(a='m.ce', b='m.ce')}))
             ) * 1000000.0) AS BIGINT) AS err
      FROM assigned a JOIN cm m ON m.cid = a.cell
    ),
    cells AS (
      SELECT CAST(cell AS BIGINT) AS cell,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(err) AS BIGINT) AS s_err,
             CAST(MAX(err) AS BIGINT) AS max_err_ppm
      FROM scored GROUP BY cell
    )
    SELECT cell, n_members,
           CAST((n_members * 1000000) // SUM(n_members) OVER () AS BIGINT)
             AS fill_ppm,
           CAST(s_err // n_members AS BIGINT) AS mean_err_ppm,
           max_err_ppm
    FROM cells
    """,
)
def d62_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trained-cell quantization distortion: mean and max
    (1 - cosine to OWN centroid) in integer ppm, plus the cell's fill
    share of the corpus.

    Spark shape: d61's exact topology — ONE scan of the stored trained
    index MV joined to the broadcast k-row codebook on the cell key
    (k-bounded, never a fan-out), a per-row distortion folding the
    STORED vnorm, one map-side-combinable cell agg, and the fill share
    via a window over the k-row result frame (the d54 tiny-frame
    discipline — no second corpus pass for the total). Distortion is
    floored to ppm PER MEMBER, so the sums are integer-exact and
    order-independent on both engines; greatest(0, ..) clamps the
    -1-ppm artifact a cosine of 1+eps would floor to. k rows out at
    any corpus size."""
    assigned = _trained_assigned(spark, sf_dir)
    cm = _trained_centroids(spark, sf_dir).withColumn(
        "cnorm", F.sqrt(_dot_spark("ce", "ce"))
    )
    cos = _dot_spark("v", "ce") / (
        F.col("vnorm") * F.col("cnorm")
    )
    err = F.floor(
        F.greatest(F.lit(0.0), F.lit(1.0) - cos) * 1000000.0
    ).cast("long")
    cells = (
        assigned.join(F.broadcast(cm), F.col("cid") == F.col("cell"))
        .select("cell", err.alias("err"))
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("err").cast("long").alias("s_err"),
            F.max("err").cast("long").alias("max_err_ppm"),
        )
    )
    w_all = Window.partitionBy(F.lit(1))
    return (
        cells.withColumn("__total", F.sum("n_members").over(w_all))
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_members",
            F.expr("(n_members * 1000000) div __total")
            .cast("long")
            .alias("fill_ppm"),
            F.expr("s_err div n_members").cast("long").alias("mean_err_ppm"),
            "max_err_ppm",
        )
    )


# ---------------------------------------------------------------- d63
# Budget -> threshold solver: every corpus build runs d43's cut the
# OTHER way around at least once — "we can afford B tokens of this
# source; what is the minimal LM-quality score that fits the budget?"
# (CCNet picks head/middle/tail by fixed fractions; a production build
# solves for the cut that fills a token budget). d63 answers it per
# language over the SAME stored score MV: admit score values from the
# top of the distribution down while cumulative tokens stay within the
# per-language budget, and report the cut score + what it admits.

D63_BUDGET_PPM = 300_000  # keep the best-scoring ~30% of tokens


@query(
    "d63_budget_threshold",
    oracle=f"""
    WITH {_D43_SCORED_CTES},
    dom AS (
      SELECT lang, score,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(n_bigrams + 1) AS BIGINT) AS toks
      FROM scored GROUP BY lang, score
    ),
    cum AS (
      SELECT lang, score, docs, toks,
             SUM(toks) OVER (PARTITION BY lang ORDER BY score DESC)
               AS cum_toks,
             SUM(toks) OVER (PARTITION BY lang) AS total_toks
      FROM dom
    )
    SELECT lang,
           CAST(MIN(CASE WHEN cum_toks <= budget THEN score END) AS BIGINT)
             AS cut_score,
           CAST(COALESCE(SUM(CASE WHEN cum_toks <= budget THEN docs END), 0)
                AS BIGINT) AS docs_kept,
           CAST(COALESCE(MAX(CASE WHEN cum_toks <= budget THEN cum_toks END), 0)
                AS BIGINT) AS tokens_kept,
           CAST(budget AS BIGINT) AS budget_tokens,
           CAST(CASE WHEN budget = 0 THEN 0 ELSE
                (COALESCE(MAX(CASE WHEN cum_toks <= budget THEN cum_toks END), 0)
                 * 1000000) // budget END AS BIGINT) AS fill_ppm
    FROM (SELECT *, (total_toks * {D63_BUDGET_PPM}) // 1000000 AS budget
          FROM cum)
    GROUP BY lang, budget
    """,
)
def d63_budget_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language minimal LM-score cut that fits a token budget
    (D63_BUDGET_PPM of the language's scored tokens): the cut score,
    documents/tokens it admits, the budget, and the fill ratio in ppm.

    Spark shape — d43's value-domain discipline run in reverse:
      1. ONE (lang, score) agg over the stored `d43_doc_lm_score` MV
         (docs + token sums, map-side combined; tokens = n_bigrams + 1
         — every bigram of a scored doc is in the corpus-trained
         table, so n_bigrams is exactly len-1);
      2. a dictionary-sized lang window over the score DOMAIN rows
         (descending cumulative token sum — the d43 CDF transposed);
      3. one lang-grain conditional agg picks the cut: MIN score whose
         top-down cumulative tokens still fit the budget, with the
         admitted doc/token totals riding along. Langs whose TOP score
         bucket alone exceeds the budget emit cut_score NULL + zeros —
         disclosed, not dropped (the d59 sentinel discipline).
    Docs under 2 tokens have no LM score and are out of the budget's
    universe (d60's 'short' routing). All arithmetic integer div.
    Scale: the corpus pass lives in the MV build; the query touches
    only (lang, score)-domain rows — d43's exact class."""
    scored = _d43_doc_scores(spark, sf_dir)
    dom = scored.groupBy("lang", "score").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum(F.col("n_bigrams") + 1).cast("long").alias("toks"),
    )
    wl = Window.partitionBy("lang")
    cum = dom.select(
        "lang",
        "score",
        "docs",
        "toks",
        F.sum("toks").over(wl.orderBy(F.col("score").desc())).alias("cum_toks"),
        F.sum("toks").over(wl).alias("total_toks"),
    ).withColumn(
        "budget", F.expr(f"(total_toks * {D63_BUDGET_PPM}) div 1000000")
    )
    admitted = F.col("cum_toks") <= F.col("budget")
    return cum.groupBy("lang", "budget").agg(
        F.min(F.when(admitted, F.col("score"))).cast("long").alias("cut_score"),
        F.coalesce(F.sum(F.when(admitted, F.col("docs"))), F.lit(0))
        .cast("long")
        .alias("docs_kept"),
        F.coalesce(F.max(F.when(admitted, F.col("cum_toks"))), F.lit(0))
        .cast("long")
        .alias("tokens_kept"),
    ).select(
        "lang",
        "cut_score",
        "docs_kept",
        "tokens_kept",
        F.col("budget").cast("long").alias("budget_tokens"),
        # budget = 0 only for a language with < 4 scored tokens —
        # impossible on real corpora but the guard keeps the query
        # ANSI-safe (div-by-zero would throw under a vanilla session)
        F.expr("IF(budget = 0, 0, (tokens_kept * 1000000) div budget)")
        .cast("long")
        .alias("fill_ppm"),
    )


# ---------------------------------------------------------------- d64
# DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
# Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
# domains the proxy LM finds HARD (low LM score = high excess loss)
# get their sampling weight multiplied UP each round, then the weight
# vector renormalizes. The paper's form is per-batch Group DRO; d64 is
# the corpus-level discretization an offline recipe build runs — T=2
# unrolled multiplicative-weights rounds (d50's unrolled-iteration
# discipline) in exact integer ppm over the stored d43 score MV.
#
# Per source s (scores are the d43 integer-ppm bigram LM scores):
#   score_mean_s = sum(doc score) div docs         (integer mean)
#   excess_s     = max(0, corpus_mean - score_mean_s)
#   w_0          = natural token share, ppm
#   w_t_raw      = w_{t-1} * (1e6 + excess_s) div 1e6
#   w_t          = w_t_raw * 1e6 div sum(w_t_raw)  (renormalize, ppm)
# The update factor is bounded in [1e6, 2e6] (scores are ppm
# probabilities), and every step is integer division on non-negative
# values, where truncation == floor — so Spark and DuckDB agree
# bit-for-bit, the d49/d50 no-float discipline applied to a mixture
# optimizer. Docs under 2 tokens have no LM score and sit outside the
# reweighting universe (d60's 'short' routing).


@query(
    "d64_doremi_mix",
    oracle=f"""
    WITH {_D43_SCORED_CTES},
    ds AS (
      SELECT s.doc_id, d.source, s.score, s.n_bigrams + 1 AS toks
      FROM scored s JOIN documents d USING (doc_id)
    ),
    src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS docs,
             CAST(SUM(toks) AS BIGINT) AS toks,
             CAST(SUM(score) // COUNT(*) AS BIGINT) AS score_mean
      FROM ds GROUP BY source
    ),
    ex AS (
      SELECT *,
             CAST(GREATEST(0,
               (SELECT SUM(score) // COUNT(*) FROM ds) - score_mean)
               AS BIGINT) AS excess_ppm,
             CAST((toks * 1000000) // SUM(toks) OVER () AS BIGINT)
               AS w0_ppm
      FROM src
    ),
    r1 AS (
      SELECT *, (w0_ppm * (1000000 + excess_ppm)) // 1000000 AS w1_raw
      FROM ex
    ),
    n1 AS (
      SELECT *, CAST((w1_raw * 1000000) // SUM(w1_raw) OVER ()
                     AS BIGINT) AS w1_ppm
      FROM r1
    ),
    r2 AS (
      SELECT *, (w1_ppm * (1000000 + excess_ppm)) // 1000000 AS w2_raw
      FROM n1
    )
    SELECT source, docs, toks, score_mean, excess_ppm, w0_ppm, w1_ppm,
           CAST((w2_raw * 1000000) // SUM(w2_raw) OVER () AS BIGINT)
             AS w2_ppm
    FROM r2
    """,
)
def d64_doremi_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DoReMi-style mixture weights: natural token share
    w0, then two integer multiplicative-weights rounds that upweight
    sources whose documents score BELOW the corpus mean under the
    stored d43 bigram LM (high excess loss = hard domain), each round
    renormalized to ppm.

    Complements the existing mixture planners: d18 reshapes by corpus
    COUNTS (temperature), d21/d54/d63 budget by SCORE CUTS within a
    language; d64 is the loss-FEEDBACK reweighting across sources —
    the third mixture law a recipe build consults.

    Spark shape: the per-doc score relation is the stored
    `d43_doc_lm_score` MV, joined doc-grain to the narrow (doc_id,
    source) projection (one co-keyed exchange — the d56 parent-join
    class); ONE source-grain agg collapses the corpus; everything
    after runs on dictionary-sized source-domain rows (20 here, a few
    hundred in production), where the corpus totals ride a 1-row
    broadcast anchor and the renormalization windows are whole-frame
    windows over the source domain — the sanctioned tiny-relation
    class (d60's post-LIMIT precedent). At 100 TB the only corpus-
    volume work is the MV scan + the doc-grain join."""
    scored = _d43_doc_scores(spark, sf_dir)
    docs_src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ds = scored.join(docs_src, "doc_id").select(
        "source", "score", (F.col("n_bigrams") + 1).alias("toks")
    )
    src = ds.groupBy("source").agg(
        F.count("*").cast("long").alias("docs"),
        F.sum("toks").cast("long").alias("toks"),
        F.expr("sum(score) div count(*)").cast("long").alias("score_mean"),
        F.sum("score").alias("__ssum"),
    )
    tot = src.agg(
        F.expr("sum(__ssum) div sum(docs)").alias("__cmean"),
        F.sum("toks").alias("__ttot"),
    )
    ex = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "docs",
        "toks",
        "score_mean",
        F.greatest(F.lit(0).cast("long"), F.col("__cmean") - F.col("score_mean"))
        .cast("long")
        .alias("excess_ppm"),
        F.expr("(toks * 1000000) div __ttot").cast("long").alias("w0_ppm"),
    )
    wall = Window.partitionBy()
    r1 = ex.withColumn(
        "w1_raw", F.expr("(w0_ppm * (1000000 + excess_ppm)) div 1000000")
    ).withColumn("__s1", F.sum("w1_raw").over(wall))
    n1 = r1.withColumn(
        "w1_ppm", F.expr("(w1_raw * 1000000) div __s1").cast("long")
    )
    r2 = n1.withColumn(
        "w2_raw", F.expr("(w1_ppm * (1000000 + excess_ppm)) div 1000000")
    ).withColumn("__s2", F.sum("w2_raw").over(wall))
    return r2.select(
        "source",
        "docs",
        "toks",
        "score_mean",
        "excess_ppm",
        "w0_ppm",
        "w1_ppm",
        F.expr("(w2_raw * 1000000) div __s2").cast("long").alias("w2_ppm"),
    )


# ---------------------------------------------------------------- d65
# Cluster-purity audit against EXTERNAL labels: d49 trains the
# codebook, d61/d62 audit it geometrically (outliers, distortion);
# d65 is the third QA leg — does the learned cell structure agree
# with the ground-truth `label` column that rides the embeddings
# table? Per trained cell: member count, distinct labels, the
# majority label (argmax count, smaller label wins ties — a11's
# convention), and purity in ppm (majority share). The standard
# external clustering-quality census (purity is NMI's cheap exact
# cousin) every embedding-space curation recipe checks before
# trusting cell-local dedup decisions (d44's SemDeDup prunes WITHIN
# cells — low-purity cells mean it would prune across true classes).


@query(
    "d65_cluster_purity",
    oracle=f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    cl AS (
      SELECT cell, label, COUNT(*) AS c FROM assigned GROUP BY cell, label
    ),
    top AS (
      SELECT cell, label AS top_label, c AS top_n FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
                                     ORDER BY c DESC, label) AS rn
        FROM cl) WHERE rn = 1
    ),
    per AS (
      SELECT cell, CAST(SUM(c) AS BIGINT) AS members,
             CAST(COUNT(*) AS BIGINT) AS n_labels
      FROM cl GROUP BY cell
    )
    SELECT p.cell, p.members, p.n_labels,
           CAST(t.top_label AS BIGINT) AS top_label,
           CAST(t.top_n AS BIGINT) AS top_n,
           CAST((t.top_n * 1000000) // p.members AS BIGINT) AS purity_ppm
    FROM per p JOIN top t USING (cell)
    """,
)
def d65_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trained-cell label purity: members, distinct labels, the
    majority label and its count, purity in ppm.

    Spark shape: ONE scan of the stored `ivf_trained_assigned` index
    MV -> (cell, label) agg (map-side combined; at most k x |labels|
    rows survive the exchange) -> the majority label as a row_number
    window over the k x |labels| relation + a conditional max in the
    k-row cell agg. r15: this replaces a max_by over a struct — a
    sort-based aggregate (struct buffers are not hash-aggregable), so
    the old final agg compiled to Sort+SortAggregate pairs on both
    sides of its exchange; the window sorts once and the following
    HashAggregate reuses the window's cell partitioning (no extra
    exchange; interleaved A/B med 0.52 -> 0.47, parity exact). The
    bounded window input is k x |labels| rows at any corpus size. The
    oracle re-derives the same census through the full Lloyd unroll,
    so the driver gate re-proves the stored index against retraining
    from scratch (the d25/d61/d62 contract). At 100x vectors the only
    growing stage is the map-side first agg — d61's 0.92x class."""
    assigned = _trained_assigned(spark, sf_dir)
    cl = assigned.groupBy("cell", "label").agg(F.count("*").alias("c"))
    w = Window.partitionBy("cell").orderBy(F.col("c").desc(), F.col("label"))
    return (
        cl.withColumn("rn", F.row_number().over(w))
        .groupBy("cell")
        .agg(
            F.sum("c").cast("long").alias("members"),
            F.count("*").cast("long").alias("n_labels"),
            F.max(F.when(F.col("rn") == 1, F.col("label")))
            .cast("long")
            .alias("top_label"),
            F.max("c").cast("long").alias("top_n"),
        )
        .select(
            "cell",
            "members",
            "n_labels",
            "top_label",
            "top_n",
            F.expr("(top_n * 1000000) div members").cast("long").alias("purity_ppm"),
        )
    )


# ---------------------------------------------------------------- d66
# nprobe sweep — the IVF tuning curve: recall@3 of exact in-cell
# search when each probe visits its nprobe NEAREST cells (by centroid
# cosine), for nprobe in {1, 2, 4}, against the global exact top-3
# ground truth. d25/d25b measure ONE operating point (nprobe=1, the
# PQ approximation); d66 is the table an operator actually reads to
# pick nprobe for a latency budget — the recall-vs-fanout law of the
# trained index. Ground-truth leg is the d42 exact-audit class:
# probes x corpus, bounded by the family's fixed IVF_PROBES count.

D66_NPROBES = (1, 2, 4)


@query(
    "d66_nprobe_sweep",
    oracle=f"""
    WITH {_TRAINED_PREAMBLE_SQL},
    cr AS (
      SELECT query_id, cid, crank FROM (
        SELECT q.vec_id AS query_id, m.cid,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY {_DOT_SQL.format(a='q.v', b='m.ce')}
                          / (sqrt({_DOT_SQL.format(a='q.v', b='q.v')})
                             * sqrt({_DOT_SQL.format(a='m.ce', b='m.ce')}))
                          DESC, m.cid) AS crank
        FROM q, cm m)
    ),
    np AS (SELECT CAST(unnest([1, 2, 4]) AS BIGINT) AS nprobe),
    sc AS (
      SELECT n.nprobe, c.query_id, a.vec_id AS candidate_id,
             {_DOT_SQL.format(a='q.v', b='a.v')}
               / (sqrt({_DOT_SQL.format(a='q.v', b='q.v')})
                  * sqrt({_DOT_SQL.format(a='a.v', b='a.v')})) AS cosine
      FROM np n
      JOIN cr c ON c.crank <= n.nprobe
      JOIN q ON q.vec_id = c.query_id
      JOIN assigned a ON a.cell = c.cid AND a.vec_id <> c.query_id
    ),
    swept AS (
      SELECT nprobe, query_id, candidate_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                                     ORDER BY cosine DESC, candidate_id) AS rn
        FROM sc) WHERE rn <= 3
    ),
    gts AS (
      SELECT q.vec_id AS query_id, a.vec_id AS candidate_id,
             {_DOT_SQL.format(a='q.v', b='a.v')}
               / (sqrt({_DOT_SQL.format(a='q.v', b='q.v')})
                  * sqrt({_DOT_SQL.format(a='a.v', b='a.v')})) AS cosine
      FROM q JOIN assigned a ON a.vec_id <> q.vec_id
    ),
    gtt AS (
      SELECT query_id, candidate_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, candidate_id) AS rn
        FROM gts) WHERE rn <= 3
    ),
    perq AS (
      SELECT s.nprobe, s.query_id,
             COUNT(*) AS k_ret, COUNT(g.candidate_id) AS hits
      FROM swept s
      LEFT JOIN gtt g ON g.query_id = s.query_id
                     AND g.candidate_id = s.candidate_id
      GROUP BY 1, 2
    )
    SELECT nprobe,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(k_ret) AS BIGINT) AS k_returned,
           CAST(SUM(hits) AS BIGINT) AS hits,
           CAST((SELECT COUNT(*) FROM gtt) AS BIGINT) AS true_k,
           CAST((SUM(hits) * 1000000)
                // (SELECT COUNT(*) FROM gtt) AS BIGINT) AS recall_ppm
    FROM perq GROUP BY nprobe
    """,
)
def d66_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 vs nprobe over the stored trained IVF index: for each
    nprobe in {1,2,4}, every bounded probe searches its nprobe
    centroid-nearest cells exactly and the top-3 is scored against
    the global exact top-3 ground truth.

    Spark shape — ONE pass of the shared probe kernel
    (`vecops.probe_topk`) over the index MV computes both legs:
      1. the bounded probes (IVF_PROBES rows) and the k-row codebook
         are collected concurrently; each probe's cells are ranked
         driver-side by `vecops.fold_cos` (ties to the smaller cid),
         the oracle's list_reduce cosine ordering;
      2. kernel leg 0 is the global truth and leg r the probe's r-th
         routed cell, each keeping its batch-local top-3;
      3. one window per (query_id, leg) merges the local tops, and
         one (query_id, candidate_id) aggregate folds the legs: `gt`
         marks leg-0 rows and `crank` is the candidate's routed leg
         (a candidate sits in one cell). The nprobe sweep is a 3-row
         explode whose top-3 merge runs on <= maxnp x 3 rows per
         query; true_k rides along as a global-window sum, so the
         kernel has one consumer chain and runs once.
    All counts integer; recall_ppm is integer div."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    cm = _trained_centroids(spark, sf_dir)
    assigned = _trained_assigned(spark, sf_dir)
    with ThreadPoolExecutor(max_workers=2) as pool:
        pf = pool.submit(collect_vectors, _ivf_probes(assigned), "qe")
        cf = pool.submit(collect_vectors, cm, "ce")
        P, cb = pf.result(), cf.result()
    route = np.zeros((len(P["query_id"]), 0), dtype=np.int64)
    if len(route) and len(cb["cid"]):
        corder = np.argsort(cb["cid"], kind="stable")
        cids, CE = cb["cid"][corder], cb["ce"][corder]
        ccos = fold_cos(P["qe"], P["qnorm"], CE, fold_norm(CE))
        route = cids[np.argsort(-ccos, axis=1, kind="stable")[:, : max(D66_NPROBES)]]
    local = probe_topk(
        spark,
        (P["query_id"], P["qe"], P["qnorm"]),
        assigned.selectExpr(
            "vec_id AS candidate_id", "v AS cv", "vnorm AS cnorm", "cell"
        ),
        3,
        (None,) + tuple(("cell", route[:, r], True) for r in range(route.shape[1])),
    )
    wc = Window.partitionBy("query_id", "leg").orderBy(
        F.col("cosine").desc(), F.col("candidate_id")
    )
    ranked = (
        local.withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") <= 3)
    )
    cand = ranked.groupBy("query_id", "candidate_id").agg(
        F.max(F.col("leg") == 0).alias("gt"),
        F.min(F.when(F.col("leg") > 0, F.col("leg"))).alias("crank"),
        F.max("cosine").alias("cosine"),
    ).withColumn(
        "true_k",
        F.sum(F.when(F.col("gt"), F.lit(1)).otherwise(F.lit(0)))
        .over(Window.partitionBy(F.lit(1)))
        .cast("long"),
    )
    nps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in D66_NPROBES])
        ).alias("nprobe")
    )
    ws = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("candidate_id")
    )
    swept = (
        nps.join(cand, F.col("crank") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= 3)
        .select("nprobe", "query_id", "candidate_id", "gt", "true_k")
    )
    perq = swept.groupBy("nprobe", "query_id").agg(
        F.count("*").alias("k_ret"),
        F.count_if(F.col("gt")).alias("hits"),
        F.max("true_k").alias("true_k"),
    )
    return (
        perq.groupBy("nprobe")
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum("k_ret").cast("long").alias("k_returned"),
            F.sum("hits").cast("long").alias("hits"),
            F.max("true_k").alias("true_k"),
        )
        .select(
            "nprobe",
            "n_queries",
            "k_returned",
            "hits",
            "true_k",
            F.expr("(hits * 1000000) div true_k").cast("long").alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------- d67
# Quality-filter agreement — every corpus build runs at least two
# quality filters (a cheap heuristic at ingest, an LM scorer offline)
# and has to decide whether the cheap one can gate early. d67 is that
# decision table: per language, the 2x2 census of the heuristic
# filter (t_quality_score >= 2 — length band + lexical diversity +
# stopword band) against the LM filter (stored d43 score >= the
# language's exact top-half cut), with observed and chance-expected
# agreement in ppm. Cohen's kappa is (po - pe) / (1 - pe) off these
# two columns — left to the reader because a NEGATIVE kappa's integer
# division floors in DuckDB but truncates in Spark; po/pe are
# non-negative, so the emitted columns are engine-exact.

D67_HEUR_CUT = 2  # heuristic passes at quality_score >= 2 (of 3)


@query(
    "d67_filter_agreement",
    oracle=f"""
    WITH {_D43_SCORED_CTES},
    q AS (
      SELECT doc_id,
             CASE WHEN
               CASE WHEN len(string_split(text, ' '))
                         BETWEEN 20 AND 80 THEN 1 ELSE 0 END
             + CASE WHEN CAST(len(list_distinct(string_split(text, ' ')))
                         AS DOUBLE) / len(string_split(text, ' ')) >= 0.5
                    THEN 1 ELSE 0 END
             + CASE WHEN CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'that', 'for', 'on'))) AS DOUBLE)
                         / len(string_split(text, ' '))
                         BETWEEN 0.01 AND 0.6 THEN 1 ELSE 0 END
               >= {D67_HEUR_CUT} THEN 1 ELSE 0 END AS hpass
      FROM documents
    ),
    dom AS (
      SELECT lang, score, COUNT(*) AS docs FROM scored GROUP BY 1, 2
    ),
    cum AS (
      SELECT lang, score,
             SUM(docs) OVER (PARTITION BY lang ORDER BY score DESC)
               AS cum_docs,
             SUM(docs) OVER (PARTITION BY lang) AS total_docs
      FROM dom
    ),
    cut AS (
      SELECT lang, CAST(MAX(score) AS BIGINT) AS cut_score FROM cum
      WHERE cum_docs * 2 >= total_docs
      GROUP BY lang
    ),
    cells AS (
      SELECT s.lang, c.cut_score,
             q.hpass, CASE WHEN s.score >= c.cut_score THEN 1 ELSE 0 END
               AS lpass
      FROM scored s JOIN q USING (doc_id) JOIN cut c USING (lang)
    ),
    agg AS (
      SELECT lang, cut_score,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(hpass * lpass) AS BIGINT) AS both_pass,
             CAST(SUM(hpass * (1 - lpass)) AS BIGINT) AS heur_only,
             CAST(SUM((1 - hpass) * lpass) AS BIGINT) AS lm_only,
             CAST(SUM((1 - hpass) * (1 - lpass)) AS BIGINT) AS neither
      FROM cells GROUP BY 1, 2
    )
    SELECT lang, cut_score, n_docs, both_pass, heur_only, lm_only, neither,
           CAST(((both_pass + neither) * 1000000) // n_docs AS BIGINT)
             AS agree_ppm,
           CAST(
             ((((both_pass + heur_only) * 1000000) // n_docs)
              * (((both_pass + lm_only) * 1000000) // n_docs)) // 1000000
           + ((((lm_only + neither) * 1000000) // n_docs)
              * (((heur_only + neither) * 1000000) // n_docs)) // 1000000
             AS BIGINT) AS expected_agree_ppm
    FROM agg
    """,
)
def d67_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language 2x2 agreement census between the cheap heuristic
    quality filter and the LM quality filter, with observed and
    chance-expected agreement in ppm.

    Spark shape: COMPOSES the two parent queries (the d25 stance —
    the gate pins that the composition equals the oracle's from-
    scratch derivation): t_quality_score provides the heuristic bit,
    the stored d43 score MV provides the LM side; the per-lang median
    cut comes off the (lang, score) value DOMAIN (d63's transposed-CDF
    machinery — dictionary-sized rows, never a per-doc sort); the 2x2
    fold is one conditional agg. The doc-grain join is the d56
    parent-join class; expected agreement multiplies ppm FACTORS (not
    raw counts), so nothing overflows int64 at any corpus size."""
    from .textstats import t_quality_score

    heur = t_quality_score(spark, sf_dir).select(
        "doc_id",
        F.when(F.col("quality_score") >= D67_HEUR_CUT, 1)
        .otherwise(0)
        .alias("hpass"),
    )
    scored = _d43_doc_scores(spark, sf_dir)
    dom = scored.groupBy("lang", "score").agg(F.count("*").alias("docs"))
    wl = Window.partitionBy("lang")
    cut = (
        dom.select(
            "lang",
            "score",
            F.sum("docs").over(wl.orderBy(F.col("score").desc())).alias("cum_docs"),
            F.sum("docs").over(wl).alias("total_docs"),
        )
        .where(F.col("cum_docs") * 2 >= F.col("total_docs"))
        .groupBy("lang")
        .agg(F.max("score").alias("cut_score"))
    )
    cells = (
        scored.join(heur, "doc_id")
        .join(F.broadcast(cut), "lang")
        .select(
            "lang",
            "cut_score",
            "hpass",
            F.when(F.col("score") >= F.col("cut_score"), 1)
            .otherwise(0)
            .alias("lpass"),
        )
    )
    agg = cells.groupBy("lang", "cut_score").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.expr("hpass * lpass")).cast("long").alias("both_pass"),
        F.sum(F.expr("hpass * (1 - lpass)")).cast("long").alias("heur_only"),
        F.sum(F.expr("(1 - hpass) * lpass")).cast("long").alias("lm_only"),
        F.sum(F.expr("(1 - hpass) * (1 - lpass)")).cast("long").alias("neither"),
    )
    return agg.select(
        "lang",
        "cut_score",
        "n_docs",
        "both_pass",
        "heur_only",
        "lm_only",
        "neither",
        F.expr("((both_pass + neither) * 1000000) div n_docs")
        .cast("long")
        .alias("agree_ppm"),
        F.expr(
            "((((both_pass + heur_only) * 1000000) div n_docs)"
            " * (((both_pass + lm_only) * 1000000) div n_docs)) div 1000000"
            " + ((((lm_only + neither) * 1000000) div n_docs)"
            " * (((heur_only + neither) * 1000000) div n_docs)) div 1000000"
        )
        .cast("long")
        .alias("expected_agree_ppm"),
    )


# ---------------------------------------------------------------- d68
# LSH banding design table — the planner every MinHash deployment
# consults before picking (bands, rows-per-band): detection
# probability P(detect | jaccard = s) = 1 - (1 - s^r)^b across the
# candidate grid, with d2's DEPLOYED operating point (N_BANDS x
# ROWS_PER_BAND) flagged. d37 measures the deployed curve empirically
# against planted pairs; d68 is the analytic side of that audit — the
# S-curves a tuning review compares those measurements to.
#
# Exactness: the probability needs s^r and (1-s^r)^b. pow() is NOT
# correctly rounded on every platform, so both engines evaluate the
# SAME left-associated multiplication chains from the SAME SQL text
# (_D68_SQL is passed verbatim to spark.sql AND to DuckDB) — every
# multiply is an IEEE double op in the same order, so the doubles are
# bit-identical by construction. The grid is dictionary-sized (64
# rows); the query reads no table at all.

D68_BANDS = (2, 4, 8, 16)
D68_ROWS = (2, 3, 4, 6)
D68_S_PPM = (300_000, 500_000, 700_000, 900_000)


def _d68_chain(var: str, n: int) -> str:
    return "(" + " * ".join([var] * n) + ")"


def _d68_sql() -> str:
    rows = ", ".join(
        f"({b}, {r}, {s}, {1 if (b, r) == (N_BANDS, ROWS_PER_BAND) else 0})"
        for b in D68_BANDS
        for r in D68_ROWS
        for s in D68_S_PPM
    )
    sr = " ".join(
        f"WHEN {r} THEN {_d68_chain('p', r)}" for r in D68_ROWS
    )
    miss = " ".join(
        f"WHEN {b} THEN {_d68_chain('m1', b)}" for b in D68_BANDS
    )
    return f"""
    WITH grid AS (
      SELECT * FROM (VALUES {rows})
        AS t(bands, rows_per_band, s_ppm, deployed)
    ),
    base AS (
      SELECT *, CAST(s_ppm AS DOUBLE) / 1000000.0 AS p FROM grid
    ),
    sr AS (
      SELECT *, CASE rows_per_band {sr} END AS psr FROM base
    ),
    q AS (
      SELECT *, 1.0 - psr AS m1 FROM sr
    )
    SELECT CAST(bands AS BIGINT) AS bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           CAST(bands * rows_per_band AS BIGINT) AS n_hashes,
           CAST(s_ppm AS BIGINT) AS s_ppm,
           CAST(deployed AS BIGINT) AS deployed,
           1.0 - (CASE bands {miss} END) AS detect_prob
    FROM q
    """


_D68_SQL = _d68_sql()


@query("d68_lsh_design", oracle=_D68_SQL)
def d68_lsh_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (bands, rows-per-band, jaccard) -> detection-probability
    design grid, with d2's deployed operating point flagged. Both
    engines run the IDENTICAL SQL text (see _D68_SQL) so every double
    is bit-identical; the relation is 64 parameter rows and touches
    no data — the one registry query whose cost is zero at any
    corpus size (the dedup COST lives in d2; this is its planner)."""
    return spark.sql(_D68_SQL)


# ---------------------------------------------------------------- d69
# IVF capacity-planning card (r12, the d68 stance applied to the
# trained index): the corpus-size -> cell-count law `d49_cells` as a
# queryable relation — a sizing ladder from test-SF to 10^12 vectors
# plus the live corpus's deployed row, each with its mean cell
# occupancy. This is the card a reviewer reads to answer "is the
# index still cell-local at MY scale?" without re-deriving the
# formula; the formula itself is the SAME text both engines run
# (_ivf_cells_sql), so the card can never drift from the law the
# trainer applies.

D69_LADDER = (
    500, 2_000, 200_000, 5_000_000, 100_000_000,
    10_000_000_000, 1_000_000_000_000,
)


def _d69_sql() -> str:
    ladder = ", ".join(f"({n})" for n in D69_LADDER)
    cells = _ivf_cells_sql("corpus_n")
    return f"""
    WITH allrows AS (
      SELECT corpus_n, 0 AS deployed
      FROM (VALUES {ladder}) AS t(corpus_n)
      UNION ALL
      SELECT COUNT(*) AS corpus_n, 1 AS deployed FROM embeddings
    )
    SELECT CAST(corpus_n AS BIGINT) AS corpus_n,
           CAST(deployed AS BIGINT) AS deployed,
           CAST({cells} AS BIGINT) AS cells,
           CAST(FLOOR(corpus_n / CAST({cells} AS DOUBLE)) AS BIGINT)
             AS mean_per_cell
    FROM allrows
    """


_D69_SQL = _d69_sql()


@query("d69_ivf_design", oracle=_D69_SQL)
def d69_ivf_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-size -> IVF-cell-count design ladder with the live
    corpus flagged. Identical SQL text on both engines (the d68
    discipline): bin()/FLOOR/CASE arithmetic is integer-exact, the
    one division is IEEE-exact under 2^53, so every value is
    bit-identical. Cost: a metadata-grade COUNT(*) on embeddings plus
    8 parameter rows."""
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView(
        "embeddings"
    )
    return spark.sql(_D69_SQL)


# ------------------------------------------------------------- d70
# Inference micro-batch construction: length-bucket the corpus so a
# serving/scoring pass pads each sequence only to its BUCKET boundary
# (not the global max), then account for the padding the bucketing
# still wastes. The bucket ladder is powers of two from 32 to 4096
# with a ceil-to-multiple-of-4096 tail — the shape every batched
# tokenizer/inference stack uses.
D70_BATCH_SIZE = 32


def _d70_bucket_case(toks: str) -> str:
    """ONE bucket expression, shared verbatim by both engines (the
    d68/d69 discipline): a CASE ladder over integer comparisons plus
    integer ceil math for the tail. The tail ceil wraps an explicit
    FLOOR before the BIGINT cast: a bare CAST(DOUBLE AS BIGINT)
    diverges between engines (DuckDB rounds to nearest, Spark
    truncates — toks=7000 gave 12288 vs 8192; ADVICE r13), while
    FLOOR over a positive exact-magnitude double is identical on
    both."""
    ladder = " ".join(
        f"WHEN {toks} <= {b} THEN {b}" for b in (32, 64, 128, 256, 512, 1024, 2048, 4096)
    )
    return (
        f"CASE {ladder} ELSE "
        f"(CAST(FLOOR(({toks} + 4095) / 4096) AS BIGINT)) * 4096 END"
    )


def _d70_sql() -> str:
    bucket = _d70_bucket_case("toks")
    return f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                  AS BIGINT) AS toks
      FROM documents
    ),
    b AS (SELECT doc_id, toks, {bucket} AS bucket_len FROM t)
    SELECT bucket_len,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(FLOOR((COUNT(*) + {D70_BATCH_SIZE - 1}) / {D70_BATCH_SIZE})
                AS BIGINT) AS n_batches,
           CAST(SUM(toks) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket_len AS BIGINT) AS padded_tokens,
           CAST(FLOOR((COUNT(*) * bucket_len - SUM(toks)) * 1000000.0
                      / (COUNT(*) * bucket_len)) AS BIGINT) AS waste_ppm
    FROM b
    GROUP BY bucket_len
    """


@query("d70_length_bucket_batches", oracle=_d70_sql())
def d70_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batch plan: per power-of-two token
    bucket, how many docs land there, how many micro-batches of
    {D70_BATCH_SIZE} they form, and the padding waste (ppm of padded
    tokens) the bucket boundary still costs. The d55 packing card
    answers 'how full are my TRAINING sequences'; this one answers
    'what does my SCORING/inference pass pay for padding' — the two
    ends of the same budget.

    Dialect note: `len(regexp_extract_all(...))` is the DuckDB
    spelling and `size(regexp_extract_all(..., 0))` the Spark one, so
    the token count is the only per-engine line; the bucket ladder,
    batch ceil, and waste ppm are ONE shared SQL text
    (`_d70_bucket_case`), all integer-exact (the ppm division is
    FLOOR over positive integers scaled by 1e6 — identical on both
    engines; the ceil uses 1000000.0 to force the IEEE-exact double
    path before FLOOR, the d68 pattern).

    Scale shape: one map-only projection (token count + bucket CASE)
    then ONE map-side-combinable agg on bucket_len — a ~10-row
    dictionary-grain output at any corpus size; no window, no join,
    no second pass. At 100 TB this is a single scan."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        )
        .cast("long")
        .alias("toks"),
    )
    b = t.select("doc_id", "toks", F.expr(_d70_bucket_case("toks")).alias("bucket_len"))
    n = F.count("*")
    padded = n * F.col("bucket_len")
    return b.groupBy("bucket_len").agg(
        n.cast("long").alias("n_docs"),
        F.floor((n + (D70_BATCH_SIZE - 1)) / D70_BATCH_SIZE)
        .cast("long")
        .alias("n_batches"),
        F.sum("toks").cast("long").alias("real_tokens"),
        padded.cast("long").alias("padded_tokens"),
        F.floor((padded - F.sum("toks")) * 1000000.0 / padded)
        .cast("long")
        .alias("waste_ppm"),
    )


# ------------------------------------------------------------- d71
# Diversity-aware eval-set selection: bucket the corpus by a SHORT
# SimHash prefix (8 bits -> 256 content regions per language), take
# ONE deterministic representative per (lang, bucket), and emit the
# densest regions first. An eval set drawn this way covers content
# space instead of oversampling the head — the selection-side
# complement to d44's semantic prune.
D71_BITS = 8
D71_TOPK = 100


@query(
    "d71_eval_diversity_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_distinct(string_split(text, ' ')) AS tk
      FROM documents
    ),
    sig AS (
      SELECT doc_id, lang,
             list_reduce(
               list_transform(range(0, {D71_BITS}), j ->
                 CASE WHEN list_reduce(
                        list_transform(tk, t -> 2 * ({_BIT_SQL}) - 1),
                        (a, x) -> a + x) >= 0
                      THEN 1 ELSE 0 END),
               (a, x) -> a * 2 + x) AS bucket
      FROM toks
    )
    SELECT lang,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS bucket_size,
           CAST(MIN(doc_id) AS BIGINT) AS rep_doc_id
    FROM sig
    GROUP BY lang, bucket
    ORDER BY bucket_size DESC, lang, bucket
    LIMIT {D71_TOPK}
    """,
)
def d71_eval_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One representative document per (lang, 8-bit SimHash bucket),
    densest content regions first, capped at {D71_TOPK} rows: a
    diversity-aware eval sample. The bucket is the first {D71_BITS}
    sign bits of d6's SimHash (same `_BIT_SQL` nibble arithmetic on
    the oracle side, same bit values on the Spark side — verified by
    the oracle gate AND a plain-Python md5 recomputation), folded
    MSB-first into an integer; the representative is min(doc_id) —
    deterministic and stable under re-runs (documented bias toward
    early ids; swap in a min-md5 arg-pick for an unbiased draw).

    Spark-side cost shaping: the oracle's nibble arithmetic calls
    md5(token) once per BIT; here each distinct token hashes ONCE
    into its first-byte value (conv of two hex chars), and the
    {D71_BITS} sign-folds run over those precomputed ints — bit j is
    (v div 2^(j+4 if j<4 else j-4)) % 2, the same LSB-first-within-
    nibble order as d6's `_BIT_SQL` (char 1 is the HIGH nibble of v).
    Measured 1.88 -> 1.33 s calm solo at sf0.1 for identical output
    (in-harness 1.45 under its 2.0 pin).

    Scale shape: the signature is map-only ({D71_BITS} integer folds
    + one md5 per distinct token), then ONE agg exchange on
    (lang, bucket) whose output is bounded by langs x 2^{D71_BITS} —
    dictionary grain at any corpus size — and a TakeOrderedAndProject
    for the cap. No join, no global sort, no second corpus pass at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.array_distinct(F.split(F.col("text"), " ")).alias("tk")
    )
    # OPTIMIZATION r14 (guide §1.2 "per-task work"): the first form
    # ran 8 SEPARATE aggregate() folds over vs (one per bit), each
    # computing pow(2, CASE...) in DOUBLE per element — 8 passes x a
    # float pow per token. One struct fold now carries all 8 bit
    # counters in a single pass with integer shiftright/&1 ops; the
    # sign rule "sum of (2*bit-1) >= 0" is equivalently "2*count_ones
    # >= n_tokens", applied after the fold. Identical buckets (oracle
    # re-verified at both SFs); A/B at sf0.1: 1.19 -> 0.58 s min solo. Bit j still reads md5-byte bit
    # (j+4 if j<4 else j-4) — d6's LSB-first-within-nibble order.
    shifts = [j + 4 if j < 4 else j - 4 for j in range(D71_BITS)]
    step = ", ".join(
        f"'s{j}', acc.s{j} + (shiftright(v, {shifts[j]}) & 1)"
        for j in range(D71_BITS)
    )
    init = ", ".join(f"'s{j}', 0" for j in range(D71_BITS))
    fold = F.expr(
        f"aggregate(vs, named_struct({init}),"
        f" (acc, v) -> named_struct({step}))"
    )
    bits = " + ".join(
        f"IF(2 * __s.s{j} >= size(vs), {1 << (D71_BITS - 1 - j)}, 0)"
        for j in range(D71_BITS)
    )
    bucket = F.expr(
        f"CASE WHEN __s IS NULL THEN CAST(NULL AS INT)"
        f" ELSE CAST({bits} AS INT) END"
    )
    hashed = toks.select(
        "doc_id",
        "lang",
        F.expr(
            "transform(tk, t -> CAST(conv(substring(md5(t), 1, 2), 16, 10)"
            " AS INT))"
        ).alias("vs"),
    )
    folded = hashed.select(
        "doc_id", "lang", "vs", fold.alias("__s")
    )
    return (
        folded.select("lang", bucket.alias("bucket"), "doc_id")
        .groupBy("lang", F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("bucket_size"),
            F.min("doc_id").cast("long").alias("rep_doc_id"),
        )
        .orderBy(F.col("bucket_size").desc(), "lang", "bucket")
        .limit(D71_TOPK)
    )


# ------------------------------------------------------------- d72
# Bloom-filter decontamination: the d15 flag computed through a
# Bloom membership structure instead of a broadcast of the raw gram
# set. At test scale d15's exact broadcast is fine; at 100 TB with a
# LARGE held-out suite (every eval benchmark x every paraphrase
# window), the gram set itself stops being broadcastable — a Bloom
# filter is the classic answer: k deterministic bit positions per
# gram, M bits total, false positives only (the SAFE direction for
# decontamination: you can only over-remove). Both engines compute
# the SAME filter (md5-derived positions), so the oracle reproduces
# the bloom verdict exactly — false positives included — and the
# query self-audits by carrying the exact flag beside it.
D72_M = 1 << 17   # filter bits; production sizes this ~10-16 bits/gram
D72_K = 4         # probes per gram


def _bloom_h1h2(gram: F.Column) -> tuple[F.Column, F.Column]:
    """Kirsch-Mitzenmacher base hashes from ONE md5 per gram: h1 =
    hex chars 1-8 as a 32-bit int, h2 = chars 9-16 doubled-plus-one
    (odd, so the probe stride cycles the whole filter). Position i is
    then (h1 + i*h2) % m — pure integer arithmetic, no per-probe
    rehash. The first shipped spec hashed md5(gram#i) per probe: 4
    md5s per gram, and codegen's missing common-subexpression
    elimination doubled that to 8 — measured as the dominant probe
    cost (see bloom_hit_col's A/B trail)."""
    hexs = F.md5(gram)
    h1 = F.conv(F.substring(hexs, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(hexs, 9, 8), 16, 10).cast("long") * 2 + 1
    return h1, h2


def bloom_positions(bench_grams, m: int = D72_M, k: int = D72_K):
    """The filter as a DISTRIBUTED relation of set bit positions —
    never collected: bounded by k x |benchmark grams| ints, it
    broadcasts where the raw gram STRINGS eventually cannot. The
    batch d72 probes it with a broadcast join (on Spark a broadcast
    hash lookup IS the O(1) bit probe); the string/packed-literal
    forms below exist for the STREAMING gate, whose plan compiles
    once per stream. (Measured dead ends for the batch form, sf0.1:
    1-row anchor crossJoin 18.5 s — M chars copied into every gram
    row; M-char string literal + substr 18.3 s — UTF8 substring scans
    p bytes per probe; packed int-array literals ~1.5 s exec but
    5.9 s PLAN COMPILE per execution — 8192-child array expressions
    in the analyzer. The join form: no literal, no collect, ~1 s.)"""
    h1, h2 = _bloom_h1h2(F.col("h"))
    return (
        bench_grams.select(
            F.explode(
                F.array(
                    *[((h1 + i * h2) % m).cast("long") for i in range(k)]
                )
            ).alias("pos")
        )
        .distinct()
    )


def bloom_bits_from_grams(bench_grams, m: int = D72_M, k: int = D72_K) -> str:
    """Build the filter as a '0'/'1' string of length m from a
    DataFrame with a gram column `h`. The collect is bounded by the
    BENCHMARK (k x its distinct grams — benchmarks are small by
    definition; the d3-probes bounded-collect class); the corpus
    never collects."""
    h1, h2 = _bloom_h1h2(F.col("h"))
    pos_cols = [((h1 + i * h2) % m).cast("int") for i in range(k)]
    positions = {
        r["p"]
        for r in bench_grams.select(
            F.explode(F.array(*pos_cols)).alias("p")
        )
        .distinct()
        .collect()
    }
    bits = bytearray(b"0" * m)
    for p in positions:
        bits[p] = ord("1")
    return bits.decode("ascii")


_BLOOM_WORD_BITS = 16  # bits packed per array element (positive ints:
                       # no sign games, and 2^(pos % 16) stays an exact
                       # small power the division trick handles)
_BLOOM_POW2 = [1 << b for b in range(_BLOOM_WORD_BITS)]


def _pack_bits(bits: str) -> list[int]:
    """'0'/'1' string -> {_BLOOM_WORD_BITS}-bit little-endian words.
    Bit p lives at words[p // W] bit (p % W)."""
    w = _BLOOM_WORD_BITS
    return [
        sum(1 << b for b in range(w) if i + b < len(bits) and bits[i + b] == "1")
        for i in range(0, len(bits), w)
    ]


def bloom_hit_col(
    gram: F.Column, bits: str, k: int = D72_K
) -> F.Column:
    """All-k-bits-set probe for one gram column, with the filter
    packed into an int-array PLAN CONSTANT probed by O(1)
    element_at + arithmetic bit extract.

    Two rejected forms, both measured at sf0.1 (~256k gram rows):
    (1) a 1-row anchor relation crossJoined in — the join copies the
    M chars into EVERY gram row (UnsafeRow column copy), 18.5 s;
    (2) the M-char '0'/'1' string as a literal probed by substr —
    a literal costs nothing per row, but UTF8 substring at char
    position p must SCAN p bytes to find the offset, so each probe
    walks ~M/2 bytes: 18.3 s. The packed-word form is ~0.5 s — the
    same reason real Bloom filters store words, not characters. The
    probe is pure integer arithmetic: word = element_at(words,
    pos DIV W + 1); bit = (word DIV 2^(pos MOD W)) MOD 2 — every
    operand positive, so truncating division is floor on both
    engines. m derives from len(bits) so a build/probe mismatch
    cannot read past the filter (the gate's tiny-filter lesson)."""
    h1, h2 = _bloom_h1h2(gram)
    return bloom_hit_from_h1h2(h1, h2, bits, k)


def bloom_hit_from_h1h2(
    h1: F.Column, h2: F.Column, bits: str, k: int = D72_K
) -> F.Column:
    """The probe with the base hashes already bound to columns — the
    form the batch d72 uses so md5 runs ONCE per gram row (the lambda
    form above re-evaluates it per reference; a bound column doesn't)."""
    m = len(bits)
    words = F.lit(_pack_bits(bits))
    pow2 = F.lit(_BLOOM_POW2)
    w = _BLOOM_WORD_BITS
    hit = F.lit(True)
    for i in range(k):
        pos = ((h1 + i * h2) % m).cast("int")
        word = F.element_at(words, (pos / w).cast("int") + F.lit(1))
        p2 = F.element_at(pow2, (pos % w) + F.lit(1))
        bit = (word / p2).cast("int") % 2
        hit = hit & (bit == F.lit(1))
    return hit


def _md5_fold_range_sql(expr: str, lo: int, hi: int) -> str:
    """BIGINT from md5 hex chars [lo, hi) of `expr` (1-based) — the
    _md5_fold_sql pattern generalized so h1 (chars 1-8) and h2
    (chars 9-16) read the SAME single md5 the Spark side computes."""
    return f"""
      list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range({lo}, {hi}),
            i -> CAST(instr('0123456789abcdef',
                            substr(md5({expr}), i, 1)) - 1 AS BIGINT))),
        (acc, v) -> acc * 16 + v)
    """


def _d72_oracle() -> str:
    # Kirsch-Mitzenmacher positions: ONE md5 per gram, h1 = hex chars
    # 1-8, h2 = chars 9-16 doubled-plus-one (odd stride), position i =
    # (h1 + i*h2) % M. NB (from the first spec's bug): the fold's
    # internal lambda variable is `i` — the outer range variable must
    # be named differently (bi) or every probe collapses to one
    # position; caught by the oracle gate.
    h1 = _md5_fold_range_sql("h", 1, 9)
    h2 = _md5_fold_range_sql("h", 9, 17)
    return f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
      SELECT DISTINCT
        unnest(list_transform(range(1, greatest(len(w) - 2, 1)),
               i -> array_to_string(list_slice(w, i, i + 3), ' '))) AS h
      FROM d WHERE doc_id % 97 = 0
    ),
    bp AS (
      SELECT DISTINCT (({h1}) + bi * (2 * ({h2}) + 1)) % {D72_M} AS pos
      FROM bg, range(0, {D72_K}) t(bi)
    ),
    nb AS (
      SELECT doc_id, lang,
             list_transform(range(1, greatest(len(w) - 2, 1)),
               i -> array_to_string(list_slice(w, i, i + 3), ' ')) AS hs
      FROM d WHERE doc_id % 97 <> 0
    ),
    expl AS (
      -- DISTINCT per (doc, gram): without it a gram occurring twice
      -- in one document contributes 2k probe rows and the per-gram
      -- hit sum reads 2k != k — a member classified NOT-member, the
      -- false negative the design declares impossible (ADVICE r13).
      SELECT DISTINCT doc_id, lang, h FROM (
        SELECT doc_id, lang,
               unnest(CASE WHEN len(hs) = 0 THEN [NULL] ELSE hs END) AS h
        FROM nb
      )
    ),
    probes AS (
      SELECT doc_id, lang, h,
             (({h1}) + bi * (2 * ({h2}) + 1)) % {D72_M} AS pos
      FROM expl, range(0, {D72_K}) t(bi)
    ),
    gram_hits AS (
      SELECT p.doc_id, p.lang, p.h,
             SUM(CASE WHEN bp.pos IS NOT NULL THEN 1 ELSE 0 END) AS hits
      FROM probes p LEFT JOIN bp ON bp.pos = p.pos
      GROUP BY p.doc_id, p.lang, p.h
    )
    SELECT doc_id, lang,
           CAST(MAX(CASE WHEN hits = {D72_K} THEN 1 ELSE 0 END) AS INTEGER)
             AS bloom_contaminated,
           CAST(MAX(CASE WHEN h IN (SELECT h FROM bg) THEN 1 ELSE 0 END)
                AS INTEGER) AS contaminated,
           CAST(MAX(CASE WHEN hits = {D72_K} THEN 1 ELSE 0 END)
                - MAX(CASE WHEN h IN (SELECT h FROM bg) THEN 1 ELSE 0 END)
                AS INTEGER) AS false_positive
    FROM gram_hits
    GROUP BY doc_id, lang
    """


@query("d72_bloom_decontam", oracle=_d72_oracle())
def d72_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d15's decontamination flag answered through a Bloom filter,
    with the exact flag carried beside it so every false positive is
    visible in the output (false NEGATIVES are impossible by
    construction — a set member's k bits are all set; this requires
    the per-(doc, gram) DISTINCT below, since a gram repeated inside
    one document would sum 2k probe hits and fail the hits == k test
    — the r13 advice bug, fixture-pinned in tests/test_r14_ops.py).

    Spark shape: the benchmark grams fold into an M-bit '0'/'1'
    string (bounded driver-side build, k x |bench grams| positions),
    riding the plan as a CONSTANT (see `bloom_hit_col` — the 1-row
    anchor-relation form was measured 18.5 s at sf0.1 because the
    join copies the M chars into every gram row, and was replaced
    same-round); each corpus gram probes k substring positions
    JVM-side; ONE doc-keyed exchange with map-side partial agg,
    exactly d15's shape. The exact-flag
    branch reuses d15's broadcast gram join, so at test scale the
    query costs ~one d15. At 100 TB the exact branch is the one that
    stops scaling (the broadcast gram set grows with the benchmark
    suite) and the bloom branch keeps the cost at M bits per executor
    — this card is the measured argument for that switch.

    The oracle reproduces the SAME filter (md5-fold positions, the
    d11 conv/fold parity pair) via joins, so the driver hash-compares
    the bloom verdicts exactly, false positives included. Streaming
    twin: streaming/bloomgate.py (gate #31)."""
    g = _decon_grams(spark, sf_dir)
    bench_g = (
        g.where((F.col("doc_id") % 97 == 0) & F.col("h").isNotNull())
        .select("h")
        .distinct()
    )
    bp = bloom_positions(bench_g)
    h1, h2 = _bloom_h1h2(F.col("h"))
    # Distinct per (doc, gram) BEFORE probing: a gram repeated inside
    # one document would otherwise contribute 2k probe rows and the
    # per-gram hit sum would read 2k != k — a set member classified
    # not-contaminated, the false negative the Bloom construction is
    # supposed to rule out (ADVICE r13; fixture in tests). The
    # distinct's exchange is ON the gram_hits grouping key, so the
    # downstream groupBy reuses the partitioning — and at 100 TB it
    # SHRINKS the probe relation (probe work scales with distinct
    # grams per doc, not occurrences).
    probes = (
        g.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", "lang", "h")
        .distinct()
        .join(
            F.broadcast(bench_g.withColumn("__hit", F.lit(1))), "h", "left"
        )
        .withColumn("__h1", h1)
        .withColumn("__h2", h2)
        .withColumn(
            "pos",
            F.explode_outer(
                F.array(
                    *[
                        ((F.col("__h1") + i * F.col("__h2")) % D72_M).cast(
                            "long"
                        )
                        for i in range(D72_K)
                    ]
                )
            ),
        )
        .join(F.broadcast(bp.withColumn("__set", F.lit(1))), "pos", "left")
    )
    gram_hits = probes.groupBy("doc_id", "lang", "h").agg(
        F.sum(F.coalesce(F.col("__set"), F.lit(0))).alias("hits"),
        F.max(F.coalesce(F.col("__hit"), F.lit(0))).alias("exact"),
    )
    return gram_hits.groupBy("doc_id", "lang").agg(
        F.max(F.when(F.col("hits") == D72_K, 1).otherwise(0))
        .cast("int")
        .alias("bloom_contaminated"),
        F.max("exact").cast("int").alias("contaminated"),
        (
            F.max(F.when(F.col("hits") == D72_K, 1).otherwise(0))
            - F.max("exact")
        )
        .cast("int")
        .alias("false_positive"),
    )


# ------------------------------------------------------------- d73
# Hot-key skew audit: the reusable form of j12b's disclosure card.
# Before shuffling a 100 TB relation on a key, ask what the key's
# concentration looks like — the top-k hot keys, each one's share of
# all rows (ppm), and the cumulative share of the head. A feed whose
# top-10 keys own half the rows needs salting/AQE-skew handling on
# that join, and this card is how the pipeline finds out for the cost
# of one map-side-combinable count.
D73_TOPK = 10


@query(
    "d73_hot_key_audit",
    oracle=f"""
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ),
    t AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM c
    ),
    top AS (
      SELECT user_id, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS BIGINT)
               AS rk
      FROM c
    )
    SELECT rk, user_id, n,
           n_keys,
           CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
           CAST(CAST(SUM(n) OVER (ORDER BY rk) AS BIGINT) * 1000000 // total
                AS BIGINT) AS cum_share_ppm
    FROM top, t
    WHERE rk <= {D73_TOPK}
    ORDER BY rk
    """,
)
def d73_hot_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{D73_TOPK} hottest events.user_id keys with per-key and
    cumulative row share in ppm, plus the key-domain size — the
    skew disclosure a planner wants BEFORE keying a shuffle on
    user_id (j12's guard consumes exactly this distribution; d73 is
    the standing card any relation/key pair can reuse).

    Scale shape: one map-side-combinable per-key count (the only
    corpus-sized exchange), a 1-row total/cardinality agg crossJoined
    back (the anchor pattern), TakeOrderedAndProject for the head,
    and a {D73_TOPK}-row cumulative window (the documented
    tiny-relation singleton-exchange class). Integer ppm throughout —
    n * 1e6 stays under 2^63 until a single key holds ~9e12 rows.
    Deliberately NO HHI column: sum(n^2) overflows BIGINT on large
    key domains and a double sum would be partition-order-dependent —
    the head shares carry the same operational signal exactly."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("n"))
    t = c.agg(
        F.sum("n").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    top = (
        c.orderBy(F.col("n").desc(), "user_id")
        .limit(D73_TOPK)
        .crossJoin(F.broadcast(t))
    )
    return (
        top.withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "user_id"))
            .cast("long"),
        )
        .select(
            "rk",
            "user_id",
            "n",
            "n_keys",
            F.expr("CAST(n * 1000000 DIV total AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr("n").alias("__n2"),
            F.col("total"),
        )
        .withColumn(
            "cum_share_ppm",
            F.expr(
                "CAST(SUM(__n2) OVER (ORDER BY rk) * 1000000 DIV total"
                " AS BIGINT)"
            ),
        )
        .drop("__n2", "total")
        .orderBy("rk")
    )


# ------------------------------------------------------------- d74
# Source-drift monitor: which ingest source's distribution deviates
# from the corpus profile, per dimension — the mixture-monitoring
# card that catches a feed going bad (language mix shifts, documents
# suddenly truncate) BEFORE it skews training. Distance is total
# variation (TVD = sum|p - q| / 2) over ppm-floored shares: pure
# integer arithmetic, engine-exact, no log (a PSI would need one).
# Dimensions: language, and d70's length-bucket ladder (reused
# verbatim, so "length" means the same thing on every card).


def _d74_dim_tvd_sql(dim_expr: str, alias: str) -> str:
    """Per-source TVD in ppm against the corpus over one dimension.
    Shares are floored ppm on BOTH sides (same floors both engines),
    so the distance is BIGINT-exact."""
    return f"""
      WITH dd AS (
        SELECT source, {dim_expr} AS dim FROM base
      ),
      sd AS (
        SELECT source, dim, CAST(COUNT(*) AS BIGINT) AS n
        FROM dd GROUP BY source, dim
      ),
      st AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_src FROM sd GROUP BY source
      ),
      cd AS (
        SELECT dim, CAST(SUM(n) AS BIGINT) AS n_dim FROM sd GROUP BY dim
      ),
      ct AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM sd),
      -- every (source, dim) pair, INCLUDING dims a source lacks
      -- (p = 0 there; missing pairs would under-count the distance)
      grid AS (
        SELECT st.source, cd.dim, st.n_src, cd.n_dim, ct.n_all
        FROM st, cd, ct
      ),
      shares AS (
        SELECT g.source,
               COALESCE(sd.n, 0) * 1000000 // g.n_src AS p_ppm,
               g.n_dim * 1000000 // g.n_all AS q_ppm
        FROM grid g
        LEFT JOIN sd ON sd.source = g.source AND sd.dim = g.dim
      )
      SELECT source,
             CAST(SUM(CASE WHEN p_ppm > q_ppm THEN p_ppm - q_ppm
                           ELSE q_ppm - p_ppm END) // 2 AS BIGINT)
               AS {alias}
      FROM shares GROUP BY source
    """


def _d74_oracle() -> str:
    len_bucket = _d70_bucket_case(
        "CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))"
        " AS BIGINT)"
    )
    lang_leg = _d74_dim_tvd_sql("lang", "tvd_lang_ppm")
    len_leg = _d74_dim_tvd_sql(f"CAST(({len_bucket}) AS VARCHAR)", "tvd_len_ppm")
    return f"""
    WITH base AS (
      SELECT source, lang, text FROM documents
    ),
    counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM base GROUP BY source
    ),
    lang_tvd AS ({lang_leg}),
    len_tvd AS ({len_leg})
    SELECT c.source, c.n_docs, l.tvd_lang_ppm, b.tvd_len_ppm
    FROM counts c
    JOIN lang_tvd l ON l.source = c.source
    JOIN len_tvd b ON b.source = c.source
    """


def _d74_tvd_all_dims(sd: DataFrame) -> DataFrame:
    """TVD per (source, dimension) from the STORED tagged count
    relation (source, dname, dval, n): every grouping below reads the
    dictionary-sized MV, so the corpus is scanned once per dataset —
    at MV build — not once per consumer. (Two rejected forms: per-
    dimension legs compiled to 9 parquet scans / 22 executed
    exchanges with zero runtime reuse — aliasing defeats
    ReuseExchange — and an un-stored tagged union still recomputed
    the corpus agg once per consumer, 4x. The MV seam is the repo's
    standing answer for exactly this: d2's signatures, d15's grams.)"""
    st = sd.groupBy("source", "dname").agg(
        F.sum("n").cast("long").alias("n_src")
    )
    cd = sd.groupBy("dname", "dval").agg(
        F.sum("n").cast("long").alias("n_dim")
    )
    ct = sd.groupBy("dname").agg(F.sum("n").cast("long").alias("n_all"))
    grid = st.join(F.broadcast(cd), "dname").join(
        F.broadcast(ct), "dname"
    )
    shares = grid.join(
        F.broadcast(sd), ["source", "dname", "dval"], "left"
    ).select(
        "source",
        "dname",
        F.expr("COALESCE(n, 0) * 1000000 DIV n_src").alias("p_ppm"),
        F.expr("n_dim * 1000000 DIV n_all").alias("q_ppm"),
    )
    return shares.groupBy("source", "dname").agg(
        F.expr(
            "CAST(SUM(CASE WHEN p_ppm > q_ppm THEN p_ppm - q_ppm"
            " ELSE q_ppm - p_ppm END) DIV 2 AS BIGINT)"
        ).alias("tvd_ppm")
    )


@mv_step("d74_dims", keys=("d74_dims_v1",), deps=("layout_documents",))
def _d74_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d74's stored (source, dname, dval, n) counts: the one corpus-
    sized, map-side-combinable aggregate, over language and d70's
    length-bucket ladder."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
    ).cast("long")
    base = docs.select("source", F.col("lang"), toks.alias("toks"))
    len_bucket = F.expr(_d70_bucket_case("toks")).cast("string")

    def _build_sd() -> DataFrame:
        dims = base.select(
            "source",
            F.lit("lang").alias("dname"),
            F.col("lang").alias("dval"),
        ).unionByName(
            base.select(
                "source",
                F.lit("len").alias("dname"),
                len_bucket.alias("dval"),
            )
        )
        return dims.groupBy("source", "dname", "dval").agg(
            F.count("*").cast("long").alias("n")
        )

    return cached_relation("d74_dims_v1", sf_dir, _build_sd)


@query("d74_source_drift", oracle=_d74_oracle())
def d74_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per ingest source: document count and total-variation distance
    (integer ppm) between the source's distribution and the corpus
    profile, over two dimensions — language, and d70's length-bucket
    ladder. A source whose feed goes bad (language mix shifts, docs
    truncate) lights up here before it skews a training mixture; TVD
    is the no-log drift distance, so every value is floored-ppm
    BIGINT arithmetic, exact on both engines. The share grid is built
    source x dim INCLUDING empty cells (a dimension value a source
    lacks contributes its full corpus share to the distance — a LEFT
    join from the grid, not from the observed pairs).

    Scale shape: per dimension, ONE map-side-combinable (source, dim)
    count is the only corpus-sized exchange; everything after is
    sources x dim-domain dictionary arithmetic (grid crossJoins are
    broadcast, sources x langs / sources x ~10 buckets rows). The
    final card is one row per source at any corpus size."""
    sd = _d74_dims(spark, sf_dir)
    tvd = _d74_tvd_all_dims(sd)
    counts = (
        sd.where(F.col("dname") == "lang")
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_docs"))
    )
    wide = (
        tvd.groupBy("source")
        .pivot("dname", ["lang", "len"])
        .agg(F.first("tvd_ppm"))
        .withColumnRenamed("lang", "tvd_lang_ppm")
        .withColumnRenamed("len", "tvd_len_ppm")
    )
    return counts.join(wide, "source").select(
        "source", "n_docs", "tvd_lang_ppm", "tvd_len_ppm"
    )

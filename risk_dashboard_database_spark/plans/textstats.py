"""Text-analysis pipeline over the documents corpus (brief §extras):
language-ID heuristic, quality scoring, token counting, rolling-hash
fingerprinting. All pure JVM expressions (split + higher-order array
functions + regex); ratios derive from integer counts so doubles are
bit-identical with the oracle.

Scale notes: every query is a narrow per-row projection (plus one
tiny agg in t_lang_confusion) — no shuffle on the document corpus,
which is exactly what you want when 'documents' is 100 TB.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringified hints here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..tables import load_table
from .registry import query
from .relcache import cached_relation, mv_step

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and shared verbatim with the oracles.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "for", "on"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "von", "mit", "zu"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "en", "por"],
}


def _tokens(text: F.Column) -> F.Column:
    return F.split(text, " ")


def _stop_count(tokens: F.Column, lang: str) -> F.Column:
    words = STOPWORDS[lang]
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def _stop_count_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"


@query(
    "t_lang_id",
    oracle=f"""
    SELECT doc_id,
           lang AS actual_lang,
           CASE
             WHEN GREATEST({_stop_count_sql('en')}, {_stop_count_sql('fr')},
                           {_stop_count_sql('de')}, {_stop_count_sql('es')}) = 0 THEN 'und'
             WHEN {_stop_count_sql('en')} >= GREATEST({_stop_count_sql('fr')},
                  {_stop_count_sql('de')}, {_stop_count_sql('es')}) THEN 'en'
             WHEN {_stop_count_sql('fr')} >= GREATEST({_stop_count_sql('de')},
                  {_stop_count_sql('es')}) THEN 'fr'
             WHEN {_stop_count_sql('de')} >= {_stop_count_sql('es')} THEN 'de'
             ELSE 'es'
           END AS predicted_lang,
           CAST({_stop_count_sql('en')} AS BIGINT) AS en_hits
    FROM documents
    """,
)
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: argmax of per-language stopword hits with
    a fixed priority tie-break (en > fr > de > es), 'und' when no list
    hits. The real pipeline's n-gram scorer reduces to exactly this
    shape — per-row array ops, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens(F.col("text"))
    en, fr, de, es = (_stop_count(tk, lang) for lang in ("en", "fr", "de", "es"))
    predicted = (
        F.when(F.greatest(en, fr, de, es) == 0, "und")
        .when(en >= F.greatest(fr, de, es), "en")
        .when(fr >= F.greatest(de, es), "fr")
        .when(de >= es, "de")
        .otherwise("es")
    )
    return docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        predicted.alias("predicted_lang"),
        en.cast("long").alias("en_hits"),
    )


@query(
    "t_quality_score",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_unique,
             length(text) AS n_chars_measured,
             {_stop_count_sql('en')} AS stop_hits
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_unique AS BIGINT) AS n_unique,
           CAST(n_unique AS DOUBLE) / n_tokens AS unique_ratio,
           CAST(stop_hits AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_chars_measured - n_tokens + 1 AS DOUBLE) / n_tokens AS mean_token_len,
           CAST(CASE WHEN n_tokens BETWEEN 20 AND 80 THEN 1 ELSE 0 END
              + CASE WHEN CAST(n_unique AS DOUBLE) / n_tokens >= 0.5 THEN 1 ELSE 0 END
              + CASE WHEN CAST(stop_hits AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.6
                     THEN 1 ELSE 0 END AS INTEGER) AS quality_score
    FROM scored
    """,
)
def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length band, lexical diversity
    (unique-token ratio), stopword-ratio band -> integer 0-3 score —
    the standard pre-training quality-filter shape. All ratios are
    int/int double divisions (bit-identical cross-engine)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = _tokens(F.col("text"))
    n_tokens = F.size(tk)
    n_unique = F.size(F.array_distinct(tk))
    stop_hits = _stop_count(tk, "en")
    unique_ratio = n_unique.cast("double") / n_tokens
    stopword_ratio = stop_hits.cast("double") / n_tokens
    mean_token_len = (F.length("text") - n_tokens + 1).cast("double") / n_tokens
    score = (
        F.when(n_tokens.between(20, 80), 1).otherwise(0)
        + F.when(unique_ratio >= 0.5, 1).otherwise(0)
        + F.when(stopword_ratio.between(0.01, 0.6), 1).otherwise(0)
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_unique.cast("long").alias("n_unique"),
        unique_ratio.alias("unique_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        mean_token_len.alias("mean_token_len"),
        score.cast("int").alias("quality_score"),
    )


@query(
    "t_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_ish_tokens,
           CAST(CEIL(length(text) / 4.0) AS BIGINT) AS byte_len_estimate
    FROM documents
    """,
)
def t_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, a BPE-ish regex segmentation
    (letter runs / digit runs / single symbols), and the chars/4
    estimate — the three standard budget counters for training-data
    accounting."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long")
        .alias("bpe_ish_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("byte_len_estimate"),
    )


@query(
    "t_fingerprint",
    oracle="""
    SELECT doc_id,
           CAST(list_reduce(
             list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ' '),
               t -> CAST(unicode(t) * 31 + length(t) AS BIGINT))),
             (acc, v) -> (acc * 131 + v) % 2147483647) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling polynomial document fingerprint: per-token value
    (first-codepoint*31 + length) folded left with h = (h*131 + v) mod
    (2^31 - 1). Order-sensitive (unlike a bag-of-words hash), so
    reordered near-dupes fingerprint differently; identical prefixes
    collide as rolling hashes should."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.aggregate(
        F.transform(
            F.split(F.col("text"), " "),
            lambda t: F.ascii(t) * 31 + F.length(t),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: (acc * 131 + v) % 2147483647,
    )
    return docs.select("doc_id", fp.cast("long").alias("fingerprint"))


@query(
    "t_lang_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang AS actual_lang,
             CASE
               WHEN GREATEST({_stop_count_sql('en')}, {_stop_count_sql('fr')},
                             {_stop_count_sql('de')}, {_stop_count_sql('es')}) = 0 THEN 'und'
               WHEN {_stop_count_sql('en')} >= GREATEST({_stop_count_sql('fr')},
                    {_stop_count_sql('de')}, {_stop_count_sql('es')}) THEN 'en'
               WHEN {_stop_count_sql('fr')} >= GREATEST({_stop_count_sql('de')},
                    {_stop_count_sql('es')}) THEN 'fr'
               WHEN {_stop_count_sql('de')} >= {_stop_count_sql('es')} THEN 'de'
               ELSE 'es'
             END AS predicted_lang
      FROM documents
    )
    SELECT actual_lang, predicted_lang, COUNT(*) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def t_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID agreement matrix (A16 applied to the text pipeline):
    actual vs predicted language counts — the bakeoff-harness shape
    over the heuristic classifier."""
    pred = t_lang_id(spark, sf_dir)
    return pred.groupBy(
        "actual_lang", F.col("predicted_lang")
    ).agg(F.count("*").alias("n"))


def _f4_oracle() -> str:
    from ..functions.sentiment import ALPHA, oracle_sql_expr

    score = oracle_sql_expr("text")
    return f"""
    WITH sc AS (
      SELECT doc_id, CAST({score} AS DOUBLE) / 100000.0 AS s FROM documents
    ),
    cc AS (
      SELECT doc_id, ROUND(s / sqrt(s * s + {ALPHA}), 4) AS compound FROM sc
    )
    SELECT doc_id, compound,
           CASE WHEN compound >= 0.05 THEN 'positive'
                WHEN compound <= -0.05 THEN 'negative'
                ELSE 'neutral' END AS label,
           'vader' AS model_version
    FROM cc
    """


@query("f4_sentiment", oracle=_f4_oracle())
def f4_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: VADER-style sentiment over the documents corpus
    (`src/ingest_v2.py:354,407` — model_version 'vader' recorded per
    mention). The token fold runs in an Arrow-batched pandas UDF in
    exact integer 1e-5 units (functions/sentiment.py), so the only
    float math is the final compound normalization — one fixed IEEE
    expression evaluated identically by Spark and the oracle. Labels
    use VADER's published +-0.05 thresholds on the rounded compound.

    Scale: stateless per-row UDF pass, no shuffle; the real
    vaderSentiment package drops into sentiment_batch for production
    use (import-try), while this query pins the deterministic built-in
    lexicon path."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.sentiment import ALPHA, score_1e5

    @pandas_udf("long")
    def score_udf(texts: pd.Series) -> pd.Series:
        return texts.map(score_1e5).astype("int64")

    docs = load_table(spark, sf_dir, "documents")
    s = F.col("score").cast("double") / F.lit(100000.0)
    comp = F.round(s / F.sqrt(s * s + F.lit(float(ALPHA))), 4)
    return (
        docs.select("doc_id", score_udf("text").alias("score"))
        .select("doc_id", comp.alias("compound"))
        .withColumn(
            "label",
            F.when(F.col("compound") >= 0.05, "positive")
            .when(F.col("compound") <= -0.05, "negative")
            .otherwise("neutral"),
        )
        .withColumn("model_version", F.lit("vader"))
    )


def _f3_oracle() -> str:
    from ..functions.hfinfer import MAX_TOKENS, MODEL_VERSION, logit_sql

    l0, l1, l2 = (logit_sql(c, "trunc") for c in range(3))
    return f"""
    WITH tk AS (
      SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks FROM documents
    ),
    tr AS (
      SELECT doc_id, len(toks) AS n_tokens, len(toks) > {MAX_TOKENS} AS truncated,
             array_to_string(toks[1:{MAX_TOKENS}], ' ') AS trunc
      FROM tk
    ),
    lg AS (
      SELECT doc_id, n_tokens, truncated,
             {l0} AS l0, {l1} AS l1, {l2} AS l2
      FROM tr
    )
    SELECT doc_id,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           truncated,
           CASE WHEN l0 >= l1 AND l0 >= l2 THEN 'low_risk'
                WHEN l1 >= l2 THEN 'medium_risk'
                ELSE 'high_risk' END AS label,
           CAST(GREATEST(l0, l1, l2) AS DOUBLE) / (l0 + l1 + l2) AS score,
           '{MODEL_VERSION}' AS model_version
    FROM lg
    """


@query("f3_hf_batch", oracle=_f3_oracle())
def f3_hf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: HF-style batched text classification over the documents
    corpus — Arrow mapInPandas with explicit GPU-micro-batch chunking,
    tokenizer truncation accounting, integer-logit argmax decode and a
    single-division confidence (functions/hfinfer.py). The model call
    is the deterministic md5-logit fake (no weights in the sandbox,
    permanently); the oracle re-derives the identical integer
    arithmetic in SQL, so the whole batch path is value-checked end to
    end — swap `_fake_model` for a transformers pipeline and nothing
    else changes.

    Scale: stateless per-row pass, no shuffle; micro-batch size caps
    peak model-input memory per task."""
    from ..functions.hfinfer import infer_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return infer_batch(docs, "text").select(
        "doc_id", "n_tokens", "truncated", "label", "score", "model_version"
    )


# ---------------------------------------------------------------- r6
# Corpus-curation additions (brief §extras): Gopher-style per-document
# repetition rules and the C4/RefinedWeb-style corpus n-gram document-
# frequency profile. Both derive every double as int/int division so
# the oracle hash-matches bit-for-bit.


@query(
    "t_repetition",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    ex AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t)-1),
                                   i -> t[i] || ' ' || t[i+1])) AS b
      FROM toks
    ),
    cnt AS (
      SELECT doc_id, b, COUNT(*) AS c FROM ex GROUP BY doc_id, b
    ),
    stats AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_count
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id,
           n_bigrams,
           n_distinct AS n_distinct_bigrams,
           CAST(top_count AS DOUBLE) / n_bigrams AS top_bigram_frac,
           CAST(n_bigrams - n_distinct AS DOUBLE) / n_bigrams
             AS dup_bigram_frac,
           CAST(CASE WHEN CAST(top_count AS DOUBLE) / n_bigrams > 0.18
                      OR CAST(n_bigrams - n_distinct AS DOUBLE)
                         / n_bigrams > 0.30
                THEN 1 ELSE 0 END AS INTEGER) AS is_repetitive
    FROM stats
    UNION ALL
    SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), 0.0, 0.0,
           CAST(0 AS INTEGER)
    FROM toks WHERE len(t) < 2
    """,
)
def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules (Rae et al. 2021 §A1.1):
    per document, the fraction of word 2-grams occupied by the single
    most frequent 2-gram and the fraction that are duplicates; a doc
    is flagged repetitive past the published-style thresholds (top
    fraction > 0.18, dup fraction > 0.30). Pure per-row higher-order
    array functions — NO shuffle on the corpus (the oracle uses the
    relational unnest/GROUP BY form as the clearer spec; at 100 TB
    the per-row form wins because it never exchanges the corpus).
    Two d15 lessons applied (BENCH_NOTES r5): the word split is bound
    to a projected column (interpreted lambdas don't CSE), and the
    mode count is O(len) — sort the bigram array once and take the
    longest equal-adjacent run with a single aggregate() fold, not
    the O(distinct x len) count-per-distinct probe (1.44 s -> see
    BENCH_NOTES r6)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__w")
    ).select(
        "doc_id",
        # greatest(.., 0): slice() raises on a negative length, which
        # size(__w) - 1 hits for the empty-ish doc (caught by
        # tests/test_textstats_edges.py, not by the driver corpus)
        F.expr(
            "zip_with(slice(__w, 1, greatest(size(__w) - 1, 0)),"
            "         slice(__w, 2, greatest(size(__w) - 1, 0)),"
            "         (a, b) -> concat(a, ' ', b))"
        ).alias("bigrams"),
    )
    s = d.select(
        "doc_id",
        F.size("bigrams").alias("n_bigrams"),
        F.size(F.array_distinct("bigrams")).alias("n_distinct"),
        F.expr(
            "aggregate(array_sort(bigrams),"
            " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0),"
            " (acc, x) -> named_struct("
            "   'prev', x,"
            "   'run', IF(x <=> acc.prev, acc.run + 1, 1),"
            "   'best', GREATEST(acc.best, IF(x <=> acc.prev, acc.run + 1, 1))),"
            " acc -> acc.best)"
        ).alias("top_count"),
    )
    zero = F.col("n_bigrams") == 0
    top_frac = F.when(zero, F.lit(0.0)).otherwise(
        F.col("top_count").cast("double") / F.col("n_bigrams")
    )
    dup_frac = F.when(zero, F.lit(0.0)).otherwise(
        (F.col("n_bigrams") - F.col("n_distinct")).cast("double")
        / F.col("n_bigrams")
    )
    flag = (~zero) & ((top_frac > 0.18) | (dup_frac > 0.30))
    return s.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_distinct").cast("long").alias("n_distinct_bigrams"),
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_bigram_frac"),
        F.when(flag, 1).otherwise(0).cast("int").alias("is_repetitive"),
    )


def _tri_gram_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, distinct word trigram) rows — the `t_tri_grams` MV
    build, and the streaming novelty gate's per-batch gram rows, so
    batch and stream profile the identical gram relation."""
    return docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__w")
    ).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                # greatest(.., 0): slice() raises on negative
                # length (1-token docs; tests/test_textstats_edges)
                F.expr(
                    "zip_with(zip_with("
                    "  slice(__w, 1, greatest(size(__w) - 2, 0)),"
                    "  slice(__w, 2, greatest(size(__w) - 2, 0)),"
                    "  (a, b) -> concat(a, ' ', b)),"
                    "  slice(__w, 3, greatest(size(__w) - 2, 0)),"
                    "  (ab, c) -> concat(ab, ' ', c))"
                )
            )
        ).alias("gram"),
    )


@mv_step("t_tri_grams", keys=("t_tri_grams",), deps=("layout_documents",))
def _tri_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored `t_tri_grams` relation that t_ngram_docfreq, t_novelty
    and the streaming novelty gate's dictionary all read."""
    docs = load_table(spark, sf_dir, "documents")
    return cached_relation("t_tri_grams", sf_dir, lambda: _tri_gram_rows(docs))


@query(
    "t_ngram_docfreq",
    oracle="""
    WITH grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(t)-2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    freq AS (
      SELECT gram, COUNT(*) AS docfreq FROM grams GROUP BY gram
    ),
    per_doc AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE f.docfreq >= 5) AS n_common
      FROM grams g JOIN freq f USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_common AS DOUBLE) / n_grams AS common_share
    FROM per_doc
    UNION ALL
    SELECT doc_id, 0, 0, 0.0
    FROM documents WHERE len(string_split(text, ' ')) < 3
    """,
)
def t_ngram_docfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram document-frequency profile (the C4/RefinedWeb
    'how boilerplate is this document' signal): per document, the
    share of its DISTINCT word 3-grams that occur in >= 5 documents
    corpus-wide. The (doc_id, gram) relation is tokenize-at-ingest
    work and lives in the durable MV store (`t_tri_grams`, the d15
    pattern — with the word split bound to a projected column, since
    interpreted lambdas don't CSE). Query topology: scan the gram
    relation -> one gram-keyed shuffle builds the inverted document-
    frequency relation -> join back on the SAME gram partitioning
    (exchange reused, no second gram shuffle) -> one doc_id-keyed agg.
    Docs too short to have a 3-gram enter via a scan-only UNION branch
    instead of a left join, which would need a doc_id shuffle of the
    whole corpus at 100 TB. Map-side combine absorbs gram repetition
    before the shuffle, and no stage carries more than (gram, docfreq)
    pairs — at 100 TB this is the standard inverted-index profile
    build."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _tri_grams(spark, sf_dir)
    freq = grams.groupBy("gram").agg(F.count("*").alias("docfreq"))
    per_doc = (
        grams.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("docfreq") >= 5, 1)).alias("n_common"),
        )
    )
    main = per_doc.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_common").cast("long").alias("n_common"),
        (F.col("n_common").cast("double") / F.col("n_grams")).alias(
            "common_share"
        ),
    )
    short = docs.where(F.size(F.split("text", " ")) < 3).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_grams"),
        F.lit(0).cast("long").alias("n_common"),
        F.lit(0.0).alias("common_share"),
    )
    return main.unionByName(short)


# ------------------------------------------------------------- t_pii
# PII scrubbing — the redaction pass every pretraining pipeline runs
# before packing. The synthetic corpus carries no PII (no digits, no
# '@'), so the query DETERMINISTICALLY plants doc_id-derived emails /
# phone numbers on a subset of documents (same injection expression on
# both engines) and then detects + redacts them; this keeps the
# operator non-vacuous and the oracle value-exact while the regex
# plumbing (patterns, counts, global replace) is the real production
# path. Patterns are restricted to the Java-regex/RE2 common dialect
# (classes, bounded repeats, \b) so Spark and DuckDB agree literally.
_PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE_RE = r"\b555-[0-9]{4}\b"


@query(
    "t_pii_redact",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 7 = 0 THEN
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or admin' || CAST(doc_id AS VARCHAR)
                      || '@mail.test.org soon'
               WHEN doc_id % 11 = 0 THEN
                 text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' now'
               ELSE text
             END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE_RE}')) AS BIGINT)
             AS n_phones,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL_RE}'))
                + len(regexp_extract_all(text, '{_PII_PHONE_RE}')) > 0 AS INT)
             AS has_pii,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PII_PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM planted
    """,
)
def t_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the corpus: count email/phone
    matches per document and emit the globally-redacted text (emails
    -> [EMAIL], phones -> [PHONE]). Per-row JVM regex — no shuffle, no
    Python; at 100 TB this runs at scan speed alongside the quality
    gate. Cited shape: the reference normalizes/classifies free text
    with the same regexp_replace chains (`app.py` control/URL
    classification families); here the target is pretraining-corpus
    scrubbing rather than display cleanup."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or admin"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.test.org soon"),
        ),
    ).when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.col("text"),
            F.lit(" call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", planted.alias("text"))
    n_emails = F.regexp_count("text", F.lit(_PII_EMAIL_RE)).cast("long")
    n_phones = F.regexp_count("text", F.lit(_PII_PHONE_RE)).cast("long")
    return t.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_phones.alias("n_phones"),
        ((n_emails + n_phones) > 0).cast("int").alias("has_pii"),
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL_RE, "[EMAIL]"),
            _PII_PHONE_RE,
            "[PHONE]",
        ).alias("redacted"),
    )


# Keyword retrieval terms: mid-frequency corpus words, fixed so the
# query is reproducible; weights derive from the data (integer
# df-based), not from this list's order.
KEYWORD_TERMS = ["vector", "hash", "stream"]
KEYWORD_TOPK = 25


def _kw_oracle() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(string_split(text, ' '), t -> t = '{t}')) "
        f"AS BIGINT) AS tf_{t}"
        for t in KEYWORD_TERMS
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in KEYWORD_TERMS
    )
    # greatest(df, 1): a term absent from the corpus (df = 0) must
    # degrade identically on both engines — DuckDB's // 0 errors while
    # Spark's div NULLs (ADVICE r8). tf is 0 whenever df is 0, so the
    # clamped weight multiplies a zero and the score is unchanged.
    score = " + ".join(
        f"p.tf_{t} * (a.n_docs // greatest(a.df_{t}, 1))" for t in KEYWORD_TERMS
    )
    n_terms = " + ".join(
        f"CASE WHEN p.tf_{t} > 0 THEN 1 ELSE 0 END" for t in KEYWORD_TERMS
    )
    return f"""
    WITH per AS (SELECT doc_id, lang, {tf_cols} FROM documents),
    a AS (SELECT COUNT(*) AS n_docs, {df_cols} FROM per),
    scored AS (
      SELECT p.doc_id, p.lang,
             CAST({score} AS BIGINT) AS score,
             CAST({n_terms} AS BIGINT) AS n_terms
      FROM per p, a
    ),
    r AS (SELECT doc_id, lang, score, n_terms,
                 ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
          FROM scored WHERE score > 0)
    SELECT doc_id, lang, score, n_terms, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {KEYWORD_TOPK}
    """


@query("t_keyword_topk", oracle=_kw_oracle())
def t_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword retrieval top-k (new r8): the grep-grade search baseline
    a corpus tool needs before any ANN/rerank stage — documents ranked
    by term-frequency weighted with an integer document-frequency
    weight (``n_docs div df``, a deterministic idf surrogate: rarer
    terms count for more, and no ``ln`` enters the plan — unlike
    ``sqrt``, libm/JVM ``log`` is not required to be correctly rounded,
    so a log-based BM25 could drift a ULP between engines and flip a
    rank; the integer weight cannot).

    Spark-first shape: per-document term frequencies are PER-ROW
    higher-order array expressions (no tokenize-explode shuffle of the
    corpus); the document frequencies reduce to ONE aggregate row that
    joins back as a broadcast (the e4/e7/e8 one-row-anchor pattern);
    the top-k is TakeOrderedAndProject (per-partition heads, never a
    global sort); only the final rank numbering — over at most
    KEYWORD_TOPK rows — touches a single partition."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")

    def tf(term):
        # one-arg closure: a two-arg lambda would be called by
        # F.filter as (element, INDEX) and silently shadow the term
        return F.size(F.filter(toks, lambda x: x == term)).cast("long")

    per = docs.select(
        "doc_id",
        "lang",
        *[tf(t).alias(f"tf_{t}") for t in KEYWORD_TERMS],
    )
    agg = per.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in KEYWORD_TERMS
        ],
    )
    score = None
    n_terms = None
    for t in KEYWORD_TERMS:
        # greatest(df, 1) mirrors the oracle's zero-df clamp: absent
        # terms (tf = 0 everywhere) contribute 0 instead of NULLing
        # the whole score via div-by-zero (ADVICE r8).
        s = F.col(f"tf_{t}") * F.expr(f"n_docs div greatest(df_{t}, 1L)")
        m = (F.col(f"tf_{t}") > 0).cast("long")
        score = s if score is None else score + s
        n_terms = m if n_terms is None else n_terms + m
    scored = (
        per.join(F.broadcast(agg))
        .select(
            "doc_id",
            "lang",
            score.cast("long").alias("score"),
            n_terms.cast("long").alias("n_terms"),
        )
        .where(F.col("score") > 0)
    )
    topk = scored.orderBy(F.col("score").desc(), "doc_id").limit(KEYWORD_TOPK)
    rank = F.row_number().over(
        Window.partitionBy(F.lit(1)).orderBy(F.col("score").desc(), "doc_id")
    )
    return topk.select(
        "doc_id", "lang", "score", "n_terms", rank.cast("long").alias("rank")
    )


# ------------------------------------------------------- t_readability
# Flesch reading-ease as a corpus-curation signal (readability gating
# is a standard pre-training quality heuristic beside t_quality_score's
# length/punct/stopword ratios). The classical formula
# 206.835 - 1.015*(words/sentences) - 84.6*(syllables/word) is made
# integer-exact: every term is scaled to milli-points and evaluated
# with integer division in the SAME order on both engines, and the
# syllable count is the deterministic vowel-group proxy (runs of
# [aeiouyAEIOUY]) every fast readability scorer uses — no dictionary,
# no float, per-row codegen only.

READ_EASY_MILLI = 60_000     # >= 60.000 points: plain English
READ_STANDARD_MILLI = 30_000  # >= 30.000: standard; below: hard


@query(
    "t_readability",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS sentences,
             len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS syllables
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(words AS BIGINT) AS words,
           CAST(sentences AS BIGINT) AS sentences,
           CAST(syllables AS BIGINT) AS syllables,
           CAST(206835 - (1015 * words) // sentences
                       - (84600 * syllables) // words AS BIGINT)
             AS score_milli,
           CASE WHEN 206835 - (1015 * words) // sentences
                       - (84600 * syllables) // words >= {READ_EASY_MILLI}
                THEN 'easy'
                WHEN 206835 - (1015 * words) // sentences
                       - (84600 * syllables) // words >= {READ_STANDARD_MILLI}
                THEN 'standard'
                ELSE 'hard' END AS band
    FROM m
    """,
)
def t_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease (milli-points, integer-exact)
    with easy/standard/hard banding.

    Spark shape: pure per-row codegen'd expressions (split /
    regexp_extract_all / integer arithmetic) — no shuffle, no UDF;
    filters and projection push to the parquet scan. Sentences floor
    at 1 (unpunctuated docs), words >= 1 by split semantics (empty
    text -> ['']), so no division guard is needed beyond greatest().
    At 100 TB this is scan-rate work, the same class as
    t_quality_score."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.col("text"), " "))
    sentences = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    syllables = F.size(F.expr("regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)"))
    m = docs.select(
        "doc_id",
        "lang",
        words.cast("long").alias("words"),
        sentences.cast("long").alias("sentences"),
        syllables.cast("long").alias("syllables"),
    )
    score = F.expr(
        "206835 - (1015 * words) div sentences - (84600 * syllables) div words"
    )
    return m.select(
        "doc_id",
        "lang",
        "words",
        "sentences",
        "syllables",
        score.cast("long").alias("score_milli"),
        F.when(score >= READ_EASY_MILLI, "easy")
        .when(score >= READ_STANDARD_MILLI, "standard")
        .otherwise("hard")
        .alias("band"),
    )


@query(
    "t_ttr",
    oracle="""
    WITH tk AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS ts
      FROM documents
    ),
    m AS (
      SELECT doc_id, lang,
             CAST(len(ts) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(ts)) AS BIGINT) AS n_types,
             CAST(len(list_filter(list_distinct(ts),
                    t -> len(list_filter(ts, x -> x = t)) = 1)) AS BIGINT)
               AS n_hapax
      FROM tk
    )
    SELECT doc_id, lang, n_tokens, n_types, n_hapax,
           CAST((n_types * 1000000) // greatest(n_tokens, 1) AS BIGINT)
             AS ttr_ppm,
           CAST((n_hapax * 1000000) // greatest(n_tokens, 1) AS BIGINT)
             AS hapax_ppm
    FROM m
    """,
)
def t_ttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio and hapax
    (once-only word) share, the standard repetitiveness-vs-vocabulary
    counters a curation pipeline reads next to the Gopher rules
    (t_repetition flags engineered repetition; a LOW ttr with no
    repeated n-grams flags templated text the Gopher rules miss).

    Scan-rate per-row work, zero shuffle: distinct and hapax counts
    are higher-order array expressions evaluated doc-locally inside
    the scan stage. OPTIMIZATION r14 (guide §1.2 "per-task work"):
    the hapax count was a quadratic probe — for every DISTINCT token,
    re-scan the full token array to test count==1, O(types x tokens)
    interpreted-lambda comparisons per document — and is now the same
    O(n log n) sorted-run fold t_repetition uses: sort the tokens
    once, +1 when a new run opens, -1 when it reaches length 2, so
    the fold ends at the number of length-1 runs == the hapax count.
    Identical output (oracle re-verified at sf0.01 + sf0.001);
    A/B at sf0.1: 0.85 -> 0.49 s min solo."""
    docs = load_table(spark, sf_dir, "documents")
    ts = F.filter(F.split(F.col("text"), " "), lambda x: F.length(x) > 0)
    m = docs.select(
        "doc_id",
        "lang",
        ts.alias("ts"),
    ).select(
        "doc_id",
        "lang",
        F.size("ts").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("ts")).cast("long").alias("n_types"),
        F.expr(
            "aggregate(array_sort(ts),"
            " named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'hap', 0),"
            " (acc, x) -> named_struct("
            "   'prev', x,"
            "   'run', IF(x <=> acc.prev, acc.run + 1, 1),"
            "   'hap', acc.hap + IF(x <=> acc.prev,"
            "                       IF(acc.run = 1, -1, 0), 1)),"
            " acc -> acc.hap)"
        )
        .cast("long")
        .alias("n_hapax"),
    )
    return m.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("(n_types * 1000000) div greatest(n_tokens, 1)")
        .cast("long")
        .alias("ttr_ppm"),
        F.expr("(n_hapax * 1000000) div greatest(n_tokens, 1)")
        .cast("long")
        .alias("hapax_ppm"),
    )


@mv_step("t_word_tf", keys=("t_word_tf",), deps=("layout_documents",))
def _word_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-grain term-frequency relation (doc_id, term, tf),
    through the MV seam: tokenize-at-ingest work shared by every
    word-grain consumer (t_tfidf today; the same artifact a search
    index or d35-style OOV audit reads)."""
    docs = load_table(spark, sf_dir, "documents")

    def _build() -> DataFrame:
        return (
            docs.select(
                "doc_id",
                F.explode(
                    F.filter(
                        F.split(F.col("text"), " "), lambda x: F.length(x) > 0
                    )
                ).alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count("*").cast("long").alias("tf"))
        )

    return cached_relation("t_word_tf", sf_dir, _build)


@query(
    "t_tfidf",
    oracle="""
    WITH tk AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
               AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tk GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS docfreq FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, f.docfreq,
             t.tf * (n.n_docs - f.docfreq) AS score
      FROM tf t JOIN df f USING (term), n
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, docfreq, CAST(score AS BIGINT) AS score,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def t_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by an integer TF-IDF
    (keyword extraction, the per-doc summary signal next to corpus-wide
    t_keyword_topk retrieval). The IDF is the rank-equivalent integer
    surrogate (n_docs - docfreq) — monotone in log(N/df), so the
    ranking matches a float TF-IDF while staying hash-exact across
    engines (no log, no division; the t_readability determinism note).

    Spark shape: the t_ngram_docfreq inverted-index topology at word
    grain. The (doc, term, tf) relation is tokenize-at-ingest work and
    lives in the durable MV store (`t_word_tf`, the t_tri_grams
    pattern); the query is then one term-keyed docfreq agg over the MV
    (map-side combined to vocabulary size), the join-back, and the
    per-doc top-3 window (rank-limit pushed: WindowGroupLimit keeps
    per-partition heaps of 3, never a full sort of the scored
    relation). The 1-row corpus-count crossJoin is the t_keyword_topk
    anchor pattern."""
    docs = load_table(spark, sf_dir, "documents")
    tf = _word_tf(spark, sf_dir)
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("docfreq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "docfreq",
            (F.col("tf") * (F.col("n_docs") - F.col("docfreq")))
            .cast("long")
            .alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .withColumn("rank", F.col("rank").cast("int"))
    )


# -------------------------------------------------------- t_zipf_profile
# Rank-frequency profile at doubling ranks (Zipf's law, measured) —
# the corpus-statistics companion to d40's Heaps curve: how fast does
# word frequency fall with rank? The profile a tokenizer team reads to
# size vocabularies and predict how much of the token stream the top-k
# words absorb. No log enters either engine: the decay is reported as
# the integer ppm ratio freq(r) / freq(2r) between successive doubling
# ranks (alpha = log2(ratio) is the reader's one-liner), so every
# column hash-matches bit-for-bit.

ZIPF_MAX_RANK = 1024  # profile ranks 1, 2, 4, ..., 1024


@query(
    "t_zipf_profile",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> len(x) > 0))
               AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tk GROUP BY doc_id, term
    ),
    freq AS (
      SELECT term, CAST(SUM(tf) AS BIGINT) AS freq FROM tf GROUP BY term
    ),
    ranked AS (
      SELECT term, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, term) AS rank
      FROM freq
    ),
    kept AS (
      SELECT * FROM ranked
      WHERE rank <= {ZIPF_MAX_RANK}
        AND (rank & (rank - 1)) = 0
    )
    SELECT a.rank, a.term, a.freq,
           CAST((a.freq * 1000000) // b.freq AS BIGINT) AS decay_ppm
    FROM kept a JOIN kept b ON b.rank = a.rank * 2
    """,
)
def t_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word frequency at ranks 1, 2, 4, ..., 512 with the integer
    frequency-decay ratio to the next doubling rank.

    Spark shape: total frequencies are one vocabulary-grain agg over
    the stored `t_word_tf` MV (map-side combined — the t_tfidf
    docfreq topology); the global top-{ZIPF_MAX_RANK} is
    TakeOrderedAndProject (per-partition heaps, never a vocabulary
    sort — Spark's WindowGroupLimit push needs a non-empty partition
    spec, so the global-rank form would single-task the vocabulary);
    the row_number that names the ranks runs over the ALREADY-LIMITED
    {ZIPF_MAX_RANK} rows (the sanctioned tiny single-partition
    window), and the power-of-two filter + rank -> 2*rank self-join
    act on ≤11 rows (broadcast). Ties break by term so the profile is
    deterministic on any engine."""
    tf = _word_tf(spark, sf_dir)
    freq = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("freq"))
    top = freq.orderBy(F.col("freq").desc(), "term").limit(ZIPF_MAX_RANK)
    rk = F.row_number().over(
        Window.partitionBy(F.lit(1)).orderBy(F.col("freq").desc(), "term")
    )
    kept = (
        top.withColumn("rank", rk.cast("long"))
        .where(F.col("rank").bitwiseAND(F.col("rank") - 1) == 0)
    )
    nxt = kept.select(
        (F.col("rank")).alias("rank2"), F.col("freq").alias("freq2")
    )
    return (
        kept.join(F.broadcast(nxt), F.col("rank2") == F.col("rank") * 2)
        .select(
            "rank",
            "term",
            "freq",
            F.expr("(freq * 1000000) div freq2").cast("long").alias("decay_ppm"),
        )
    )


# ---------------------------------------------------------- t_code_detect
# Code-vs-prose routing: pretraining mixtures treat code as its own
# domain (separate dedup, quality rules, sampling temperature), so the
# very first corpus pass needs a cheap code detector. Signals are the
# standard fast heuristics — brace/semicolon density, assignment
# operators, indented-line share — folded to an integer ppm score and
# a route. The synthetic corpus carries no code, so (the t_pii_redact
# convention) deterministic code fragments are PLANTED on a doc_id
# schedule: the detector's hit/miss behavior is then oracle-checkable
# end-to-end rather than vacuously all-prose.

_CODE_SYM_RE = r"[{};=()]"
_CODE_KW_RE = r"\b(def|return|if|else|for|while|var|let|const|function)\b"
_CODE_SNIPPET = (
    " def f(x) { if (x > 0) { return x; } else { return 0; } } "
    "var y = f(12); let z = y;"
)


def code_route_signals(docs: DataFrame, plant: bool = True) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, n_sym, n_kw, sym_ppm, route):
    the SHARED per-row projection behind t_code_detect and the
    streaming router — one definition so the batch query and the
    ingest gate can never drift (their parity test demands
    bit-equality). `plant` mirrors the deterministic snippet schedule
    (the synthetic corpus carries no code); pass False for real
    ingest. Patterns ride F.lit, NOT SQL string literals — Spark SQL
    literal escaping would eat the \\b word boundaries that the
    oracle's RE2 engine reads verbatim."""
    text = (
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(F.col("text"), F.lit(_CODE_SNIPPET)),
        ).otherwise(F.col("text"))
        if plant
        else F.col("text")
    )
    t = docs.select("doc_id", text.alias("__t"))
    n_sym = F.size(F.regexp_extract_all("__t", F.lit(_CODE_SYM_RE), F.lit(0)))
    n_kw = F.size(F.regexp_extract_all("__t", F.lit(_CODE_KW_RE), F.lit(0)))
    n_tok = F.size(F.split(F.col("__t"), " "))
    sig = t.select(
        "doc_id",
        n_sym.cast("long").alias("n_sym"),
        n_kw.cast("long").alias("n_kw"),
        n_tok.cast("long").alias("n_tok"),
    )
    sym_ppm = F.expr("(n_sym * 1000000) div n_tok")
    return sig.select(
        "doc_id",
        "n_sym",
        "n_kw",
        sym_ppm.cast("long").alias("sym_ppm"),
        F.when((F.col("n_kw") >= 2) & (sym_ppm >= 50000), "code")
        .otherwise("prose")
        .alias("route"),
    )


@query(
    "t_code_detect",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
                  THEN text || '{_CODE_SNIPPET}'
                  ELSE text END AS text
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '{_CODE_SYM_RE}')) AS n_sym,
             len(regexp_extract_all(text, '{_CODE_KW_RE}')) AS n_kw,
             len(string_split(text, ' ')) AS n_tok
      FROM planted
    )
    SELECT doc_id,
           CAST(n_sym AS BIGINT) AS n_sym,
           CAST(n_kw AS BIGINT) AS n_kw,
           CAST((n_sym * 1000000) // n_tok AS BIGINT) AS sym_ppm,
           CASE WHEN n_kw >= 2 AND (n_sym * 1000000) // n_tok >= 50000
                THEN 'code' ELSE 'prose' END AS route
    FROM sig
    """,
)
def t_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document code detection: symbol density (braces/semicolons/
    assignment, integer ppm of whitespace tokens) + code-keyword count
    -> a code/prose route. Every doc_id % 9 == 0 document gets a
    deterministic planted snippet so both the hit and the miss path
    are value-checked cross-engine.

    Spark shape: per-row JVM regex at scan rate — no shuffle, no
    Python; the route column is exactly the partition key a mixture
    pipeline would write-partition by (d33's split x lang accounting
    then applies per route). Thresholds are integers (ppm) so the
    route decision hash-matches bit-for-bit. The projection itself is
    `code_route_signals`, shared verbatim with the streaming router."""
    return code_route_signals(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------- t_html_strip
# Markup extraction — the very first stage of a web-corpus pipeline
# (trafilatura/jusText-class): strip tags, decode the common entities,
# collapse whitespace, and report how much of the payload was markup.
# The synthetic corpus is plain text, so deterministic markup is
# PLANTED on a doc_id schedule (the t_pii_redact convention): wrapping
# tags, an inline <a href>, a <script> block that must vanish WITH its
# contents, and entities — so extraction, entity decoding, and the
# markup-ratio accounting all value-check cross-engine on both the hit
# and miss paths.

_HTML_SCRIPT_RE = "<script>[^<]*</script>"
_HTML_TAG_RE = "<[^>]+>"


@query(
    "t_html_strip",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             CASE
               WHEN doc_id % 6 = 0 THEN
                 '<html><body><h1>T' || CAST(doc_id AS VARCHAR)
                 || '</h1><p>' || text
                 || ' &amp; more &lt;here&gt;</p><script>var x='
                 || CAST(doc_id AS VARCHAR)
                 || ';</script><a href="/d?id='
                 || CAST(doc_id AS VARCHAR) || '">link</a></body></html>'
               ELSE text
             END AS raw
      FROM documents
    ),
    stripped AS (
      SELECT doc_id, raw,
             trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               regexp_replace(regexp_replace(raw,
                 '{_HTML_SCRIPT_RE}', '', 'g'),
                 '{_HTML_TAG_RE}', ' ', 'g'),
                 '&amp;', '&', 'g'),
                 '&lt;', '<', 'g'),
                 '&gt;', '>', 'g'),
                 ' +', ' ', 'g')) AS clean
      FROM planted
    )
    SELECT doc_id,
           CAST(length(raw) AS BIGINT) AS raw_chars,
           CAST(length(clean) AS BIGINT) AS clean_chars,
           CAST(((length(raw) - length(clean)) * 1000000)
                // GREATEST(length(raw), 1) AS BIGINT) AS markup_ppm,
           clean
    FROM stripped
    """,
)
def t_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup stripping + entity decoding + whitespace collapse, with
    per-document markup-ratio accounting (ppm of raw chars removed).
    <script> blocks are removed WITH their contents (the standard
    boilerplate rule: style/script payloads are never prose), other
    tags become a space so adjacent words don't fuse, then the three
    common entities decode and runs of spaces collapse.

    Spark shape: a fixed chain of per-row regexp_replace expressions —
    no shuffle, no UDF, scan-rate at 100 TB (the reference's
    normalization chains are the same shape, `src/url_utils.py`
    classification families). Patterns ride F.lit, never SQL string
    literals (the t_code_detect escaping lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 6 == 0,
        F.concat(
            F.lit("<html><body><h1>T"),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit(" &amp; more &lt;here&gt;</p><script>var x="),
            F.col("doc_id").cast("string"),
            F.lit(';</script><a href="/d?id='),
            F.col("doc_id").cast("string"),
            F.lit('">link</a></body></html>'),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", raw.alias("raw"))
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(
                            F.regexp_replace(
                                F.col("raw"), F.lit(_HTML_SCRIPT_RE), F.lit("")
                            ),
                            F.lit(_HTML_TAG_RE),
                            F.lit(" "),
                        ),
                        F.lit("&amp;"),
                        F.lit("&"),
                    ),
                    F.lit("&lt;"),
                    F.lit("<"),
                ),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit(" +"),
            F.lit(" "),
        )
    )
    s = t.select("doc_id", "raw", clean.alias("clean"))
    return s.select(
        "doc_id",
        F.length("raw").cast("long").alias("raw_chars"),
        F.length("clean").cast("long").alias("clean_chars"),
        F.expr(
            "((length(raw) - length(clean)) * 1000000)"
            " div greatest(length(raw), 1)"
        )
        .cast("long")
        .alias("markup_ppm"),
        "clean",
    )


# ----------------------------------------------------------- t_simpson
# Simpson lexical concentration — the no-log companion to entropy:
# lambda = sum(c_i^2) / n^2 over token counts c_i (the probability two
# random tokens coincide). High lambda = templated/repetitive text;
# the signal t_ttr's type counts miss when a doc has many types but
# one dominating token. Integer-exact: sum of squared run lengths over
# the SORTED token array via one per-row fold (the t_repetition
# run-length discipline), then ppm by integer division — no float
# anywhere, so both engines hash-match bit-for-bit.


@query(
    "t_simpson",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             list_reduce(
               list_prepend(struct_pack(prev := CAST(NULL AS VARCHAR),
                                        run := CAST(0 AS BIGINT),
                                        acc := CAST(0 AS BIGINT)),
                 list_transform(list_sort(string_split(text, ' ')),
                                x -> struct_pack(prev := x,
                                                 run := CAST(0 AS BIGINT),
                                                 acc := CAST(0 AS BIGINT)))),
               (a, x) -> CASE WHEN x.prev IS NOT DISTINCT FROM a.prev
                 THEN struct_pack(prev := a.prev, run := a.run + 1,
                                  acc := a.acc)
                 ELSE struct_pack(prev := x.prev, run := CAST(1 AS BIGINT),
                                  acc := a.acc + a.run * a.run) END) AS st
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(st.acc + st.run * st.run AS BIGINT) AS sum_sq,
           CAST(((st.acc + st.run * st.run) * 1000000)
                // (n_tokens * n_tokens) AS BIGINT) AS simpson_ppm
    FROM f
    """,
)
def t_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Simpson concentration index in ppm
    (sum of squared token counts over n^2).

    Spark shape: pure per-row expressions — array_sort then ONE
    left fold accumulating squared run lengths (state =
    (prev, run, acc); a run closes when the sorted stream changes
    value, the final run closes in the projection). No shuffle, no
    UDF; scan-rate at 100 TB, the t_quality_score class."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    fold = F.expr(
        """
        aggregate(
          array_sort(split(text, ' ')),
          named_struct('prev', CAST(NULL AS STRING),
                       'run', CAST(0 AS BIGINT),
                       'acc', CAST(0 AS BIGINT)),
          (a, x) -> IF(x <=> a.prev,
            named_struct('prev', a.prev, 'run', a.run + 1L, 'acc', a.acc),
            named_struct('prev', x, 'run', 1L,
                         'acc', a.acc + a.run * a.run)))
        """
    )
    s = docs.select("doc_id", n_tokens.alias("n_tokens"), fold.alias("st"))
    sum_sq = (F.col("st.acc") + F.col("st.run") * F.col("st.run")).cast("long")
    return s.select(
        "doc_id",
        "n_tokens",
        sum_sq.alias("sum_sq"),
        F.expr("((st.acc + st.run * st.run) * 1000000) div (n_tokens * n_tokens)")
        .cast("long")
        .alias("simpson_ppm"),
    )


# --------------------------------------------------------- t_burstiness
# Sentence-length burstiness — the texture stat that separates uniform
# template/boilerplate prose (near-constant sentence length, ratio -> 0)
# from natural writing (bursty lengths) and from degenerate
# concatenations (huge variance). Reported as the integer
# variance-to-mean ratio of per-sentence token counts in ppm:
# var/mean = (n*S2 - S1^2) / (n*S1) with S1 = sum(len), S2 = sum(len^2)
# — the n^2-free Fano-factor form, exact in bigint arithmetic (no
# float mean, no subtraction of rounded quantities; n*S2 >= S1^2 by
# Cauchy-Schwarz so the numerator is non-negative). Sentence split is
# d46's convention ([.!?]+, trim, drop empties), so the two operators
# agree on what a sentence IS.
#
# The synthetic corpus carries no punctuation (every doc parses as ONE
# sentence, variance identically 0), so like t_code_detect /
# t_html_strip the registry query DETERMINISTICALLY plants sentence
# breaks — a period after token i iff the first hex digit of
# md5(doc_id:i) is < '4' (P = 1/4, geometric-ish gaps => real
# within-doc length variance) — and the parser then runs on the
# planted text. plant=False is the real-ingest form; on this corpus it
# proves the single-sentence miss path (burst exactly 0 everywhere).

_BURST_PLANT_SQL = """
      SELECT doc_id, lang,
             array_to_string(
               list_transform(
                 list_zip(string_split(text, ' '),
                          range(1, len(string_split(text, ' ')) + 1)),
                 p -> p[1] ||
                      CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                            || CAST(p[2] AS VARCHAR)), 1, 1)
                                < '4'
                           THEN '.' ELSE '' END),
               ' ') AS text
      FROM documents
"""


@query(
    "t_burstiness",
    oracle=f"""
    WITH planted AS ({_BURST_PLANT_SQL}),
    s AS (
      SELECT doc_id, lang,
             list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                                        x -> trim(x)),
                         x -> len(x) > 0) AS ss
      FROM planted
    ),
    m AS (
      SELECT doc_id, lang,
             CAST(len(ss) AS BIGINT) AS n_sentences,
             list_transform(ss,
               x -> CAST(len(string_split(x, ' ')) AS BIGINT)) AS ls
      FROM s
    ),
    f AS (
      SELECT doc_id, lang, n_sentences,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ls),
                              (a, x) -> a + x) AS BIGINT) AS s1,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ls),
                              (a, x) -> a + x * x) AS BIGINT) AS s2
      FROM m
    )
    SELECT doc_id, lang, n_sentences,
           CASE WHEN n_sentences = 0 THEN 0
                ELSE (s1 * 1000000) // n_sentences END AS mean_len_ppm,
           CASE WHEN n_sentences = 0 OR s1 = 0 THEN 0
                ELSE ((n_sentences * s2 - s1 * s1) * 1000000)
                     // (n_sentences * s1) END AS burst_ppm
    FROM f
    """,
)
def t_burstiness(
    spark: SparkSession, sf_dir: str, plant: bool = True
) -> DataFrame:
    """Per-document sentence-length burstiness (variance-to-mean of
    sentence token counts, integer ppm) plus the mean length.

    Spark shape: pure per-row array expressions (split -> trim ->
    filter -> two left folds) — zero exchange, zero UDF, scan-rate at
    100 TB (t_simpson's class). The variance numerator n*S2 - S1^2 is
    guarded against bigint-multiply overflow the d58 way: a document
    long enough to overflow raises loudly instead of wrapping.
    ``plant`` mirrors the deterministic sentence-break schedule (see
    the module comment); False is the real-ingest form."""
    from .dedup import _guarded_ppm_sql

    base = load_table(spark, sf_dir, "documents")
    if plant:
        planted = F.expr(
            "array_join("
            "  zip_with(split(text, ' '),"
            "           sequence(1, size(split(text, ' '))),"
            "    (t, i) -> concat(t,"
            "      IF(substring(md5(concat(CAST(doc_id AS STRING), ':',"
            "                              CAST(i AS STRING))), 1, 1) < '4',"
            "         '.', ''))),"
            "  ' ')"
        )
        docs = base.select("doc_id", "lang", planted.alias("text"))
    else:
        docs = base
    ss = F.expr(
        "filter(transform(split(text, '[.!?]+'), x -> trim(x)),"
        " x -> length(x) > 0)"
    )
    lens = F.expr(
        "transform(filter(transform(split(text, '[.!?]+'), x -> trim(x)),"
        " x -> length(x) > 0), s -> CAST(size(split(s, ' ')) AS BIGINT))"
    )
    m = docs.select(
        "doc_id",
        "lang",
        F.size(ss).cast("long").alias("n_sentences"),
        lens.alias("ls"),
    ).select(
        "doc_id",
        "lang",
        "n_sentences",
        F.expr("aggregate(ls, 0L, (a, x) -> a + x)").alias("s1"),
        F.expr("aggregate(ls, 0L, (a, x) -> a + x * x)").alias("s2"),
    )
    return m.select(
        "doc_id",
        "lang",
        "n_sentences",
        F.when(F.col("n_sentences") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr("(s1 * 1000000) div n_sentences"))
        .cast("long")
        .alias("mean_len_ppm"),
        F.when(
            (F.col("n_sentences") == 0) | (F.col("s1") == 0),
            F.lit(0).cast("long"),
        )
        .otherwise(
            # the _guarded_ppm_sql CASE only covers the final *1e6
            # step; the INNER products n*s2 and s1*s1 must also be
            # proven in-range first, or an ANSI-off session could wrap
            # them silently before the guard evaluates (DuckDB errors
            # on the same overflow, so raising here keeps the two
            # engines degrading identically). All three < 2^31 =>
            # every product < 2^62.
            F.expr(
                "IF(n_sentences < 2147483647 AND s1 < 2147483647 "
                "AND s2 < 2147483647, "
                + _guarded_ppm_sql(
                    "n_sentences * s2 - s1 * s1", "n_sentences * s1"
                )
                + ", CAST(raise_error('burstiness overflow: sentence "
                "sums exceed 2^31; re-unit this report before running "
                "at this document size') AS BIGINT))"
            )
        )
        .cast("long")
        .alias("burst_ppm"),
    )


# --------------------------------------------------------- t_novelty
# Incremental novelty — the "what does this document ADD" curve a
# streaming corpus build watches (reference analog: the dashboard's
# per-day new-narrative counts, `narrative_runtime.py` first-seen
# logic, generalized to content grain). A document whose trigrams all
# appeared in earlier documents (by doc_id ingest order) is pure
# boilerplate; a high-novelty document extends the corpus. The same
# first-occurrence relation is what dedup pipelines use to cheaply
# pre-rank candidates before the expensive MinHash leg.


@query(
    "t_novelty",
    oracle="""
    WITH grams AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(generate_series(1, len(t)-2),
                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    ),
    first_seen AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram
    ),
    per_doc AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE f.first_doc = g.doc_id) AS n_novel
      FROM grams g JOIN first_seen f USING (gram)
      GROUP BY g.doc_id
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST((n_novel * 1000000) // n_grams AS BIGINT) AS novel_ppm
    FROM per_doc
    UNION ALL
    SELECT doc_id, 0, 0, 0
    FROM documents WHERE len(string_split(text, ' ')) < 3
    """,
)
def t_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document first-occurrence novelty: the share (integer ppm)
    of its DISTINCT word trigrams whose corpus-wide FIRST occurrence
    (min doc_id — doc_id is ingest order on this corpus) is this
    document.

    Spark shape (r14 rewrite, guide §2.3/§2.4): the naive form joined
    the full gram relation back to its own first-occurrence agg on
    gram — a gram-grain join plus a gram-grain shuffle into the doc
    agg. But both outputs are derivable without any join-back:
    n_grams(doc) is a doc-keyed COUNT of the stored `t_tri_grams` MV
    (map-side combined to doc grain before the exchange), and
    n_novel(doc) is the first-occurrence relation re-aggregated by
    its OWN value — COUNT per first_doc (a gram is novel exactly
    once, in its min doc). Two map-side-combined aggs over the MV
    scan and one DOC-grain left join (novel-less docs take 0)
    replace the gram-grain join entirely: nothing wider than
    (gram, min_doc) or (doc, count) ever crosses a shuffle, and the
    joined relations are doc-grain, ~|grams|/|doc| times smaller.
    Docs too short for a trigram enter via a scan-only UNION branch,
    never a corpus-wide left join. Integer ppm via `div` (truncation
    == floor on non-negatives, both engines)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = _tri_grams(spark, sf_dir)
    n_grams = grams.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams")
    )
    n_novel = (
        grams.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    per_doc = n_grams.join(n_novel, "doc_id", "left").withColumn(
        "n_novel", F.coalesce(F.col("n_novel"), F.lit(0).cast("long"))
    )
    main = per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr("(n_novel * 1000000) div n_grams").cast("long").alias("novel_ppm"),
    )
    short = docs.where(F.size(F.split("text", " ")) < 3).select(
        "doc_id",
        F.lit(0).cast("long").alias("n_grams"),
        F.lit(0).cast("long").alias("n_novel"),
        F.lit(0).cast("long").alias("novel_ppm"),
    )
    return main.unionByName(short)


# ------------------------------------------------------------ t_k_anon
# k-anonymity audit (Sweeney 2002) — the privacy census t_pii_redact's
# regex pass can't give: even with direct identifiers stripped, a row
# is re-identifiable when its QUASI-IDENTIFIER combination is rare.
# The quasi-identifier here is (lang, source, length-bucket) — the
# releasable metadata columns of the documents table; the audit
# reports, per (lang, source) slice, how many rows sit in equivalence
# classes smaller than K (the re-identification risk set a release
# review reads before publishing a corpus).

K_ANON = 5
K_ANON_LEN_BUCKET = 100  # n_chars bucket width


@query(
    "t_k_anonymity",
    oracle=f"""
    WITH cls AS (
      SELECT lang, source, n_chars // {K_ANON_LEN_BUCKET} AS len_bucket,
             COUNT(*) AS c
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT lang, source,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(c) AS BIGINT) AS min_class_size,
           CAST(COALESCE(SUM(CASE WHEN c < {K_ANON} THEN c END), 0)
                AS BIGINT) AS at_risk_rows,
           CAST((COALESCE(SUM(CASE WHEN c < {K_ANON} THEN c END), 0)
                 * 1000000) // SUM(c) AS BIGINT) AS at_risk_ppm
    FROM cls GROUP BY 1, 2
    """,
)
def t_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, source): rows, equivalence classes over the
    (lang, source, n_chars-bucket) quasi-identifier, the smallest
    class, and the rows in classes under K_ANON (count + ppm).

    Spark shape: one narrow metadata scan -> one map-side-combinable
    class agg (bounded by lang x source x length-domain) -> one
    dictionary-grain rollup. All integers; zero corpus-scale state.
    At 100 TB this is the m6 metadata-scan class."""
    docs = load_table(spark, sf_dir, "documents")
    cls = docs.groupBy(
        "lang",
        "source",
        F.expr(f"n_chars div {K_ANON_LEN_BUCKET}").alias("len_bucket"),
    ).agg(F.count("*").alias("c"))
    at_risk = F.coalesce(
        F.sum(F.when(F.col("c") < K_ANON, F.col("c"))), F.lit(0)
    ).cast("long")
    return cls.groupBy("lang", "source").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_classes"),
        F.min("c").cast("long").alias("min_class_size"),
        at_risk.alias("at_risk_rows"),
        F.expr(
            f"(COALESCE(SUM(IF(c < {K_ANON}, c, NULL)), 0) * 1000000)"
            " div SUM(c)"
        )
        .cast("long")
        .alias("at_risk_ppm"),
    )


# ---------------------------------------------------------- t_fertility
@query(
    "t_fertility",
    oracle="""
    WITH t AS (
      SELECT lang,
             len(string_split(text, ' ')) AS words,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS toks,
             length(text) AS chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS total_words,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(toks) AS DOUBLE) / NULLIF(SUM(words), 0), 6)
             AS fertility,
           ROUND(CAST(SUM(chars) AS DOUBLE) / NULLIF(SUM(toks), 0), 6)
             AS chars_per_token
    FROM t
    GROUP BY lang
    """,
)
def t_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility card per language: BPE-ish tokens per
    whitespace word (fertility — the standard 'how many subwords does
    a word cost HERE' diagnostic for multilingual mixture design) and
    chars per token (compression rate), over the same BPE-ish regex
    segmentation t_token_count budgets with. A language whose
    fertility runs hot is under-served by the tokenizer and its token
    budget buys fewer words — the reason mixture weights (d18/d54) and
    token budgets (d21) need this card next to the corpus counts.

    Scale shape: one map-side-combinable agg on lang — integer sums
    into a dictionary-grain output; the ratios are BIGINT-exact
    divisions done once per GROUP, so double equality is engine-safe
    (same two integers, same IEEE divide, rounded 6dp both sides)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("words"),
        F.size(
            F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")
        )
        .cast("long")
        .alias("toks"),
        F.length("text").cast("long").alias("chars"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("total_words"),
        F.sum("toks").cast("long").alias("total_tokens"),
        F.round(
            F.sum("toks").cast("double")
            / F.expr("NULLIF(SUM(words), 0)"),
            6,
        ).alias("fertility"),
        F.round(
            F.sum("chars").cast("double")
            / F.expr("NULLIF(SUM(toks), 0)"),
            6,
        ).alias("chars_per_token"),
    )

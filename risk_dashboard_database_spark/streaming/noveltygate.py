"""Streaming novelty gate: batch t_novelty's first-occurrence scoring
applied to documents on arrival.

Batch t_novelty (`plans/textstats.py:t_novelty`) scores each document
by the share of its distinct trigrams whose corpus-wide first
occurrence is that document. An ingest pipeline wants the same signal
the moment a document lands — "how much does this add to what we
already hold" — so the streaming form takes the d27 base-vs-incoming
stance the other static-side gates use:

- the FIRST-OCCURRENCE DICTIONARY — (gram, first doc_id) over the BASE
  corpus — is a STATIC relation derived from the same `t_tri_grams` MV
  batch t_novelty aggregates, refreshed on the MV rebuild cadence;
- each arriving document explodes its distinct trigrams, LEFT joins
  the dictionary (ONE gram-keyed stream-static exchange per
  micro-batch — the same key the batch agg shuffles on), and a gram is
  NOVEL iff it is absent from the dictionary (a genuinely new gram) or
  its recorded first occurrence IS this document (the replay case);
- the per-document roll-up happens in a doc-keyed stateful fold with a
  sentinel row so trigram-less (short) documents still emit a 0-row —
  batch t_novelty emits EVERY document.

Parity: replaying the base corpus itself (availableNow) makes the
dictionary exactly the corpus first-occurrence relation, so the replay
must equal batch `t_novelty` row-for-row (tested, including 1-file
micro-batches). A document arriving AFTER the dictionary build scores
its never-seen grams as novel until the next refresh — the documented
freshness trade of every static-side gate here.

State-store note (ADVICE r10 discipline): every document's rows land
in one micro-batch (a document is one input row; its gram rows never
split across files), so the fold removes its state entry after
emitting instead of parking a tombstone under NoTimeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..plans.textstats import _tri_gram_rows, _tri_grams

OUTPUT_SCHEMA = "doc_id long, n_grams long, n_novel long, novel_ppm long"
STATE_SCHEMA = "done int"


def first_occurrence_dictionary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The static (gram, first_doc) relation — the gram-grain MIN over
    the stored `t_tri_grams` MV, exactly the relation batch t_novelty
    joins back. Persist (or re-materialize via the MV seam) before a
    long-running stream so micro-batches re-scan parquet."""
    grams = _tri_grams(spark, sf_dir)
    return grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))


def _fold(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen = False
    n = 0
    novel = 0
    for pdf in batches:
        for row in pdf.itertuples(index=False):
            if int(row.kind) == 0:
                seen = True
            else:
                n += 1
                novel += int(row.novel)
    out = []
    if seen:  # sentinel always arrives with its gram rows
        out.append(
            (int(key[0]), n, novel, (novel * 1_000_000) // n if n else 0)
        )
    # single-micro-batch completeness (see module docstring): drop the
    # state entry rather than growing the store under NoTimeout.
    state.remove()
    yield pd.DataFrame(
        out, columns=["doc_id", "n_grams", "n_novel", "novel_ppm"]
    )


def with_novelty(docs: DataFrame, first: DataFrame) -> DataFrame:
    """(streaming docs, static first-occurrence dictionary) ->
    per-document novelty accounting, batch-t_novelty schema."""
    sentinel = docs.select(
        "doc_id", F.lit(0).alias("kind"), F.lit(0).alias("novel")
    )
    hits = (
        _tri_gram_rows(docs)
        .join(first, "gram", "left")
        .select(
            "doc_id",
            F.lit(1).alias("kind"),
            (
                F.col("first_doc").isNull()
                | (F.col("first_doc") == F.col("doc_id"))
            )
            .cast("int")
            .alias("novel"),
        )
    )
    return (
        sentinel.unionByName(hits)
        .groupBy("doc_id")
        .applyInPandasWithState(
            _fold,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_novelty(
    spark: SparkSession, docs_dir: str, sf_dir: str, schema=None
) -> DataFrame:
    """readStream over a documents directory -> per-arrival novelty
    accounting against sf_dir's stored first-occurrence dictionary."""
    if schema is None:
        schema = spark.read.parquet(docs_dir).schema
    first = first_occurrence_dictionary(spark, sf_dir)
    docs = spark.readStream.schema(schema).parquet(docs_dir)
    return with_novelty(docs, first)

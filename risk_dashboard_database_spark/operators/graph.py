"""Distributed graph operators.

connected_components() is min-label propagation with three scale
refinements layered on the standard formulation (cf. GraphX's
ConnectedComponents / the MapReduce CC literature):

1. a one-pass STAR CONTRACTION preamble — every vertex maps to
   p(v) = min(v, min neighbor) and the loop runs on the quotient
   graph. Near-dup graphs are clique-heavy, and a clique collapses to
   one representative in this pass (measured on the 100x corpus:
   54.4M directed edges -> 38 quotient edges, BENCH_NOTES r7);
2. DELTA-FRONTIER propagation (semi-naive evaluation): only labels
   that changed last round are offered to neighbors — safe because
   labels decrease monotonically and the merge takes min with the
   current label;
3. POINTER JUMPING (label <- label(label)) each round, so chains
   collapse in O(log n) rounds instead of O(diameter).

Each round is bounded shuffle joins plus a localCheckpoint to
truncate lineage; the only driver action is a 1-row convergence probe
per round — no data is collected.

Used by plans/dedup.py d9_dedup_clusters to turn near-dup PAIRS into
dedup CLUSTERS (the "which copies do I drop" answer).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger("risk_dashboard_database_spark.graph")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
    stats: dict | None = None,
    *,
    held: list[DataFrame],
) -> DataFrame:
    """Edges (undirected; pass each pair once or twice, both work) ->
    (id, label) with label = min vertex id in the component. Vertices
    are the edge endpoints; isolated vertices should be unioned in by
    the caller (their label is trivially themselves).

    The round count is logged on convergence and written to
    ``stats["rounds"]`` when a dict is passed (VERDICT r6 #3): with
    pointer jumping the loop converges in O(log n) rounds, so on the
    100x corpus (where the build was the system's largest cost — 116 s
    after the r7 contraction preamble, from 212 s)
    a data-shaped regression to linear rounds must be LOUD — a
    warning fires if the budget is exhausted before convergence, and
    `tests/test_graph.py` pins the round count on a pathological
    1024-vertex chain graph (the worst case for plain label
    propagation: diameter = n).

    Every localCheckpoint the loop no longer reads is released as soon
    as it is superseded. The result still reads two of them; they are
    appended to `held`, and the caller must `release` them once the
    result is written, or they stay pinned in the block manager for
    the life of the session."""
    und0 = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    und0 = (
        und0.union(
            und0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    # One-pass CONTRACTION before the iterative loop (BENCH_NOTES r7):
    # map every vertex to p(v) = min(v, min over its neighbors) — a
    # star contraction along each vertex's min edge — and run the loop
    # on the QUOTIENT graph (p(a), p(b)). Near-dup graphs are clique-
    # heavy (K copies of a document form a ~K-clique), and a clique
    # collapses to a single representative in this one pass, so the
    # loop's edge set shrinks by orders of magnitude (100x corpus:
    # 54.4M directed edges -> 38 quotient edges, BENCH_NOTES r7). Correctness:
    # contracting (v, p(v)) edges preserves components (p(v) is v
    # itself or a neighbor), the quotient graph is the standard edge
    # relabeling, and the final composition label(v) =
    # labels2[p(v)] (default p(v) for reps whose whole component
    # collapsed) is exactly the quotient-to-original pullback.
    p = (
        und0.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(
            F.col("src").alias("id"), F.least("src", "m").alias("p")
        )
        .localCheckpoint()
    )
    und = (
        und0.join(
            p.select(F.col("id").alias("src"), F.col("p").alias("pa")), "src"
        )
        .join(p.select(F.col("id").alias("dst"), F.col("p").alias("pb")), "dst")
        .where(F.col("pa") != F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .distinct()
        # loop-invariant big side pre-partitioned on the join key once,
        # so each round's neighbor join exchanges only the label side
        .repartition(F.col("dst"))
        .localCheckpoint()
    )
    release([und0])
    labels = (
        und.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    rounds = 0
    converged = False
    # Delta frontier: only labels that CHANGED last round are offered
    # to neighbors. Safe because labels are monotonically decreasing
    # and merged always takes min with the CURRENT label: every value
    # a vertex ever holds is offered to all its neighbors in the round
    # after it is set, so min-over-history is preserved — this is the
    # standard semi-naive evaluation of the min-label fixpoint. Late
    # rounds touch a tiny frontier instead of all V labels.
    delta = labels
    for _ in range(max_iter):
        rounds += 1
        nbr = und.join(
            delta.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("id"), "label")
        merged = (
            labels.select("id", "label")
            .union(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        hop = labels.select(F.col("id").alias("lid"), F.col("label").alias("llabel"))
        new_labels = (
            merged.join(hop, merged.label == hop.lid, "left")
            .select("id", F.coalesce("llabel", "label").alias("label"))
            .localCheckpoint()
        )
        new_delta = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .select(F.col("id"), F.col("n.label").alias("label"))
            .localCheckpoint()
        )
        changed = new_delta.limit(1).count()
        # Release the superseded generation now rather than when GC
        # reaches it: left to GC, checkpoint blocks of a 50M-edge graph
        # (the 100x near-duplicate corpus) piled up past the heap and
        # OOM'd the JVM (BENCH_NOTES r6).
        release([labels, delta])
        labels = new_labels
        delta = new_delta
        if changed == 0:
            converged = True
            break
    release([und, delta])
    held += [p, labels]
    if converged:
        log.info("connected_components converged in %d rounds", rounds)
    else:
        log.warning(
            "connected_components did NOT converge in max_iter=%d rounds; "
            "labels may still be moving (pointer jumping should converge in "
            "O(log n) rounds — a budget exhaustion here means pathological "
            "edge data or a regression, not normal operation)",
            max_iter,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    # Pull the quotient labels back to the original vertices: every
    # vertex takes its representative's component label; a rep with no
    # quotient edges (its whole component contracted away) keeps p(v).
    return p.join(
        labels.select(F.col("id").alias("p"), "label"), "p", "left"
    ).select("id", F.coalesce("label", "p").alias("label"))


def release(frames: list[DataFrame]) -> None:
    """Drop the block-manager copies of localCheckpoint()ed frames.
    A checkpointed frame's plan is a LogicalRDD over the checkpointed
    RDD; DataFrame.unpersist() only touches the cache manager, so the
    RDD is unpersisted directly. Any frame that still reads one of
    these must not run afterwards."""
    for df in frames:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)

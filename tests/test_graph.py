"""connected_components: min-label propagation + pointer jumping."""

from pyspark.sql import functions as F

from risk_dashboard_database_spark.operators.graph import connected_components, release


def _persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _labels(spark, edges):
    """Labels by vertex; the run's checkpoints are all released after."""
    df = spark.createDataFrame(edges, "src long, dst long")
    before = _persisted(spark)
    held = []
    out = connected_components(df, held=held)
    got = {r["id"]: r["label"] for r in out.collect()}
    release(held)
    assert _persisted(spark) == before
    return got


def test_two_separate_pairs(spark):
    got = _labels(spark, [(1, 2), (10, 11)])
    assert got == {1: 1, 2: 1, 10: 10, 11: 10}


def test_long_chain_collapses(spark):
    # 0-1-2-...-31: diameter 31, must converge via pointer jumping
    # well inside the max_iter=20 cap (O(log n) rounds).
    got = _labels(spark, [(i, i + 1) for i in range(31)])
    assert set(got.values()) == {0}
    assert len(got) == 32


def test_cycle_and_cross_links(spark):
    got = _labels(spark, [(5, 6), (6, 7), (7, 5), (7, 8), (2, 8)])
    assert set(got) == {2, 5, 6, 7, 8}
    assert set(got.values()) == {2}


def test_duplicate_and_reversed_edges(spark):
    got = _labels(spark, [(3, 4), (4, 3), (3, 4)])
    assert got == {3: 3, 4: 3}


def test_random_graphs_match_union_find(spark):
    """connected_components agrees with a driver-side union-find on
    randomized edge lists (seeded, so reproducible)."""
    import random

    rnd = random.Random(7)
    for trial in range(3):
        n = rnd.randint(5, 40)
        edges = [
            (rnd.randint(0, n), rnd.randint(0, n))
            for _ in range(rnd.randint(1, 2 * n))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        want = {v: find(v) for v in parent}

        got = _labels(spark, edges)
        assert got == want, f"trial {trial}: {sorted(got.items())} != {sorted(want.items())}"


def test_chain_round_count_is_logarithmic(spark):
    """The 100x d9 build's cost is CC rounds x 2 shuffles; pointer
    jumping keeps rounds at O(log n) even on the worst case for plain
    label propagation — a chain (diameter = n). Pin the round count so
    a regression toward linear convergence fails HERE, not as a 10x
    ingest slowdown (VERDICT r6 #3). Measured: 9 rounds at n=256,
    11 at n=1024 (~log2(n) + 1)."""
    import math

    n = 1024
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    stats = {}
    held = []
    out = connected_components(df, max_iter=40, stats=stats, held=held)
    assert {r["label"] for r in out.collect()} == {0}
    release(held)
    assert stats["converged"]
    assert stats["rounds"] <= math.ceil(math.log2(n)) + 3, stats


def test_empty_edge_frame(spark):
    df = spark.createDataFrame([], "src long, dst long")
    held = []
    out = connected_components(df, held=held)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "label"]
    release(held)

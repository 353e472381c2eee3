"""Connected components (functions/graph.py) — min-label propagation,
the large-star/small-star contraction, and the ``auto`` hybrid, which
must all agree everywhere."""

from __future__ import annotations

import random

import pytest

from dbt_snowflake_feature_store_spark.functions.graph import (
    connected_components,
)


def _cc(spark, pairs, **kw):
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    rows = connected_components(edges, "id_a", "id_b", **kw).collect()
    return {r.node: r.label for r in rows}


SHAPES = [
    [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)],
    [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)],
    [(1, 2), (2, 3), (3, 1)],  # cycle
    [(5, 5), (5, 6)],  # self-loop
    [(7, 3), (3, 7), (3, 9)],  # reversed duplicates
    [(4, 4)],  # ONLY a self-loop: the node must still be labeled
    [(9, 9), (1, 2)],  # self-loop node disjoint from a real edge
]


def test_chain_converges_to_min(spark):
    # a 6-node path: propagation needs several rounds (diameter 5)
    labels = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)])
    assert labels == {i: 1 for i in range(1, 7)}


def test_disjoint_components(spark):
    labels = _cc(spark, [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)])
    assert labels == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_nonconvergence_raises(spark):
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 9)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(
            edges, "id_a", "id_b", max_iter=2, algorithm="propagation"
        )


def test_star_matches_propagation_on_shapes(spark):
    """All three algorithms share one fixed point: component = min id —
    including degenerate inputs (self-loop-only nodes)."""
    for pairs in SHAPES:
        prop = _cc(spark, pairs, algorithm="propagation")
        star = _cc(spark, pairs, algorithm="star")
        auto = _cc(spark, pairs, algorithm="auto", switch_after=1)
        assert star == prop, pairs
        assert auto == prop, pairs


def test_self_loop_only_node_kept_by_all(spark):
    """A node appearing ONLY in self-loop edges is its own component in
    every algorithm (star used to drop it: node set was built after the
    self-loop filter)."""
    pairs = [(4, 4)]
    for algo in ("propagation", "star", "auto"):
        assert _cc(spark, pairs, algorithm=algo) == {4: 4}, algo


def test_star_matches_propagation_random(spark):
    """Property: on random graphs the three algorithms agree exactly."""
    rng = random.Random(42)
    for _ in range(3):
        n = 40
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(35)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        prop = _cc(spark, pairs, algorithm="propagation", max_iter=50)
        star = _cc(spark, pairs, algorithm="star", max_iter=50)
        auto = _cc(spark, pairs, algorithm="auto", max_iter=50,
                   switch_after=2)
        assert star == prop
        assert auto == prop


def test_star_fewer_rounds_on_chain(spark):
    """The contraction's point: a 33-node chain converges within a round
    budget that propagation (rounds = diameter) blows."""
    pairs = [(i, i + 1) for i in range(1, 33)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(
            edges, "id_a", "id_b", max_iter=8, algorithm="propagation"
        )
    labels = {
        r.node: r.label
        for r in connected_components(
            edges, "id_a", "id_b", max_iter=8, algorithm="star"
        ).collect()
    }
    assert labels == {i: 1 for i in range(1, 34)}


def test_auto_caps_chain_without_user_choice(spark):
    """``auto`` (the default) finishes a 65-node chain inside a budget
    propagation alone cannot: 4 propagation rounds condense the chain
    ~5×, star contracts the rest in O(log) rounds."""
    pairs = [(i, i + 1) for i in range(1, 65)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(
            edges, "id_a", "id_b", max_iter=12, algorithm="propagation"
        )
    labels = {
        r.node: r.label
        for r in connected_components(edges, "id_a", "id_b",
                                      max_iter=12).collect()
    }
    assert labels == {i: 1 for i in range(1, 66)}


def test_auto_converged_early_skips_star(spark):
    """A shallow graph converges inside the propagation phase — auto
    returns the propagation result directly (same labels)."""
    pairs = [(1, 2), (1, 3), (1, 4), (10, 11)]
    assert _cc(spark, pairs) == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def _count_jobs(spark, fn):
    sc = spark.sparkContext
    group = f"graph-jobcount-{random.randrange(1 << 30)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_propagation_one_job_per_round(spark):
    """The lazy per-round checkpoint is materialized by the round's own
    convergence aggregation — ONE Spark job per propagation round (plus
    the bounded collect machinery), not a separate eager-checkpoint
    pass. AQE is disabled for the measurement (it splits every query
    into per-stage jobs, which hides the eager-vs-lazy difference).
    Diameter-2 star graph: 2 improving rounds + 1 confirm round."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        jobs = _count_jobs(
            spark,
            lambda: connected_components(
                edges, "id_a", "id_b", algorithm="propagation"
            ).collect(),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    # 3 rounds × 1 agg job + the final collect; allow slack for Spark's
    # collect-limit job splitting but pin UNDER the eager regime's floor
    # (2 initial checkpoint jobs + 2 jobs/round + collect ≥ 9).
    assert jobs <= 8, jobs


def test_unknown_algorithm_raises(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(edges, algorithm="nope")


def test_pagerank_driver_and_distributed_paths_agree(spark):
    """r18: the size-gated driver-side round loop must be bit-identical
    to the distributed recurrence — same integer floor divisions, same
    dangling-mass leak, same base term."""
    from dbt_snowflake_feature_store_spark.functions.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(0, 1, 3), (1, 2, 1), (2, 0, 2), (0, 2, 5), (3, 0, 7)],
        "src int, dst int, w long",
    )
    fast = {
        r["node"]: r["r"]
        for r in pagerank_integer(edges, iterations=6).collect()
    }
    slow = {
        r["node"]: r["r"]
        for r in pagerank_integer(
            edges, iterations=6, driver_graph_nodes=0
        ).collect()
    }
    assert fast == slow and len(fast) == 4


def test_pagerank_null_edges_paths_agree(spark):
    """NULL endpoints on both sides of the driver gate: a NULL-src edge
    contributes nothing but its dst (node 9, reached by no other edge)
    and NULL itself are still nodes on both paths, so N and every rank
    agree."""
    from dbt_snowflake_feature_store_spark.functions.graph import (
        pagerank_integer,
    )

    edges = spark.createDataFrame(
        [(0, 1, 3), (1, 0, 1), (None, 9, 4), (1, None, 2)],
        "src int, dst int, w long",
    )
    fast = {
        r["node"]: r["r"]
        for r in pagerank_integer(edges, iterations=4).collect()
    }
    slow = {
        r["node"]: r["r"]
        for r in pagerank_integer(
            edges, iterations=4, driver_graph_nodes=0
        ).collect()
    }
    assert fast == slow
    assert set(fast) == {0, 1, 9, None}

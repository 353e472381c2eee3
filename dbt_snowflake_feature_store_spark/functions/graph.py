"""Distributed graph primitives for dedup clustering.

The LLM-pipeline use: near-dup PAIRS (MinHash/LSH candidates) →
CLUSTERS (connected components) → one kept representative per cluster.
The reference has no analog (its engine is a SQL warehouse); this is
the piece a 100 TB dedup actually needs after the pair stage.

Three algorithms, identical fixed point (component = min node id):

``auto`` (default)
    Min-label propagation for a few rounds (dedup graphs are shallow —
    rounds = diameter, usually ≤ 3), then, if not yet converged, CONDENSE
    the graph by the partial labels (every ≤-``switch_after``-diameter
    neighborhood collapses to one node) and finish with the star
    contraction on the condensed graph. Caps the worst case (a chain
    component) at O(log n) total rounds without the user having to know
    their graph's shape.

``propagation``
    Iterative min-label propagation: every node starts labeled with its
    own id; each round takes the min of its label and its neighbors'
    labels. Rounds needed = graph diameter. One shuffle per round; the
    convergence check is folded into the label pass as a ``_chg`` flag
    aggregated over the round's checkpointed result (ONE real job per
    round — the per-round ``localCheckpoint(eager=False)`` is
    materialized by that same aggregation action, so no separate
    checkpoint pass either). The unique fixed point makes the result
    deterministic regardless of schedule — which is what makes an
    oracle comparison (DuckDB recursive CTE) possible.

``star``
    Alternating large-star/small-star edge contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): each
    round rewires edges toward per-neighborhood minima, converging in
    O(log n) rounds on adversarial chains where propagation needs
    O(diameter). Two shuffles per round (one per half-step), so for
    shallow dedup graphs propagation is cheaper. Convergence is
    detected by a (count, two independent bounded-hash-sums) signature match
    CONFIRMED by an exact set comparison on the two already-
    checkpointed frames — the exact check runs once, at the fixed
    point, so a signature collision can delay but never corrupt the
    result.

Scale notes: every round is a bounded number of shuffles; lineage is
cut with lazy ``localCheckpoint`` (materialized by the round's own
convergence aggregation, not an extra eager pass) so plans don't grow
unboundedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import inspect as plan_inspect


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "auto",
    switch_after: int = 4,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with its
    component's minimum node id. Returns (node, label).

    ``max_iter`` is the total round budget (shared across both phases
    of ``auto``); ``switch_after`` is the number of propagation rounds
    ``auto`` tries before condensing and switching to ``star``.

    Raises if the chosen algorithm hasn't converged within the budget
    (would mean a silently wrong fixed point)."""
    if algorithm == "auto":
        return _cc_auto(edges, src, dst, max_iter, switch_after)
    if algorithm == "propagation":
        return _cc_propagation(edges, src, dst, max_iter)
    if algorithm == "star":
        return _cc_star(edges, src, dst, max_iter)
    raise ValueError(f"connected_components: unknown algorithm {algorithm!r}")


def _adjacency(edges: DataFrame, src: str, dst: str) -> DataFrame:
    # materialize the adjacency ONCE — without this every propagation
    # round re-executes the upstream edge pipeline (for dedup that's the
    # whole MinHash banding; measured 17 s → 9 s at sf0.1)
    pre = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # the adjacency build carries the upstream edge pipeline (for dedup,
    # the whole MinHash banding) — register it so plan audits see it
    # past the lineage cut
    return plan_inspect.checkpoint(pre)


def _propagate(
    adj: DataFrame, labels: DataFrame, rounds: int
) -> tuple[DataFrame, bool]:
    """Up to ``rounds`` min-label passes over ``labels`` (node, label).
    Returns (labels, converged)."""
    for _ in range(rounds):
        nbr_min = (
            adj.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("_bl")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("_bl").alias("_nbr_min"))
        )
        # the improved label AND a did-it-change flag in the same pass:
        # the convergence check is a cheap max() over the round result,
        # and that same action materializes the lazy checkpoint — one
        # real job per round, no separate checkpoint or join-shaped
        # convergence job.
        new = F.least(
            F.col("label"), F.coalesce(F.col("_nbr_min"), F.col("label"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                new.alias("label"),
                (new < F.col("label")).cast("int").alias("_chg"),
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.agg(F.max("_chg").alias("c")).first()["c"]
        labels = new_labels.drop("_chg")
        if not changed:
            return labels, True
    return labels, False


def _cc_propagation(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    adj = _adjacency(edges, src, dst)
    labels = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    labels, converged = _propagate(adj, labels, max_iter)
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels


def _cc_auto(
    edges: DataFrame, src: str, dst: str, max_iter: int, switch_after: int
) -> DataFrame:
    """Propagation for ``switch_after`` rounds, then star on the
    label-condensed graph. Condensing is sound because every partial
    label is the min of a connected subset containing itself: condensed
    components biject with original components and the min condensed
    node id IS the min original node id."""
    rounds = min(switch_after, max_iter)
    adj = _adjacency(edges, src, dst)
    labels = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    labels, converged = _propagate(adj, labels, rounds)
    if converged:
        return labels
    # condense: contract each edge to its endpoints' current labels;
    # intra-cluster edges become self-loops and vanish. The condensed
    # graph has one node per partial cluster — for a diameter-d chain
    # that's n/(switch_after+1) nodes, and star finishes in O(log) rounds.
    lab_a = labels.select(F.col("node").alias("a"), F.col("label").alias("_la"))
    lab_b = labels.select(F.col("node").alias("b"), F.col("label").alias("_lb"))
    condensed = (
        adj.join(lab_a, "a")
        .join(lab_b, "b")
        .select(F.col("_la").alias("id_a"), F.col("_lb").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    star = _cc_star(condensed, "id_a", "id_b", max_iter - rounds)
    # a label with no surviving inter-cluster edge keeps itself
    final = star.select(
        F.col("node").alias("label"), F.col("label").alias("_final")
    )
    return labels.join(final, "label", "left").select(
        "node", F.coalesce(F.col("_final"), F.col("label")).alias("label")
    )


def _sig(e: DataFrame) -> tuple[int, int, int]:
    """Cheap set signature for convergence screening: (count, plus two
    independent bounded-hash sums — xxhash64 over the edge in both
    argument orders, distinct hash functions). pmod bounds the sum
    terms < 2³¹ so the BIGINT sum cannot overflow (ANSI mode
    throws on overflow) below ~2³² edges. A match is only a SCREEN —
    the caller confirms with an exact set comparison before declaring
    the fixed point."""
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(2147483647))).alias("h"),
        F.sum(F.pmod(F.xxhash64("b", "a"), F.lit(2147483647))).alias("h2"),
    ).first()
    return (row["n"], row["h"] or 0, row["h2"] or 0)


def _cc_star(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    # node set from the RAW endpoints: a node appearing only in
    # self-loop edges still belongs in the output (labeled itself),
    # exactly as propagation keeps it — the two algorithms must agree
    # on every input, degenerate ones included.
    orig_nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # canonical undirected edge set: (a < b), self-loops dropped
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sig = _sig(e)
    if sig[0] == 0:
        return orig_nodes.withColumn("label", F.col("node"))
    for _ in range(max_iter):
        # large-star: every node u attaches its LARGER neighbors to
        # m(u) = min(Γ(u) ∪ {u}); since m ≤ u < v the emitted edge
        # (m, v) is already canonical and never a self-loop.
        nbrs = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
        )
        # small-star on the large-star output: orient each edge from its
        # larger endpoint u to v < u, attach v AND u to m(u) = min of
        # u's smaller neighborhood (all < u, so least(u, ·) is moot).
        oriented = large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        joined = oriented.join(mins2, "u")
        small = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .union(joined.select(F.col("m").alias("a"), F.col("u").alias("b")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = _sig(small)
        # signature match is a screen; the EXACT check (both frames are
        # distinct and equal-count when sigs match, so one-sided
        # exceptAll-empty ⇔ set equality) runs only here — once at the
        # true fixed point, or on the ~2⁻⁶² per-round chance of a
        # collision, where it correctly sends us back around the loop.
        if new_sig == sig and small.exceptAll(e).isEmpty():
            # fixed point: small is a star forest rooted at component
            # minima
            labels = small.select(
                F.col("b").alias("node"), F.col("a").alias("label")
            ).union(
                small.select(F.col("a").alias("node"), F.col("a").alias("label"))
            ).distinct()
            return (
                orig_nodes.join(labels, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("label"), F.col("node")).alias("label"),
                )
            )
        e, sig = small, new_sig
    raise RuntimeError(
        f"connected_components(star) did not converge in {max_iter} rounds"
    )


# ---------------------------------------------------------------------------
# Integer PageRank
# ---------------------------------------------------------------------------


#: Graphs with at most this many NODES run the PageRank rounds
#: driver-side (bounded collect of the weighted edge list, exact Python
#: integer arithmetic — bit-identical to the distributed recurrence).
#: r18 measurement: q_pagerank's nation graph is 25 nodes / ≤625 edges
#: at ANY SF, and each distributed round cost ~0.35 s of pure
#: job-scheduling latency. Above the bound the loop stays fully
#: distributed — the billion-node path is unchanged.
DRIVER_GRAPH_NODES = 512
_DRIVER_GRAPH_EDGES = 262144  # secondary guard: collected edge rows


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iterations: int = 10,
    scale: int = 10**9,
    damping_pct: int = 85,
    driver_graph_nodes: int = DRIVER_GRAPH_NODES,
) -> DataFrame:
    """Weighted PageRank with ALL-INTEGER arithmetic — ranks live in
    ppb units (BIGINT), per-edge contributions and the damping factor
    apply as integer floor divisions, so given the same graph the
    result is bit-identical on any engine, schedule, or layout (which
    is what lets q_pagerank hash-check a fixed-iteration run against a
    DuckDB unrolled-CTE replay — double-precision PageRank sums are
    reduction-order-dependent and could never be).

    Per iteration: r'(v) = base + (damping · Σ_{u→v} ⌊r(u)·w(u,v) /
    out_w(u)⌋) ÷ 100, base = ⌊(100−damping)·scale / (N·100)⌋. Nodes
    without in-edges get base; dangling-node mass leaks (the standard
    simplification — documented, deterministic).

    Scale: one shuffle per iteration (contribution agg keyed on dst;
    the rank join shuffles on src) — the textbook distributed
    PageRank; lineage cut per round with lazy localCheckpoint exactly
    like connected_components. N is a single driver-side scalar (one
    count — a graph-level constant, not per-row data)."""
    outw = edges.groupBy(src).agg(F.sum(weight).cast("long").alias("_ow"))
    # LEFT join: a NULL-src edge never matches outw but still names its
    # dst (and NULL) as graph nodes, so both paths below take the node
    # set from this one frame
    e = edges.join(outw, src, "left").select(
        F.col(src).alias("_src"),
        F.col(dst).alias("_dst"),
        F.col(weight).cast("long").alias("_w"),
        "_ow",
    )
    # materialize the weighted edge frame ONCE (the _adjacency
    # discipline): without this every contribution round re-executes the
    # full upstream edge build — for q_pagerank that is the
    # lineitem→orders→customer→supplier join pipeline, re-run 10×
    # (r17 catch: 7.7 s → the build runs once and the rounds iterate on
    # the graph-sized frame as the docstring already claimed)
    e = plan_inspect.checkpoint(e)
    # Driver path for BOUNDED graphs: ONE bounded collect of the
    # weighted edge list (limit-guarded — a caller may pass a
    # multigraph); nodes, N, and the rounds all derive from it in exact
    # Python ints. Bit-identical to the distributed recurrence,
    # including the SQL null-join semantics (a NULL src never matches
    # the rank frame; a NULL dst's contribution never joins back — both
    # spelled as explicit skips). Falls through to the distributed loop
    # when the edge list or node set exceeds the bound.
    if driver_graph_nodes and (
        e.schema["_src"].dataType == e.schema["_dst"].dataType
    ):
        rows = e.limit(_DRIVER_GRAPH_EDGES + 1).collect()
        if len(rows) <= _DRIVER_GRAPH_EDGES:
            node_set = {r["_src"] for r in rows} | {r["_dst"] for r in rows}
            if len(node_set) <= driver_graph_nodes:
                from pyspark.sql.types import LongType, StructField, StructType

                out_schema = StructType(
                    [
                        StructField(
                            "node", e.schema["_src"].dataType, True
                        ),
                        StructField("r", LongType(), True),
                    ]
                )
                has_null = None in node_set
                node_list = sorted(v for v in node_set if v is not None)
                if has_null:
                    node_list.append(None)
                n_loc = len(node_list)
                if n_loc == 0:
                    return edges.sparkSession.createDataFrame(
                        [], out_schema
                    )
                base_loc = ((100 - damping_pct) * scale) // (n_loc * 100)
                ranks = {v: scale // n_loc for v in node_list}
                for _ in range(iterations):
                    contrib: dict = {}
                    for row in rows:
                        es, ed = row["_src"], row["_dst"]
                        if es is None or ed is None or row["_w"] is None:
                            continue  # SQL null-join / NULL-sum semantics
                        c = (ranks[es] * row["_w"]) // row["_ow"]
                        contrib[ed] = contrib.get(ed, 0) + c
                    ranks = {
                        v: base_loc + (damping_pct * contrib.get(v, 0)) // 100
                        if v is not None
                        else base_loc
                        for v in node_list
                    }
                return edges.sparkSession.createDataFrame(
                    [(v, ranks[v]) for v in node_list], out_schema
                )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("r", F.lit(0).cast("long"))
    base = ((100 - damping_pct) * scale) // (n * 100)
    r = nodes.withColumn("r", F.lit(scale // n).cast("long"))
    for it in range(iterations):
        contrib = (
            e.join(r, e._src == r.node)
            .select(
                F.col("_dst").alias("node"),
                F.expr("(r * _w) DIV _ow").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").cast("long").alias("_s"))
        )
        pre = nodes.join(contrib, "node", "left").select(
            "node",
            F.expr(
                f"CAST({base} + ({damping_pct} * coalesce(_s, CAST(0 AS"
                f" BIGINT))) DIV 100 AS BIGINT)"
            ).alias("r"),
        )
        if it == 0:
            # one representative round for plan audits — every round has
            # the identical shape, so registering all 10 is just noise
            plan_inspect.register_subplan(pre)
        r = pre.localCheckpoint(eager=False)
    return r

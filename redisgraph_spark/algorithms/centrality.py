"""Closeness / harmonic centrality by multi-source frontier BFS.

Additive scope like algo.wcc (the reference registry ships only
BFS/pageRank, ``/root/reference/src/procedures/procedure.c:27-42``).
Computed for an explicit SOURCE SET bounded to ``max_hops`` — the
scale-sane contract: all-nodes closeness is O(V·E) and never the right
cluster job, while k-bounded closeness for a candidate set (the usual
"how central are these accounts/pages" ask) is one multi-source BFS.

Definitions over nodes reached within ``max_hops`` directed hops
(self excluded): ``closeness = reached / Σ dist`` and
``harmonic = Σ 1/dist`` (harmonic is the variant that stays
well-defined on disconnected graphs — Boldi & Vigna 2014). Sources
reaching nothing report 0 for both.

Scale shape: the BFS frontier is keyed by (root, node) — one
equi-join + one anti-join against the visited set per hop, all
roots advanced together (the same one-join-per-level shape as
``algorithms/bfs.py``); the final centrality is one root-keyed
aggregation. Nothing driver-side. At sf0.1, local[4]: three Spark jobs
per hop for q_closeness, among them the superstep's lineage cut and its
empty-frontier probe; q_betweenness runs 3-4 per forward level and 6
per backward level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms import superstep

MAX_HOPS = 16


def closeness(edges: DataFrame, source_ids, max_hops: int = MAX_HOPS,
              grid: float = 1e6) -> DataFrame:
    """``edges``: ``_src``/``_dst``. ``source_ids``: list of ids OR a
    one-column DataFrame of ids (the correlated-CALL path — sources
    stay distributed, never collected).  Returns one row per source:
    ``(node, reached, closeness, harmonic)`` — reached/centralities
    over nodes at directed distance 1..max_hops, grid-rounded."""
    e = superstep.cut(edges.select(F.col("_src").alias("__u"),
                                   F.col("_dst").alias("__v")).distinct())
    roots = _roots(edges, source_ids)

    def step(visited: DataFrame, depth: int) -> DataFrame:
        return visited.unionByName(
            visited.filter(F.col("__d") == depth - 1)
            .join(e, F.col("__nid") == e["__u"])
            .select("__root", F.col("__v").alias("__nid"),
                    F.lit(depth).alias("__d"))
            .dropDuplicates(["__root", "__nid"])
            .join(visited, ["__root", "__nid"], "left_anti"))

    visited = superstep.run(
        roots.select("__root", F.col("__root").alias("__nid"),
                     F.lit(0).alias("__d")),
        step, max_hops, _level_empty).state
    stats = visited.filter(F.col("__d") > 0).groupBy("__root").agg(
        F.count(F.lit(1)).alias("reached"),
        F.sum("__d").alias("__sumd"),
        F.sum(F.try_divide(F.lit(1.0), F.col("__d"))).alias("__harm"))
    # try_divide everywhere: when no source reaches anything the stats
    # side is EMPTY and AQE's empty-relation propagation constant-folds
    # the joined columns — under ANSI mode a folded 0-divisor then
    # throws where per-row null/null would not (found driving
    # correlated closeness on a zero-out-degree source)
    return roots.join(stats, "__root", "left").select(
        F.col("__root").alias("node"),
        F.coalesce("reached", F.lit(0)).cast("long").alias("reached"),
        F.coalesce(F.round(F.try_divide(F.col("reached"),
                                        F.col("__sumd")) * grid)
                   / grid, F.lit(0.0)).alias("closeness"),
        F.coalesce(F.round(F.col("__harm") * grid) / grid, F.lit(0.0))
        .alias("harmonic"))


def _roots(edges: DataFrame, source_ids) -> DataFrame:
    """Distinct ``__root`` ids from a list, or from a one-column
    DataFrame (the CALL path — sources stay distributed, never
    collected)."""
    if isinstance(source_ids, DataFrame):
        return source_ids.select(
            F.col(source_ids.columns[0]).cast("long").alias("__root")) \
            .filter(F.col("__root").isNotNull()).dropDuplicates()
    return edges.sparkSession.createDataFrame(
        [(int(i),) for i in source_ids], "__root long").dropDuplicates()


# BFS level ``depth`` (column ``__d``) came out empty: every root's
# reachable set is complete
_level_empty = superstep.frontier_empty(
    lambda visited, depth: visited.filter(F.col("__d") == depth))


def closeness_call(planner, ctx, clause) -> tuple[DataFrame, list[str]]:
    """``CALL algo.closeness(sources[, reltype[, maxHops]])``. Sources
    are a bound node variable (correlated: the per-row sources feed ONE
    (root, node)-keyed multi-source BFS, joined back on the source id —
    no driver loop; reference ProcedureCall is per-record,
    op_procedure_call.c) or a literal source-id list."""
    from redisgraph_spark.functions.procedures import (
        arg_value, attach_roots, source_roots, yield_nodes)
    from redisgraph_spark.planner.planner import PlanError

    roots, key = source_roots(planner, ctx, clause, "algo.closeness",
                              many=True)
    rel, hops = None, MAX_HOPS
    for a in clause.args[1:]:
        val = arg_value(planner, a, "algo.closeness options")
        if isinstance(val, str):
            rel = val
        elif isinstance(val, int) and not isinstance(val, bool):
            hops = val
        elif val is not None:
            raise PlanError(
                "algo.closeness: options are an optional relation-type "
                "string and an optional int max hop count")
    if hops < 1:
        raise PlanError("algo.closeness max hops must be >= 1")
    g = planner.graph
    cl = closeness(g.edges([rel] if rel else None)
                   .select("_src", "_dst"), roots, max_hops=hops)
    out = yield_nodes(cl.withColumn("__root", F.col("node")),
                      g.nodes(None))
    return attach_roots(ctx, key, out), \
        ["node", "reached", "closeness", "harmonic"]


def betweenness(edges: DataFrame, source_ids: list[int] | None = None,
                max_hops: int = MAX_HOPS, directed: bool = False,
                grid: float = 1e6) -> DataFrame:
    """Brandes betweenness contributions from a source set (Brandes
    2001 — "A faster algorithm for betweenness centrality"), as two
    layered join passes:

    - forward: multi-source BFS keyed by (root, node) carrying σ, the
      shortest-path count, accumulated by summing predecessor σ per
      newly-reached node — one equi-join + one anti-join + one keyed
      aggregation per level, all roots advanced together;
    - backward: dependency accumulation per level, deepest first —
      δ(v) = Σ_{w : v→w on the SP DAG} σ(v)/σ(w) · (1 + δ(w)); the SP
      DAG needs no stored predecessor lists, it is recovered per level
      by joining the edge set between consecutive BFS layers.

    ``source_ids=None`` uses every endpoint in the edge set — EXACT
    betweenness, O(V·E): right for label-bounded subgraphs, never for
    the full 100 TB graph (pass an explicit candidate set there; the
    k-source sum is the standard estimator, Brandes & Pich 2007).
    Undirected graphs (``directed=False``) symmetrize the edge set and
    halve the final sums (each unordered pair counted from both ends).

    Returns ``(node, score)`` for every non-root-only node reached,
    grid-rounded for cross-engine determinism.
    """
    e = edges.select(F.col("_src").alias("__u"),
                     F.col("_dst").alias("__v"))
    if not directed:
        e = e.unionByName(e.select(F.col("__v").alias("__u"),
                                   F.col("__u").alias("__v")))
    e = superstep.cut(e.filter(F.col("__u") != F.col("__v")).distinct())
    if source_ids is None:
        source_ids = e.select(F.col("__u").alias("__root")) \
            .unionByName(e.select(F.col("__v").alias("__root")))
    roots = superstep.cut(_roots(e, source_ids))

    def forward(visited: DataFrame, depth: int) -> DataFrame:
        return visited.unionByName(
            visited.filter(F.col("__d") == depth - 1)
            .join(e, F.col("__nid") == e["__u"])
            .select("__root", F.col("__v").alias("__nid"), "__sigma")
            .join(visited, ["__root", "__nid"], "left_anti")
            .groupBy("__root", "__nid")
            .agg(F.sum("__sigma").alias("__sigma"))
            .select("__root", "__nid", F.lit(depth).alias("__d"),
                    "__sigma"))

    fwd = superstep.run(
        roots.select("__root", F.col("__root").alias("__nid"),
                     F.lit(0).alias("__d"), F.lit(1.0).alias("__sigma")),
        forward, max_hops, _level_empty)
    visited = fwd.state
    # the deepest non-empty BFS level
    deepest = fwd.rounds - 1 if fwd.converged else fwd.rounds

    def backward(below: DataFrame, rnd: int) -> DataFrame:
        # one level per superstep, deepest first; ``below`` holds every
        # level under d with its dependency δ (the deepest level's is 0)
        d = deepest - rnd
        lower = below.filter(F.col("__d") == d + 1)
        cur = visited.filter(F.col("__d") == d)
        down = cur.select(F.col("__root").alias("__r"),
                          F.col("__nid").alias("__a"),
                          F.col("__sigma").alias("__sa")) \
            .join(e, F.col("__a") == e["__u"]) \
            .join(lower,
                  (F.col("__r") == lower["__root"])
                  & (e["__v"] == lower["__nid"])) \
            .groupBy(F.col("__r"), F.col("__a")) \
            .agg(F.sum(F.col("__sa") / F.col("__sigma")
                       * (F.lit(1.0) + F.col("__delta"))).alias("__dl"))
        return below.unionByName(cur.join(
            down, (cur["__root"] == down["__r"])
            & (cur["__nid"] == down["__a"]), "left")
            .select("__root", "__nid", "__d", "__sigma",
                    F.coalesce(F.col("__dl"), F.lit(0.0))
                    .alias("__delta")))

    # backward dependency accumulation (nothing to do with depth-0-only
    # BFS trees: no intermediates exist)
    deltas = superstep.run(
        visited.filter(F.col("__d") == deepest)
        .withColumn("__delta", F.lit(0.0)),
        backward, max(deepest - 1, 0)).state
    contributions = deltas.filter(
        (F.col("__d") > 0) & (F.col("__d") < deepest))
    half = 2.0 if not directed else 1.0
    return contributions.groupBy(F.col("__nid").alias("node")).agg(
        (F.round(F.sum("__delta") / half * grid) / grid).alias("score"))


def node_similarity(edges: DataFrame, direction: str = "out",
                    threshold: float = 0.3, top_k: int = 100,
                    max_neighbor_degree: int | None = 10_000,
                    grid: float = 1e6) -> DataFrame:
    """Neighbor-set Jaccard node similarity (the GDS nodeSimilarity
    staple): sim(a, b) = |N(a)∩N(b)| / |N(a)∪N(b)| over ``direction``
    neighbors ('out' = _dst sets keyed by _src, 'in' = the transpose).
    The co-occurrence recommender primitive — e.g. parts similar
    because the same orders contain them.

    Scale shape: candidate pairs come from a self-join on the SHARED
    NEIGHBOR key (only pairs with intersection > 0 ever materialize —
    never all-pairs), intersections from one (a, b) count, set sizes
    from a degree table. ``max_neighbor_degree`` drops hub neighbors
    whose pair fan-out is quadratic (the max_fp_freq stop-shingle
    lever): a neighbor shared by d nodes contributes d² pairs, so one
    celebrity hub would dominate the shuffle. Set sizes are computed
    BEFORE the drop, so capped similarities are biased DOWN, never up
    (a capped pair can miss the threshold, not fake it). Callers pass
    None for exact semantics — the contract entry does.

    Returns unordered pairs (node_a < node_b): (node_a, node_b,
    intersection, jaccard), top_k by (jaccard desc, node_a, node_b).
    """
    if direction not in ("out", "in"):
        raise ValueError("node_similarity: direction must be 'out' or 'in'")
    key, nbr = (("_src", "_dst") if direction == "out"
                else ("_dst", "_src"))
    adj = edges.select(F.col(key).alias("__n"),
                       F.col(nbr).alias("__nb")).distinct()
    sizes = adj.groupBy("__n").agg(F.count(F.lit(1)).alias("__sz"))
    if max_neighbor_degree is not None:
        hot = adj.groupBy("__nb").agg(F.count(F.lit(1)).alias("__d")) \
            .filter(F.col("__d") > max_neighbor_degree).select("__nb")
        adj = adj.join(hot, "__nb", "left_anti")
    a = adj.select(F.col("__n").alias("node_a"), "__nb")
    b = adj.select(F.col("__n").alias("node_b"), "__nb")
    inter = a.join(b, "__nb") \
        .filter(F.col("node_a") < F.col("node_b")) \
        .groupBy("node_a", "node_b").agg(
            F.count(F.lit(1)).alias("intersection"))
    jac = (F.round(F.col("intersection")
                   / (F.col("__sa") + F.col("__sb")
                      - F.col("intersection")) * grid) / grid)
    return inter \
        .join(sizes.select(F.col("__n").alias("node_a"),
                           F.col("__sz").alias("__sa")), "node_a") \
        .join(sizes.select(F.col("__n").alias("node_b"),
                           F.col("__sz").alias("__sb")), "node_b") \
        .select("node_a", "node_b", "intersection",
                jac.alias("jaccard")) \
        .filter(F.col("jaccard") >= threshold) \
        .orderBy(F.col("jaccard").desc(), "node_a", "node_b") \
        .limit(top_k)

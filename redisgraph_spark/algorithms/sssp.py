"""Weighted shortest paths from a source set (bounded-hop Bellman-Ford).

Additive scope like algo.wcc — the reference registry ships only
BFS/pageRank (``/root/reference/src/procedures/procedure.c:27-42``);
weighted SSSP is the natural companion to algo.BFS for property graphs
whose edges carry costs (here: any numeric edge property).

Algorithm: breadth-synchronous relaxation. ``dist`` holds the best
known distance per node; each round joins the improved frontier with
the edge list, min-aggregates candidate distances per destination, and
keeps only strict improvements — exactly Bellman-Ford with the frontier
optimization, which on non-negative weights converges within
``max_hops`` rounds to the shortest distance using ≤ ``max_hops`` edges.
Fixed round count (not data-dependent) when ``max_hops`` is given, so a
fixed-unroll SQL oracle replays the identical arithmetic.

Scale shape per round: one equi-join of the frontier against the edge
list (keyed shuffle on the join key, same partitioning every round so
AQE reuses exchanges) + one min-aggregate of state and candidates keyed
by (root, node). State is one (root, node, dist) row per reached node;
the frontier-only join means converged regions send no messages in
later rounds. No driver-side loops over rows; convergence early-exit
is a 1-row ``take(1)`` probe. At sf0.1, local[4] (q_sssp,
q_sssp_correlated): three Spark jobs per round, among them the lineage
cut and the probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms import superstep

MAX_HOPS = 64


def sssp_multi(edges: DataFrame, roots: DataFrame,
               weight_col: str | None,
               max_hops: int = MAX_HOPS) -> DataFrame:
    """Multi-source SSSP: one distributed Bellman-Ford keyed by
    ``__root`` — the vectorized shape for ``CALL algo.SSSP`` fan-outs
    (round-7 advice #6: per-row sources must never become a driver-side
    loop; same design as ``bfs.bfs_call``'s multi-source frontier).
    ``edges``: ``_src``/``_dst`` (+ ``weight_col`` if given; null or
    missing weights count 1.0). ``roots``: one ``__root`` column.
    Returns ``(__root, node, distance, hops)`` for every node reachable
    from a root within ``max_hops`` edges — each root included at
    distance 0 — where ``distance`` is the minimum total weight and
    ``hops`` the edge count of that minimal path (min hops among
    equal-weight paths: deterministic tie-break)."""
    w = (F.coalesce(F.col(weight_col).cast("double"), F.lit(1.0))
         if weight_col else F.lit(1.0))
    # materialize the slim (src, dst, w) projection once — every
    # relaxation round joins it, and without the cut each round would
    # re-scan the source parquet + re-union the relation tables
    e = superstep.cut(edges.select(F.col("_src").alias("__u"),
                                   F.col("_dst").alias("__v"),
                                   w.alias("__w")))
    best = F.min(F.struct("distance", "hops", "__at")).alias("__b")

    def step(dist: DataFrame, rnd: int) -> DataFrame:
        # relax from the rows improved last round; the (distance, hops,
        # round) minimum keeps an old row on a tie, so a row carries
        # round ``rnd`` only if this superstep strictly improved it
        cand = dist.filter(F.col("__at") == rnd - 1) \
            .join(e, F.col("node") == e["__u"]) \
            .select("__root", F.col("__v").alias("node"),
                    (F.col("distance") + F.col("__w")).alias("distance"),
                    (F.col("hops") + 1).alias("hops"),
                    F.lit(rnd).alias("__at"))
        return dist.unionByName(cand).groupBy("__root", "node").agg(best) \
            .select("__root", "node", "__b.distance", "__b.hops",
                    "__b.__at")

    dist = roots.select(
        F.col("__root"), F.col("__root").alias("node"),
        F.lit(0.0).alias("distance"), F.lit(0).alias("hops"),
        F.lit(0).alias("__at"))
    res = superstep.run(dist, step, max_hops, superstep.frontier_empty(
        lambda d, rnd: d.filter(F.col("__at") == rnd)))
    return res.state.drop("__at")


def sssp_call(planner, ctx, clause) -> tuple[DataFrame, list[str]]:
    """``CALL algo.SSSP(source[, reltype[, weight[, maxHops]]])``. The
    source is a bound node variable (correlated: the per-record fan-out
    is ONE keyed multi-source job joined back on the source id — no
    driver loop; reference ProcedureCall is per-record,
    op_procedure_call.c) or an integer node id (one root)."""
    from redisgraph_spark.functions.procedures import (
        arg_value, attach_roots, source_roots, yield_nodes)
    from redisgraph_spark.planner.planner import PlanError

    roots, key = source_roots(planner, ctx, clause, "algo.SSSP",
                              many=False)
    opts = [arg_value(planner, a, "algo.SSSP options")
            for a in clause.args[1:]]
    rel = opts[0] if opts else None
    weight = opts[1] if len(opts) > 1 else None
    hops = opts[2] if len(opts) > 2 else MAX_HOPS
    if rel is not None and not isinstance(rel, str):
        raise PlanError("algo.sssp reltype must be a string or NULL")
    if weight is not None and not isinstance(weight, str):
        raise PlanError("algo.sssp weight property must be a string or "
                        "NULL")
    if not isinstance(hops, int) or isinstance(hops, bool) or hops < 1:
        raise PlanError("algo.sssp max hops must be a positive int")
    g = planner.graph
    edges = g.edges([rel] if rel else None)
    if weight is not None and weight not in edges.columns:
        raise PlanError(f"algo.sssp: no edge property {weight!r} on the "
                        "selected relation(s)")
    dist = sssp_multi(edges, roots, weight, max_hops=hops)
    return attach_roots(ctx, key, yield_nodes(dist, g.nodes(None))), \
        ["node", "distance", "hops"]

"""``CALL algo.BFS(source, max_level, reltype)`` — single-source BFS.

Reference: ``/root/reference/src/procedures/proc_bfs.c`` (invoke :82-160,
step :163-230). Per input record: BFS from the bound source node over
*outgoing* edges of one relationship type (NULL ⇒ all types), up to
``max_level`` hops (0 ⇒ unlimited). Yields

- ``nodes`` — reachable nodes (source excluded), in node-id order
  (the reference iterates its result vector in index order);
- ``edges`` — the BFS-tree edge that discovered ``nodes[i]``, aligned.

Records whose source reaches nothing emit no row (step returns NULL when
``n == 0``), i.e. the CALL behaves as an inner join.

Spark shape: breadth-synchronous frontier joins keyed by BFS root, so one
CALL with many input records is ONE distributed multi-source BFS — each
hop is a single equi-join + anti-join against the visited set, run as
one superstep (q_bfs at sf0.1, local[4]: four Spark jobs per level,
among them the lineage cut and the empty-frontier probe). The per-node
parent edge is
the min-edge-id discovery (deterministic under Spark's unordered
execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms import superstep
from redisgraph_spark.cypher import ast as A

# edge-count bound exists via visited-set monotonicity; this caps runaway
# unlimited BFS in local tests only
MAX_LEVELS = 64


def bfs_call(planner, ctx, clause) -> tuple[DataFrame, list[str]]:
    """Plan ``CALL algo.BFS`` against the current context; returns the new
    context DataFrame (input records inner-joined with yields) and the
    default yield column names."""
    from redisgraph_spark.functions.procedures import (
        attach_roots, source_roots, yield_nodes)
    from redisgraph_spark.planner.planner import PlanError

    if len(clause.args) != 3:
        raise PlanError("algo.BFS expects (source, max_level, reltype)")
    src_e, depth_e, rel_e = clause.args
    if not isinstance(src_e, A.Variable) or src_e.name not in ctx.vars \
            or ctx.vars[src_e.name].kind != "node":
        raise PlanError("algo.BFS source must be a bound node variable")
    depth = planner._const_int(depth_e) or 0
    if isinstance(rel_e, A.Parameter):
        rel = planner.params[rel_e.name]
    elif isinstance(rel_e, A.Literal):
        rel = rel_e.value
    else:
        raise PlanError("algo.BFS reltype must be a literal or parameter")
    if rel is not None and not isinstance(rel, str):
        raise PlanError("algo.BFS reltype must be a string or NULL")

    g = planner.graph
    edges_flat = g.edges([rel] if rel is not None else None)
    edges = edges_flat.select(
        F.col("_src").alias("__p"), F.col("_dst").alias("__c"),
        F.col("_id").alias("__e"))

    roots, key = source_roots(planner, ctx, clause, "algo.BFS",
                              many=False)

    def step(visited: DataFrame, lvl: int) -> DataFrame:
        nxt = visited.filter(F.col("__lvl") == lvl - 1) \
            .select("__root", "__nid") \
            .join(edges, F.col("__nid") == edges["__p"], "inner") \
            .select("__root", F.col("__c").alias("__nid"), "__e") \
            .join(visited, ["__root", "__nid"], "left_anti")
        # one discovery edge per (root, node): min edge id
        return visited.unionByName(
            nxt.groupBy("__root", "__nid").agg(F.min("__e").alias("__e"))
            .withColumn("__lvl", F.lit(lvl)))

    # visited: (root, nid, discovery edge eid, level); roots at level 0
    visited = roots.select("__root", F.col("__root").alias("__nid"),
                           F.lit(None).cast("long").alias("__e"),
                           F.lit(0).alias("__lvl"))
    res = superstep.run(
        visited, step, depth if depth > 0 else MAX_LEVELS,
        superstep.frontier_empty(
            lambda v, lvl: v.filter(F.col("__lvl") == lvl)))
    if depth <= 0:
        # "unlimited" BFS (reference proc_bfs.c) hit the safety cap
        # with a live frontier — say so instead of silently
        # truncating the reachable set
        superstep.warn_capped(res, "algo.BFS(depth=0)",
                              "deeper nodes are not reported")
    tree = res.state.filter(F.col("__lvl") > 0)

    edge_struct = F.struct(*[F.col(c) for c in edges_flat.columns])
    enriched = yield_nodes(tree.withColumn("__node", F.col("__nid")),
                           g.nodes(None), "__node", "__node") \
        .join(edges_flat.select(F.col("_id").alias("__e"),
                                edge_struct.alias("__edge")),
              "__e", "inner")
    # sort by discovered-node id (struct sort on leading __nid field)
    packed = enriched.groupBy("__root").agg(
        F.array_sort(F.collect_list(
            F.struct("__nid", "__node", "__edge"))).alias("__res"))
    packed = packed.select(
        "__root",
        F.transform("__res", lambda x: x["__node"]).alias("nodes"),
        F.transform("__res", lambda x: x["__edge"]).alias("edges"))

    return attach_roots(ctx, key, packed), ["nodes", "edges"]

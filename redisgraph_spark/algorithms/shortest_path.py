"""shortestPath() as iterative BFS over frontier DataFrames.

Reference: ``shortestpath`` runs a push/pull BFS
(``/root/reference/src/arithmetic/path_funcs/path_funcs.c:119-179`` via
``src/algorithms/LAGraph_bfs_pushpull.c``). Spark-native version: per-hop
equi-join BFS with per-(origin, node) deduplication keeping the
lexicographically-smallest edge-id path — deterministic, and the frontier
stays *sets of nodes*, not paths, so it scales like distributed BFS. Each
hop is one superstep (q_shortest_path at sf0.1, local[4]: 3-4 Spark jobs
per hop, among them the lineage cut and the empty-frontier probe).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from redisgraph_spark.cypher import ast as A
from redisgraph_spark.algorithms import superstep
from redisgraph_spark.algorithms import traversal as TRAV
from redisgraph_spark.planner.expressions import VarInfo

MAX_BFS_HOPS = 32


def compile_shortest_path(planner, ctx, path: A.PatternPath) -> None:
    """Bind `path.var` as {nodes: array<long>, edges: array<long>} for the
    shortest path between the two endpoint patterns."""
    if len(path.elements) != 3:
        raise ValueError("shortestPath() expects a single relationship hop "
                         "pattern (a)-[*..]->(b)")
    src_np, rel, dst_np = path.elements
    if rel.min_hops is None:
        raise ValueError("shortestPath() requires a variable-length pattern")
    if rel.min_hops > 1:
        # BFS first-reach pruning makes longer-than-shortest paths
        # unreachable — openCypher/Neo4j reject the same way rather
        # than silently returning nothing
        raise ValueError(
            "shortestPath() does not support a minimal length "
            "different from 0 or 1")
    # max of 0 is a real bound ([*0..0] = zero-length paths only);
    # only absence means unbounded
    unbounded = rel.max_hops is None
    max_hops = MAX_BFS_HOPS if unbounded else rel.max_hops

    src = planner._bind_node(ctx, src_np)
    from_c, to_c = "__spf", "__spt"
    oriented, props = planner._oriented_edge_sel(rel, from_c, to_c)
    comp = planner.compiler(ctx)
    for k, v in rel.props:
        if k in props:
            oriented = oriented.filter(F.col(k) == comp.compile(v))
        else:
            oriented = oriented.filter(F.lit(False))
    e = oriented.select(F.col(from_c), F.col(to_c).alias("__sp_next"),
                        F.col("_id").alias("__sp_eid"))

    # BFS state is (origin id, current node, path ids, hop) over
    # DISTINCT origins only — never the full input rows. Input rows
    # re-attach by an origin-id join afterwards, so many rows sharing a
    # source (e.g. a bound destination varying per row) cost one BFS,
    # and the state size is bounded by |reachable nodes|, not |input
    # rows| — the shape that survives a 100× scale-up. Every reached
    # (origin, node) is in the state, so it is also the seen set.
    def step(reached, hop: int):
        nxt = reached.filter(F.col("__sp_hop") == hop - 1) \
            .join(e, F.col("__sp_cur") == e[from_c], "inner") \
            .select(F.col("__sp_origin"),
                    F.col("__sp_next").alias("__sp_cur"),
                    F.array_append(F.col("__sp_eids"),
                                   F.col("__sp_eid")).alias("__sp_eids"),
                    F.array_append(F.col("__sp_nids"),
                                   F.col("__sp_next")).alias("__sp_nids"))
        # BFS pruning: drop nodes already reached from this origin at a
        # smaller hop count (first reach = shortest)
        nxt = nxt.join(reached, ["__sp_origin", "__sp_cur"], "left_anti")
        if path.shortest == "all":
            # allShortestPaths: keep every distinct first-reach path
            nxt = nxt.dropDuplicates(["__sp_origin", "__sp_cur",
                                      "__sp_eids"])
        else:
            # one deterministic shortest path per (origin, node)
            nxt = nxt.groupBy("__sp_origin", "__sp_cur") \
                .agg(F.min(F.struct("__sp_eids", "__sp_nids"))
                     .alias("__m")) \
                .select("__sp_origin", "__sp_cur", F.col("__m.__sp_eids"),
                        F.col("__m.__sp_nids"))
        return reached.unionByName(
            nxt.withColumn("__sp_hop", F.lit(hop)))

    origins = ctx.df.select(
        F.col(f"{src}._id").alias("__sp_origin")).dropDuplicates()
    res = superstep.run(
        origins.select(
            F.col("__sp_origin"),
            F.col("__sp_origin").alias("__sp_cur"),
            F.array().cast("array<long>").alias("__sp_eids"),
            F.array(F.col("__sp_origin")).alias("__sp_nids"),
            F.lit(0).alias("__sp_hop")),
        step, max_hops, superstep.frontier_empty(
            lambda reached, hop: reached.filter(F.col("__sp_hop") == hop)))
    if unbounded:
        superstep.warn_capped(res, "unbounded shortestPath()",
                              "longer shortest paths are not found")
    paths = res.state.filter(F.col("__sp_hop") >= rel.min_hops) \
        .drop("__sp_hop")

    # re-attach the input rows by origin id
    out = ctx.df.join(
        paths, F.col(f"{src}._id") == paths["__sp_origin"],
        "inner").drop("__sp_origin")

    # bind destination node
    tgt = dst_np.var or planner.sym("n")
    if tgt in ctx.vars:
        out = out.filter(F.col("__sp_cur") == F.col(f"{tgt}._id"))
        # labels / inline props on the bound destination constrain it
        # exactly like _bind_node does for the source side
        if dst_np.labels:
            if planner.graph._multilabel:
                out = out.filter(F.arrays_overlap(
                    F.col(f"{tgt}._labels"),
                    F.array(*[F.lit(l) for l in dst_np.labels])))
            else:
                out = out.filter(
                    F.col(f"{tgt}._label").isin(list(dst_np.labels)))
        if dst_np.props:
            pcomp = planner.compiler(ctx)
            for k, v in dst_np.props:
                if k in ctx.vars[tgt].fields:
                    out = out.filter(pcomp.prop_eq(
                        F.col(tgt).getField(k), pcomp.compile(v)))
                else:
                    out = out.filter(F.lit(False))
    else:
        flat, nprops = planner._node_scan(dst_np.labels or None)
        nid = planner.sym("nid")
        n_sel = flat.select(
            F.struct(*[F.col(c) for c in flat.columns]).alias(tgt),
            F.col("_id").alias(nid))
        out = out.join(n_sel, F.col("__sp_cur") == F.col(nid), "inner") \
                 .drop(nid)
        ctx.vars[tgt] = VarInfo("node", nprops)
        pcomp = planner.compiler(ctx)
        for k, v in dst_np.props:
            if k in nprops:
                out = out.filter(F.col(tgt).getField(k) == pcomp.compile(v))
            else:
                out = out.filter(F.lit(False))
    if path.var is not None:
        light = path.var in getattr(planner, "_light_paths", set())
        if light:
            # only length(p)/size(p) downstream: id arrays suffice, skip
            # the id→struct joins entirely
            out = out.withColumn(
                path.var, F.struct(F.col("__sp_nids").alias("nodes"),
                                   F.col("__sp_eids").alias("edges")))
        else:
            out = _materialize_path_structs(planner, out, path.var)
        ctx.vars[path.var] = VarInfo("path")
    ctx.df = out.drop("__sp_cur", "__sp_eids", "__sp_nids")


def _materialize_path_structs(planner, out, pvar: str):
    """id arrays → arrays of full node/edge structs (unified schema), so
    shortestPath paths look exactly like pattern paths. Two
    posexplode→join→regroup rounds keyed by a checkpointed row id."""
    g = planner.graph
    row = planner.sym("sprow")
    out = superstep.cut(
        out.withColumn(row, F.monotonically_increasing_id()))

    def pack(id_col: str, flat, alias: str):
        struct = F.struct(*[F.col(c) for c in flat.columns])
        pos = out.select(row, F.posexplode(id_col).alias("__pos", "__xid"))
        pos = pos.join(
            flat.select(F.col("_id").alias("__xid"), struct.alias("__xs")),
            "__xid", "inner")
        return pos.groupBy(row).agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__xs"))),
                lambda x: x["__xs"]).alias(alias))

    nodes = pack("__sp_nids", g.nodes(None), "__sp_nodes")
    edges = pack("__sp_eids", g.edges(None), "__sp_edges")
    out = out.join(nodes, row, "left").join(edges, row, "left")
    node_t = T.ArrayType(g.nodes(None).schema)
    edge_t = T.ArrayType(g.edges(None).schema)
    out = out.withColumn(
        pvar, F.struct(
            F.coalesce(F.col("__sp_nodes"),
                       F.array().cast(node_t)).alias("nodes"),
            F.coalesce(F.col("__sp_edges"),
                       F.array().cast(edge_t)).alias("edges")))
    return out.drop(row, "__sp_nodes", "__sp_edges")

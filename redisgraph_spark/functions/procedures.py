"""CALL procedures — the reference's UDTF-shaped extension point.

Registry parity with ``/root/reference/src/procedures/procedure.c:27-42``:
``db.labels``, ``db.relationshipTypes``, ``db.propertyKeys``,
``db.indexes``, ``dbms.procedures``, ``algo.BFS``, ``algo.pageRank``,
fulltext create/drop/query.

Catalog procedures answer from Graph metadata (no scan). Algorithms are
DataFrame-iterative (``redisgraph_spark.algorithms``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.cypher import ast as A

PROCS = {
    "db.labels": ("label",),
    "db.relationshiptypes": ("relationshipType",),
    "db.propertykeys": ("propertyKey",),
    "db.indexes": ("type", "label", "properties"),
    "dbms.procedures": ("name", "mode"),
    "algo.pagerank": ("node", "score"),
    "algo.bfs": ("nodes", "edges"),
    "algo.wcc": ("node", "component"),
    "algo.trianglecount": ("triangles",),
    "algo.labelpropagation": ("node", "label"),
    "algo.kcore": ("node",),
    "algo.sssp": ("node", "distance", "hops"),
    "algo.hits": ("node", "hub", "authority"),
    "algo.closeness": ("node", "reached", "closeness", "harmonic"),
    "algo.betweenness": ("node", "score"),
    "algo.randomwalk": ("walk", "step", "node"),
    "algo.nodesimilarity": ("node1", "node2", "intersection", "jaccard"),
    "db.idx.fulltext.querynodes": ("node", "score"),
    "db.idx.fulltext.createnodeindex": ("ok",),
    "db.idx.fulltext.drop": ("ok",),
}

# Per-source procedures: ONE roots-keyed multi-source job whether the
# sources are a bound node variable (correlated CALL, rows joined back
# on the source id) or literal/parameter ids (an inline roots frame).
PER_SOURCE = {"algo.bfs", "algo.sssp", "algo.closeness", "algo.randomwalk"}

# Procedures that mutate graph/catalog state at plan time — callers
# (Graph.query version bump, Graph.explain rollback, GRAPH.RO_QUERY
# rejection) all consult this one set.
WRITE_PROCS = {"db.idx.fulltext.createnodeindex", "db.idx.fulltext.drop"}


def per_source_call(planner, ctx, clause) -> tuple[DataFrame, list[str]]:
    """Plan a PER_SOURCE procedure; ``ctx`` is ``None`` for a standalone
    call with literal sources."""
    from redisgraph_spark.algorithms import bfs, centrality, sssp, walks
    call = {"algo.bfs": bfs.bfs_call, "algo.sssp": sssp.sssp_call,
            "algo.closeness": centrality.closeness_call,
            "algo.randomwalk": walks.walks_call}[clause.proc]
    return call(planner, ctx, clause)


def arg_value(planner, e: A.Expr, what: str):
    """A procedure argument that must be constant: literal, parameter,
    or a list of those."""
    from redisgraph_spark.planner.planner import PlanError
    if isinstance(e, A.Literal):
        return e.value
    if isinstance(e, A.Parameter):
        return planner.params[e.name]
    if isinstance(e, A.ListLiteral):
        return [arg_value(planner, x, what) for x in e.items]
    raise PlanError(f"{what} must be a literal or parameter")


def source_roots(planner, ctx, clause, what: str, many: bool):
    """``(roots, key)`` for a per-source CALL: ``roots`` is a one-column
    ``__root`` frame of distinct source ids, ``key`` the input-row
    column it joins back on — the ids of a bound node variable, or
    ``None`` for literal/parameter ids (one id, or a list if ``many``)
    given as an inline frame."""
    from redisgraph_spark.algorithms import superstep
    from redisgraph_spark.planner.planner import PlanError
    src = clause.args[0] if clause.args else None
    if isinstance(src, A.Variable) and ctx is not None \
            and ctx.df is not None \
            and getattr(ctx.vars.get(src.name), "kind", None) == "node":
        key = F.col(f"{src.name}._id")
        return superstep.cut(ctx.df.select(key.alias("__root"))
                             .filter(F.col("__root").isNotNull())
                             .dropDuplicates()), key
    val = arg_value(planner, src, f"{what} source") if src is not None \
        else None
    ids = val if many else [val]
    if (not isinstance(ids, list) or not ids
            or not all(isinstance(i, int) and not isinstance(i, bool)
                       for i in ids)):
        raise PlanError(
            f"{what} requires a bound node variable or "
            + ("a non-empty source-node id list" if many
               else "an integer source id"))
    return planner.graph.spark.createDataFrame(
        [(i,) for i in ids], "__root long").dropDuplicates(), None


def attach_roots(ctx, key, out: DataFrame) -> DataFrame:
    """Per-root results back onto the input rows (inner join on the
    source id), or just the results of a standalone call."""
    if key is None:
        return out.drop("__root")
    return ctx.df.join(out, key == out["__root"], "inner").drop("__root")


def yield_nodes(df: DataFrame, nodes: DataFrame, id_col: str = "node",
                alias: str = "node", how: str = "inner") -> DataFrame:
    """``df`` with its node-id column ``id_col`` replaced, in place, by
    the full node struct ``alias`` — the ``YIELD node`` shape of every
    algo.* procedure, so ``RETURN node.name`` works uniformly."""
    keyed = df.withColumnRenamed(id_col, "__yid")
    packed = nodes.select(
        F.col("_id").alias("__ynid"),
        F.struct(*[F.col(c) for c in nodes.columns]).alias(alias))
    return keyed.join(packed, keyed["__yid"] == packed["__ynid"], how) \
        .select(*[alias if c == id_col else c for c in df.columns])


def _cypher_type_ok(t: str, v) -> bool:
    """Nullable openCypher procedure argument typing (Call2/3): NUMBER
    takes int|float, FLOAT additionally coerces int, INTEGER is exact."""
    if v is None:
        return True
    base = t.rstrip("?").strip().upper()
    if base == "INTEGER":
        return isinstance(v, int) and not isinstance(v, bool)
    if base == "FLOAT":
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if base == "NUMBER":
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if base == "STRING":
        return isinstance(v, str)
    if base == "BOOLEAN":
        return isinstance(v, bool)
    return True   # ANY / LIST / MAP — permissive


def _coerce(t: str, v):
    base = t.rstrip("?").strip().upper()
    if base == "FLOAT" and isinstance(v, int) and not isinstance(v, bool):
        return float(v)
    return v


def _out_sql_type(t: str, values) -> str:
    base = t.rstrip("?").strip().upper()
    fixed = {"STRING": "string", "INTEGER": "bigint",
             "FLOAT": "double", "BOOLEAN": "boolean"}
    if base in fixed:
        return fixed[base]
    if base == "NUMBER":
        return "double" if any(isinstance(v, float) for v in values) \
            else "bigint"
    from redisgraph_spark.session import _lit_sql_type
    for v in values:
        if v is not None:
            return _lit_sql_type(v) or "string"
    return "string"


def _run_custom(planner, clause: A.CallClause, spec: dict
                ) -> tuple[DataFrame, list[str]]:
    """Execute a Graph.register_procedure lookup-table procedure."""
    from redisgraph_spark.planner.planner import PlanError
    from redisgraph_spark.session import inline_df
    g = planner.graph
    decl_args = spec["args"]
    if clause.implicit:
        # `CALL proc` without parens: arguments by name from the
        # query parameters (openCypher Call1 [11], Call2 [3])
        vals = []
        for an, _t in decl_args:
            if an not in planner.params:
                raise PlanError(
                    f"Missing parameter `{an}` for implicit call to "
                    f"{spec['name']} (ParameterMissing)")
            vals.append(planner.params[an])
    else:
        if len(clause.args) != len(decl_args):
            raise PlanError(
                f"Procedure {spec['name']} expects {len(decl_args)} "
                f"arguments, got {len(clause.args)} "
                f"(InvalidNumberOfArguments)")
        vals = []
        for a in clause.args:
            if isinstance(a, A.Literal):
                vals.append(a.value)
            elif isinstance(a, A.Parameter):
                if a.name not in planner.params:
                    raise PlanError(
                        f"Missing parameter `{a.name}` for call to "
                        f"{spec['name']} (ParameterMissing)")
                vals.append(planner.params[a.name])
            elif isinstance(a, A.Unary) and a.op == "-" \
                    and isinstance(a.operand, A.Literal):
                vals.append(-a.operand.value)
            else:
                raise PlanError(
                    f"Procedure {spec['name']} arguments must be "
                    f"constants here")
    for (an, t), v in zip(decl_args, vals):
        if not _cypher_type_ok(t, v):
            raise PlanError(
                f"Procedure {spec['name']} argument `{an}` expects "
                f"{t}, got {type(v).__name__} (InvalidArgumentType)")
    vals = [_coerce(t, v) for (_n, t), v in zip(decl_args, vals)]
    n_args = len(decl_args)
    outs = spec["outputs"]
    matched = [r[n_args:] for r in spec["rows"]
               if list(r[:n_args]) == list(vals)]
    if not outs:
        # yields-nothing procedure: standalone → empty result;
        # in-query → pass-through (planner drops the unit column)
        return inline_df(g.spark, [], [("__unit", "string")]), []
    schema = [(n, _out_sql_type(t, [r[i] for r in matched]))
              for i, (n, t) in enumerate(outs)]
    return inline_df(g.spark, [tuple(r) for r in matched], schema), \
        [n for n, _t in outs]


def run_procedure(planner, clause: A.CallClause
                  ) -> tuple[DataFrame, list[str]]:
    g = planner.graph
    spark = g.spark
    name = clause.proc

    from redisgraph_spark.session import inline_df

    custom = getattr(g, "_custom_procs", {}).get(name)
    if custom is not None:
        return _run_custom(planner, clause, custom)

    if name == "db.labels":
        rows = [(l,) for l in g.labels]
        return inline_df(spark, rows, [("label", "string")]), ["label"]
    if name == "db.relationshiptypes":
        rows = [(r,) for r in g.relationship_types]
        return inline_df(spark, rows, [("relationshipType", "string")]), \
            ["relationshipType"]
    if name == "db.propertykeys":
        rows = [(k,) for k in g.property_keys()]
        return inline_df(spark, rows, [("propertyKey", "string")]), \
            ["propertyKey"]
    if name == "db.indexes":
        # explicitly created exact-match indexes (CREATE INDEX ON
        # :L(p) → sorted-layout re-partition) + fulltext indexes; note
        # every property column is *also* index-equivalent under parquet
        # pushdown/data-skipping (reference: ops/op_index_scan.c →
        # our §2 IndexScan mapping)
        rows = [("exact-match", l, list(props))
                for l, props in sorted(g.indexes.items()) if props]
        if g._fulltext is not None:
            ft: dict[str, list[str]] = {}
            for (l, p) in g._fulltext.indexes:
                ft.setdefault(l, []).append(p)
            rows += [("fulltext", l, sorted(ps))
                     for l, ps in sorted(ft.items())]
        df = inline_df(spark, rows, [("type", "string"),
                                     ("label", "string"),
                                     ("properties", "array<string>")])
        return df, ["type", "label", "properties"]
    if name == "dbms.procedures":
        rows = [(p, "WRITE" if p in WRITE_PROCS else "READ")
                for p in sorted(PROCS)]
        return inline_df(spark, rows, [("name", "string"),
                                       ("mode", "string")]), \
            ["name", "mode"]
    if name == "algo.pagerank":
        from redisgraph_spark.algorithms.pagerank import pagerank_proc
        return pagerank_proc(planner, clause.args)
    if name == "algo.wcc":
        # optional literal arg 'star' picks the large-star/small-star
        # contraction (O(log² n) rounds, diameter-independent — the
        # 100 TB path); default is min-label propagation (one round
        # per diameter hop, fastest on the low-diameter common case)
        from redisgraph_spark.algorithms.components import (
            weakly_connected_components, weakly_connected_components_star)
        algo = weakly_connected_components
        if clause.args:
            mode = clause.args[0]
            val = mode.value if isinstance(mode, A.Literal) else mode
            if val == "star":
                algo = weakly_connected_components_star
            elif val is not None:
                # a typo must not silently run the default algorithm
                raise ValueError(
                    f"algo.wcc: unknown variant {val!r} "
                    "(expected 'star')")
        comp = algo(
            g.nodes().select("_id"), g.edges().select("_src", "_dst"))
        return yield_nodes(comp, g.nodes()), ["node", "component"]
    if name == "algo.trianglecount":
        from redisgraph_spark.algorithms.components import triangle_count
        return triangle_count(g.edges().select("_src", "_dst")), \
            ["triangles"]
    if name == "algo.labelpropagation":
        # additive (like algo.wcc): deterministic synchronous LPA.
        # args: optional relation type (induces the subgraph of that
        # relation's endpoints; default all edges), optional iteration
        # count (default 3, fixed synchronous rounds)
        from redisgraph_spark.algorithms.components import \
            label_propagation
        rel = None
        iters = 3
        for a in clause.args:
            val = a.value if isinstance(a, A.Literal) else a
            if isinstance(val, str):
                rel = val
            elif isinstance(val, int):
                iters = val
            else:
                raise ValueError(
                    "algo.labelPropagation: args are an optional "
                    "relation-type string and an optional int "
                    "iteration count")
        edges = g.edges([rel] if rel else None).select("_src", "_dst")
        if rel:
            ids = edges.select(F.col("_src").alias("_id")).unionByName(
                edges.select(F.col("_dst").alias("_id"))).distinct()
        else:
            ids = g.nodes().select("_id")
        lab = label_propagation(ids, edges, iters=iters)
        return yield_nodes(lab, g.nodes()), ["node", "label"]
    if name == "algo.kcore":
        # additive (like algo.wcc): k-core membership by synchronous
        # peeling. args: required int k, optional relation-type string
        # (induces that relation's subgraph; default all edges),
        # optional int round count (default: peel to fixpoint).
        from redisgraph_spark.algorithms.components import k_core
        k = None
        rel = None
        iters = None
        for a in clause.args:
            val = a.value if isinstance(a, A.Literal) else a
            if isinstance(val, bool):
                raise ValueError("algo.kCore: unexpected boolean arg")
            if isinstance(val, str):
                rel = val
            elif isinstance(val, int):
                if k is None:
                    k = val
                else:
                    iters = val
            else:
                raise ValueError(
                    "algo.kCore: args are an int k, an optional "
                    "relation-type string and an optional int round count")
        if k is None or k < 1:
            raise ValueError("algo.kCore requires an integer k >= 1")
        edges = g.edges([rel] if rel else None).select("_src", "_dst")
        core = k_core(edges, k, iters=iters)
        return yield_nodes(core, g.nodes()), ["node"]
    if name == "algo.nodesimilarity":
        # additive: neighbor-set Jaccard similarity (GDS nodeSimilarity
        # analog). args: optional relation-type string, optional
        # direction 'out'/'in', optional float threshold, optional int
        # top-k. Exact semantics (no hub cap) through this surface.
        from redisgraph_spark.algorithms.centrality import node_similarity
        rel = None
        direction = "out"
        thr = 0.3
        topk = 100
        for a in clause.args:
            if isinstance(a, A.Literal):
                val = a.value
            elif isinstance(a, A.Parameter):
                val = planner.params[a.name]
            else:
                raise ValueError(
                    "algo.nodeSimilarity args must be literals")
            if isinstance(val, str):
                if val in ("out", "in"):
                    direction = val
                else:
                    rel = val
            elif isinstance(val, bool):
                raise ValueError(
                    "algo.nodeSimilarity: unexpected boolean arg")
            elif isinstance(val, int):
                topk = val
            elif isinstance(val, float):
                thr = val
            elif val is not None:
                raise ValueError(
                    "algo.nodeSimilarity: args are an optional relation "
                    "type, direction 'out'/'in', float threshold and "
                    "int top-k")
        sim = node_similarity(
            g.edges([rel] if rel else None).select("_src", "_dst"),
            direction=direction, threshold=thr, top_k=topk,
            max_neighbor_degree=None)
        nodes = g.nodes()
        out = yield_nodes(yield_nodes(sim, nodes, "node_a", "node1"),
                          nodes, "node_b", "node2")
        return out, ["node1", "node2", "intersection", "jaccard"]
    if name == "algo.betweenness":
        # additive: Brandes betweenness on a label-set-induced subgraph
        # (exact when no source list is given — right for bounded
        # subgraphs; k-source estimator otherwise, Brandes & Pich
        # 2007). args: label | [labels], relType, optional source-id
        # list, optional int max hops, optional bool directed
        # (default false: classic undirected betweenness with halved
        # pair counts).
        from redisgraph_spark.algorithms.centrality import (MAX_HOPS,
                                                            betweenness)
        vals = [arg_value(planner, a, "algo.betweenness arguments")
                for a in clause.args]
        label = vals[0] if vals else None
        rel = vals[1] if len(vals) > 1 else None
        srcs = None
        hops = MAX_HOPS
        directed = False
        for v in vals[2:]:
            if isinstance(v, bool):
                directed = v
            elif isinstance(v, list):
                srcs = v
            elif isinstance(v, int):
                hops = v
            elif v is not None:
                raise ValueError(
                    "algo.betweenness: optional args are a source-id "
                    "list, an int max hop count and a directed flag")
        if srcs is not None and (
                not srcs or not all(isinstance(s, int)
                                    and not isinstance(s, bool)
                                    for s in srcs)):
            raise ValueError(
                "algo.betweenness source list must be non-empty ints")
        if hops < 1:
            raise ValueError("algo.betweenness max hops must be >= 1")
        if isinstance(label, list):
            nodes = g.nodes(label)
        else:
            nodes = g.nodes([label] if label else None)
        edges = g.edges([rel] if rel else None).select("_src", "_dst")
        # label-induced subgraph: both endpoints inside the node set
        ids = nodes.select("_id")
        edges = edges.join(ids.withColumnRenamed("_id", "_src"),
                           "_src", "left_semi") \
                     .join(ids.withColumnRenamed("_id", "_dst"),
                           "_dst", "left_semi")
        bc = betweenness(edges, source_ids=srcs, max_hops=hops,
                         directed=directed)
        out = yield_nodes(bc, nodes, how="right") \
            .select("node", F.coalesce("score", F.lit(0.0)).alias("score"))
        return out, ["node", "score"]
    if name == "algo.hits":
        # additive: Kleinberg hubs & authorities, fixed synchronous
        # power-iteration rounds with grid-rounded normalization (the
        # semdedup determinism pattern). args: optional relation-type
        # string, optional int iteration count (default 3).
        from redisgraph_spark.algorithms.hits import hits
        rel = None
        iters = 3
        for a in clause.args:
            val = a.value if isinstance(a, A.Literal) else a
            if isinstance(val, str):
                rel = val
            elif isinstance(val, int) and not isinstance(val, bool):
                iters = val
            else:
                raise ValueError(
                    "algo.HITS: args are an optional relation-type "
                    "string and an optional int iteration count")
        if iters < 1:
            raise ValueError("algo.HITS iteration count must be >= 1")
        sc = hits(g.edges([rel] if rel else None).select("_src", "_dst"),
                  iters=iters)
        return yield_nodes(sc, g.nodes()), ["node", "hub", "authority"]
    if name in ("algo.sssp", "algo.closeness", "algo.randomwalk"):
        # literal/parameter sources: the correlated CALL's execution
        # path on an inline roots frame
        return per_source_call(planner, None, clause)
    if name == "algo.bfs":
        # handled as a correlated call in CypherPlanner._clause_call
        # (needs the bound source variable); reaching here means no ctx
        raise ValueError("algo.BFS requires a bound source node variable")

    def _lit(e):
        if isinstance(e, A.Literal):
            return e.value
        if isinstance(e, A.Parameter):
            return planner.params[e.name]
        raise ValueError("procedure arguments must be literals")

    if name == "db.idx.fulltext.createnodeindex":
        label = str(_lit(clause.args[0]))
        g.fulltext.create(label, *[str(_lit(p)) for p in clause.args[1:]])
        return inline_df(spark, [(True,)], [("ok", "boolean")]), ["ok"]
    if name == "db.idx.fulltext.drop":
        g.fulltext.drop(str(_lit(clause.args[0])))
        return inline_df(spark, [(True,)], [("ok", "boolean")]), ["ok"]
    if name == "db.idx.fulltext.querynodes":
        label = str(_lit(clause.args[0]))
        raw = _lit(clause.args[1])
        # null query matches nothing ("" parses to the empty-match
        # FtAnd) — str(None) would otherwise search the token 'none'
        text = "" if raw is None else str(raw)
        hits = g.fulltext.query(label, text)
        node_cols = [c for c in hits.columns if c != "score"]
        out = hits.select(
            F.struct(*[F.col(c) for c in node_cols]).alias("node"),
            F.col("score"))
        return out, ["node", "score"]
    raise ValueError(f"Unknown procedure {name}")

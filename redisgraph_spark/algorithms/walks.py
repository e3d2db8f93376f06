"""Deterministic random walks — the node2vec / DeepWalk corpus
primitive (additive scope; the reference registry has no walk
procedure, ``/root/reference/src/procedures/procedure.c:27-42``).

Walk generation for embedding pipelines must be REPRODUCIBLE across
engines and retries, so the "random" next-neighbor choice is a seeded
arithmetic mix over (walk id, step, current node) reduced modulo the
node's out-degree against a canonically sorted adjacency — pure BIGINT
arithmetic that any SQL engine reproduces bit-for-bit (no dependence
on a shared hash built-in), which is what lets the DuckDB oracle
replay the exact same walks.

Scale shape: adjacency is ranked once (row_number over _src sorted by
_dst — one shuffle), then each step is ONE equi-join of the frontier
against (node, index): cost ∝ walks × length, never degree. Sinks end
their walks early. At sf0.1, local[4] (q_random_walk): three Spark jobs
per step, among them the superstep's lineage cut and its empty-frontier
probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redisgraph_spark.algorithms import superstep

# mix constants: Knuth multiplicative (2654435761) + two odd primes;
# all intermediates bounded < 2^62 for node ids < ~1e15
_P = 1_000_000_007


def _choice(walk: F.Column, step: int, node: F.Column,
            deg: F.Column, seed: int) -> F.Column:
    h = ((node % _P) * 2654435761
         + F.lit(step).cast("long") * 40503
         + (walk % _P) * 97
         + F.lit(int(seed)).cast("long"))
    return F.pmod(h, deg)


def random_walks(edges: DataFrame, start_ids, length: int = 5,
                 seed: int = 7) -> DataFrame:
    """One walk per start id (a list, or a one-column DataFrame of ids
    for the correlated-CALL path — starts stay distributed). Returns
    ``(walk, step, node)`` rows, step 0 = the start node; a walk stops
    early at a sink (node with no out-edges)."""
    adj = edges.select(F.col("_src").alias("__n"),
                       F.col("_dst").alias("__m")).distinct()
    w = Window.partitionBy("__n").orderBy("__m")
    adj = adj.select("__n", "__m",
                     (F.row_number().over(w) - 1).alias("__idx"))
    deg = adj.groupBy("__n").agg(F.count(F.lit(1)).alias("__deg"))
    adj = superstep.cut(adj.join(deg, "__n"))
    if isinstance(start_ids, DataFrame):
        starts = start_ids.select(
            F.col(start_ids.columns[0]).cast("long").alias("__walk")) \
            .filter(F.col("__walk").isNotNull())
    else:
        starts = edges.sparkSession.createDataFrame(
            [(int(s),) for s in start_ids], "__walk long")

    def step(walks: DataFrame, t: int) -> DataFrame:
        pick = _choice(F.col("__walk"), t, F.col("__node"),
                       F.col("__deg"), seed)
        return walks.unionByName(
            walks.filter(F.col("__step") == t - 1)
            .join(adj, F.col("__node") == adj["__n"], "inner")
            .filter(F.col("__idx") == pick)
            .select("__walk", F.lit(t).alias("__step"),
                    F.col("__m").alias("__node")))

    # a walk that reaches a sink stops; the run halts once every walk has
    walks = superstep.run(
        starts.dropDuplicates(["__walk"]).select(
            "__walk", F.lit(0).alias("__step"),
            F.col("__walk").alias("__node")),
        step, length, superstep.frontier_empty(
            lambda ws, t: ws.filter(F.col("__step") == t))).state
    return walks.select(F.col("__walk").alias("walk"),
                        F.col("__step").alias("step"),
                        F.col("__node").alias("node"))


def walks_call(planner, ctx, clause):
    """``CALL algo.randomWalk(starts[, reltype[, length[, seed]]])``.
    Starts are a bound node variable (correlated: the per-row starts
    feed ONE walk-keyed stepper, cost ∝ starts × length, joined back on
    the start id — no driver loop) or a literal start-id list."""
    from redisgraph_spark.functions.procedures import (
        arg_value, attach_roots, source_roots, yield_nodes)
    from redisgraph_spark.planner.planner import PlanError

    roots, key = source_roots(planner, ctx, clause, "algo.randomWalk",
                              many=True)
    rel = None
    ints = []
    for a in clause.args[1:]:
        v = arg_value(planner, a, "algo.randomWalk options")
        if isinstance(v, str):
            rel = v
        elif isinstance(v, int) and not isinstance(v, bool):
            ints.append(v)
        elif v is not None:
            raise PlanError("algo.randomWalk options are an optional "
                            "reltype, walk length, and seed")
    length = ints[0] if ints else 5
    seed = ints[1] if len(ints) > 1 else 7
    if length < 1:
        raise PlanError("algo.randomWalk length must be >= 1")
    g = planner.graph
    wk = random_walks(g.edges([rel] if rel else None)
                      .select("_src", "_dst"), roots,
                      length=length, seed=seed)
    out = yield_nodes(wk.withColumn("__root", F.col("walk")),
                      g.nodes(None))
    return attach_roots(ctx, key, out), ["walk", "step", "node"]

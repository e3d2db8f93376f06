"""PageRank as iterative DataFrame joins.

Reference: ``algo.pageRank`` (``/root/reference/src/procedures/
proc_pagerank.c:202``, backed by LAGraph's matrix pagerank). Spark-native:
the classic power-iteration with out-degree normalization; each iteration
is one join + one aggregation, both on the node-id key, so at cluster
scale the shuffle is stable across iterations and AQE can reuse the
exchange partitioning. At sf0.1, local[4] (q_pagerank, q_ppr): three
Spark jobs per iteration, among them the superstep's lineage cut and the
one-row delta/dangling collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms import superstep
from redisgraph_spark.cypher import ast as A


def pagerank(nodes: DataFrame, edges: DataFrame, iterations: int = 20,
             damping: float = 0.85, tol: float = 1e-9,
             restart_ids: list[int] | None = None) -> DataFrame:
    """nodes: (_id), edges: (_src,_dst) → (_id, score).

    Power iteration with a restart vector r:
    score ← (1−d)·r + d·(in-contributions + dangling_mass·r). Plain
    PageRank restarts uniformly (r = 1/n on every node, a literal);
    ``restart_ids`` switches to PERSONALIZED PageRank, r uniform over
    that source set — the standard relatedness/recommendation variant.
    Scores start at r. Converges early when the L1 delta between
    iterations drops below `tol` (LAGraph's pagerank stops on the same
    criterion)."""
    n_count = nodes.count()
    if n_count == 0:
        return nodes.select(F.col("_id"), F.lit(0.0).alias("score"))
    # restrict to the node-induced subgraph (the reference runs on the
    # label-restricted submatrix): an edge to/from a node outside
    # `nodes` must neither inflate out-degrees (leaking rank mass out
    # of the graph) nor mask a node's dangling status
    ids = nodes.select("_id")
    edges = edges.join(ids.withColumnRenamed("_id", "_src"),
                       "_src", "left_semi") \
                 .join(ids.withColumnRenamed("_id", "_dst"),
                       "_dst", "left_semi")
    if restart_ids is None:
        r = F.lit(1.0 / n_count)
    else:
        srcs = nodes.sparkSession.createDataFrame(
            [(int(i),) for i in restart_ids], "_id long").dropDuplicates()
        n_src = nodes.join(srcs, "_id", "left_semi").count()
        if n_src == 0:
            raise ValueError(
                "personalized pageRank: no restart node is in the ranked "
                "node set")
        ids = ids.join(srcs.withColumn("__in", F.lit(True)), "_id", "left")
        r = F.when(F.col("__in"), F.lit(1.0 / n_src)).otherwise(F.lit(0.0))
    deg = edges.groupBy("_src").agg(F.count("*").alias("__deg"))
    # deg/e are static across iterations — materialize once instead of
    # re-aggregating the full edge table every round
    e = superstep.cut(edges.select("_src", "_dst").join(deg, "_src"))
    # The state carries the previous score and a dangling flag, so the
    # per-round dangling mass + convergence delta are ONE single-stage
    # scan of the cut state — no joins, no recompute. (The fully
    # in-lineage variant — 1-row broadcast crossJoins — was built and
    # MEASURED SLOWER: two nested broadcast-exchange builds per
    # iteration cost 8-28s over 20 rounds vs ~0.1s/round for a cached
    # single-stage collect; see COVERAGE.md r8 notes.)
    ranks = superstep.cut(
        ids.join(deg.select(F.col("_src").alias("_id"), "__deg"), "_id",
                 "left")
        .select("_id", r.alias("score"), r.alias("__r"),
                F.lit(None).cast("double").alias("__prev"),
                F.col("__deg").isNull().alias("__dang")))
    dangling_mass = F.coalesce(
        F.sum(F.when(F.col("__dang"), F.col("score"))), F.lit(0.0))
    d_mass = [ranks.agg(dangling_mass).collect()[0][0]]

    def step(ranks: DataFrame, _rnd: int) -> DataFrame:
        contrib = e.join(ranks, e["_src"] == ranks["_id"], "inner") \
            .select(F.col("_dst").alias("_id"),
                    (F.col("score") / F.col("__deg")).alias("c"))
        sums = contrib.groupBy("_id").agg(F.sum("c").alias("s"))
        return ranks.select("_id", F.col("score").alias("__old"), "__r",
                            "__dang") \
            .join(sums, "_id", "left") \
            .select(
                "_id",
                (F.lit(1.0 - damping) * F.col("__r")
                 + F.lit(damping) * (F.coalesce(F.col("s"), F.lit(0.0))
                                     + F.lit(float(d_mass[0]))
                                     * F.col("__r"))
                 ).alias("score"),
                "__r", F.col("__old").alias("__prev"), "__dang")

    def small_delta(ranks: DataFrame, _old: DataFrame, _rnd: int) -> bool:
        stats = ranks.agg(
            F.sum(F.abs(F.col("score") - F.col("__prev"))).alias("delta"),
            dangling_mass.alias("dmass")).collect()[0]
        d_mass[0] = stats["dmass"]
        return stats["delta"] is not None and stats["delta"] < tol

    res = superstep.run(ranks, step, iterations, small_delta)
    return res.state.select("_id", "score")


def pagerank_proc(planner, args: list[A.Expr]):
    """CALL algo.pageRank(label, relType) YIELD node, score — signature
    parity with proc_pagerank.c. Additive extension: the label argument
    also accepts a LIST of labels (the reference's single-label
    submatrix generalized to a label-set-induced subgraph — cross-label
    relations like Nation→Region are otherwise unrankable, every edge
    leaving the single label's node set)."""
    from redisgraph_spark.functions.procedures import arg_value, yield_nodes
    g = planner.graph
    vals = [arg_value(planner, a, "algo.pageRank arguments") for a in args]
    label = vals[0] if vals else None
    rel = vals[1] if len(vals) > 1 else None
    sources = vals[2] if len(vals) > 2 else None
    if sources is not None:
        if isinstance(sources, int):
            sources = [sources]
        if (not isinstance(sources, list) or not sources
                or not all(isinstance(s, int) for s in sources)):
            raise ValueError(
                "algo.pageRank: the optional third argument is a "
                "non-empty source-node id (or list of ids) selecting "
                "personalized PageRank")
    if isinstance(label, list):
        nodes = g.nodes(label)
    else:
        nodes = g.nodes([label] if label else None)
    edges = g.edges([rel] if rel else None)
    pr = pagerank(nodes.select("_id"), edges.select("_src", "_dst"),
                  restart_ids=sources)
    return yield_nodes(pr, nodes, id_col="_id"), ["node", "score"]

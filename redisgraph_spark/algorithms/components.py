"""Connected components and triangle counting as DataFrame iterations.

Beyond the reference's procedure registry (it ships only algo.BFS and
algo.pageRank, ``src/procedures/procedure.c:27-42``) — additive scope
in the same CALL surface, because a Spark engine gets classic graph
analytics nearly for free.

Scale notes:
- WCC is min-label propagation: one equi-join shuffle per iteration,
  iteration count = graph diameter. The frontier trick (only changed
  nodes re-propagate) and the large-star/small-star contraction are
  the 100 TB upgrades; at our SFs plain propagation converges in a
  handful of rounds. Convergence is detected with a 1-row aggregate
  (sum of component ids — strictly decreasing until fixpoint), not a
  row-diff join. At sf0.1, local[4] (q_wcc): three Spark jobs per round,
  among them the superstep's lineage cut and that aggregate.
- Triangle counting joins the canonically-oriented (a < b) edge set
  three ways; Spark broadcasts/shuffles as sizes dictate. Degenerate
  multi-edges and self-loops are removed up front.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms import superstep

_MAX_ITER = 64


def weakly_connected_components(node_ids: DataFrame,
                                edges: DataFrame,
                                max_iter: int = _MAX_ITER) -> DataFrame:
    """``node_ids``: one ``_id`` column; ``edges``: ``_src``/``_dst``.
    Returns ``(node, component)`` where component = min reachable id."""
    sym = _symmetric(edges)

    def step(comp: DataFrame, _rnd: int) -> DataFrame:
        nbr = sym.join(comp, sym["b"] == comp["node"]) \
            .groupBy("a").agg(F.min("comp").alias("ncomp"))
        return comp.join(nbr, comp["node"] == nbr["a"], "left") \
            .select(F.col("node"),
                    F.least(F.col("comp"),
                            F.coalesce(F.col("ncomp"), F.col("comp")))
                    .alias("comp"))

    # min-propagation is monotone: an equal component-id sum ⇒ fixpoint
    res = superstep.run(
        node_ids.select(F.col("_id").alias("node"),
                        F.col("_id").alias("comp")),
        step, max_iter, superstep.unchanged(F.sum("comp")))
    superstep.warn_capped(
        res, "weakly_connected_components",
        "the graph diameter exceeds max_iter, so components may be "
        "split; raise max_iter or use the star variant")
    return res.state.select(F.col("node"),
                            F.col("comp").alias("component"))


def _symmetric(edges: DataFrame) -> DataFrame:
    """Distinct directed (a, b) pairs for every non-loop edge, both
    directions, cut once — the static message graph of WCC and k-core."""
    return superstep.cut(
        edges.select(F.col("_src").alias("a"), F.col("_dst").alias("b"))
        .union(edges.select(F.col("_dst").alias("a"),
                            F.col("_src").alias("b")))
        .filter(F.col("a") != F.col("b")).distinct())


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangle count over the undirected simple graph (parallel
    edges, directions, and self-loops collapsed). Returns one row
    ``(triangles: long)``."""
    und = edges.select(
        F.least(F.col("_src"), F.col("_dst")).alias("a"),
        F.greatest(F.col("_src"), F.col("_dst")).alias("b")) \
        .filter(F.col("a") < F.col("b")).distinct()
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = e1.join(e2, F.col("e1.b") == F.col("e2.a")) \
        .join(e3, (F.col("e3.a") == F.col("e1.a"))
              & (F.col("e3.b") == F.col("e2.b")))
    return tri.agg(F.count(F.lit(1)).alias("triangles"))


def weakly_connected_components_star(node_ids: DataFrame,
                                     edges: DataFrame,
                                     max_iter: int = 64) -> DataFrame:
    """Alternating large-star / small-star contraction ("Connected
    Components in MapReduce and Beyond", Kiveris et al., SoCC'14):
    converges in O(log² n) rounds INDEPENDENT OF GRAPH DIAMETER —
    the 100 TB path for high-diameter graphs (chains, road networks,
    long dedup chains) where min-label propagation needs one shuffle
    round per diameter hop.

    large-star: every node links its larger neighbors to the minimum
    of its neighborhood; small-star: every node links its smaller
    neighbors (and itself) to that minimum. Each phase is one groupBy
    over the edge set; convergence is an EXACT edge-set fixpoint test
    (equal counts + empty difference — both sides are distinct sets).
    Returns (node, component) like
    :func:`weakly_connected_components`."""
    def step(e: DataFrame, _rnd: int) -> DataFrame:
        # ---- large-star: for each u over ALL neighbors, m = min(N(u)∪u);
        # emit (v, m) for strictly larger neighbors v
        sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")) \
            .unionAll(e.select(F.col("b").alias("u"),
                               F.col("a").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        ls = sym.join(mins, "u") \
            .filter(F.col("v") > F.col("u")) \
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        # ---- small-star over the large-star output: orient larger→
        # smaller, group by the larger endpoint u with m = min(group∪u),
        # emit (v, m) for every smaller neighbor v plus (u, m)
        d = ls.filter(F.col("x") != F.col("y")) \
            .select(F.greatest("x", "y").alias("u"),
                    F.least("x", "y").alias("v")).distinct()
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        ss = d.join(mins2, "u") \
            .select(F.col("v").alias("x"), F.col("m").alias("y")) \
            .unionAll(mins2.select(F.col("u").alias("x"),
                                   F.col("m").alias("y")))
        return _canonical(ss.select(F.col("x").alias("a"),
                                    F.col("y").alias("b")))

    # EXACT fixpoint test — both sides are distinct sets, so equal
    # counts + empty difference ⇔ set equality (a (count, sum, sum)
    # checksum can collide and exit early with wrong components)
    same_size = superstep.unchanged(F.count(F.lit(1)))
    res = superstep.run(
        superstep.cut(_canonical(edges.select(F.col("_src").alias("a"),
                                              F.col("_dst").alias("b")))),
        step, max_iter,
        lambda new, old, rnd: same_size(new, old, rnd)
        and new.exceptAll(old).isEmpty())
    superstep.warn_capped(res, "weakly_connected_components_star",
                          "components may be split; raise max_iter")
    e = res.state
    # converged: e is a star per component (b → component-min a)
    parent = e.select(F.col("b").alias("node"),
                      F.col("a").alias("component")) \
        .groupBy("node").agg(F.min("component").alias("component"))
    roots = node_ids.select(F.col("_id").alias("node")) \
        .join(parent, "node", "left_anti") \
        .select("node", F.col("node").alias("component"))
    return parent.unionByName(roots)


def _canonical(pairs: DataFrame) -> DataFrame:
    """Distinct undirected non-loop (a < b) edges."""
    return pairs.filter(F.col("a") != F.col("b")) \
        .select(F.least("a", "b").alias("a"),
                F.greatest("a", "b").alias("b")).distinct()


def label_propagation(node_ids: DataFrame, edges: DataFrame,
                      iters: int = 3) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), made
    engine-deterministic: every node starts labeled with its own id;
    each iteration every node SIMULTANEOUSLY adopts the most frequent
    label among its (undirected) neighbors, ties broken by the minimum
    label; isolated nodes keep their label. Fixed `iters` synchronous
    rounds — no RNG, no update-order dependence — so any engine
    replaying the same arithmetic (e.g. a DuckDB unrolled-CTE oracle)
    lands on identical labels.

    Scale shape per round: one groupBy on (node, label) + one window
    argmax partitioned by node — two key shuffles over the edge list,
    same partitioning every round so AQE reuses exchanges. State is one
    (node, label) row per node; rounds are fixed, not data-dependent.
    At sf0.1, local[4] (q_label_prop): 2-3 Spark jobs per round, one of
    them the lineage cut.

    Returns (node, label).
    """
    from pyspark.sql import Window
    ue = edges.select(F.col("_src").alias("a"), F.col("_dst").alias("b")) \
        .unionByName(edges.select(F.col("_dst").alias("a"),
                                  F.col("_src").alias("b")))
    w = Window.partitionBy("a").orderBy(F.col("__c").desc(),
                                        F.col("label").asc())

    def step(labels: DataFrame, _rnd: int) -> DataFrame:
        best = ue.join(labels, ue["b"] == labels["node"]) \
            .groupBy("a", "label").agg(F.count(F.lit(1)).alias("__c")) \
            .withColumn("__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") == 1) \
            .select(F.col("a").alias("node"),
                    F.col("label").alias("__new"))
        return labels.join(best, "node", "left") \
            .select("node", F.coalesce("__new", "label").alias("label"))

    return superstep.run(
        node_ids.select(F.col("_id").alias("node"),
                        F.col("_id").alias("label")),
        step, iters).state


def k_core(edges: DataFrame, k: int,
           iters: int | None = None,
           max_iter: int = _MAX_ITER) -> DataFrame:
    """k-core decomposition membership: the maximal subgraph in which
    every node has undirected degree ≥ k, computed by synchronous
    iterative peeling — each round simultaneously removes every node
    whose degree within the surviving subgraph is < k. Additive scope
    like algo.wcc (the reference registry has no analytics beyond
    BFS/pageRank, procedure.c:27-42); k-core is the standard dense-
    community / spam-ring primitive.

    Two modes:
    - ``iters=None`` (default): peel to fixpoint, detected by a 1-row
      surviving-edge count (monotone decreasing ⇒ equality is a
      fixpoint). Exact k-core; a run that reaches ``max_iter`` rounds
      first warns that its result is not the core.
    - fixed ``iters``: exactly that many synchronous peel rounds —
      rounds past the fixpoint are no-ops (peeling is idempotent once
      converged), so a fixed-round unrolled SQL oracle matches the
      exact result whenever it converges within ``iters``.

    Scale shape per round: one degree aggregation over the surviving
    edge list (keyed shuffle) + one semi-join to shrink edges, cut once
    (q_kcore at sf0.1, local[4]: three Spark jobs per fixed round, one
    of them the cut; peeling to fixpoint adds the surviving-edge
    count). Edge list shrinks monotonically.
    Self-loops are ignored (they contribute no peer support);
    parallel edges collapse via distinct.

    Returns (node,) — the members of the k-core.
    """
    def step(sym: DataFrame, _rnd: int) -> DataFrame:
        keep = sym.groupBy("a").agg(F.count(F.lit(1)).alias("__d")) \
            .filter(F.col("__d") >= k).select("a")
        return sym.join(keep, "a", "left_semi") \
            .join(keep.withColumnRenamed("a", "b"), "b", "left_semi")

    if iters is not None:
        res = superstep.run(_symmetric(edges), step, iters)
    else:
        res = superstep.run(_symmetric(edges), step, max_iter,
                            superstep.unchanged(F.count(F.lit(1))))
        superstep.warn_capped(res, "k_core",
                              "the result is not the k-core; raise "
                              "max_iter")
    return res.state.select(F.col("a").alias("node")).distinct()

"""HITS (Kleinberg 1999) hubs & authorities by synchronous power
iteration.

Additive scope like algo.wcc — the reference registry ships only
BFS/pageRank (``/root/reference/src/procedures/procedure.c:27-42``);
HITS is the classic companion eigenvector analysis for BIPARTITE-ish
link structure (here e.g. Order→Part: an order that touches many
high-demand parts is a strong hub, a part contained in many strong
orders is a strong authority).

Determinism: the float work is made engine-exact the same way
``dedup.semdedup`` makes Lloyd iterations engine-exact — every score
is rounded to a fixed grid after each normalization, so an oracle
replaying the identical per-iteration arithmetic (sum → L2-normalize →
grid-round) lands on bit-identical doubles regardless of engine or
partitioning. Iteration count is fixed, not convergence-detected.

Scale shape per iteration: two keyed aggregations over the edge list
(one per direction) + two 1-row L2 norms folded into the lineage as
broadcast crossJoins — the same two-shuffle loop as pageRank; state is
one (node, score) row per endpoint. Nothing is collected to the driver
mid-iteration. At sf0.1, local[4] (q_hits), each round schedules nine
Spark jobs, one of them the superstep's lineage cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redisgraph_spark.algorithms import superstep


def hits(edges: DataFrame, iters: int = 3,
         grid: float = 1e9) -> DataFrame:
    """``edges``: ``_src``/``_dst``. Returns ``(node, hub, authority)``
    for every node incident to an edge after ``iters`` synchronous
    update rounds (init h = a = 1; each round a ← Σ h over in-edges,
    h ← Σ a over out-edges, both L2-normalized then grid-rounded).
    Nodes with no out-edges have hub 0; no in-edges, authority 0.
    """
    e = superstep.cut(edges.select(F.col("_src").alias("u"),
                                   F.col("_dst").alias("v")))
    nodes = superstep.cut(e.select(F.col("u").alias("node"))
                          .union(e.select("v")).distinct())

    def _grid(c):
        return F.round(c * grid) / grid

    def _l2(c: str):
        # the norm folds into the lineage as a 1-row broadcast
        # crossJoin (round-7 advice: a norm collect is a scheduled job);
        # arithmetic is unchanged (same double divided by the same
        # double), so grid-rounded scores are bit-identical
        norm = F.sqrt(F.sum(F.col(c) * F.col(c)))
        return F.coalesce(F.when(norm != 0.0, norm), F.lit(1.0))

    def step(scores: DataFrame, _rnd: int) -> DataFrame:
        # a(v) = Σ_{u→v} h(u)
        a_raw = e.join(scores.select(F.col("node").alias("u"), "hub"),
                       "u") \
            .groupBy("v").agg(F.sum("hub").alias("a"))
        a_new = a_raw.crossJoin(F.broadcast(a_raw.agg(
            _l2("a").alias("__an")))) \
            .select(F.col("v").alias("node"),
                    _grid(F.col("a") / F.col("__an")).alias("authority"))
        # h(u) = Σ_{u→v} a(v) over the NEW authorities
        h_raw = e.join(a_new.select(F.col("node").alias("v"),
                                    "authority"), "v") \
            .groupBy("u").agg(F.sum("authority").alias("h"))
        h_new = h_raw.crossJoin(F.broadcast(h_raw.agg(
            _l2("h").alias("__hn")))) \
            .select(F.col("u").alias("node"),
                    _grid(F.col("h") / F.col("__hn")).alias("hub"))
        return nodes.join(h_new, "node", "left") \
            .join(a_new, "node", "left") \
            .select("node",
                    F.coalesce("hub", F.lit(0.0)).alias("hub"),
                    F.coalesce("authority", F.lit(0.0))
                    .alias("authority"))

    return superstep.run(
        nodes.select("node", F.lit(1.0).alias("hub"),
                     F.lit(1.0).alias("authority")), step, iters).state

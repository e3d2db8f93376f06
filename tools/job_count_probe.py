"""Per-query Spark job and broadcast probe (guide §1: measure first).

Warm totals at sf0.1 are floor-bound: each scheduled job costs the
box's per-job floor (~0.02 s idle), so an entry's warm wall is roughly
jobs x floor + data time. Job COUNTS are load-independent, which makes
this probe valid even on a busy box. For each named entry it runs the
query once cold, then once warm (fresh plan, .toPandas() like the
bench) inside a job group and reports how many jobs the warm run
scheduled. Next to the job counts it reports how many lineage cuts
(``DataFrame.localCheckpoint`` / ``checkpoint`` calls) each entry made,
counted as ``perfbench/spans.py`` spans around those methods.
Iterative algorithms run while the plan is built, so their jobs and
cuts land in the cold pass; a warm or steady pass hits the plan cache.

It also reports what the warm run broadcast: the sums of
``numOutputRows`` and ``dataSize`` over the ``BroadcastExchange`` nodes
of its executed plan (a reused exchange counts once). Like job counts,
these do not depend on the load of the box.

Queries are contract entry names, or Cypher text given with
``--cypher`` (each optionally followed by ``--params`` with a JSON
object of its parameters), run through ``Graph.query`` on the TPC-H
graph of ``SPARK_GRAFT_SF_DIR``; Cypher queries are labelled c1, c2, …
in the order given.

Usage:
  SPARK_GRAFT_SF_DIR=<tpch sf dir> python tools/job_count_probe.py \
      q_two_hop_revenue q_var_len ...
  SPARK_GRAFT_SF_DIR=<tpch sf dir> python tools/job_count_probe.py \
      --cypher 'MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)
                RETURN o.o_orderkey' --params '{"k": 7}'
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from redisgraph_spark import get_spark  # noqa: E402


class _Params(argparse.Action):
    """``--params`` binds a JSON object to the ``--cypher`` before it."""

    def __call__(self, parser, ns, value, option_string=None):
        if not ns.cypher:
            parser.error("--params must follow a --cypher")
        ns.cypher[-1] = (ns.cypher[-1][0], json.loads(value))


def broadcast_totals(df) -> tuple[int, int]:
    """(rows, bytes) summed over the BroadcastExchange nodes of the
    executed plan of ``df``; read after an action has run it."""
    rows = size = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "BroadcastExchangeExec":
            metrics = node.metrics()
            rows += metrics.apply("numOutputRows").value()
            size += metrics.apply("dataSize").value()
        for seq in (node.children(), node.subqueries()):
            stack.extend(seq.apply(i) for i in range(seq.size()))
    return rows, size


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="*", help="contract entry names")
    ap.add_argument("--cypher", action="append", default=[],
                    type=lambda q: (q, {}), help="a Cypher query")
    ap.add_argument("--params", action=_Params,
                    help="JSON parameters of the preceding --cypher")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job-count-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = args.names
    if not names and not args.cypher:
        names = [n for n in __import__("bench").HEADLINE]
    runs = [(name, qs[name]) for name in names]
    for i, (cypher, params) in enumerate(args.cypher, 1):
        runs.append((f"c{i}", lambda spark, sf, q=cypher, p=params:
                     entrymod._graph(spark, sf).query(q, p)))

    # warm the engine like the bench's load phase
    g = entrymod._graph(spark, sf_dir)
    g.query("MATCH (r:Region) RETURN count(r) AS n").collect()

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    import pyspark.sql.classic.dataframe as classic_df
    # the classic class overrides both methods, so it is the one wrapped
    tracer = Tracer()
    tracer.install([(classic_df.DataFrame, attr, "algorithms.checkpoint")
                    for attr in ("localCheckpoint", "checkpoint")])
    out = {}
    for name, fn in runs:
        first = len(tracer.spans)
        # cold pass (plan cache fill, codegen, JIT)
        group = f"jcpc-{name}"
        sc.setJobGroup(group, name)
        fn(spark, sf_dir).toPandas()
        sc.setJobGroup(None, None)
        cjobs = len(tracker.getJobIdsForGroup(group))
        # bench-warm pass: fresh physical plan (no broadcast/shuffle
        # reuse), prep outside the count, then count jobs of toPandas
        df = fn(spark, sf_dir)
        fresh = df.filter(F.lit(True))
        fresh._jdf.queryExecution().executedPlan()
        group = f"jcpw-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        fresh.toPandas()
        wwall = time.time() - t0
        sc.setJobGroup(None, None)
        wjobs = len(tracker.getJobIdsForGroup(group))
        brows, bbytes = broadcast_totals(fresh)
        # steady pass: same cached handle
        group = f"jcps-{name}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        fn(spark, sf_dir).toPandas()
        swall = time.time() - t0
        sc.setJobGroup(None, None)
        sjobs = len(tracker.getJobIdsForGroup(group))
        cuts = len(tracer.spans) - first
        out[name] = {"cold_jobs": cjobs, "warm_jobs": wjobs,
                     "warm_s": round(wwall, 3), "steady_jobs": sjobs,
                     "steady_s": round(swall, 3), "checkpoints": cuts,
                     "broadcast_rows": brows, "broadcast_bytes": bbytes}
        print(f"{name:24s} cold_jobs={cjobs:3d} warm_jobs={wjobs:3d} "
              f"warm={wwall:6.3f}s  steady_jobs={sjobs:3d} "
              f"steady={swall:6.3f}s  checkpoints={cuts:3d}  "
              f"broadcast_rows={brows:8d} broadcast_bytes={bbytes:10d}",
              flush=True)
    tracer.uninstall()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

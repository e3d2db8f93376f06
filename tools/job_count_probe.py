"""Per-entry Spark job-count probe (guide §1: measure first).

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

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/job_count_probe.py \
      q_two_hop_revenue q_var_len ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402
from redisgraph_spark import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("job-count-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if not names:
        names = [n for n in __import__("bench").HEADLINE]

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
    for name in names:
        fn = qs[name]
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
                     "steady_s": round(swall, 3), "checkpoints": cuts}
        print(f"{name:24s} cold_jobs={cjobs:3d} warm_jobs={wjobs:3d} "
              f"warm={wwall:6.3f}s  steady_jobs={sjobs:3d} "
              f"steady={swall:6.3f}s  checkpoints={cuts:3d}",
              flush=True)
    tracer.uninstall()
    print(json.dumps(out))


if __name__ == "__main__":
    main()

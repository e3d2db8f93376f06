"""Benchmark for the redisgraph_spark engine, driven through its public API.

    python3 perfbench/run.py --workload oltp_lookups --seed 1 --seconds 20 --trace 0

Run from the root of a checkout: the engine is imported from there. One
process, one closed-loop client (the next query is sent when the last
result has arrived), Spark ``local[nproc]``. The run

1. generates the sf0.1 tables (once per checkout, cached under
   ``.bench_build/perfbench``),
2. sets up (session start, ``Graph.from_tpch``, warm-up) on the cold
   process and calls each query template once (``first_op_ms`` in the
   detail record),
3. sets up ``SETUPS - 1`` more times; ``setup_s`` is the median of all,
4. replays the seeded operation sequence on the last, fresh session of
   the now warm process for ``--seconds`` seconds
   (``Graph.query(cypher, params).toPandas()``),
5. checks every result against DuckDB and counts a mismatch or an
   error as a failed operation.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it holds the details (deployment, per-operation-type figures,
failures with their causes). See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS, op_sequence  # noqa: E402

SETUPS = 3
DRIVER_MEM = "4g"
FLOOR_PROBES = 5


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def pin_deployment(work: str) -> dict:
    """Fix the deployment settings in the environment before the JVM
    starts, keeping every file the run writes inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # no hsperfdata file under /tmp
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    return {"cpus": cpus, "master": f"local[{cpus}]",
            "driver_memory": DRIVER_MEM,
            "spark_local_dirs": os.path.relpath(local)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 data_dir: str, cpus: int) -> None:
        self.workload = workload
        self.cpus = cpus
        self.seed = seed
        self.seconds = seconds
        self.data_dir = data_dir
        self.spark = None
        self.graph = None
        self._ops = enumerate(op_sequence(workload, seed))

    # -- set-up -----------------------------------------------------------
    def setup_once(self) -> float:
        """Session start, graph load and warm-up; returns seconds."""
        from redisgraph_spark import Graph, get_spark
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        g = Graph.from_tpch(spark, self.data_dir)
        # warm-up: materialize the persisted node and edge projections,
        # and the traversal projection var-length patterns join per hop
        # when the workload has such patterns (one job each, submitted
        # concurrently as a loader would), then the entity counts
        jobs = [df.count for df in [*g.node_tables.values(),
                                    *g.edge_tables.values()]]
        if any("[*" in t.cypher for t in WORKLOADS[self.workload].values()):
            jobs.append(g.warm_traversal)
        with ThreadPoolExecutor(self.cpus) as pool:
            for fut in [pool.submit(job) for job in jobs]:
                fut.result()
        g.warm_statistics()
        elapsed = time.perf_counter() - t0
        self.spark, self.graph = spark, g
        return elapsed

    def teardown(self) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()          # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- measurement ------------------------------------------------------
    def _run_op(self, i: int, op, probe=None) -> dict:
        """One closed-loop operation: query plus full result fetch.
        ``probe`` (trace mode) measures every other operation."""
        traced = probe is not None and i % 2 == 1
        rec = {"i": i, "kind": op.kind, "params": op.params,
               "traced": traced, "error": None, "rows": None}
        if traced:
            probe.before(i)
        t0 = time.perf_counter()
        df = None
        try:
            df = self.graph.query(op.cypher, op.params)
            if traced:
                probe.between(i)
                with probe.tracer.span("exec.fetch"):
                    rec["rows"] = df.toPandas()
            else:
                rec["rows"] = df.toPandas()
        except Exception as exc:   # a failed op is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["t0"], rec["t1"] = t0, time.perf_counter()
        rec["ms"] = 1000.0 * (rec["t1"] - t0)
        if probe is not None:
            probe.after(rec, df)
        return rec

    def first_round(self) -> list[dict]:
        """Each template's first call, on the cold process right after
        the first set-up: the cost of a new plan shape."""
        return [self._run_op(*next(self._ops))
                for _ in WORKLOADS[self.workload]]

    def steady_loop(self, probe=None) -> list[dict]:
        """The operation sequence continued for ``seconds``, on a fresh
        session of the warm process; at least two operations, so a
        traced run has one with and one without tracing."""
        records = []
        deadline = time.perf_counter() + self.seconds
        for i, op in self._ops:
            if len(records) >= 2 and time.perf_counter() >= deadline:
                break
            records.append(self._run_op(i, op, probe))
        return records

    def verify(self, records: list[dict], oracle) -> None:
        from oracle import frame_rows, mismatch
        templates = WORKLOADS[self.workload]
        for rec in records:
            pdf = rec.pop("rows")
            if rec["error"] is not None:
                continue
            want = oracle.expected(templates[rec["kind"]].sql, rec["params"])
            why = mismatch(frame_rows(pdf), want)
            if why is not None:
                rec["error"] = f"wrong result: {why}"


def _by_kind(records: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in records:
        out.setdefault(r["kind"], []).append(r)
    return out


def first_op_ms(first: list[dict]) -> float:
    """Mean over templates of each template's first call. The mean: one
    cold call per template is a single sample each, and the median of a
    handful of them jumps between templates."""
    return statistics.fmean(r["ms"] for r in first)


def op_p50_ms(records: list[dict]) -> float:
    """Median over operation types of each type's median latency: one
    median over the whole mix sits on the edge between a fast and a slow
    type and jumps between them from run to run."""
    return _median(_median(r["ms"] for r in rs)
                   for rs in _by_kind(records).values())


def end_to_end(steady: list[dict], setup_times: list[float]) -> dict:
    span = steady[-1]["t1"] - steady[0]["t0"]
    return {
        "ops_per_s": {"value": len(steady) / span, "unit": "1/s"},
        "op_p50_ms": {"value": op_p50_ms(steady), "unit": "ms"},
        "setup_s": {"value": _median(setup_times), "unit": "s"},
    }


def per_kind(first: list[dict], steady: list[dict]) -> dict:
    firsts = {r["kind"]: r["ms"] for r in first}
    return {k: {"ops": len(rs),
                "p50_ms": _median(r["ms"] for r in rs),
                "first_ms": firsts.get(k),
                "failed": sum(r["error"] is not None for r in rs)}
            for k, rs in _by_kind(steady).items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "redisgraph_spark",
                                       "__init__.py")):
        print("redisgraph_spark not found: run from the root of a "
              "checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import datagen
    work = os.path.join(root, ".bench_build", "perfbench")
    deployment = pin_deployment(work)
    data_dir = datagen.ensure(os.path.join(work, "data"))

    import pyspark
    from oracle import Oracle

    bench = Bench(args.workload, args.seed, args.seconds, data_dir,
                  deployment["cpus"])
    try:
        setup_times = [bench.setup_once()]
        first = bench.first_round()
        setup_times += [bench.setup_once() for _ in range(SETUPS - 1)]
        jvm = bench.spark.sparkContext._jvm
        deployment.update(
            pyspark=pyspark.__version__,
            java=jvm.java.lang.System.getProperty("java.version"),
            sf=datagen.SF, data_seed=datagen.DATA_SEED, setups=SETUPS)
        probe = None
        if args.trace:
            from probe import Probe
            probe = Probe(bench.spark)
        steady = bench.steady_loop(probe)
        if probe is not None:
            probe.close()
            layer = probe.summary(steady, FLOOR_PROBES)
    finally:
        bench.teardown()

    oracle = Oracle(data_dir, os.environ["TMPDIR"], deployment["cpus"])
    try:
        bench.verify(first + steady, oracle)
    finally:
        oracle.close()

    records = first + steady
    failed = [r for r in records if r["error"] is not None]
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "deployment": deployment,
        "setup_times_s": setup_times,
        "first_op_ms": first_op_ms(first),
        "error_ratio": len(failed) / len(records),
        "failures": [{"i": r["i"], "kind": r["kind"], "params": r["params"],
                      "cause": r["error"]} for r in failed],
        "per_kind": per_kind(first, steady),
        "op_ms": [[r["kind"], round(r["ms"], 1)] for r in steady],
    }
    if args.trace:
        detail["layers_per_kind"] = layer["per_kind"]
        detail["trace_self_exceeds_wall"] = layer["self_exceeds_wall"]
        metrics = layer["metrics"]
        metrics["trace.overhead_ms"] = {
            "value": (op_p50_ms([r for r in steady if r["traced"]])
                      - op_p50_ms([r for r in steady if not r["traced"]])),
            "unit": "ms"}
    else:
        metrics = end_to_end(steady, setup_times)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": not failed, "attempted": len(records),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

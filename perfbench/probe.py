"""Per-layer measurement for traced runs.

Every other operation of a traced run is measured: spans from
``spans.Tracer`` give the Python-side layers, and JVM readings taken
between operations give the rest:

- Spark jobs, stages and tasks per operation, from two job groups (one
  around ``Graph.query``, one around the result fetch) and the status
  tracker;
- Catalyst phase times of the result's query execution
  (``queryExecution().tracker().phases()``);
- Janino compile count and time (``CodegenMetrics``, ``CodeGenerator``);
- the session's shuffle-partition and AQE settings.

The other operations run without wrappers, which gives the tracing
overhead (computed in ``run.py``). Plan-cache hits are observed on every
operation: a hit hands back the DataFrame an earlier call returned.
"""

from __future__ import annotations

import statistics
import time

from py4j.protocol import Py4JJavaError

from spans import Tracer

_PHASES = ("analysis", "optimization", "planning")
_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

# per-layer metric -> (per-op field, how traced ops combine, unit);
# counts average over the op mix, times take the median
LAYER_FIELDS = {
    "cypher.parse_ms": ("parse_ms", "median", "ms"),
    "planner.plan_ms": ("plan_ms", "median", "ms"),
    "planner.py4j_msgs": ("py4j_msgs", "mean", "count"),
    "planner.jobs": ("planner_jobs", "mean", "count"),
    "graph.query_self_ms": ("query_self_ms", "median", "ms"),
    "catalyst.analysis_ms": ("analysis_ms", "median", "ms"),
    "catalyst.optimization_ms": ("optimization_ms", "median", "ms"),
    "catalyst.planning_ms": ("planning_ms", "median", "ms"),
    "codegen.compiles": ("compiles", "mean", "count"),
    "codegen.compile_ms": ("compile_ms", "median", "ms"),
    "exec.fetch_ms": ("fetch_ms", "median", "ms"),
    "exec.jobs": ("exec_jobs", "mean", "count"),
    "exec.stages": ("stages", "mean", "count"),
    "exec.tasks": ("tasks", "mean", "count"),
    "algorithms.checkpoints": ("checkpoints", "mean", "count"),
}
# per-run figures, measured once per traced run or over all its ops
RUN_UNITS = {"graph.cached_bytes": "bytes", "exec.floor_ms": "ms",
             "session.conf_changes": "count",
             "graph.plan_cache_hit_ratio": "ratio"}


def _combine(values: list[float], how: str) -> float:
    if not values:
        return 0.0
    return float(statistics.median(values) if how == "median"
                 else statistics.fmean(values))


class Probe:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spark = spark
        self.tracer = Tracer()
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._compiler = (jvm.org.apache.spark.sql.catalyst.expressions
                          .codegen.CodeGenerator)
        # every DataFrame Graph.query returned, by identity: the plan
        # cache hands back the same object for a repeated query
        self._results: dict[int, object] = {}
        self._conf = self._read_conf()
        self.conf_changes = 0
        self.cached_bytes = sum(
            i.memSize() + i.diskSize()
            for i in self.sc._jsc.sc().getRDDStorageInfo())
        self._first_span = 0
        self._codegen_before = (0, 0)

    # -- JVM readings -----------------------------------------------------
    def _read_conf(self) -> tuple:
        return tuple(self.spark.conf.get(k) for k in _CONFS)

    def _read_codegen(self) -> tuple[int, int]:
        return (self._codegen.METRIC_COMPILATION_TIME().getCount(),
                self._compiler.compileTime())

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            stages += len(info.stageIds)
            for s in info.stageIds:
                si = st.getStageInfo(s)
                tasks += si.numTasks if si is not None else 0
        return len(jobs), stages, tasks

    def _phases(self, rec: dict, df) -> dict[str, float]:
        """Catalyst phase times of the result plan. A plan-cache hit
        returns a DataFrame whose phases already ran: it costs none."""
        if df is None or rec["cache_hit"]:
            return {f"{p}_ms": 0.0 for p in _PHASES}
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for p in _PHASES:
            opt = ph.get(p)
            out[f"{p}_ms"] = (float(opt.get().durationMs())
                              if opt.isDefined() else 0.0)
        return out

    # -- hooks around one operation ----------------------------------------
    def before(self, i: int) -> None:
        self._codegen_before = self._read_codegen()
        self.sc.setJobGroup(f"perfbench-{i}-plan", "Graph.query")
        self._first_span = len(self.tracer.spans)
        self.tracer.install()

    def between(self, i: int) -> None:
        self.sc.setJobGroup(f"perfbench-{i}-fetch", "toPandas")

    def after(self, rec: dict, df) -> None:
        rec["cache_hit"] = df is not None and id(df) in self._results
        if df is not None:
            self._results[id(df)] = df
        if rec["traced"]:
            self.tracer.uninstall()
            self.sc._jsc.clearJobGroup()
            rec["layers"] = self._op_layers(rec, df)
        conf = self._read_conf()
        if conf != self._conf:
            self.conf_changes += 1
            self._conf = conf

    def _op_layers(self, rec: dict, df) -> dict:
        i = rec["i"]
        lay = self.tracer.layer_summary(self._first_span,
                                        len(self.tracer.spans))

        def get(name, key="self_s"):
            return lay.get(name, {}).get(key, 0)
        # the status store is fed asynchronously by the listener bus; if
        # it does not drain in time, the counts below may miss a job
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(5000)
        except Py4JJavaError:
            pass
        planner_jobs, _, _ = self._jobs(f"perfbench-{i}-plan")
        exec_jobs, stages, tasks = self._jobs(f"perfbench-{i}-fetch")
        compiles, compile_ns = self._read_codegen()
        out = {
            "wall_ms": rec["ms"],
            "spans_self_ms": 1000.0 * sum(d["self_s"] for d in lay.values()),
            "parse_ms": 1000.0 * get("cypher.parse"),
            "plan_ms": 1000.0 * get("planner.plan"),
            "py4j_msgs": get("planner.plan", "py4j_msgs"),
            "query_self_ms": 1000.0 * get("graph.query"),
            "fetch_ms": 1000.0 * get("exec.fetch"),
            "checkpoint_ms": 1000.0 * get("algorithms.checkpoint"),
            "checkpoints": get("algorithms.checkpoint", "count"),
            "planner_jobs": planner_jobs,
            "exec_jobs": exec_jobs, "stages": stages, "tasks": tasks,
            "compiles": compiles - self._codegen_before[0],
            "compile_ms": (compile_ns - self._codegen_before[1]) / 1e6,
        }
        out.update(self._phases(rec, df))
        return out

    def close(self) -> None:
        self.tracer.uninstall()
        self.sc._jsc.clearJobGroup()

    # -- report -----------------------------------------------------------
    def floor_ms(self, probes: int) -> float:
        """Median wall time of a trivial one-task job: the scheduling
        floor each Spark job pays on this machine."""
        times = []
        for _ in range(probes):
            t0 = time.perf_counter()
            self.spark.range(0, 1, 1, 1).selectExpr("sum(id)").collect()
            times.append(1000.0 * (time.perf_counter() - t0))
        return float(statistics.median(times))

    def summary(self, records: list[dict], floor_probes: int) -> dict:
        traced = [r for r in records if r["traced"]]

        def combine(rs):
            return {name: _combine([r["layers"][f] for r in rs], how)
                    for name, (f, how, _) in LAYER_FIELDS.items()}
        def hit_ratio(rs):
            return statistics.fmean(r["cache_hit"] for r in rs)
        by_kind: dict[str, list] = {}
        for r in records:
            by_kind.setdefault(r["kind"], []).append(r)
        per_kind = {k: {"ops": len(rs),
                        "traced_ops": sum(r["traced"] for r in rs),
                        **combine([r for r in rs if r["traced"]]),
                        "graph.plan_cache_hit_ratio": hit_ratio(rs)}
                    for k, rs in by_kind.items()}
        values = combine(traced)
        values["graph.plan_cache_hit_ratio"] = hit_ratio(records)
        values["graph.cached_bytes"] = float(self.cached_bytes)
        values["exec.floor_ms"] = self.floor_ms(floor_probes)
        values["session.conf_changes"] = float(self.conf_changes)
        units = {n: u for n, (_, _, u) in LAYER_FIELDS.items()}
        units.update(RUN_UNITS)
        metrics = {n: {"value": v, "unit": units[n]}
                   for n, v in values.items()}
        return {"metrics": metrics, "per_kind": per_kind,
                "self_exceeds_wall": [
                    r["i"] for r in traced
                    if r["layers"]["spans_self_ms"]
                    > r["layers"]["wall_ms"] + 1e-6]}

"""Executed-plan shape assertions for headline queries (r10).

PLANS.md records the load-bearing physical-plan shapes by hand; these
tests pin them in CI so a planner/Catalyst change can't silently
de-optimize (round-9 verdict #6):

  - q_entity_count answers from the statistics store (LocalTableScan,
    no scan of the data);
  - q_scan_filter_sort's ORDER BY + LIMIT is a top-k
    (TakeOrderedAndProject), not a global sort;
  - q_two_hop_revenue's join chain is broadcast-hash, never a
    nested-loop/cartesian;
  - no graph query evaluates Python per row (BatchEvalPython /
    ArrowEvalPython);
  - through the cluster-scale path (gate open), the scan-level filter
    reaches the parquet reader as PushedFilters;
  - an anchored chain (inline property map on its first node) builds
    every broadcast hash table from the filtered frontier, never from
    a whole label or edge table.
"""

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def entry_queries(spark):
    sys.path.insert(0, REPO)
    import __spark_entry__ as em
    return em.queries(), spark


def _executed(qs, spark, name):
    df = qs[name](spark, SF)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_entity_count_is_statistics_answer(entry_queries):
    qs, spark = entry_queries
    p = _executed(qs, spark, "q_entity_count")
    assert "LocalTableScan" in p
    assert "Join" not in p and "Exchange" not in p


def test_scan_filter_sort_is_topk(entry_queries):
    qs, spark = entry_queries
    p = _executed(qs, spark, "q_scan_filter_sort")
    assert "TakeOrderedAndProject" in p


def test_two_hop_join_strategy(entry_queries):
    qs, spark = entry_queries
    p = _executed(qs, spark, "q_two_hop_revenue")
    assert p.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


GRAPH_HEADLINE = [
    "q_entity_count", "q_scan_filter_sort", "q_single_hop_agg",
    "q_two_hop_revenue", "q_shared_node_join", "q_optional_match",
    "q_anti_semi_apply", "q_with_having", "q_var_len",
    "q_temporal_between",
]


@pytest.mark.parametrize("name", GRAPH_HEADLINE)
def test_no_per_row_python_in_graph_queries(entry_queries, name):
    qs, spark = entry_queries
    p = _executed(qs, spark, name)
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p


ANCHORED = {
    "hop1": ("(c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)",
             "o.o_orderkey AS ok ORDER BY ok"),
    "hop2": ("(c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)"
             "-[l:CONTAINS]->(p:Part)",
             "p.p_brand AS brand, sum(l.l_quantity) AS qty ORDER BY brand"),
}


def _broadcasts(plan):
    """(rows, subtree text) of each BroadcastExchange of an executed
    (JVM) plan that has run; an adaptive plan is read in its final
    form (an earlier graph may have left the session adaptive)."""
    out, stack = [], [plan]
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
            rows = node.metrics().apply("numOutputRows").value()
            out.append((rows, node.toString()))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


@pytest.mark.parametrize("name", sorted(ANCHORED))
def test_anchored_chain_builds_from_frontier(entry_queries, name,
                                             monkeypatch):
    """Small-input mode: every broadcast hash table of an anchored
    chain holds the anchor-filtered frontier — the c_custkey filter is
    in its subtree (a tiny Customer table is folded into a
    LocalTableScan of the matching rows instead), and it holds at most
    as many rows as the pattern has matches — never the whole
    Order/CONTAINS/Part table. The one exception is a join whose
    frontier bound failed the hash budget (hop2's Part join from sf0.1
    up): it keeps the unhinted plan. With the gate open the same query
    carries no frontier hint."""
    import __spark_entry__ as em
    from redisgraph_spark.planner.planner import CypherPlanner
    _, spark = entry_queries
    g = em._graph(spark, SF)
    assert g._small_input
    pattern, ret = ANCHORED[name]
    query = f"MATCH {pattern} RETURN {ret}"
    matches = g.query(f"MATCH {pattern} RETURN count(*) AS n",
                      {"k": 7}).collect()[0]["n"]
    assert matches > 0
    refused = []
    hint = CypherPlanner._hint_bounded

    def spy(self, df, bound):
        out = hint(self, df, bound)
        if bound is not None and out is df:
            refused.append(bound)
        return out

    monkeypatch.setattr(CypherPlanner, "_hint_bounded", spy)
    g._plan_cache.clear()
    df = g.query(query, {"k": 7})
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    builds = _broadcasts(plan)
    assert builds, plan.toString()
    tables = [text for rows, text in builds if rows > matches or not (
        "c_custkey" in text or "LocalTableScan" in text)]
    assert len(tables) <= len(refused), "\n".join(tables)
    if name == "hop1":
        assert not refused
    assert "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()
    g._small_input = False
    try:
        g._plan_cache.clear()
        gated = g.query(query, {"k": 7})
        analyzed = gated._jdf.queryExecution().analyzed().toString()
    finally:
        g._small_input = True
        g._plan_cache.clear()
    assert "ResolvedHint" not in analyzed, analyzed


def test_pushed_filters_reach_parquet_gate_open():
    """Cluster-scale path: the small-input gate persists tables (scans
    become InMemoryTableScan), so predicate pushdown to parquet is only
    observable with the gate open. Runs in a subprocess because the
    gate env var is read at engine import."""
    script = r"""
import sys
sys.path.insert(0, %r)
import __spark_entry__ as em
from redisgraph_spark import get_spark
spark = get_spark("plan-shape-gate")
spark.sparkContext.setLogLevel("ERROR")
df = em.queries()["q_scan_filter_sort"](spark, %r)
print(df._jdf.queryExecution().executedPlan().toString())
""" % (REPO, SF)
    env = dict(os.environ, SPARK_GRAFT_ADAPTIVE_MIN_BYTES="0")
    proc = subprocess.run([sys.executable, "-c", script],
                          capture_output=True, text=True, timeout=600,
                          env=env, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    plan = proc.stdout
    assert "PushedFilters: [" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("GreaterThan" in ln or "LessThan" in ln
               or "IsNotNull" in ln for ln in pushed), pushed


def test_arithmetic_probe_dedup(entry_queries):
    """Fresh-plan compilation resolves each arithmetic operand's type
    with at most ONE JVM analysis (r10: the old path probed the same
    subtrees repeatedly — 43 probes / 11 unique on q_two_hop_revenue's
    build; constant operands now resolve driver-side with zero probes).
    Guards the `_numeric_operand` / deduped '+' paths against
    reintroducing per-helper probes."""
    from redisgraph_spark.graph.graph import Graph
    from redisgraph_spark.planner import expressions as EX
    qs, spark = entry_queries
    import __spark_entry__ as em
    g = em._graph(spark, SF)
    counts = {"n": 0}
    orig = EX.ExprCompiler.dtype

    def spy(self, col):
        counts["n"] += 1
        return orig(self, col)

    EX.ExprCompiler.dtype = spy
    try:
        g._plan_cache.clear()
        # the q_two_hop_revenue RETURN shape: nested arithmetic with
        # literal operands, toInteger(round(...))/100 rounding sites
        g.query(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE o.o_totalprice > 1000.0 "
            "RETURN c.c_mktsegment AS seg, "
            "tofloat(sum(tointeger(round(o.o_totalprice * 100)) "
            "* (100 - tointeger(round(o.o_shippriority * 100))))) "
            "/ 10000.0 AS rev ORDER BY seg")
    finally:
        EX.ExprCompiler.dtype = orig
    # measured: 19 probes on this shape after the dedup (was 48 on the
    # duplicated-probe code — one probe per helper per side per node);
    # the bound allows slack for minor planner changes while still
    # catching a return to per-helper probing
    assert counts["n"] <= 24, f"type probes regressed: {counts['n']}"


def test_arithmetic_semantics_survive_probe_dedup(entry_queries):
    """The probe-dedup paths must not change arithmetic/type-mismatch
    semantics: string/bool/temporal operands of numeric ops still raise
    the reference's type mismatch, '100' = 100 stays cross-type (no
    string-literal/int-literal type confusion), IEEE div-by-zero and
    int-mod rules unchanged."""
    import __spark_entry__ as em
    from redisgraph_spark.planner.expressions import CompileError
    qs, spark = entry_queries
    g = em._graph(spark, SF)
    row = g.query(
        "RETURN '100' = 100 AS cross_type, 1/0 > 0 AS div_inf, "
        "1.5/0 < 0 AS neg, 5 % 2 AS m, 2^3 AS p, "
        "1 + 2 AS add_num, 'a' + 'b' AS add_str, "
        "[1] + 2 AS add_list").collect()[0]
    assert row.cross_type is False
    assert row.div_inf is True or row.div_inf is None  # 1/0 -> +inf
    assert row.m == 1 and row.p == 8.0
    assert row.add_num == 3 and row.add_str == "ab"
    assert list(row.add_list) == [1, 2]
    for bad in ("'a' * 2", "true - 1", "date('2024-01-01') % 2"):
        try:
            g.query(f"RETURN {bad} AS x").collect()
            assert False, f"{bad} should be a type mismatch"
        except CompileError as exc:
            assert "Type mismatch" in str(exc)


def test_comparison_probe_dedup(entry_queries):
    """Fresh-plan compilation of comparisons resolves each operand's
    type with at most ONE JVM analysis, and scalar-literal operands
    with ZERO (r10: `_typed_cmp` used to re-probe each side per helper
    — mismatch class, typed array/map equality, float-NaN guard — 42
    probes on a 3-query comparison battery, 17 after `_static_cmp_dt`
    + the probe-once `_typed_cmp`). Guards against reintroducing
    per-branch probes."""
    from redisgraph_spark.planner import expressions as EX
    qs, spark = entry_queries
    import __spark_entry__ as em
    g = em._graph(spark, SF)
    counts = {"n": 0}
    orig = EX.ExprCompiler.dtype

    def spy(self, col):
        counts["n"] += 1
        return orig(self, col)

    EX.ExprCompiler.dtype = spy
    try:
        g._plan_cache.clear()
        # prop-vs-literal comparisons (the dominant WHERE shape): every
        # literal side should resolve driver-side with zero probes
        g.query(
            "MATCH (o:Order) WHERE o.o_totalprice > 1000.0 "
            "AND o.o_totalprice < 200000.0 AND o.o_orderstatus = 'O' "
            "AND o.o_shippriority >= 0 "
            "RETURN o.o_orderkey ORDER BY o.o_orderkey LIMIT 5")
    finally:
        EX.ExprCompiler.dtype = orig
    # measured: 9 probes on this shape after the dedup (19 before);
    # slack for minor planner changes without allowing per-branch
    # probing back in
    assert counts["n"] <= 13, f"comparison type probes regressed: {counts['n']}"


def test_pushdown_audit_only_by_design_classes():
    """Every gate-open FileScan that filters but pushes nothing must
    belong to one of the three by-design classes (r10 audit): vacuous
    isnotnull over synthesized entity ids (TPC-H keys are never null —
    pushing would skip zero row groups), canonical edge-orientation
    predicates (least/greatest over derived ids), and md5-threshold
    deterministic sampling. Anything else is a pushdown regression.
    Representative sample — the full sweep is tools/pushdown_audit.py
    with no args (recorded per round)."""
    import re
    sample = [
        "q_scan_filter_sort",      # must push its float predicate
        "q_two_hop_revenue",       # BHJ chain over synthesized ids
        "q_var_len",               # frontier joins, many id scans
        "q_temporal_between",      # temporal datediff at the scan
        "q_node_sim",              # orientation predicates
        "p_stratified_sample",     # md5 threshold sampling
        "p_dedup_exact",           # must be clean
    ]
    env = dict(os.environ, SPARK_GRAFT_ADAPTIVE_MIN_BYTES="0")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "pushdown_audit.py"),
         *sample],
        capture_output=True, text=True, timeout=900, env=env, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "audit done:" in proc.stdout, proc.stdout[-2000:]
    allowed = re.compile(
        r"isnotnull\(\((cast\()?\w+#\d+L?( as bigint\))? \+ \d{10,}\)\)"
        r"|md5\(|least\(|greatest\(")
    def conjuncts(filt):
        """Split Spark's comma-joined filter list at paren depth 0;
        the tool truncates long filters, so drop an unbalanced tail."""
        parts, depth, cur = [], 0, ""
        for ch in filt:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                cur += ch
        if cur.strip() and depth == 0:
            parts.append(cur)
        elif cur.strip():           # truncated mid-expression: judge
            parts.append(cur)       # the fragment by what it contains
        return [p.strip() for p in parts if p.strip()]

    bad = []
    for ln in proc.stdout.splitlines():
        if not ln.startswith("UNPUSHED "):
            continue
        filt = ln.split("filter=", 1)[1]
        for part in conjuncts(filt):
            if not allowed.search(part):
                bad.append(f"{ln}\n  offending conjunct: {part}")
                break
    assert not bad, "\n".join(bad)

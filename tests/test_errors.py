"""Clean-error behavior (≈ reference ast_validations.c): bad queries
fail with clear exceptions, not Spark stack traces downstream."""

import pytest

from redisgraph_spark.planner.expressions import CompileError
from redisgraph_spark.planner.planner import PlanError


def test_unknown_variable(social):
    with pytest.raises(CompileError, match="Unknown variable"):
        social.query("MATCH (a:person) RETURN b.name AS x")


def test_missing_parameter(social):
    with pytest.raises(CompileError, match="Missing parameter"):
        social.query("MATCH (a:person {name: $nope}) RETURN a")


def test_unknown_function(social):
    with pytest.raises(CompileError, match="Unknown function"):
        social.query("RETURN frobnicate(1) AS x")


def test_function_arity_validated_before_dispatch(social):
    """Arity is checked against an explicit table BEFORE the builder /
    handler runs — not inferred from stray IndexError/TypeError (which
    mislabeled genuine bugs as arity errors)."""
    with pytest.raises(CompileError, match="arguments to function"):
        social.query("RETURN toUpper('a', 'b') AS x")      # too many
    with pytest.raises(CompileError, match="arguments to function"):
        social.query("RETURN substring('abc') AS x")       # too few
    with pytest.raises(CompileError, match="arguments to function"):
        social.query("RETURN size() AS x")                 # _fn_ handler
    # boundary cases still compile
    assert social.query("RETURN substring('abc', 1) AS x") \
        .collect()[0]["x"] == "bc"
    assert social.query("RETURN substring('abc', 0, 2) AS x") \
        .collect()[0]["x"] == "ab"


def test_edge_variable_reuse_rejected(social):
    with pytest.raises(PlanError, match="reused"):
        social.query(
            "MATCH (a)-[e:friend]->(b)-[e:friend]->(c) RETURN a")


def test_var_len_reuse_raises_binder_error(social, monkeypatch):
    """The kind pre-pass raises what the binder (`_var_len_hop`)
    raises: a var-len variable reused in the same clause is already
    declared; one bound by an earlier clause is matched under a fresh
    name and keeps its kind, so the later `(n)` is no kind conflict —
    the error is that a node is not a relationship list."""
    from redisgraph_spark.planner.planner import CypherPlanner
    queries = {"MATCH (n)-[n*1..1]->() RETURN n": "already declared",
               "MATCH (n) MATCH ()-[n*1..1]->(n) RETURN n":
               "is not a relationship list"}
    checked = {}
    for q, msg in queries.items():
        with pytest.raises(PlanError, match=msg) as exc:
            social.query(q)
        checked[q] = str(exc.value)
    monkeypatch.setattr(CypherPlanner, "_check_pattern_kinds",
                        lambda *a, **k: None)
    for q in queries:
        with pytest.raises(PlanError) as exc:
            social.query(q)
        assert str(exc.value) == checked[q]


def test_union_column_mismatch(social):
    with pytest.raises(PlanError, match="same columns"):
        social.query("MATCH (a:person) RETURN a.name AS x "
                     "UNION MATCH (a:person) RETURN a.name AS y")


def test_skip_limit_must_be_int(social):
    with pytest.raises(PlanError, match="SKIP/LIMIT"):
        social.query("MATCH (a:person) RETURN a LIMIT a.age")


def test_syntax_error_position(social):
    with pytest.raises(SyntaxError):
        social.query("MATCH (a:person RETURN a")


def test_pattern_predicate_needs_bound_var(social):
    with pytest.raises(PlanError, match="bound variable"):
        social.query(
            "MATCH (a:person) WHERE (x)-[:friend]->() RETURN a")


def test_unbound_variable_mutations_clean_errors(social):
    """SET/DELETE of an unbound variable raise clean errors, not
    internal KeyError (found by planner fuzzing)."""
    import pytest as _pt
    with _pt.raises(Exception, match="not defined"):
        social.query("MATCH (p:person) DELETE q")
    with _pt.raises(Exception, match="not defined"):
        social.query("MATCH (p:person) SET q.age = 1")
    with _pt.raises(Exception, match="not defined"):
        social.query("DELETE zzz")


def test_type_mismatch_clean_errors(social):
    """Fuzz-found runtime cast failures now raise clean compile-time
    type mismatches: non-boolean WHERE/AND operands, non-numeric
    arithmetic, wrong function arity."""
    import pytest as _pt
    for q in ["MATCH (p:person) WHERE p.name RETURN count(*)",
              "MATCH (p:person) WHERE p.age OR p.name RETURN count(*)",
              "MATCH (p:person) RETURN p.age % p.name",
              "MATCH (p:person) RETURN p.name * 2"]:
        with _pt.raises(Exception, match="(?i)type mismatch"):
            social.query(q)
    with _pt.raises(Exception, match="(?i)arguments"):
        social.query("MATCH (p:person) WHERE size() RETURN count(*)")

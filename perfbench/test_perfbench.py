"""Tests of the benchmark's own machinery (no Spark session needed):
seeded operation sequences, span arithmetic, wrapper install/restore,
result comparison and data generation.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import os
import random
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import pytest  # noqa: E402

import datagen  # noqa: E402
import spans  # noqa: E402
from oracle import mismatch  # noqa: E402
from workloads import WORKLOADS, op_sequence  # noqa: E402


def _ops(workload, seed, n=300):
    return list(itertools.islice(op_sequence(workload, seed), n))


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_same_seed_repeats_and_other_seed_differs(workload):
    a, b, c = _ops(workload, 7), _ops(workload, 7), _ops(workload, 8)
    assert a == b
    assert [o.params for o in a] != [o.params for o in c]
    # the seed draws parameters only: the op-type order is fixed
    assert [o.kind for o in a] == [o.kind for o in c]
    kinds = list(WORKLOADS[workload])
    assert [o.kind for o in a[:len(kinds)]] == kinds


def test_workloads_draw_independent_streams():
    assert ([o.params for o in _ops("oltp_lookups", 3)]
            != [o.params for o in _ops("olap_analytics", 3)])


def test_oltp_keys_are_skewed_and_in_range():
    keys = [o.params["k"] for o in _ops("oltp_lookups", 5, 3000)]
    assert all(0 <= k < datagen.sizes()["customer"] for k in keys)
    # Zipf: repeats are common, yet the tail still reaches many keys
    assert len(set(keys)) < 0.8 * len(keys)
    assert len(set(keys)) > 100


class _Target:
    """Stand-in for an engine entry point."""

    def outer(self, n):
        time.sleep(0.002)
        self.inner()
        Base.send(self)
        time.sleep(0.001)
        return n

    def inner(self):
        time.sleep(0.003)
        Base.send(self)


class Base:
    def send(self):
        return "sent"


class Derived(Base):
    pass


def _fake_targets():
    return [(_Target, "outer", "outer"), (_Target, "inner", "inner"),
            (Derived, "send", None)]


def test_wrappers_restore_the_originals():
    own = (_Target.__dict__["outer"], _Target.__dict__["inner"])
    tr = spans.Tracer()
    tr.install(_fake_targets())
    assert _Target.__dict__["outer"] is not own[0]
    assert "send" in vars(Derived)
    tr.uninstall()
    assert (_Target.__dict__["outer"], _Target.__dict__["inner"]) == own
    # an inherited attribute is removed again, not pinned on the subclass
    assert "send" not in vars(Derived)
    assert Derived.send is Base.send


def test_engine_wrappers_restore_the_originals():
    targets = spans._targets()
    before = [(owner, attr, getattr(owner, attr), attr in vars(owner))
              for owner, attr, _ in targets]
    tr = spans.Tracer()
    tr.install()
    assert all(getattr(o, a) is not f for o, a, f, _ in before)
    tr.uninstall()
    for owner, attr, fn, own in before:
        assert getattr(owner, attr) is fn
        assert (attr in vars(owner)) == own


def test_nested_spans_self_time_and_message_counts():
    tr = spans.Tracer()
    tr.install([(_Target, "outer", "outer"), (_Target, "inner", "inner"),
                (Base, "send", None)])
    try:
        t0 = time.perf_counter()
        with tr.span("op"):
            assert _Target().outer(5) == 5
        wall = time.perf_counter() - t0
    finally:
        tr.uninstall()
    lay = tr.layer_summary(0, len(tr.spans))
    assert set(lay) == {"op", "outer", "inner"}
    assert lay["inner"]["py4j_msgs"] == 1
    assert lay["outer"]["py4j_msgs"] == 1
    assert lay["outer"]["self_s"] >= 0.003 * 0.9
    assert lay["inner"]["self_s"] >= 0.003 * 0.9
    total = sum(d["self_s"] for d in lay.values())
    assert total <= wall
    # self times partition the root span
    root = tr.spans[0]
    assert total == pytest.approx(root.end - root.start, abs=1e-9)


def test_messages_outside_spans_are_not_counted():
    tr = spans.Tracer()
    tr.install([(Base, "send", None)])
    try:
        Base().send()
        with tr.span("op"):
            Base().send()
        Base().send()
    finally:
        tr.uninstall()
    assert [s.py4j_msgs for s in tr.spans] == [1]


def test_exception_closes_the_span():
    tr = spans.Tracer()

    class Boom:
        def run(self):
            raise ValueError("x")
    tr.install([(Boom, "run", "run")])
    try:
        with pytest.raises(ValueError):
            Boom().run()
    finally:
        tr.uninstall()
    assert tr._stack == []
    assert tr.spans[0].end >= tr.spans[0].start


def _random_tree(rng, spans_out, parent, start, end, depth):
    """Children that may overlap each other and stick out of the
    parent, the worst case for the self-time arithmetic."""
    idx = len(spans_out)
    spans_out.append(spans.Span("s", start, end, parent))
    if parent is not None:
        spans_out[parent].children.append(idx)
    if depth == 0:
        return
    for _ in range(rng.randint(0, 4)):
        a = rng.uniform(start - 0.1, end)
        b = rng.uniform(a, end + 0.1)
        _random_tree(rng, spans_out, idx, a, b, depth - 1)


@pytest.mark.parametrize("seed", range(50))
def test_self_times_are_nonnegative_and_bounded(seed):
    rng = random.Random(seed)
    tree: list[spans.Span] = []
    _random_tree(rng, tree, None, 0.0, 1.0, 3)
    for i, s in enumerate(tree):
        st = spans.self_time(tree, i)
        assert 0.0 <= st <= (s.end - s.start) + 1e-12


def test_self_time_clips_and_merges_children():
    tree = [spans.Span("p", 0.0, 10.0, None, children=[1, 2, 3]),
            spans.Span("a", -5.0, 2.0, 0),     # clipped to [0, 2]
            spans.Span("b", 1.0, 4.0, 0),      # overlaps a -> [0, 4]
            spans.Span("c", 8.0, 12.0, 0)]     # clipped to [8, 10]
    assert spans.self_time(tree, 0) == pytest.approx(4.0)


def test_mismatch_reports_rows_and_values():
    want = [("A", 1, 2.5), ("B", 2, None)]
    assert mismatch([("A", 1, 2.5 + 1e-12), ("B", 2, None)], want) is None
    assert "rows" in mismatch(want[:1], want)
    assert "row 1" in mismatch([("A", 1, 2.5), ("B", 3, None)], want)
    assert "row 0" in mismatch([("A", 1, 2.6), ("B", 2, None)], want)


def test_datagen_is_deterministic_and_consistent():
    a, b = datagen.build(0.002, 1), datagen.build(0.002, 1)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["orders"].equals(datagen.build(0.002, 2)["orders"])
    li, orders = a["lineitem"].to_pandas(), a["orders"].to_pandas()
    # CONTAINS edge ids are orderkey * 8 + linenumber: must be unique
    assert li["l_linenumber"].between(1, 7).all()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()
    assert set(li["l_orderkey"]) <= set(orders["o_orderkey"])
    n = datagen.sizes(0.002)
    assert len(orders) == n["orders"] and len(a["customer"]) == n["customer"]

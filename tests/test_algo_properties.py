"""Property tests for the graph algorithms: each checks the DataFrame
implementation against a brute-force pure-Python reference on seeded
random graphs — the differential style of test_expr_differential /
test_mutation_differential applied to the algorithm layer — plus the
contract of the shared superstep loop (halting, convergence reporting,
one lineage cut per superstep)."""

import random
import warnings

import pytest


def _random_edges(seed: int, n: int = 18, m: int = 40):
    rng = random.Random(seed)
    return list({(rng.randrange(1, n + 1), rng.randrange(1, n + 1))
                 for _ in range(m)})


@pytest.mark.parametrize("seed", [
    1, 7, pytest.param(23, marks=pytest.mark.slow)])
def test_kcore_invariant_and_maximality(spark, seed):
    """The returned 3-core (a) has min undirected degree ≥ 3 inside
    the core and (b) equals the classic sequential-peel result."""
    from redisgraph_spark.algorithms.components import k_core
    pairs = [(a, b) for a, b in _random_edges(seed) if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    got = sorted(r["node"] for r in
                 k_core(edges.select("_src", "_dst"), 3).collect())

    # sequential peel reference
    from collections import defaultdict
    nbrs = defaultdict(set)
    for a, b in pairs:
        nbrs[a].add(b)
        nbrs[b].add(a)
    alive = set(nbrs)
    while True:
        drop = {v for v in alive
                if len(nbrs[v] & alive) < 3}
        if not drop:
            break
        alive -= drop
    assert got == sorted(alive)
    for v in alive:
        assert len(nbrs[v] & alive) >= 3


@pytest.mark.parametrize("seed", [
    2, 11, pytest.param(31, marks=pytest.mark.slow)])
def test_sssp_matches_bellman_ford_reference(spark, seed):
    """Distances and hop counts equal a pure-Python Bellman-Ford over
    paths of ≤ max_hops edges (weights drawn from small ints so float
    sums are exact)."""
    from redisgraph_spark.algorithms.sssp import sssp_multi
    rng = random.Random(seed)
    pairs = [(a, b) for a, b in _random_edges(seed, n=12, m=30)
             if a != b]
    w = {p: float(rng.randrange(1, 6)) for p in pairs}
    edges = spark.createDataFrame(
        [(i, a, b, w[(a, b)]) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst", "wt"])
    hops = 4
    roots = spark.createDataFrame([(1,)], "__root long")
    got = {r["node"]: (r["distance"], r["hops"])
           for r in sssp_multi(edges, roots, "wt",
                               max_hops=hops).collect()}

    best = {1: (0.0, 0)}
    frontier = {1: (0.0, 0)}
    for _ in range(hops):
        nxt = {}
        for u, (d, h) in frontier.items():
            for (a, b), wt in w.items():
                if a != u:
                    continue
                cand = (d + wt, h + 1)
                if b not in best or cand < best[b]:
                    if b not in nxt or cand < nxt[b]:
                        nxt[b] = cand
        improved = {b: c for b, c in nxt.items()
                    if b not in best or c < best[b]}
        if not improved:
            break
        best.update(improved)
        frontier = improved
    assert got == best


@pytest.mark.parametrize("seed", [
    pytest.param(3, marks=pytest.mark.slow), 13])
def test_node_similarity_matches_bruteforce(spark, seed):
    """Jaccard pairs equal the all-pairs brute force (no hub cap)."""
    from redisgraph_spark.algorithms.centrality import node_similarity
    pairs = [(a, b) for a, b in _random_edges(seed, n=14, m=45)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    got = {(r["node_a"], r["node_b"]): (r["intersection"], r["jaccard"])
           for r in node_similarity(
               edges.select("_src", "_dst"), "out", threshold=0.01,
               top_k=10_000, max_neighbor_degree=None).collect()}

    from collections import defaultdict
    out = defaultdict(set)
    for a, b in pairs:
        out[a].add(b)
    exp = {}
    ks = sorted(out)
    for i, x in enumerate(ks):
        for y in ks[i + 1:]:
            inter = len(out[x] & out[y])
            if not inter:
                continue
            j = round(inter / len(out[x] | out[y]) * 1e6) / 1e6
            if j >= 0.01:
                exp[(x, y)] = (inter, j)
    assert got == exp


@pytest.mark.parametrize("seed", [
    pytest.param(5, marks=pytest.mark.slow), 17])
def test_closeness_matches_bfs_reference(spark, seed):
    """reached / closeness / harmonic equal a pure-Python BFS from
    every source."""
    from redisgraph_spark.algorithms.centrality import closeness
    pairs = [(a, b) for a, b in _random_edges(seed, n=15, m=35)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    sources = [1, 2, 3]
    hops = 4
    got = {r["node"]: (r["reached"], r["closeness"], r["harmonic"])
           for r in closeness(edges.select("_src", "_dst"), sources,
                              max_hops=hops).collect()}

    from collections import defaultdict, deque
    out = defaultdict(set)
    for a, b in pairs:
        out[a].add(b)
    for s in sources:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] >= hops:
                continue
            for v in out[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        ds = [d for n, d in dist.items() if n != s]
        if ds:
            exp = (len(ds),
                   round(len(ds) / sum(ds) * 1e6) / 1e6,
                   round(sum(1.0 / d for d in ds) * 1e6) / 1e6)
        else:
            exp = (0, 0.0, 0.0)
        assert got[s][0] == exp[0]
        assert got[s][1] == exp[1]
        assert abs(got[s][2] - exp[2]) < 2e-6  # float-sum order


@pytest.mark.parametrize("seed,directed", [(3, False), (13, True),
                                           (29, False)])
def test_betweenness_matches_brandes_reference(spark, seed, directed):
    """Betweenness scores equal a pure-Python Brandes run (Brandes
    2001) on the same seeded random graph, directed and undirected."""
    from redisgraph_spark.algorithms.centrality import betweenness
    pairs = [(a, b) for a, b in _random_edges(seed, n=14, m=32)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    got = {r["node"]: r["score"]
           for r in betweenness(edges.select("_src", "_dst"),
                                directed=directed).collect()}

    from collections import defaultdict, deque
    adj = defaultdict(set)
    for a, b in pairs:
        adj[a].add(b)
        if not directed:
            adj[b].add(a)
    nodes = sorted(set(adj) | {v for s in adj.values() for v in s})
    bc = defaultdict(float)
    for s in nodes:
        # single-source Brandes
        dist = {s: 0}
        sigma = defaultdict(float)
        sigma[s] = 1.0
        preds = defaultdict(list)
        order = []
        q = deque([s])
        while q:
            u = q.popleft()
            order.append(u)
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
                if dist[v] == dist[u] + 1:
                    sigma[v] += sigma[u]
                    preds[v].append(u)
        delta = defaultdict(float)
        for w in reversed(order):
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    half = 1.0 if directed else 2.0
    exp = {n: round(v / half * 1e6) / 1e6
           for n, v in bc.items() if v}
    assert set(got) >= set(exp)
    for n in got:
        assert abs(got[n] - exp.get(n, 0.0)) < 5e-6, (n, got[n], exp.get(n))


@pytest.mark.parametrize("seed", [4, 19])
def test_random_walks_match_python_replay(spark, seed):
    """Every walk step equals a pure-Python replay of the seeded
    arithmetic choice over the canonically-ranked adjacency, and every
    consecutive pair is a real edge."""
    from redisgraph_spark.algorithms.walks import random_walks
    pairs = [(a, b) for a, b in _random_edges(seed, n=12, m=28)
             if a != b]
    edges = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        ["_id", "_src", "_dst"])
    starts = [1, 2, 3, 4]
    length = 6
    wseed = 11
    got = {}
    for r in random_walks(edges.select("_src", "_dst"), starts,
                          length=length, seed=wseed).collect():
        got.setdefault(r["walk"], {})[r["step"]] = r["node"]

    from collections import defaultdict
    nbrs = defaultdict(list)
    for a, b in sorted(set(pairs)):
        nbrs[a].append(b)
    for s in starts:
        exp = [s]
        cur = s
        for t in range(1, length + 1):
            out = sorted(nbrs.get(cur, []))
            if not out:
                break
            h = ((cur % 1_000_000_007) * 2654435761 + t * 40503
                 + (s % 1_000_000_007) * 97 + wseed)
            cur = out[h % len(out)]
            exp.append(cur)
        assert [got[s][t] for t in sorted(got[s])] == exp, (s, got[s], exp)


# ------------------------------------------------------ superstep loop

@pytest.fixture()
def cut_count(monkeypatch):
    """Counts ``localCheckpoint`` calls (the classic DataFrame class
    overrides the base method, so it is the one patched)."""
    import pyspark.sql.classic.dataframe as classic_df
    calls = []
    orig = classic_df.DataFrame.localCheckpoint

    def counting(self, *args, **kwargs):
        calls.append(1)
        return orig(self, *args, **kwargs)
    monkeypatch.setattr(classic_df.DataFrame, "localCheckpoint", counting)
    return calls


def _levels(spark, n):
    """State (v, lvl) of a BFS over the chain 0→1→…→n-1 from 0."""
    from pyspark.sql import functions as F
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "a long, b long")

    def step(state, rnd):
        nxt = state.filter(F.col("lvl") == rnd - 1) \
            .join(chain, F.col("v") == chain["a"]) \
            .select(F.col("b").alias("v"), F.lit(rnd).alias("lvl"))
        return state.unionByName(nxt)
    return spark.createDataFrame([(0, 0)], "v long, lvl int"), step


def test_superstep_halts_on_empty_frontier(spark):
    from pyspark.sql import functions as F
    from redisgraph_spark.algorithms import superstep
    state, step = _levels(spark, 4)
    res = superstep.run(state, step, 10, superstep.frontier_empty(
        lambda s, rnd: s.filter(F.col("lvl") == rnd)))
    # levels 1..3 are reached; round 4 finds nothing new
    assert res.converged and res.rounds == 4
    assert sorted(tuple(r) for r in res.state.collect()) == \
        [(0, 0), (1, 1), (2, 2), (3, 3)]


def test_superstep_halts_at_fixpoint(spark):
    from pyspark.sql import functions as F
    from redisgraph_spark.algorithms import superstep
    state = spark.createDataFrame([(i, 10 - i) for i in range(4)],
                                  "k long, v long")

    def step(s, _rnd):   # v decreases by one per round, floored at 7
        return s.select("k", F.greatest(F.col("v") - 1, F.lit(7))
                        .alias("v"))
    res = superstep.run(state, step, 20,
                        superstep.unchanged(F.sum("v")))
    # round 3 reaches all-7s; round 4 repeats the sum and halts
    assert res.converged and res.rounds == 4
    assert {r["v"] for r in res.state.collect()} == {7}


def test_superstep_cap_reports_not_converged_and_warns_once(spark):
    from pyspark.sql import functions as F
    from redisgraph_spark.algorithms import superstep
    state, step = _levels(spark, 10)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        res = superstep.run(state, step, 3, superstep.frontier_empty(
            lambda s, rnd: s.filter(F.col("lvl") == rnd)))
        superstep.warn_capped(res, "chain walk", "raise the cap")
    assert not res.converged and res.rounds == 3
    assert res.state.count() == 4
    runtime = [w for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(runtime) == 1 and "chain walk" in str(runtime[0].message)


def test_superstep_one_cut_per_round(spark, cut_count):
    from pyspark.sql import functions as F
    from redisgraph_spark.algorithms import superstep
    from redisgraph_spark.algorithms.components import label_propagation
    state, step = _levels(spark, 10)
    superstep.run(state, step, 5)
    assert len(cut_count) == 5
    cut_count.clear()
    superstep.run(state, step, 20, superstep.frontier_empty(
        lambda s, rnd: s.filter(F.col("lvl") == rnd)))
    assert len(cut_count) == 10   # 9 levels + the empty round
    cut_count.clear()
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (4, 5)],
                                  "_src long, _dst long")
    ids = spark.createDataFrame([(i,) for i in range(1, 6)], "_id long")
    label_propagation(ids, edges, iters=3).collect()
    assert len(cut_count) == 3


def test_kcore_reports_cap_on_long_path(spark):
    """Peeling a path to its (empty) 2-core takes one round per two
    nodes: a 200-node path needs 100 rounds. Under the default cap of
    64 the call must warn instead of silently returning 72 nodes that
    are not a 2-core; with room to converge the core is empty."""
    from redisgraph_spark.algorithms.components import k_core
    edges = spark.createDataFrame([(i, i + 1) for i in range(199)],
                                  "_src long, _dst long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        capped = k_core(edges, 2).count()
    assert capped > 0
    assert [w for w in caught if issubclass(w.category, RuntimeWarning)
            and "k_core" in str(w.message)]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert k_core(edges, 2, max_iter=128).count() == 0
    assert not [w for w in caught
                if issubclass(w.category, RuntimeWarning)]


def test_pagerank_uniform_equals_all_node_restart(spark):
    """Uniform PageRank is the restart-vector form with r = 1/n; naming
    every node as the restart set must give the same scores."""
    from redisgraph_spark.algorithms.pagerank import pagerank
    pairs = [(a, b) for a, b in _random_edges(9, n=15, m=40) if a != b]
    ids = sorted({v for p in pairs for v in p} | {99})   # 99 dangles
    nodes = spark.createDataFrame([(i,) for i in ids], "_id long")
    edges = spark.createDataFrame(pairs, "_src long, _dst long")
    uni = {r["_id"]: r["score"]
           for r in pagerank(nodes, edges, iterations=15).collect()}
    ppr = {r["_id"]: r["score"]
           for r in pagerank(nodes, edges, iterations=15,
                             restart_ids=ids).collect()}
    assert set(uni) == set(ppr) == set(ids)
    for i in ids:
        assert abs(uni[i] - ppr[i]) < 1e-12, (i, uni[i], ppr[i])

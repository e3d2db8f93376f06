"""End-to-end Cypher tests on the social fixture (the reference's flow
tests in miniature — tests/flow/test_social.py shapes) and the tpch
graph."""

import pytest

from tests.conftest import rows


class TestSocial:
    def test_scan_filter(self, social):
        got = rows(social.query(
            "MATCH (p:person) WHERE p.age > 32 RETURN p.name AS n"))
        assert got == [("Noam",), ("Omri",)]

    def test_friend_of_friend(self, social):
        got = rows(social.query(
            "MATCH (a:person {name: 'Roi'})-[:friend]->()-[:friend]->(f) "
            "RETURN f.name AS n ORDER BY n"))
        assert got == [("Jane",), ("Noam",), ("Omri",), ("Ori",),
                       ("Shelly",)]

    def test_edge_property_filter(self, social):
        got = rows(social.query(
            "MATCH (p:person)-[v:visited]->(c:country) "
            "WHERE v.purpose = 'business' "
            "RETURN p.name AS p, c.name AS c"))
        assert got == [("Omri", "Canada"), ("Roi", "Prague"),
                       ("Roi", "USA")]

    def test_undirected(self, social):
        got = rows(social.query(
            "MATCH (a:person {name: 'Omri'})-[:friend]-(b) "
            "RETURN b.name AS n"))
        assert got == [("Alon",), ("Ori",)]

    def test_incoming_direction(self, social):
        got = rows(social.query(
            "MATCH (c:country)<-[:visited]-(p:person {name: 'Roi'}) "
            "RETURN c.name AS n"))
        assert got == [("Prague",), ("USA",)]

    def test_aggregation_collect(self, social):
        got = rows(social.query(
            "MATCH (p:person)-[:friend]->(f) "
            "RETURN p.name AS n, count(f) AS c, sort(collect(f.name)) AS fs "
            "ORDER BY n"))
        by_name = {r[0]: (r[1], r[2]) for r in got}
        assert by_name["Roi"] == (4, ["Ailon", "Alon", "Boaz", "Tal"])
        assert by_name["Alon"] == (2, ["Omri", "Ori"])

    def test_optional_match_nulls(self, social):
        got = rows(social.query(
            "MATCH (p:person) OPTIONAL MATCH (p)-[v:visited]->(c:country) "
            "RETURN p.name AS n, c.name AS c ORDER BY n"))
        d = {}
        for n, c in got:
            d.setdefault(n, []).append(c)
        assert d["Jane"] == [None]       # never travelled
        assert sorted(d["Roi"]) == ["Prague", "USA"]

    def test_var_len_paths(self, social):
        got = rows(social.query(
            "MATCH (a:person {name: 'Roi'})-[:friend*2..2]->(f) "
            "RETURN f.name AS n ORDER BY n"))
        assert got == [("Jane",), ("Noam",), ("Omri",), ("Ori",),
                       ("Shelly",)]

    def test_var_len_zero_min(self, social):
        got = rows(social.query(
            "MATCH (a:person {name: 'Tal'})-[:friend*0..1]->(f) "
            "RETURN f.name AS n"))
        assert got == [("Jane",), ("Tal",)]

    def test_shortest_path(self, social):
        got = rows(social.query(
            "MATCH p = shortestPath((a:person {name: 'Roi'})-[:friend*..5]"
            "->(b:person {name: 'Ori'})) RETURN length(p) AS l"))
        assert got == [(2,)]

    def test_where_pattern(self, social):
        got = rows(social.query(
            "MATCH (p:person) WHERE (p)-[:visited]->(:country) "
            "AND p.status = 'single' RETURN p.name AS n"))
        assert got == [("Omri",), ("Shelly",), ("Tal",)]

    def test_where_not_pattern(self, social):
        got = rows(social.query(
            "MATCH (p:person) WHERE NOT (p)-[:visited]->() "
            "RETURN p.name AS n"))
        assert got == [("Jane",), ("Noam",), ("Ori",)]

    def test_unwind_cross(self, social):
        got = rows(social.query(
            "UNWIND [1, 2] AS x MATCH (p:person {age: 26}) "
            "RETURN p.name AS n, x ORDER BY x"))
        assert got == [("Shelly", 1), ("Shelly", 2)]

    def test_with_aggregation_pipeline(self, social):
        got = rows(social.query(
            "MATCH (p:person)-[:friend]->(f) "
            "WITH p, count(f) AS degree WHERE degree >= 2 "
            "RETURN p.name AS n, degree ORDER BY degree DESC"))
        assert got == [("Alon", 2), ("Roi", 4)]

    def test_multi_label_and_case(self, social):
        got = rows(social.query(
            "MATCH (p:person) RETURN "
            "CASE WHEN p.age >= 30 THEN '30s' ELSE '20s' END AS bucket, "
            "count(*) AS c ORDER BY bucket"))
        assert got == [("20s", 3), ("30s", 7)]

    def test_distinct_and_union(self, social):
        got = rows(social.query(
            "MATCH (p:person {status: 'married'}) RETURN p.gender AS g "
            "UNION MATCH (p:person {status: 'single'}) RETURN p.gender AS g"))
        assert got == [("female",), ("male",)]

    def test_id_type_labels_functions(self, social):
        got = rows(social.query(
            "MATCH (p:person {name: 'Roi'})-[v:visited]->(c) "
            "RETURN id(p) AS pid, type(v) AS t, labels(c)[0] AS lbl "
            "LIMIT 1"))
        assert got == [(1, "visited", "country")]

    def test_self_and_anon_nodes(self, social):
        got = rows(social.query(
            "MATCH (:person {name: 'Roi'})-[:friend]->(:person)"
            "-[:friend]->(x) RETURN count(x) AS c"))
        assert got == [(5,)]


class TestTpch:
    def test_multi_hop_agg(self, graph):
        df = graph.query(
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "RETURN count(*) AS n")
        assert df.collect()[0]["n"] == 1500

    def test_params(self, graph):
        df = graph.query(
            "MATCH (c:Customer) WHERE c.c_custkey = $k "
            "RETURN c.c_name AS n", {"k": 7})
        assert df.collect()[0]["n"] == "Customer#000000007"

    def test_cartesian_product(self, graph):
        df = graph.query(
            "MATCH (r:Region), (r2:Region) RETURN count(*) AS n")
        assert df.collect()[0]["n"] == 25

    def test_call_procedures(self, graph):
        labels = {r["label"] for r in graph.query(
            "CALL db.labels() YIELD label RETURN label").collect()}
        assert labels == {"Region", "Nation", "Customer", "Supplier",
                          "Part", "Order"}
        rels = {r["relationshipType"] for r in graph.query(
            "CALL db.relationshipTypes() YIELD relationshipType "
            "RETURN relationshipType").collect()}
        assert "PLACED" in rels and "CONTAINS" in rels

    # anchored chains (inline map on the first node) build their hash
    # tables from the frontier; each must match its WHERE form
    @pytest.mark.parametrize("pattern,ret,where,k", [
        # 1 hop
        ("(c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)",
         "o.o_orderkey, o.o_totalprice", "c.c_custkey = $k", 7),
        # 2 hops, the middle node skipped (no node-table join)
        ("(c:Customer {c_custkey: $k})-[:PLACED]->()-[l:CONTAINS]->"
         "(p:Part)", "p.p_partkey, l.l_quantity", "c.c_custkey = $k", 7),
        # undirected hop
        ("(c:Customer {c_custkey: $k})-[:PLACED]-(o)",
         "o.o_orderkey", "c.c_custkey = $k", 7),
        # named edge variable
        ("(c:Customer {c_custkey: $k})-[r:PLACED]->(o:Order)",
         "id(r), type(r), o.o_orderkey", "c.c_custkey = $k", 7),
        # an anchor that matches no node
        ("(c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)",
         "o.o_orderkey", "c.c_custkey = $k", -1),
        # a non-unique anchor
        ("(c:Customer {c_mktsegment: 'BUILDING'})-[:PLACED]->(o:Order)"
         "-[l:CONTAINS]->(p:Part)",
         "c.c_custkey, o.o_orderkey, p.p_partkey",
         "c.c_mktsegment = 'BUILDING'", 7),
        # a second path in the same MATCH starting at the anchor
        ("(c:Customer {c_custkey: $k})-[:PLACED]->(o:Order), "
         "(c)-[:IN_NATION]->(n:Nation)",
         "o.o_orderkey, n.n_name", "c.c_custkey = $k", 7),
    ])
    def test_anchored_chain_matches_where_form(self, graph, pattern, ret,
                                               where, k):
        inline = rows(graph.query(
            f"MATCH {pattern} RETURN {ret}", {"k": k}))
        plain = pattern.replace(" {c_custkey: $k}", "") \
            .replace(" {c_mktsegment: 'BUILDING'}", "")
        filtered = rows(graph.query(
            f"MATCH {plain} WHERE {where} RETURN {ret}", {"k": k}))
        assert inline == filtered
        assert bool(inline) == (k != -1)


class TestImdb:
    """The reference's imdb demo shapes (demo/imdb/imdb_utils.py,
    tests/benchmarks/index_node_lookup.yml)."""

    @pytest.fixture()
    def imdb(self, spark):
        from redisgraph_spark import Graph
        actors = [(i, f"Actor{i}", 30 + (i % 4)) for i in range(1, 13)]
        movies = [(100, "MovieA", 8.1, 2014), (101, "MovieB", 7.0, 2016)]
        acts = [(200 + i, i, 100 + (i % 2)) for i in range(1, 13)]
        nodes = {
            "actor": spark.createDataFrame(
                actors, ["_id", "name", "age"]),
            "movie": spark.createDataFrame(
                movies, ["_id", "title", "rating", "year"]),
        }
        edges = {"act": spark.createDataFrame(
            acts, ["_id", "_src", "_dst"])}
        return Graph(spark, nodes, edges)

    def test_index_node_lookup_benchmark_query(self, imdb):
        # the reference's index_node_lookup KPI query: property
        # self-join + node inequality + collect
        got = imdb.query(
            "MATCH (a:actor) WITH a MATCH (b:actor) "
            "WHERE a.age = b.age AND a <> b "
            "RETURN a.name AS name, size(collect(b.name)) AS peers "
            "ORDER BY name").collect()
        by = {r["name"]: r["peers"] for r in got}
        # 12 actors, 4 age buckets of 3 → each has 2 same-age peers
        assert len(by) == 12 and all(v == 2 for v in by.values())

    def test_actor_movie_traversal(self, imdb):
        got = imdb.query(
            "MATCH (a:actor)-[:act]->(m:movie) WHERE m.rating > 8 "
            "RETURN count(a) AS n").collect()
        assert got[0]["n"] == 6

    def test_mixed_numeric_types(self, imdb):
        # long year vs double rating arithmetic
        got = imdb.query(
            "MATCH (m:movie) RETURN m.title AS t, "
            "m.rating * 2 AS r2, m.year + 1 AS y ORDER BY t").collect()
        assert got[0]["r2"] == 16.2 and got[0]["y"] == 2015


class TestBFSProcedure:
    """CALL algo.BFS (reference proc_bfs.c): outgoing BFS per input
    record; yields reachable nodes (source excluded, id order) and the
    aligned discovery edges; unreachable sources emit no row."""

    def test_bfs_depth_limited(self, social):
        got = social.query(
            "MATCH (p:person {name: 'Roi'}) "
            "CALL algo.BFS(p, 1, 'friend') YIELD nodes "
            "UNWIND nodes AS n RETURN n.name AS name ORDER BY name"
        ).collect()
        direct = social.query(
            "MATCH (:person {name: 'Roi'})-[:friend]->(f) "
            "RETURN f.name AS name ORDER BY name").collect()
        assert [r["name"] for r in got] == [r["name"] for r in direct]

    def test_bfs_unlimited_matches_var_len(self, social):
        got = social.query(
            "MATCH (p:person {name: 'Roi'}) "
            "CALL algo.BFS(p, 0, 'friend') YIELD nodes "
            "RETURN size(nodes) AS n").collect()[0]["n"]
        reach = social.query(
            "MATCH (p:person {name: 'Roi'})-[:friend*1..10]->(f) "
            "RETURN count(DISTINCT f) AS n").collect()[0]["n"]
        assert got == reach

    def test_bfs_edges_aligned(self, social):
        row = social.query(
            "MATCH (p:person {name: 'Roi'}) "
            "CALL algo.BFS(p, 1, 'friend') YIELD nodes, edges "
            "RETURN nodes, edges").collect()[0]
        assert len(row["nodes"]) == len(row["edges"])
        # each edge lands on its aligned node
        for n, e in zip(row["nodes"], row["edges"]):
            assert e["_dst"] == n["_id"]

    def test_bfs_unreachable_source_no_row(self, social):
        # pick someone with no outgoing 'visited' edges of a bogus type
        got = social.query(
            "MATCH (p:person {name: 'Roi'}) "
            "CALL algo.BFS(p, 0, 'nonesuch') YIELD nodes "
            "RETURN size(nodes) AS n").collect()
        assert got == []


class TestPathValues:
    """Path variables are first-class {nodes, edges} structs with FULL
    node/edge structs normalized to the unified schema (SIPath,
    src/datatypes/path/sipath.h:19-40)."""

    def test_nodes_carry_properties(self, social):
        got = social.query(
            "MATCH p = (a:person {name: 'Roi'})-[:friend]->(b) "
            "RETURN [n IN nodes(p) | n.name] AS names ORDER BY names[1]"
        ).collect()
        assert [r["names"] for r in got] == [
            ["Roi", "Ailon"], ["Roi", "Alon"], ["Roi", "Boaz"],
            ["Roi", "Tal"]]

    def test_mixed_label_path(self, social):
        # person->country crosses label schemas; structs normalize
        got = social.query(
            "MATCH p = (a:person {name: 'Roi'})-[v:visited]->(c:country) "
            "RETURN [n IN nodes(p) | n.name] AS names, "
            "[e IN relationships(p) | e.purpose] AS purp "
            "ORDER BY names[1]").collect()
        assert got[0]["names"] == ["Roi", "Prague"]
        assert got[0]["purp"] == ["business"]

    def test_mixed_rel_edges_concat(self, social):
        # friend (no props) + visited (purpose prop) in one path
        got = social.query(
            "MATCH p = (a:person {name: 'Roi'})-[:friend]->(b)"
            "-[v:visited]->(c:country) "
            "RETURN [e IN relationships(p) | e.purpose] AS purp, "
            "length(p) AS len, b.name AS via ORDER BY via, purp[1]"
        ).collect()
        assert all(r["len"] == 2 and r["purp"][0] is None for r in got)
        assert {r["purp"][1] for r in got} == {"pleasure", "none"}

    def test_shortest_path_node_structs(self, social):
        got = social.query(
            "MATCH p = shortestPath((a:person {name: 'Roi'})"
            "-[:friend*..5]->(b:person {name: 'Ori'})) "
            "RETURN [n IN nodes(p) | n.name] AS names, length(p) AS len"
        ).collect()
        assert got[0]["names"][0] == "Roi" and got[0]["names"][-1] == "Ori"
        assert got[0]["len"] == len(got[0]["names"]) - 1


class TestEdgeUniqueness:
    """Relationship isomorphism within one MATCH spans fixed edges AND
    named var-len arrays (docs/known_limitations.md:3-24: only
    unreferenced relationships skip the check)."""

    def test_fixed_vs_var_len(self, social):
        # a var-len path may not reuse the fixed edge bound as `e`
        got = social.query(
            "MATCH (x:person {name: 'Roi'})-[e:friend]->(y:person "
            "{name: 'Alon'}), (x)-[es:friend*1..1]->(z) "
            "RETURN z.name AS zn ORDER BY zn").collect()
        assert [r["zn"] for r in got] == ["Ailon", "Boaz", "Tal"]

    def test_var_len_vs_var_len(self, social):
        got = social.query(
            "MATCH (x:person {name: 'Roi'})-[e1:friend*1..1]->(a), "
            "(x)-[e2:friend*1..1]->(b) RETURN count(*) AS c"
        ).collect()[0]["c"]
        # 4 outgoing friend edges: ordered pairs of distinct edges
        assert got == 4 * 3


def test_algo_wcc(spark):
    """Two components {1,2,3} (via 1-2, 2-3) and {10,11}; singleton 20."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 2), (101, 3, 2), (102, 11, 10)],
        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    # node is the full node struct (uniform with algo.pageRank /
    # queryNodes) — project the id for comparison
    got = {r["nid"]: r["component"] for r in g.query(
        "CALL algo.wcc() YIELD node, component "
        "RETURN node._id AS nid, component").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    n = g.query("CALL algo.wcc() YIELD node, component "
                "RETURN count(DISTINCT component) AS n").collect()[0]["n"]
    assert n == 3


def test_algo_triangle_count(spark):
    """One triangle 1-2-3 (with a redundant parallel/reverse edge and a
    self-loop that must not count) plus a dangling edge 3-4."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 2), (101, 2, 3), (102, 3, 1), (103, 2, 1),
         (104, 2, 2), (105, 3, 4)],
        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    got = g.query("CALL algo.triangleCount() YIELD triangles "
                  "RETURN triangles").collect()
    assert got[0]["triangles"] == 1


def test_startnode_endnode_ids(social):
    """startNode()/endNode() are node references: id() of one equals
    the bound endpoint's id (entity_funcs.c:186-230)."""
    rows = social.query(
        "MATCH (a:person)-[e:friend]->(b) "
        "RETURN id(startNode(e)) = id(a) AS s, "
        "id(endNode(e)) = id(b) AS d").collect()
    assert rows and all(r["s"] and r["d"] for r in rows)


def test_startnode_endnode_structs(social):
    """startNode()/endNode() resolve to the full node struct when the
    pattern binds (or can bind) the endpoint — property access and
    labels() work; anonymous endpoints are auto-named."""
    rows = social.query(
        "MATCH (a:person)-[e:visited]->(c:country) "
        "RETURN startNode(e).name AS sn, endNode(e).name AS en, "
        "labels(endNode(e))[0] AS lbl ORDER BY sn, en LIMIT 2").collect()
    assert all(r["lbl"] == "country" for r in rows)
    assert rows[0]["sn"] is not None and rows[0]["en"] is not None
    # anonymous endpoints
    rows = social.query(
        "MATCH ()-[e:visited]->() RETURN endNode(e).name AS n "
        "ORDER BY n LIMIT 1").collect()
    assert rows[0]["n"] is not None
    # reversed arrow: startNode is the edge's true source
    rows = social.query(
        "MATCH (c:country)<-[e:visited]-(p:person) "
        "RETURN id(startNode(e)) = id(p) AS s, "
        "id(endNode(e)) = id(c) AS d").collect()
    assert rows and all(r["s"] and r["d"] for r in rows)


def test_optional_match_empty_and_disconnected(social):
    """Optional op semantics (ops/op_optional.h:12-30): a leading
    OPTIONAL MATCH with no matches emits ONE all-null record;
    a disconnected OPTIONAL MATCH is an optional cartesian product."""
    rows = social.query(
        "OPTIONAL MATCH (a:person {name: 'Nobody'})-[:friend]->(b) "
        "RETURN a.name AS x, b.name AS y").collect()
    assert [(r["x"], r["y"]) for r in rows] == [(None, None)]
    rows = social.query(
        "MATCH (a:person {name: 'Roi'}) "
        "OPTIONAL MATCH (b:person {name: 'Ghost'}) "
        "RETURN a.name AS x, b.name AS y").collect()
    assert [(r["x"], r["y"]) for r in rows] == [("Roi", None)]


class TestShortestPathExpr:
    """shortestPath() in expression position (path_funcs.c:119-179)."""

    @pytest.mark.slow
    def test_return_position(self, social):
        # Roi -> Ori is 2 hops (Roi->Alon->Ori)
        got = rows(social.query(
            "MATCH (a:person {name: 'Roi'}), (b:person {name: 'Ori'}) "
            "RETURN length(shortestPath((a)-[:friend*..5]->(b))) AS l"))
        assert got == [(2,)]

    @pytest.mark.slow
    def test_unreachable_is_null(self, social):
        got = rows(social.query(
            "MATCH (a:person {name: 'Ori'}), (b:person {name: 'Roi'}) "
            "RETURN length(shortestPath((a)-[:friend*..5]->(b))) AS l"))
        assert got == [(None,)]

    @pytest.mark.slow
    def test_where_position_multi_target(self, social):
        # every person Roi can reach in exactly 2 friend hops
        got = rows(social.query(
            "MATCH (a:person {name: 'Roi'}), (b:person) WHERE "
            "length(shortestPath((a)-[:friend*..5]->(b))) = 2 "
            "RETURN b.name AS n ORDER BY n"))
        assert got == [("Jane",), ("Noam",), ("Omri",), ("Ori",),
                       ("Shelly",)]

    def test_match_bound_dst_multi_row(self, social):
        # regression: BFS dedup must not collapse rows sharing an origin
        # when the destination is bound and varies per row
        got = rows(social.query(
            "MATCH (a:person {name: 'Roi'})-[:friend]->(b) "
            "MATCH p = shortestPath((a)-[:friend*..3]->(b)) "
            "RETURN count(p) AS k"))
        assert got == [(4,)]

    @pytest.mark.slow
    def test_bound_dst_constraints_applied(self, social):
        # labels/props on an already-bound destination must constrain
        # the match (they were silently dropped before)
        all_rows = rows(social.query(
            "MATCH (a:person {name: 'Roi'}), (b:person) "
            "MATCH p = shortestPath((a)-[:friend*..3]->(b)) "
            "RETURN count(p) AS k"))
        filtered = rows(social.query(
            "MATCH (a:person {name: 'Roi'}), (b:person) "
            "MATCH p = shortestPath((a)-[:friend*..3]"
            "->(b:person {name: 'Alon'})) RETURN count(p) AS k"))
        assert all_rows[0][0] > 1 and filtered == [(1,)]

    def test_min_hops_over_one_rejected(self, social):
        # BFS first-reach pruning cannot enumerate longer-than-shortest
        # paths — reject like openCypher instead of returning nothing
        import pytest as _pytest
        with _pytest.raises(Exception, match="minimal length"):
            social.query(
                "MATCH p = shortestPath((a:person)-[:friend*2..3]->(b)) "
                "RETURN p").collect()

    def test_zero_length_bound(self, social):
        # [*0..0] matches only the zero-length path (a = b)
        got = rows(social.query(
            "MATCH (a:person {name: 'Roi'}) "
            "MATCH p = shortestPath((a)-[:friend*0..0]->(b)) "
            "RETURN b.name AS n"))
        assert got == [("Roi",)]


def test_algo_kcore(spark):
    """Hand-built graph where peeling cascades: triangle {1,2,3} plus a
    pendant chain 3-4-5 — the 2-core is exactly the triangle (4 drops
    only AFTER 5, so ≥2 synchronous rounds are exercised), and fixed
    extra rounds are no-ops past the fixpoint."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 2), (101, 2, 3), (102, 3, 1), (103, 3, 4),
         (104, 4, 5)],
        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    got = sorted(r["nid"] for r in g.query(
        "CALL algo.kCore(2) YIELD node RETURN node._id AS nid").collect())
    assert got == [1, 2, 3]
    # fixed-round mode: idempotent past the fixpoint (4 rounds == 8)
    for iters in (4, 8):
        got_i = sorted(r["nid"] for r in g.query(
            f"CALL algo.kCore(2, {iters}) YIELD node "
            "RETURN node._id AS nid").collect())
        assert got_i == [1, 2, 3]
    # 3-core is empty (triangle degrees are 2)
    assert g.query("CALL algo.kCore(3) YIELD node "
                   "RETURN count(*) AS n").collect()[0]["n"] == 0
    with pytest.raises(Exception):
        g.query("CALL algo.kCore(0) YIELD node RETURN node")


@pytest.mark.slow
def test_algo_sssp(spark):
    """Weighted vs hop-count shortest paths differ: 1→2→3 costs 1+1=2
    while the direct 1→3 edge costs 5 — SSSP must take the 2-hop path;
    nulls in the weight property default to 1.0; max_hops bounds
    reach; hops tie-break picks the fewest-edge minimal path."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 2, 1.0), (101, 2, 3, 1.0), (102, 1, 3, 5.0),
         (103, 3, 4, None)],
        ["_id", "_src", "_dst", "cost"])}
    g = Graph(spark, nodes, edges)
    got = {r["nid"]: (r["distance"], r["hops"]) for r in g.query(
        "CALL algo.SSSP(1, null, 'cost', 10) YIELD node, distance, hops "
        "RETURN node._id AS nid, distance, hops").collect()}
    assert got == {1: (0.0, 0), 2: (1.0, 1), 3: (2.0, 2), 4: (3.0, 3)}
    # unweighted: direct edge wins on hops at equal... distance 1.0<2.0
    got_u = {r["nid"]: (r["distance"], r["hops"]) for r in g.query(
        "CALL algo.SSSP(1, null, null, 10) YIELD node, distance, hops "
        "RETURN node._id AS nid, distance, hops").collect()}
    assert got_u[3] == (1.0, 1)
    # hop bound cuts the frontier
    got_h = {r["nid"] for r in g.query(
        "CALL algo.SSSP(1, null, 'cost', 1) YIELD node "
        "RETURN node._id AS nid").collect()}
    assert got_h == {1, 2, 3}
    # per-record correlated CALL via id(n)
    got_c = {(r["src"], r["nid"]) for r in g.query(
        "MATCH (n:N) WHERE id(n) <= 2 "
        "CALL algo.SSSP(id(n), null, null, 1) YIELD node "
        "RETURN id(n) AS src, node._id AS nid").collect()}
    assert (1, 2) in got_c and (2, 3) in got_c
    with pytest.raises(Exception):
        g.query("CALL algo.SSSP(1, null, 'nope', 2) YIELD node "
                "RETURN node").collect()


def test_algo_hits(spark):
    """Bipartite star: hub 1 points at {10, 11}, hub 2 at {10} — node
    10 must out-rank 11 as an authority and 1 must out-rank 2 as a
    hub; scores are L2-normalized so the closed forms are checkable;
    pure authorities report hub 0 (no out-edges)."""
    import math
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 10, 11)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 10), (101, 1, 11), (102, 2, 10)],
        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    got = {r["nid"]: (r["hub"], r["authority"]) for r in g.query(
        "CALL algo.HITS(1) YIELD node, hub, authority "
        "RETURN node._id AS nid, hub, authority").collect()}
    # one round: a ∝ in-degree → a(10)=2/√5, a(11)=1/√5;
    # h(1) = a(10)+a(11) = 3/√5, h(2) = a(10) = 2/√5, normalized
    s5 = math.sqrt(5.0)
    a10, a11 = round(2 / s5 * 1e9) / 1e9, round(1 / s5 * 1e9) / 1e9
    hn = math.sqrt((a10 + a11) ** 2 + a10 ** 2)
    assert got[10][1] == a10 and got[11][1] == a11
    assert got[1][0] == round((a10 + a11) / hn * 1e9) / 1e9
    assert got[2][0] == round(a10 / hn * 1e9) / 1e9
    assert got[10][0] == 0.0 and got[1][1] == 0.0
    assert got[1][0] > got[2][0] and got[10][1] > got[11][1]
    with pytest.raises(Exception):
        g.query("CALL algo.HITS(0) YIELD node RETURN node")


@pytest.mark.slow
def test_personalized_pagerank(spark):
    """Chain 1→2→3: teleport mass concentrates on the source side —
    source 1 outranks everything; node 3 (dangling) returns its mass
    to the source, never to non-source nodes; a restart set outside
    the graph raises."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 3)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 2), (101, 2, 3)], ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    got = {r["nid"]: r["score"] for r in g.query(
        "CALL algo.pageRank(null, null, [1]) YIELD node, score "
        "RETURN node._id AS nid, score").collect()}
    assert got[1] > got[2] > got[3] > 0
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # uniform (no sources) differs: symmetric teleport lifts 2 and 3
    uni = {r["nid"]: r["score"] for r in g.query(
        "CALL algo.pageRank(null, null) YIELD node, score "
        "RETURN node._id AS nid, score").collect()}
    assert uni[3] > got[3]
    with pytest.raises(Exception):
        g.query("CALL algo.pageRank(null, null, [999]) YIELD node, score "
                "RETURN score").collect()
    with pytest.raises(Exception):
        g.query("CALL algo.pageRank(null, null, []) YIELD node, score "
                "RETURN score").collect()


def test_algo_closeness(spark):
    """Chain 1→2→3→4 plus isolated 9: from source 1, reached=3 with
    distances 1,2,3 → closeness 3/6, harmonic 1+1/2+1/3; a 1-hop bound
    sees only node 2; an unreachable source reports zeros."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 9)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 2), (101, 2, 3), (102, 3, 4)],
        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    got = {r["nid"]: r for r in g.query(
        "CALL algo.closeness([1, 9], null, 8) "
        "YIELD node, reached, closeness, harmonic "
        "RETURN node._id AS nid, reached, closeness, harmonic").collect()}
    assert got[1]["reached"] == 3
    assert got[1]["closeness"] == round(3 / 6 * 1e6) / 1e6
    assert got[1]["harmonic"] == round((1 + 0.5 + 1 / 3) * 1e6) / 1e6
    assert got[9]["reached"] == 0 and got[9]["closeness"] == 0.0
    bounded = {r["nid"]: r["reached"] for r in g.query(
        "CALL algo.closeness([1], null, 1) YIELD node, reached "
        "RETURN node._id AS nid, reached").collect()}
    assert bounded[1] == 1
    with pytest.raises(Exception):
        g.query("CALL algo.closeness([], null, 2) YIELD node "
                "RETURN node").collect()


def test_algo_node_similarity(spark):
    """Out-neighbor Jaccard on a hand graph: sources 1 and 2 share 2
    of 3 total neighbors (j = 2/3... exactly 0.5 here), while 1 and 3
    share nothing; direction 'in' transposes; a duplicate edge must
    not inflate the intersection."""
    from redisgraph_spark import Graph
    nodes = {"N": spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12)], ["_id"])}
    edges = {"R": spark.createDataFrame(
        [(100, 1, 10), (101, 1, 11), (102, 2, 10), (103, 2, 11),
         (104, 2, 12), (105, 3, 12), (106, 1, 10)],
        ["_id", "_src", "_dst"])}
    g = Graph(spark, nodes, edges)
    got = {(r["a"], r["b"]): (r["intersection"], r["jaccard"])
           for r in g.query(
        "CALL algo.nodeSimilarity(null, 'out', 0.1, 10) "
        "YIELD node1, node2, intersection, jaccard "
        "RETURN node1._id AS a, node2._id AS b, intersection, jaccard"
    ).collect()}
    # N(1) = {10,11} (dup edge collapses), N(2) = {10,11,12}:
    # intersection 2, union 3 → 2/3
    assert got[(1, 2)] == (2, round(2 / 3 * 1e6) / 1e6)
    # N(2) ∩ N(3) = {12} → 1/3
    assert got[(2, 3)] == (1, round(1 / 3 * 1e6) / 1e6)
    assert (1, 3) not in got
    # 'in' direction: 10 and 11 share in-neighbors {1,2} exactly → 1.0
    got_in = {(r["a"], r["b"]): r["jaccard"] for r in g.query(
        "CALL algo.nodeSimilarity(null, 'in', 0.5, 10) "
        "YIELD node1, node2, jaccard "
        "RETURN node1._id AS a, node2._id AS b, jaccard").collect()}
    assert got_in[(10, 11)] == 1.0


def test_correlated_sssp_vectorized(graph):
    # r8: per-row bound sources → ONE multi-source keyed Bellman-Ford
    # (sssp_multi), with exact parity to the single-source literal path
    g = graph
    rows = g.query(
        "MATCH (n:Nation) WHERE n.n_nationkey < 3 "
        "CALL algo.SSSP(n, 'IN_REGION') YIELD node, distance, hops "
        "RETURN n.n_nationkey AS src, node.r_regionkey AS rk, "
        "distance, hops ORDER BY src, rk").collect()
    assert len(rows) == 6   # each source: itself (d=0) + its region (d=1)
    for k in range(3):
        nid = g.query(
            f"MATCH (n:Nation {{n_nationkey: {k}}}) RETURN id(n) AS i") \
            .collect()[0]["i"]
        single = g.query(
            f"CALL algo.SSSP({nid}, 'IN_REGION') "
            "YIELD node, distance, hops "
            "RETURN node.r_regionkey AS rk, distance, hops "
            "ORDER BY rk").collect()
        corr = [tuple(r)[1:] for r in rows if r["src"] == k]
        assert corr == [tuple(x) for x in single]

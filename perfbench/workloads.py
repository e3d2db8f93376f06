"""Workloads: operation templates, their DuckDB oracles, and the seeded
operation sequence each benchmark run replays.

Every operation is a parameterized ``Graph.query`` call whose result is
checked against a DuckDB query over the same parquet files. A run's
operations are a pure function of ``(workload, seed)``: the templates
take turns in a fixed order and the seed draws only their parameters,
so the mix of operation types is the same in every run and the median
latency does not move with the share of each type.
"""

from __future__ import annotations

import zlib
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np

from datagen import sizes

N_CUSTOMERS = sizes()["customer"]
# Bounded Zipf over customer popularity ranks with YCSB's default
# constant. One fixed stream of ranks serves every seed: the seed
# decides which customers are popular, not how often keys repeat, so
# the share of plan-cache hits is a property of the workload, the same
# in every run.
ZIPF_S = 0.99
RANK_SEED = 20240229


@dataclass(frozen=True)
class Template:
    cypher: str
    # DuckDB SQL over the raw tables; ``$name`` placeholders take the
    # same parameters as the Cypher query
    sql: str
    # (parameter generator, Zipf-skewed customer key source) -> params
    draw: Callable[[np.random.Generator, Callable[[], int]], dict]


@dataclass(frozen=True)
class Op:
    kind: str
    cypher: str
    params: dict


def _key(_rng, zipf_key) -> dict:
    """A customer key, Zipf-skewed: a few keys repeat (plan-cache hits),
    most are distinct."""
    return {"k": zipf_key()}


def _band(rng: np.random.Generator, _zipf_key=None) -> dict:
    """An account-balance band of fixed width: the seed moves the band,
    not the share of customers it selects (about 18%), so every draw
    does the same amount of work. Bounds are drawn to the cent, so two
    draws practically never repeat and each query misses the plan
    cache."""
    lo = round(float(rng.uniform(-1000.0, 8000.0)), 2)
    return {"lo": lo, "hi": lo + 2000.0}


def _cents(rng: np.random.Generator, lo: float, hi: float) -> float:
    return round(float(rng.uniform(lo, hi)), 2)


OLTP = {
    "point": Template(
        "MATCH (c:Customer {c_custkey: $k}) "
        "RETURN c.c_name AS name, c.c_acctbal AS bal, "
        "c.c_mktsegment AS seg",
        "SELECT c_name AS name, c_acctbal AS bal, c_mktsegment AS seg "
        "FROM customer WHERE c_custkey = $k",
        _key),
    "hop1": Template(
        "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
        "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp, "
        "o.o_orderstatus AS st ORDER BY ok",
        "SELECT o_orderkey AS ok, o_totalprice AS tp, o_orderstatus AS st "
        "FROM orders WHERE o_custkey = $k ORDER BY ok",
        _key),
    "hop2": Template(
        "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order)"
        "-[l:CONTAINS]->(p:Part) "
        "RETURN p.p_brand AS brand, count(*) AS n, "
        "sum(l.l_quantity) AS qty ORDER BY brand",
        "SELECT p_brand AS brand, count(*) AS n, sum(l_quantity) AS qty "
        "FROM orders JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN part ON p_partkey = l_partkey "
        "WHERE o_custkey = $k GROUP BY p_brand ORDER BY brand",
        _key),
}

OLAP = {
    # two-hop revenue over a seed-drawn account-balance band; revenue in
    # integer cents so both engines sum exactly
    "revenue": Template(
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[l:CONTAINS]->(p:Part) "
        "WHERE c.c_acctbal >= $lo AND c.c_acctbal < $hi "
        "RETURN c.c_mktsegment AS seg, count(*) AS n_lines, "
        "sum(tointeger(round(l.l_extendedprice * 100)) "
        "* (100 - tointeger(round(l.l_discount * 100)))) AS rev "
        "ORDER BY seg",
        "SELECT c_mktsegment AS seg, count(*) AS n_lines, "
        "sum(CAST(round(l_extendedprice * 100) AS BIGINT) "
        "* (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev "
        "FROM customer JOIN orders ON o_custkey = c_custkey "
        "JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_acctbal >= $lo AND c_acctbal < $hi "
        "GROUP BY c_mktsegment ORDER BY seg",
        _band),
    # bounded variable-length expansion from a customer band
    "varlen": Template(
        "MATCH (c:Customer)-[*1..2]->(x) "
        "WHERE c.c_acctbal >= $lo AND c.c_acctbal < $hi "
        "RETURN labels(x)[0] AS lbl, count(*) AS cnt ORDER BY lbl",
        """
        WITH cs AS (SELECT c_custkey, c_nationkey FROM customer
                    WHERE c_acctbal >= $lo AND c_acctbal < $hi),
        hop1 AS (
          SELECT 'Nation' AS lbl, c_nationkey AS k FROM cs
          UNION ALL SELECT 'Order', o_orderkey FROM cs
            JOIN orders ON o_custkey = c_custkey),
        hop2 AS (
          SELECT 'Region' AS lbl FROM hop1 WHERE lbl = 'Nation'
          UNION ALL SELECT 'Part' FROM hop1
            JOIN lineitem ON l_orderkey = k WHERE lbl = 'Order')
        SELECT lbl, count(*) AS cnt FROM (
          SELECT lbl FROM hop1 UNION ALL SELECT lbl FROM hop2)
        GROUP BY lbl ORDER BY lbl
        """,
        _band),
    # OPTIONAL MATCH: left join with a predicate on the optional side
    "optional": Template(
        "MATCH (c:Customer) WHERE c.c_acctbal >= $lo AND c.c_acctbal < $hi "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > $tp "
        "RETURN c.c_mktsegment AS seg, count(DISTINCT c) AS custs, "
        "count(o) AS orders ORDER BY seg",
        "SELECT c_mktsegment AS seg, count(DISTINCT c_custkey) AS custs, "
        "count(o_orderkey) AS orders FROM customer "
        "LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > $tp "
        "WHERE c_acctbal >= $lo AND c_acctbal < $hi "
        "GROUP BY c_mktsegment ORDER BY seg",
        lambda rng, _: {**_band(rng),
                        "tp": _cents(rng, 150_000.0, 250_000.0)}),
    # shared-node join: two branches meet at the nation
    "shared": Template(
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation)"
        "<-[:IN_NATION]-(s:Supplier) "
        "WHERE c.c_acctbal >= $lo AND c.c_acctbal < $hi "
        "AND s.s_acctbal > $sb "
        "RETURN n.n_name AS nation, count(*) AS pairs ORDER BY nation",
        "SELECT n_name AS nation, count(*) AS pairs FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey "
        "JOIN supplier ON s_nationkey = n_nationkey "
        "WHERE c_acctbal >= $lo AND c_acctbal < $hi AND s_acctbal > $sb "
        "GROUP BY n_name ORDER BY nation",
        lambda rng, _: {**_band(rng), "sb": _cents(rng, 4000.0, 5000.0)}),
    # temporal: order-to-ship days through duration.inDays
    "temporal": Template(
        "MATCH (o:Order)-[l:CONTAINS]->() WHERE l.l_quantity > $q "
        "RETURN l.l_returnflag AS flag, "
        "sum(duration.inDays(date(o.o_orderdate), date(l.l_shipdate))"
        ".days) AS total_days, count(*) AS n ORDER BY flag",
        "SELECT l_returnflag AS flag, "
        "CAST(sum(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) "
        "AS total_days, count(*) AS n FROM lineitem JOIN orders "
        "ON l_orderkey = o_orderkey WHERE l_quantity > $q "
        "GROUP BY l_returnflag ORDER BY flag",
        lambda rng, _: {"q": _cents(rng, 20.0, 30.0)}),
}

WORKLOADS: dict[str, dict[str, Template]] = {
    "oltp_lookups": OLTP,
    "olap_analytics": OLAP,
}


def op_sequence(workload: str, seed: int) -> Iterator[Op]:
    """The endless operation stream of one run: templates in turn, each
    with parameters drawn from a generator seeded by (workload, seed)."""
    templates = WORKLOADS[workload]
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    # which customer holds each popularity rank differs per seed
    perm = rng.permutation(N_CUSTOMERS)
    ranks = np.random.default_rng(RANK_SEED)
    weights = np.arange(1, N_CUSTOMERS + 1, dtype=np.float64) ** -ZIPF_S
    cdf = np.cumsum(weights) / weights.sum()

    def zipf_key() -> int:
        rank = min(int(np.searchsorted(cdf, ranks.random(), side="right")),
                   N_CUSTOMERS - 1)
        return int(perm[rank])
    while True:
        for kind, t in templates.items():
            yield Op(kind, t.cypher, t.draw(rng, zipf_key))

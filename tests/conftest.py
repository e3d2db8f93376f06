import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.hookimpl(tryfirst=True)
def pytest_collection_modifyitems(config, items):
    """Run tests named by node id on the command line even when marked
    ``slow``: pytest.ini's default ``-m "not slow"`` would otherwise
    deselect them, so ``pytest tests/f.py::test_x`` ran nothing. Files
    and directories keep the default selection. Runs before the mark
    filter and drops the ``slow`` marker from the named items."""
    named = []
    for arg in config.args:
        if "::" not in arg:
            continue
        path, rest = arg.split("::", 1)
        full = (config.invocation_params.dir / path).resolve()
        try:
            rel = full.relative_to(config.rootpath).as_posix()
        except ValueError:
            continue
        named.append(f"{rel}::{rest}")
    for item in items:
        if any(item.nodeid == n or item.nodeid.startswith((n + "[",
                                                           n + "::"))
               for n in named):
            item.own_markers = [m for m in item.own_markers
                                if m.name != "slow"]


@pytest.fixture(scope="session")
def spark():
    from redisgraph_spark import get_spark
    s = get_spark("redisgraph-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def graph(spark):
    from redisgraph_spark import Graph
    return Graph.from_tpch(spark, SF_DIR)


@pytest.fixture()
def social(spark):
    """The reference's social demo graph
    (demo/social/social_utils.py:13-62) in miniature."""
    from redisgraph_spark import Graph
    people = [
        # (_id, name, age, gender, status)
        (1, "Roi", 32, "male", "married"),
        (2, "Alon", 32, "male", "married"),
        (3, "Ailon", 32, "male", "married"),
        (4, "Boaz", 31, "male", "married"),
        (5, "Tal", 32, "male", "single"),
        (6, "Omri", 33, "male", "single"),
        (7, "Ori", 28, "male", "single"),
        (8, "Shelly", 26, "female", "single"),
        (9, "Noam", 34, "male", "single"),
        (10, "Jane", 29, "female", "married"),
    ]
    countries = [
        (101, "USA"), (102, "Israel"), (103, "Japan"), (104, "Prague"),
        (105, "Greece"), (106, "Canada"),
    ]
    friends = [
        (201, 1, 2), (202, 1, 3), (203, 1, 4), (204, 1, 5),
        (205, 2, 6), (206, 2, 7), (207, 3, 8), (208, 4, 9),
        (209, 5, 10), (210, 6, 7),
    ]
    visited = [
        (301, 1, 101, "business"), (302, 1, 104, "business"),
        (303, 2, 102, "pleasure"), (304, 3, 103, "pleasure"),
        (305, 4, 105, "none"), (306, 5, 101, "pleasure"),
        (307, 6, 106, "business"), (308, 8, 103, "pleasure"),
    ]
    nodes = {
        "person": spark.createDataFrame(
            people, ["_id", "name", "age", "gender", "status"]),
        "country": spark.createDataFrame(countries, ["_id", "name"]),
    }
    edges = {
        "friend": spark.createDataFrame(friends, ["_id", "_src", "_dst"]),
        "visited": spark.createDataFrame(
            visited, ["_id", "_src", "_dst", "purpose"]),
    }
    return Graph(spark, nodes, edges, name="social")


def rows(df):
    """Collect to plain sorted tuples for assertion."""
    return sorted(tuple(r) for r in df.collect())

"""Statement access modes and the graph's single-flight caches: what lets
read-only statements share a graph (plans/access.py, catalog.py)."""

import sys
import threading

import pytest

from memgraph_spark.catalog import PropertyGraph
from memgraph_spark.plans.access import is_read_only

SHARED = [
    "MATCH (n:P) RETURN n.name AS name",
    "MATCH (n:P) OPTIONAL MATCH (n)-[:KNOWS]->(m) RETURN n, m",
    "MATCH (n) WITH n, count(*) AS c WHERE c > 1 RETURN n",
    "UNWIND [1, 2, 3] AS x RETURN x",
    "RETURN 1 AS one",
    "  match (n) return n",
    "MATCH (n) RETURN n UNION MATCH (m) RETURN m AS n",
    "MATCH (n) WHERE EXISTS { MATCH (n)-->(m) } RETURN n",
    "CALL { MATCH (n) RETURN n } RETURN n",
    "CALL text_search.search($q, 10) YIELD doc_id, score "
    "RETURN doc_id, score",
    "call Text_Search.Search('x', 3) YIELD doc_id RETURN doc_id",
]

EXCLUSIVE = [
    "CREATE (:P {name: 'x'})",
    "MATCH (n:P) MERGE (n)-[:KNOWS]->(:Q)",
    "MERGE (t:Tag {name: 'a'})",
    "MATCH (n) SET n.x = 1",
    "MATCH (n) REMOVE n.x",
    "MATCH (n) DETACH DELETE n",
    "FOREACH (x IN [1, 2] | CREATE (:P {v: x}))",
    "CALL { CREATE (:P) } RETURN 1 AS one",
    "MATCH (n) CALL { WITH n CREATE (:Q) } RETURN n",
    "MATCH (n) RETURN n UNION CREATE (m) RETURN m AS n",
    "CALL pagerank.get() YIELD node, rank RETURN node, rank",
    "CALL text_search.regex_search('a.*') YIELD doc_id RETURN doc_id",
    "CALL create.node(['L'], {}) YIELD node RETURN node",
    "EXPLAIN MATCH (n) RETURN n",
    "PROFILE MATCH (n) RETURN n",
    "CREATE INDEX ON :P(name)",
    "SHOW INDEX INFO",
    "SHOW DATABASE SETTING 'x'",
    "USE DATABASE other",
    "THIS IS NOT CYPHER",
    "",
]


@pytest.mark.parametrize("query", SHARED)
def test_read_only_statements_share(query):
    assert is_read_only(query)


@pytest.mark.parametrize("query", EXCLUSIVE)
def test_other_statements_are_exclusive(query):
    assert not is_read_only(query)


def test_read_only_follows_procedure_registration():
    from memgraph_spark import procedures
    q = "CALL test_access.probe() YIELD x RETURN x"
    try:
        procedures.register("test_access.probe", lambda g: None,
                            read_only=True)
        assert is_read_only(q)
        procedures.register("test_access.probe", lambda g: None)
        assert not is_read_only(q)
    finally:
        procedures.unregister("test_access.probe")
    assert not is_read_only(q)


def test_eid_edges_single_flight(spark):
    """8 threads ask a fresh graph for the same eid edge list at once: one
    frame is built and persisted, and every caller gets that frame."""
    g = PropertyGraph(
        spark,
        nodes={"P": spark.createDataFrame([(1,), (2,)], "id long")},
        edges={"KNOWS": spark.createDataFrame(
            [(1, 2, 5)], "src long, dst long, eid long")})
    start = threading.Barrier(8, timeout=30)
    got = [None] * 8

    def call(i):
        start.wait()
        got[i] = g.eid_edges(None, "out")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call, args=(i,), daemon=True)
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert all(df is got[0] for df in got) and got[0] is not None
    assert list(g._eid_cache) == [(None, "out")]
    g._eid_cache[(None, "out")].unpersist()

"""operators/graph.py on hand-built graphs: every looping operator keeps
one working edge copy for the duration of the call, and every operator
gives a defined result on empty and degenerate inputs."""

from __future__ import annotations

import pytest

from data_engineering_1_spark.operators import graph
from data_engineering_1_spark.operators.graph import SCALE

# K7 on nodes 1..7, a pendant path 7-8-9, and a separate edge 20-21
_K7 = [(i, j) for i in range(1, 8) for j in range(i + 1, 8)]
_UND = _K7 + [(7, 8), (8, 9), (20, 21)]
_TELEPORT = 15 * SCALE // 100  # (100 - 85)% of the seed's mass


def _edges(spark, und):
    """Symmetrized (src, dst, cost) list; cost 1 + (src + dst) % 3."""
    rows = [(u, v, 1 + (u + v) % 3) for u, v in und]
    rows += [(v, u, c) for u, v, c in rows]
    return spark.createDataFrame(rows, "src int, dst int, cost int")


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node int")


def _persisted_ids(spark) -> set[int]:
    m = spark.sparkContext._jsc.getPersistentRDDs()  # java.util.Map
    return {int(k) for k in m.keySet().toArray()}


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


# (name, call, eager checkpoints it takes): pagerank/PPR one per
# iteration; BFS/min-plus the seed layer plus at most one per round;
# k-core one per round
_LOOPS = [
    ("pagerank", lambda e, s: graph.pagerank(e, n_iter=2), 2),
    (
        "personalized_pagerank",
        lambda e, s: graph.personalized_pagerank(e, s, n_iter=2),
        2,
    ),
    ("bfs_hops", lambda e, s: graph.bfs_hops(e, s, max_hops=2), 3),
    ("min_plus_hops", lambda e, s: graph.min_plus_hops(e, s, rounds=2), 3),
    (
        "kcore_degree_rounds",
        lambda e, s: graph.kcore_degree_rounds(e, k=3, rounds=2),
        2,
    ),
]


@pytest.mark.parametrize(
    "call,checkpoints", [c[1:] for c in _LOOPS], ids=[c[0] for c in _LOOPS]
)
def test_one_working_copy_released_on_return(spark, call, checkpoints):
    """The src-partitioned working copy (and its outdeg table) is
    unpersisted before the operator returns: the call leaves behind at
    most its round checkpoints, and no returned plan reads a cached
    relation."""
    edges = _edges(spark, _UND)
    seeds = _nodes(spark, [1])
    before = _persisted_ids(spark)
    out = call(edges, seeds)
    assert len(_persisted_ids(spark) - before) <= checkpoints
    for df in out if isinstance(out, list) else [out]:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
        assert df.count() > 0


def test_graph_operators_on_empty_edges(spark):
    edges = spark.createDataFrame([], "src int, dst int, cost int")
    seeds = _nodes(spark, [1])
    pr = graph.pagerank(edges)
    assert pr.columns == ["node", "rank_fp"]
    assert pr.schema["rank_fp"].dataType.simpleString() == "bigint"
    assert pr.count() == 0
    assert _rows(graph.personalized_pagerank(edges, seeds)) == {
        (1, _TELEPORT)
    }
    assert _rows(graph.bfs_hops(edges, seeds, max_hops=3)) == {(1, 0)}
    assert _rows(graph.min_plus_hops(edges, seeds, rounds=3)) == {(1, 0)}
    degs = graph.kcore_degree_rounds(edges, k=3, rounds=2)
    assert [d.count() for d in degs] == [0, 0]
    peel = graph.kcore_peel(edges, k=3, rounds=2)
    assert [p.count() for p in peel] == [0, 0]
    hits = graph.hits_bipartite(
        edges.selectExpr("src AS hub", "dst AS auth")
    )
    assert hits.count() == 0


def test_graph_operators_on_empty_seeds(spark):
    edges = _edges(spark, _UND)
    none = spark.createDataFrame([], "node int")
    assert graph.personalized_pagerank(edges, none).count() == 0
    assert graph.bfs_hops(edges, none, max_hops=3).count() == 0
    assert graph.min_plus_hops(edges, none, rounds=3).count() == 0


def test_graph_operators_on_a_seed_absent_from_the_edges(spark):
    edges = _edges(spark, _UND)
    absent = _nodes(spark, [99])
    assert _rows(graph.personalized_pagerank(edges, absent)) == {
        (99, _TELEPORT)
    }
    assert _rows(graph.bfs_hops(edges, absent, max_hops=3)) == {(99, 0)}
    assert _rows(graph.min_plus_hops(edges, absent, rounds=3)) == {(99, 0)}


def test_graph_operators_leave_an_unreachable_component_out(spark):
    edges = _edges(spark, _UND)
    seeds = _nodes(spark, [1])
    reach = set(range(1, 10))
    assert _rows(graph.bfs_hops(edges, seeds, max_hops=3)) == (
        {(1, 0)} | {(v, 1) for v in range(2, 8)} | {(8, 2), (9, 3)}
    )
    assert {r[0] for r in _rows(graph.min_plus_hops(edges, seeds, 3))} == (
        reach
    )
    ppr = {r[0] for r in _rows(graph.personalized_pagerank(edges, seeds))}
    assert ppr == set(range(1, 9))  # two rounds: the 2-hop ball
    # global PageRank ranks both components
    assert {r[0] for r in _rows(graph.pagerank(edges))} == reach | {20, 21}
    # k = 3: the path and the 20-21 edge peel in round 1, K7 survives
    r1, r2 = graph.kcore_peel(edges, k=3, rounds=2)
    assert _rows(r1) == _rows(r2) == {
        (u, v) for u in range(1, 8) for v in range(1, 8) if u != v
    }
    d1, d2 = graph.kcore_degree_rounds(edges, k=3, rounds=2)
    assert _rows(d1) == _rows(d2) == {(v, 6) for v in range(1, 8)}

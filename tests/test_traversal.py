"""Ordered traversal (algo.bfs/dfs.stream parity): golden orders on a
hand fixture, recursive-DFS cross-check, DuckDB twin replays, gates."""

import duckdb
import pytest

from linkgraph.traversal import bfs_sql, bfs_stream, dfs_sql, dfs_stream

#      1 -> 2 -> 4
#      1 -> 3 -> 4 -> 5
#      3 -> 6, 5 -> 1 (cycle back)
EDGES = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (3, 6), (5, 1)]
EDGES_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"({a}, {b})" for a, b in EDGES)
    + ") t(src, dst)"
)


@pytest.fixture()
def g(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def _recursive_dfs(adj, u, visited, out, d, max_depth):
    visited.add(u)
    out.append((len(out) + 1, u, d))
    if d < max_depth:
        for v in sorted(adj.get(u, ())):
            if v not in visited:
                _recursive_dfs(adj, v, visited, out, d + 1, max_depth)


def test_bfs_golden_order(spark, g):
    got = [tuple(r) for r in bfs_stream(g, 1).orderBy("visit_order").collect()]
    # levels: {1}, {2,3}, {4,6}, {5}
    assert got == [
        (1, 1, 0), (2, 2, 1), (3, 3, 1), (4, 4, 2), (5, 6, 2), (6, 5, 3)
    ]


def test_bfs_stream_carries_rank_cache(spark, g):
    """The visit-order rank persists a range-partitioned frame; the
    returned stream keeps its handle so the caller can free it."""
    from linkgraph.checkpoint import release_caches

    out = bfs_stream(g, 1)
    assert out.count() == 6
    assert release_caches(out) == 1


def test_bfs_max_depth_and_direction(spark, g):
    got = [tuple(r) for r in bfs_stream(g, 1, max_depth=1).collect()]
    assert got == [(1, 1, 0), (2, 2, 1), (3, 3, 1)]
    # INCOMING from 4: predecessors 2,3 then 1 then 5 (via 5->1? no:
    # INCOMING walks edges backwards: 4<-2, 4<-3; 2<-1, 3<-1; 1<-5; 5<-4
    got = [tuple(r) for r in bfs_stream(g, 4, direction="INCOMING").collect()]
    assert got == [(1, 4, 0), (2, 2, 1), (3, 3, 1), (4, 1, 2), (5, 5, 3)]


def test_dfs_matches_recursive_preorder(spark, g):
    adj = {}
    for a, b in EDGES:
        adj.setdefault(a, set()).add(b)
    out = []
    _recursive_dfs(adj, 1, set(), out, 0, 64)
    got = [tuple(r) for r in dfs_stream(g, 1).orderBy("visit_order").collect()]
    assert got == out
    # smallest-first preorder: 1, 2, 4, 5, 3, 6
    assert [r[1] for r in got] == [1, 2, 4, 5, 3, 6]


def test_dfs_max_depth_stops_expansion(spark, g):
    got = [tuple(r) for r in dfs_stream(g, 1, max_depth=1).collect()]
    assert [r[1] for r in got] == [1, 2, 3]
    assert [r[2] for r in got] == [0, 1, 1]


def test_dfs_gate(spark, g):
    with pytest.raises(ValueError, match="gated"):
        dfs_stream(g, 1, gate=3)
    with pytest.raises(ValueError, match="direction"):
        dfs_stream(g, 1, direction="SIDEWAYS")


@pytest.mark.parametrize("direction", ["OUTGOING", "INCOMING", "BOTH"])
def test_bfs_duckdb_twin(spark, g, direction):
    got = sorted(
        tuple(r) for r in bfs_stream(g, 1, direction=direction).collect()
    )
    oracle = sorted(duckdb.sql(bfs_sql(EDGES_SQL, 1, direction)).fetchall())
    assert got == oracle


@pytest.mark.parametrize("direction", ["OUTGOING", "INCOMING", "BOTH"])
def test_dfs_duckdb_twin(spark, g, direction):
    got = sorted(
        tuple(r) for r in dfs_stream(g, 1, direction=direction).collect()
    )
    oracle = sorted(duckdb.sql(dfs_sql(EDGES_SQL, 1, direction)).fetchall())
    assert got == oracle

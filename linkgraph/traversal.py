"""Ordered graph traversal — algo.bfs.stream / algo.dfs.stream parity.

Reference: pub:mknblch/neo4j-graph-algorithms Traverse.java
(`algo.bfs.stream`, `algo.dfs.stream` — emit nodes in visit order from
a start node, bounded by maxDepth). The reference's order depends on
its queue/stack scheduling; a distributed engine must pin a CANONICAL
deterministic order instead, so:

* ``bfs_stream`` — level order with ascending-id tie-break inside each
  level: visit_order = rank over (depth, id). Depth is the exact hop
  distance (what any BFS agrees on); the in-level order is this
  engine's documented convention. Fully distributed: one frontier
  superstep per level over the existing MultiSourceBFS machinery
  (linkgraph/paths.py), then one window rank.
* ``dfs_stream`` — recursive preorder under the smallest-id-first
  policy (the unique deterministic DFS). Depth-first search is
  INHERENTLY sequential (P-complete in general: each visit depends on
  everything visited before), so there is no honest distributed
  superstep shape; like the reference's single-threaded stack walk,
  this runs the stack machine in the driver over the collected edge
  list, GATED at ``gate`` edges (same escape-hatch pattern as the
  in-driver Tarjan inside linkgraph/scc.py) and raises above it.
  The DuckDB twin replays the IDENTICAL stack machine as a single-row
  recursive CTE (stack/visited/order carried as lists), so the visit
  order is value-oracle-checkable.

Scale notes (100TB): BFS is the scalable path (frontier supersteps +
one rank — same shape as sssp). DFS order on a 100TB graph is not a
meaningful ask (the answer is a total sequential order over trillions
of nodes); the gate documents that boundary rather than hiding an
accidental driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bfs_stream", "dfs_stream", "bfs_sql", "dfs_sql"]

_DIRS = ("OUTGOING", "INCOMING", "BOTH")


def _check_dir(direction: str) -> None:
    if direction not in _DIRS:
        raise ValueError(f"direction must be one of {_DIRS}, got {direction!r}")


def bfs_stream(
    edges: DataFrame,
    source: int,
    direction: str = "OUTGOING",
    max_depth: int = 64,
) -> DataFrame:
    """(visit_order, id, depth) in canonical BFS order from ``source``
    (visit_order 1-based; depth = hop distance; ties broken by id)."""
    from linkgraph.paths import ms_bfs_distances

    _check_dir(direction)
    spark = edges.sparkSession
    src_df = spark.createDataFrame([(int(source),)], "id long")
    dist = ms_bfs_distances(
        edges, sources=src_df, direction=direction, max_hops=max_depth
    )
    # visit order over the whole reachable set — distributed_rank
    # (ids.py) keeps the canonical (depth, id) order without a
    # single-task sort of the frontier union
    from linkgraph.checkpoint import attach_caches
    from linkgraph.ids import distributed_rank

    ranked = distributed_rank(
        dist, [("dist", "asc"), ("id", "asc")], name="visit_order"
    )
    # the select drops the rank's cache handle — carry it over so
    # release_caches(result) can free the range-partitioned persist
    return attach_caches(
        ranked.select(
            "visit_order", "id", F.col("dist").cast("long").alias("depth")
        ),
        getattr(ranked, "_linkgraph_caches", []),
    )


def _apply_direction(rows: list[tuple], direction: str) -> list[tuple]:
    if direction == "OUTGOING":
        return rows
    if direction == "INCOMING":
        return [(b, a) for a, b in rows]
    return rows + [(b, a) for a, b in rows]


def dfs_stream(
    edges: DataFrame,
    source: int,
    direction: str = "OUTGOING",
    max_depth: int = 64,
    gate: int = 500_000,
) -> DataFrame:
    """(visit_order, id, depth) in deterministic DFS preorder
    (smallest-id neighbor first) from ``source``. Nodes deeper than
    ``max_depth`` are not expanded. Driver-gated — raises ValueError
    above ``gate`` edges (see module docstring)."""
    _check_dir(direction)
    spark = edges.sparkSession
    n_edges = edges.count()
    if n_edges > gate:
        raise ValueError(
            f"dfs_stream is an inherently sequential stack walk, gated at "
            f"{gate} edges (got {n_edges}); use bfs_stream for the "
            f"distributed level-order traversal"
        )
    rows = [(int(r[0]), int(r[1])) for r in edges.select("src", "dst").collect()]
    adj: dict[int, list[int]] = {}
    for a, b in _apply_direction(rows, direction):
        adj.setdefault(a, []).append(b)
    # push DESC so the smallest id pops (= visits) first; stale stack
    # entries (already visited via another branch) skip at pop — this
    # is exactly recursive smallest-first preorder
    for k in adj:
        adj[k] = sorted(set(adj[k]), reverse=True)
    stack = [(int(source), 0)]
    visited: set[int] = set()
    out = []
    while stack:
        u, d = stack.pop()
        if u in visited:
            continue
        visited.add(u)
        out.append((len(out) + 1, u, d))
        if d < max_depth:
            for v in adj.get(u, ()):
                if v not in visited:
                    stack.append((v, d + 1))
    return spark.createDataFrame(
        out, "visit_order long, id long, depth long"
    )


def bfs_sql(
    edges_sql: str, source: int, direction: str = "OUTGOING", max_depth: int = 64
) -> str:
    """DuckDB twin of ``bfs_stream``: recursive frontier levels (UNION
    dedup on (id, depth) pairs, depth-capped), min depth per node,
    rank over (depth, id)."""
    _check_dir(direction)
    sym = {
        "OUTGOING": "SELECT src, dst FROM e",
        "INCOMING": "SELECT dst AS src, src AS dst FROM e",
        "BOTH": "SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e",
    }[direction]
    return f"""
WITH RECURSIVE
e AS ({edges_sql}),
adj AS ({sym}),
reach(id, depth) AS (
  SELECT CAST({int(source)} AS BIGINT), 0
  UNION
  SELECT a.dst, r.depth + 1
  FROM reach r JOIN adj a ON a.src = r.id
  WHERE r.depth < {int(max_depth)}
),
lvl AS (SELECT id, MIN(depth) AS depth FROM reach GROUP BY id)
SELECT ROW_NUMBER() OVER (ORDER BY depth ASC, id ASC) AS visit_order,
       id, CAST(depth AS BIGINT) AS depth
FROM lvl
"""


def dfs_sql(
    edges_sql: str, source: int, direction: str = "OUTGOING", max_depth: int = 64
) -> str:
    """DuckDB twin of ``dfs_stream``: the SAME stack machine as a
    single-row recursive CTE. State = (stack ids, stack depths,
    visited, visit order, visit depths) lists; one pop per recursion
    step; pushes in DESC id order so the smallest id is on top."""
    _check_dir(direction)
    sym = {
        "OUTGOING": "SELECT src, dst FROM e",
        "INCOMING": "SELECT dst AS src, src AS dst FROM e",
        "BOTH": "SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e",
    }[direction]
    return f"""
WITH RECURSIVE
e AS ({edges_sql}),
adjp AS ({sym}),
adj AS (SELECT src, list(DISTINCT dst ORDER BY dst DESC) AS nbrs
        FROM adjp GROUP BY src),
walk(stack, sdep, visited, ord_ids, ord_deps) AS (
  SELECT CAST([{int(source)}] AS BIGINT[]), CAST([0] AS BIGINT[]),
         CAST([] AS BIGINT[]), CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
  UNION ALL
  SELECT
    CASE WHEN seen OR d >= {int(max_depth)} THEN popped
         ELSE popped || push END,
    CASE WHEN seen OR d >= {int(max_depth)} THEN dpopped
         ELSE dpopped || list_transform(push, x -> d + 1) END,
    CASE WHEN seen THEN w.visited ELSE list_append(w.visited, u) END,
    CASE WHEN seen THEN w.ord_ids ELSE list_append(w.ord_ids, u) END,
    CASE WHEN seen THEN w.ord_deps ELSE list_append(w.ord_deps, d) END
  FROM (
    SELECT *,
           stack[len(stack)] AS u,
           sdep[len(sdep)] AS d,
           list_contains(visited, stack[len(stack)]) AS seen,
           list_slice(stack, 1, len(stack) - 1) AS popped,
           list_slice(sdep, 1, len(sdep) - 1) AS dpopped,
           list_filter(
             coalesce((SELECT a.nbrs FROM adj a
                       WHERE a.src = stack[len(stack)]), []),
             x -> NOT list_contains(
                    list_append(visited, stack[len(stack)]), x)
           ) AS push
    FROM walk WHERE len(stack) > 0
  ) w
),
fin AS (SELECT ord_ids, ord_deps FROM walk WHERE len(stack) = 0)
SELECT CAST(i AS BIGINT) AS visit_order,
       ord_ids[i] AS id,
       ord_deps[i] AS depth
FROM (SELECT UNNEST(generate_series(1, len(ord_ids))) AS i,
             ord_ids, ord_deps
      FROM fin)
"""

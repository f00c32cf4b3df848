"""Independent expected results for the benchmark workloads.

Every oracle here recomputes a workload's answer from the generated
inputs alone, without calling ``linkgraph``: numpy replays of the
supersteps, a vectorised union-find, and DuckDB SQL for triangles.
They run on the driver during set-up; each timed repetition's output
is compared against them after its timer stops.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def node_index(src: np.ndarray, dst: np.ndarray):
    """Sorted node universe and the (src, dst) positions in it."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return nodes, inv[: len(src)], inv[len(src):]


def pagerank(nodes: np.ndarray, si: np.ndarray, di: np.ndarray, iters: int,
             damping: float = 0.85) -> np.ndarray:
    """Synchronous, non-normalised PageRank with dangling mass dropped:
    p' = (1-d) + d * sum_{j->i} p_j / outdeg(j), from p = 1-d. Duplicate
    edges count once per row, as in the engine's window share."""
    n = len(nodes)
    outdeg = np.bincount(si, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 - damping)
    for _ in range(iters):
        s = np.bincount(di, weights=r[si] / outdeg[si], minlength=n)
        r = (1.0 - damping) + damping * s
    return r


def wcc(n: int, si: np.ndarray, di: np.ndarray) -> np.ndarray:
    """Union-find with hook-to-smaller-root and full path compression,
    vectorised over all edges per round. Returns each node's root,
    which is the smallest node index of its component."""
    parent = np.arange(n)
    while True:
        # full path compression: every node points at its root
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        ru, rv = parent[si], parent[di]
        live = ru != rv
        if not live.any():
            return parent
        lo = np.minimum(ru[live], rv[live])
        hi = np.maximum(ru[live], rv[live])
        np.minimum.at(parent, hi, lo)


def min_label_rounds(n: int, si: np.ndarray, di: np.ndarray, max_iter: int) -> int:
    """Supersteps the engine's min-label propagation runs: rounds until
    one changes nothing, that last round included."""
    lab = np.arange(n)
    for it in range(1, max_iter + 1):
        new = lab.copy()
        np.minimum.at(new, di, lab[si])
        np.minimum.at(new, si, lab[di])
        if np.array_equal(new, lab):
            return it
        lab = new
    return max_iter


def label_propagation(n: int, node: np.ndarray, nbr: np.ndarray, max_iter: int):
    """Synchronous LPA: each node takes the label with the most votes
    among the (node, nbr) pairs it owns, ties to the smallest label;
    nodes without pairs keep theirs. Stops after a round that changes
    nothing. Returns (labels, iterations)."""
    lab = np.arange(n, dtype=np.int64)
    it = 0
    for it in range(1, max_iter + 1):
        keys = node.astype(np.int64) * n + lab[nbr]
        uk, votes = np.unique(keys, return_counts=True)
        vn, vl = uk // n, uk % n
        # per node: most votes first, then smallest label
        order = np.lexsort((vl, -votes, vn))
        first = np.ones(len(order), dtype=bool)
        first[1:] = vn[order][1:] != vn[order][:-1]
        pick = order[first]
        new = lab.copy()
        new[vn[pick]] = vl[pick]
        changed = int((new != lab).sum())
        lab = new
        if changed == 0:
            break
    return lab, it


def triangles(src: np.ndarray, dst: np.ndarray) -> tuple[int, pd.DataFrame, int]:
    """(global count, per-node counts of nodes on >= 1 triangle,
    undirected simple edge count) via DuckDB SQL."""
    edges = pd.DataFrame({"src": src, "dst": dst})
    with duckdb.connect() as con:
        con.register("edges", edges)
        con.execute("""
            CREATE TABLE und AS
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM edges WHERE src <> dst""")
        m = con.execute("SELECT count(*) FROM und").fetchone()[0]
        con.execute("""
            CREATE TABLE tri AS
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1 JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""")
        total = con.execute("SELECT count(*) FROM tri").fetchone()[0]
        per_node = con.execute("""
            SELECT id, count(*) AS triangles FROM (
              SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
              UNION ALL SELECT z FROM tri) GROUP BY id ORDER BY id""").df()
    return int(total), per_node, int(m)


def import_graph(source_dir: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Re-derive the import graph from the source-table parquet with
    plain Python string handling. Returns (keys, src_idx, dst_idx):
    the sorted ``repo/path`` file keys and the distinct resolved import
    edges as positions in ``keys``."""
    t = pq.read_table(source_dir, columns=["repo", "path", "lang", "content"]).to_pydict()
    keys, modules = [], []
    for repo, path in zip(t["repo"], t["path"]):
        keys.append(f"{repo}/{path}")
        stem = path.removeprefix("src/").rsplit(".", 1)[0]
        modules.append(f"{repo}.{stem.replace('/', '.')}")
    order = sorted(range(len(keys)), key=keys.__getitem__)
    pos = {keys[i]: p for p, i in enumerate(order)}
    by_module = {m: pos[k] for k, m in zip(keys, modules)}
    pairs = set()
    for key, lang, content in zip(keys, t["lang"], t["content"]):
        me = pos[key]
        for line in content.split("\n"):
            if not line.startswith("import "):
                continue
            mod = line[len("import "):].strip()
            if lang == "java":
                if not mod.endswith(";"):
                    continue
                mod = mod[:-1].strip()
            target = by_module.get(mod)
            if target is not None:
                pairs.add((me, target))
    e = np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)
    return np.array([keys[i] for i in order], dtype=object), e[:, 0], e[:, 1]

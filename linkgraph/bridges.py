"""Bridges and articulation points of an undirected graph.

Reference lineage: cut-edge/cut-vertex analysis is the classic
companion of the connectivity procedures the reference family ships
(unionFind / SCC — SURVEY.md §2.1/§2.2 anchors); single-node engines
compute both with one Tarjan DFS. DFS does not distribute, so the
bridge path here is the PRAM-style spanning-tree + Euler-tour
reduction (Tarjan–Vishkin, SIAM J. Comput. 1985, re-expressed on
DataFrames):

1. spanning forest T (Borůvka — reuses linkgraph.mst);
2. non-tree edges XOR a 64-bit deterministic tag (xxhash64 of the
   canonical edge key) into BOTH endpoints;
3. root every tree at its component's min node and lay out the Euler
   tour: successor(u→v) = (v→w) with w the cyclically-next neighbor
   of v after u in sorted tree adjacency — pure window functions;
4. tour positions by pointer-doubling list ranking (O(log n)
   self-joins, lineage-truncated via SuperstepLoop);
5. per-component prefix-XOR over first-visit node tags (bit_xor
   window); the subtree XOR of child c is then two prefix lookups.

A tree edge (parent, c) is covered by exactly the non-tree edges with
ONE endpoint in subtree(c) — for ANY spanning tree, those are the
edges whose tree path uses (parent, c). Edges with both endpoints
inside cancel (h XOR h = 0), so subtree-XOR == 0 ⟺ the covering set
is empty ⟺ bridge, up to hash collision: a non-empty set XOR-ing to
exactly 0 requires a 64-bit coincidence (P < m·2^-64 corpus-wide —
the same determinism/one-sided-error budget the MinHash band gates
document). Non-tree edges are never bridges.

Every stage is a bounded number of shuffles on (comp, position) or
arc keys — no per-edge recomputation, no driver collection — so the
path holds at 10^12-edge scale. Articulation points additionally need
subtree range-MIN/MAX (low/high values), which unlike XOR are not
invertible prefix lookups; ``articulation_points`` (method="tv",
default) closes that gap with a doubling SPARSE TABLE over the tour
positions (O(log n) self-joins, two lookups per subtree query) and
then runs the full Tarjan–Vishkin auxiliary-graph construction —
BCC labels = this engine's own connected components over the aux
graph; a vertex is a cut vertex iff its incident tree edges span two
labels. The size-gated exact driver DFS survives as method="local",
the oracle twin (the SCC local-Tarjan precedent).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .checkpoint import SuperstepLoop, attach_caches
from .components import connected_components
from .mst import minimum_spanning_forest


@dataclass
class BridgesResult:
    bridges: DataFrame  # (src, dst) canonical src < dst
    tree_edges: int
    nontree_edges: int
    ranking_rounds: int


def _canonical_undirected(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


class _EulerTour:
    """Shared spanning-forest + Euler-tour + list-ranking machinery
    (steps 1-4 of the module docstring), consumed by both ``bridges``
    (XOR-prefix interval test) and the Tarjan–Vishkin path of
    ``articulation_points`` (preorder intervals + low/high RMQ)."""

    def __init__(self, tree, nontree, comps, pos, adj,
                 n_tree, n_nontree, rounds):
        self.tree = tree            # persisted (src, dst)
        self.nontree = nontree      # lazy (a, b)
        self.comps = comps          # lazy (id, comp) — comp IS min node
        self.pos = pos              # persisted (comp, u, v, p) tour arcs
        self.adj = adj              # persisted sorted-adjacency arcs
        self.n_tree = n_tree
        self.n_nontree = n_nontree
        self.rounds = rounds


def _euler_tour(und: DataFrame, checkpoint_dir: str | None) -> _EulerTour:
    """Build the rooted Euler tour of the spanning forest of the
    canonical simple view ``und`` (must be persisted by the caller).
    When the graph has no tree edges the result has ``n_tree == 0``
    and no tour (``pos`` and ``adj`` are None)."""
    spark = und.sparkSession

    # 1. spanning forest + component roots (comp label IS the min node)
    msf = minimum_spanning_forest(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"),
                   F.lit(1.0).alias("weight"))
    )
    tree = msf.tree_edges.select("src", "dst").persist()
    n_tree = tree.count()
    comps = connected_components(
        und.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    ).components  # (id, comp)

    # 2. non-tree edges (everything the forest left out)
    nontree = und.join(
        tree, (und.a == tree.src) & (und.b == tree.dst), "left_anti"
    )
    n_nontree = nontree.count()
    if n_tree == 0:
        und.unpersist()
        tree.unpersist()
        return _EulerTour(tree, nontree, comps, None, None, 0, n_nontree, 0)

    # 3. Euler tour successor table over tree arcs
    arcs = (
        tree.select(F.col("src").alias("tail"), F.col("dst").alias("head"))
        .union(tree.select(F.col("dst").alias("tail"), F.col("src").alias("head")))
    )
    wadj = Window.partitionBy("tail").orderBy("head")
    adj = arcs.select(
        "tail", "head",
        (F.row_number().over(wadj) - 1).alias("idx"),
        F.count("*").over(Window.partitionBy("tail")).alias("deg"),
    ).persist()
    # successor of (u, v) = (v, next neighbor of v after u, cyclically)
    rev = adj.select(
        F.col("tail").alias("r_tail"), F.col("head").alias("r_head"),
        F.col("idx").alias("r_idx"), F.col("deg").alias("r_deg"),
    )
    nxt = adj.select(
        F.col("tail").alias("n_tail"), F.col("head").alias("n_head"),
        F.col("idx").alias("n_idx"),
    )
    succ = (
        adj.select("tail", "head")
        .join(rev, (F.col("head") == F.col("r_tail")) & (F.col("tail") == F.col("r_head")))
        .join(
            nxt,
            (F.col("n_tail") == F.col("head"))
            & (F.col("n_idx") == (F.col("r_idx") + 1) % F.col("r_deg")),
        )
        .select(
            F.col("tail").alias("u"), F.col("head").alias("v"),
            F.col("head").alias("nu"), F.col("n_head").alias("nv"),
        )
    )
    # break each component's circuit at the root's first out-arc
    node_comp = comps.select(F.col("id").alias("tail"), "comp")
    start = (
        adj.join(node_comp, "tail")
        .filter((F.col("tail") == F.col("comp")) & (F.col("idx") == 0))
        .select(F.col("tail").alias("s_u"), F.col("head").alias("s_v"))
    )
    state = (
        succ.join(
            start, (succ.nu == start.s_u) & (succ.nv == start.s_v), "left"
        )
        .select(
            "u", "v",
            F.when(F.col("s_u").isNull(), F.col("nu")).alias("nu"),
            F.when(F.col("s_u").isNull(), F.col("nv")).alias("nv"),
            F.when(F.col("s_u").isNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("long").alias("d"),
        )
    )

    # 4. pointer-doubling list ranking: d = hops to the terminal arc
    loop = SuperstepLoop(spark, checkpoint_dir=checkpoint_dir, name="euler_rank")
    state = loop.advance(0, state)
    rounds = 0
    while True:
        pending = state.filter(F.col("nu").isNotNull()).limit(1).count()
        if pending == 0:
            break
        t = state.select(
            F.col("u").alias("t_u"), F.col("v").alias("t_v"),
            F.col("nu").alias("t_nu"), F.col("nv").alias("t_nv"),
            F.col("d").alias("t_d"),
        )
        state = state.join(
            t, (state.nu == t.t_u) & (state.nv == t.t_v), "left"
        ).select(
            "u", "v",
            F.col("t_nu").alias("nu"), F.col("t_nv").alias("nv"),
            (F.col("d") + F.coalesce("t_d", F.lit(0))).alias("d"),
        )
        rounds += 1
        state = loop.advance(rounds, state, metrics={"round": rounds})

    # positions from the ranking distances
    arc_comp = state.join(
        node_comp.withColumnRenamed("tail", "u"), "u"
    )  # (u, v, d, comp)
    tour_len = arc_comp.groupBy("comp").agg(F.count("*").alias("L"))
    pos = (
        arc_comp.join(tour_len, "comp")
        .select("comp", "u", "v", (F.col("L") - 1 - F.col("d")).alias("p"))
        .persist()
    )
    pos.count()
    return _EulerTour(tree, nontree, comps, pos, adj,
                      n_tree, n_nontree, rounds)


def bridges(edges: DataFrame, checkpoint_dir: str | None = None) -> BridgesResult:
    """All bridges (cut edges) of the undirected simple graph induced
    by ``edges`` (direction and multiplicity ignored), as canonical
    (src < dst) pairs. See module docstring for the algorithm and its
    one-sided 2^-64-per-edge hash-collision error bound."""
    spark = edges.sparkSession
    und = _canonical_undirected(edges).persist()
    et = _euler_tour(und, checkpoint_dir)
    if et.n_tree == 0:
        empty = spark.createDataFrame([], "src long, dst long")
        return BridgesResult(empty, 0, et.n_nontree, 0)
    tree, nontree, pos, rounds = et.tree, et.nontree, et.pos, et.rounds

    # non-tree tags: XOR of the edge hash into both endpoints
    eh = F.xxhash64(F.concat_ws(":", F.col("a"), F.col("b"))).alias("h")
    tags = (
        nontree.select(F.col("a").alias("id"), eh)
        .union(nontree.select(F.col("b").alias("id"), eh))
        .groupBy("id")
        .agg(F.expr("bit_xor(h)").alias("tag"))
    )

    # 5. first-visit tag layout, prefix XOR, interval test
    wfirst = Window.partitionBy("v").orderBy("p")
    avals = (
        pos.withColumn("rn", F.row_number().over(wfirst))
        .join(tags.withColumnRenamed("id", "v"), "v", "left")
        .select(
            "comp", "p",
            F.when(
                (F.col("rn") == 1) & (F.col("v") != F.col("comp")),
                F.coalesce("tag", F.lit(0)),
            ).otherwise(F.lit(0)).alias("val"),
        )
    )
    wpx = (
        Window.partitionBy("comp").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = avals.select(
        "comp", "p", F.expr("bit_xor(val)").over(wpx).alias("px")
    ).persist()

    fwd = pos.select(F.col("u").alias("src"), F.col("v").alias("dst"),
                     F.col("comp"), F.col("p").alias("p_fwd"))
    bwd = pos.select(F.col("v").alias("src"), F.col("u").alias("dst"),
                     F.col("p").alias("p_bwd"))
    spans = (
        tree.join(fwd, ["src", "dst"])
        .join(bwd, ["src", "dst"])
        .select(
            "src", "dst", "comp",
            F.least("p_fwd", "p_bwd").alias("p1"),
            F.greatest("p_fwd", "p_bwd").alias("p2"),
        )
    )
    p_hi = prefix.select(F.col("comp"), F.col("p").alias("p2"),
                         F.col("px").alias("px2"))
    p_lo = prefix.select(F.col("comp"), (F.col("p") + 1).alias("p1"),
                         F.col("px").alias("px1"))
    out = (
        spans.join(p_hi, ["comp", "p2"])
        .join(p_lo, ["comp", "p1"], "left")
        .filter(
            F.col("px2").bitwiseXOR(F.coalesce("px1", F.lit(0))) == F.lit(0)
        )
        .select("src", "dst")
    )
    und.unpersist()
    # the returned lazy plan still reads these persisted intermediates;
    # loop callers free them with release_caches(result.bridges)
    out = attach_caches(out, [tree, et.adj, pos, prefix])
    return BridgesResult(
        bridges=out, tree_edges=et.n_tree, nontree_edges=et.n_nontree,
        ranking_rounds=rounds,
    )


_INF = 1 << 62


def articulation_points(
    edges: DataFrame,
    method: str = "tv",
    local_threshold: int = 500_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cut vertices of the undirected simple graph, as DataFrame(id).

    method="tv" (default) — fully distributed Tarjan–Vishkin (SIAM J.
    Comput. 1985; auxiliary-graph form after JaJa §5.3), built on the
    SAME spanning-forest + Euler-tour + list-ranking machinery as
    :func:`bridges`:

      1. root each component at its min node, lay the Euler tour, rank
         arc positions (shared ``_euler_tour``);
      2. per vertex: first-visit position fv (the preorder surrogate —
         order-isomorphic to preorder, and subtree(v) is exactly the
         tour interval [fv(v), lv(v)] where lv is the position of the
         arc back to the parent), plus the parent;
      3. low/high: per vertex the min/max first-visit position
         reachable by one hop over its non-tree edges, then the
         subtree range-min/max via a doubling SPARSE TABLE over tour
         positions — O(log n) self-joins to build, two lookups per
         query, no single-task sort anywhere (range-min is not an
         invertible prefix like the XOR trick, so bridges' prefix scan
         cannot express it — this table is the missing 20%);
      4. auxiliary graph on tree edges (edge (p(v), v) ~ node v):
         rule 1 — a non-tree edge between subtree-UNRELATED x, y links
         nodes x and y; rule 2 — tree edge (u, v) with non-root u
         links u and v iff low(v) < fv(u) or high(v) > lv(u) (the
         subtree of v escapes the subtree of u). Ancestor-type
         non-tree edges are covered by rule-2 chains along the tree
         path, so no third rule is needed;
      5. biconnected components = connected components of the aux
         graph (the engine's own delta-iteration CC); a vertex is an
         articulation point iff its incident TREE edges carry >= 2
         distinct BCC labels (any spanning tree restricted to a BCC
         spans it, so every BCC at v contains a tree edge at v — this
         covers root and non-root uniformly).

    Every stage is a bounded number of hash shuffles; the sparse table
    holds O(n log n) rows (disclosed — the price of distributed
    range-min). Cross-checked against the driver Tarjan DFS on random
    graphs (tests/test_bridges.py) and the definition-based DuckDB
    oracle (articulation_points_sql).

    method="local" — the size-gated exact driver Tarjan DFS (the SCC
    local-mode escape-hatch contract), kept as the oracle twin.
    """
    if method not in ("tv", "local"):
        raise ValueError(f"method must be tv|local: got {method}")
    if method == "tv":
        return _articulation_tv(edges, checkpoint_dir)
    spark = edges.sparkSession
    und = _canonical_undirected(edges)
    m = und.count()
    if m > local_threshold:
        raise ValueError(
            f"articulation_points: {m} edges exceeds local_threshold="
            f"{local_threshold}; use method='tv' (distributed "
            "Tarjan–Vishkin) or raise the threshold if the canonical "
            "edge list fits in driver memory"
        )
    rows = und.collect()
    adj: dict[int, list[int]] = {}
    for r in rows:
        adj.setdefault(r["a"], []).append(r["b"])
        adj.setdefault(r["b"], []).append(r["a"])
    disc: dict[int, int] = {}
    low: dict[int, int] = {}
    cuts: set[int] = set()
    timer = 0
    for root in sorted(adj):
        if root in disc:
            continue
        # iterative DFS: stack of (node, parent, child-iterator index)
        stack = [(root, -1, 0)]
        disc[root] = low[root] = timer
        timer += 1
        root_children = 0
        while stack:
            v, parent, i = stack[-1]
            if i < len(adj[v]):
                stack[-1] = (v, parent, i + 1)
                w = adj[v][i]
                if w == parent:
                    continue
                if w in disc:
                    low[v] = min(low[v], disc[w])
                else:
                    disc[w] = low[w] = timer
                    timer += 1
                    if v == root:
                        root_children += 1
                    stack.append((w, v, 0))
            else:
                stack.pop()
                if stack:
                    pv = stack[-1][0]
                    low[pv] = min(low[pv], low[v])
                    if pv != root and low[v] >= disc[pv]:
                        cuts.add(pv)
        if root_children >= 2:
            cuts.add(root)
    return spark.createDataFrame(
        [(int(c),) for c in sorted(cuts)], "id long"
    )


def _articulation_tv(edges: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Distributed Tarjan–Vishkin articulation points — see
    :func:`articulation_points` (method="tv") for the construction."""
    from .checkpoint import pin_table, release_state

    spark = edges.sparkSession
    und = _canonical_undirected(edges).persist()
    et = _euler_tour(und, checkpoint_dir)
    if et.n_tree == 0:
        und.unpersist()
        et.tree.unpersist()
        return spark.createDataFrame([], "id long")
    tree, nontree, pos = et.tree, et.nontree, et.pos

    # --- 2. first-visit positions (roots, id == comp, get sentinel -1
    # so every vertex of the component falls inside the root interval)
    first = pin_table(
        pos.groupBy("comp", F.col("v").alias("id"))
        .agg(F.min("p").alias("raw_fv"))
        .select(
            "comp", "id",
            F.when(F.col("id") == F.col("comp"), F.lit(-1))
            .otherwise(F.col("raw_fv")).cast("long").alias("fv"),
        )
    )
    # parent arc of non-root v = the out-arc whose head was visited
    # earlier (unique: all children are visited later); its position
    # is lv(v), closing the subtree interval [fv(v), lv(v)]
    fu = first.select(F.col("id").alias("u"), F.col("fv").alias("f_tail"))
    fh = first.select(F.col("id").alias("v"), F.col("fv").alias("f_head"))
    nonroot = (
        pos.join(fu, "u").join(fh, "v")
        .filter(F.col("f_head") < F.col("f_tail"))
        .select(
            "comp", F.col("u").alias("id"), F.col("v").alias("parent"),
            F.col("f_tail").alias("fv"), F.col("p").alias("lv"),
        )
    )
    tour_max = pos.groupBy("comp").agg(F.max("p").alias("pmax"))
    roots = (
        first.filter(F.col("id") == F.col("comp"))
        .join(tour_max, "comp")
        .select(
            "comp", "id", F.lit(None).cast("long").alias("parent"),
            F.lit(-1).cast("long").alias("fv"), F.col("pmax").alias("lv"),
        )
    )
    iv = pin_table(nonroot.unionByName(roots))  # (comp, id, parent, fv, lv)

    # --- 3a. one-hop low/high seeds from the non-tree edges
    nt = nontree.select(F.col("a").alias("w"), F.col("b").alias("x")).unionByName(
        nontree.select(F.col("b").alias("w"), F.col("a").alias("x"))
    )
    ntmm = (
        nt.join(first.select(F.col("id").alias("x"), F.col("fv").alias("fx")), "x")
        .groupBy(F.col("w").alias("id"))
        .agg(F.min("fx").alias("ntmin"), F.max("fx").alias("ntmax"))
    )
    fvals = iv.join(ntmm, "id", "left").select(
        "comp", "id", "fv",
        F.least(F.col("fv"), F.coalesce("ntmin", F.lit(_INF))).alias("fl"),
        F.greatest(F.col("fv"), F.coalesce("ntmax", F.lit(-_INF))).alias("fh"),
    )

    # --- 3b. doubling sparse table over tour positions: level k holds
    # min/max of the first-visit seed values over [p, p + 2^k)
    vals = (
        pos.join(
            fvals.select(
                F.col("id").alias("v"), F.col("fv").alias("v_fv"), "fl", "fh"
            ),
            "v",
        )
        .select(
            "comp", "p",
            F.when(F.col("p") == F.col("v_fv"), F.col("fl"))
            .otherwise(F.lit(_INF)).alias("mn"),
            F.when(F.col("p") == F.col("v_fv"), F.col("fh"))
            .otherwise(F.lit(-_INF)).alias("mx"),
        )
    )
    max_l = int(pos.agg(F.max("p")).first()[0] or 0) + 1
    level = pin_table(vals)
    levels = [level]
    sp = level.withColumn("k", F.lit(0))
    k = 0
    while (1 << (k + 1)) <= max_l:
        half = 1 << k
        shifted = level.select(
            "comp", (F.col("p") - half).alias("p"),
            F.col("mn").alias("mn2"), F.col("mx").alias("mx2"),
        )
        level = pin_table(
            level.join(shifted, ["comp", "p"], "left").select(
                "comp", "p",
                F.least("mn", F.coalesce("mn2", F.lit(_INF))).alias("mn"),
                F.greatest("mx", F.coalesce("mx2", F.lit(-_INF))).alias("mx"),
            )
        )
        k += 1
        levels.append(level)
        sp = sp.unionByName(level.withColumn("k", F.lit(k)))
    sp = pin_table(sp)
    for lv_frame in levels:
        release_state(lv_frame)

    # --- 3c. subtree range queries: [fv, lv] via the two overlapping
    # power-of-two windows (exact — min/max are idempotent)
    q = nonroot.withColumn(
        "k",
        F.floor(F.log2((F.col("lv") - F.col("fv") + 1).cast("double"))).cast("int"),
    ).withColumn(
        # 2^k exact in doubles far beyond any tour length
        "p2",
        (F.col("lv") - F.pow(F.lit(2.0), F.col("k").cast("double")) + 1)
        .cast("long"),
    )
    lowhigh = (
        q.join(
            sp.select(
                "k", "comp", F.col("p").alias("fv"),
                F.col("mn").alias("mn1"), F.col("mx").alias("mx1"),
            ),
            ["k", "comp", "fv"],
        )
        .join(
            sp.select(
                "k", "comp", F.col("p").alias("p2"),
                F.col("mn").alias("mn2"), F.col("mx").alias("mx2"),
            ),
            ["k", "comp", "p2"],
        )
        .select(
            "comp", "id", "parent", "fv", "lv",
            F.least("mn1", "mn2").alias("low"),
            F.greatest("mx1", "mx2").alias("high"),
        )
    )

    # --- 4. auxiliary graph on tree edges (node id = child endpoint)
    piv = iv.select(
        F.col("id").alias("parent"), F.col("parent").alias("grand"),
        F.col("fv").alias("pfv"), F.col("lv").alias("plv"),
    )
    rule2 = (
        lowhigh.join(piv, "parent")
        .filter(F.col("grand").isNotNull())
        .filter((F.col("low") < F.col("pfv")) | (F.col("high") > F.col("plv")))
        .select(F.col("parent").alias("src"), F.col("id").alias("dst"))
    )
    iva = iv.select(F.col("id").alias("a"), F.col("fv").alias("fa"),
                    F.col("lv").alias("la"))
    ivb = iv.select(F.col("id").alias("b"), F.col("fv").alias("fb"),
                    F.col("lv").alias("lb"))
    rule1 = (
        nontree.join(iva, "a").join(ivb, "b")
        .filter(
            ~((F.col("fa") <= F.col("fb")) & (F.col("fb") <= F.col("la")))
            & ~((F.col("fb") <= F.col("fa")) & (F.col("fa") <= F.col("lb")))
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )

    # --- 5. BCC labels = CC of the aux graph; articulation = tree
    # edges at the vertex span >= 2 labels
    aux_nodes = nonroot.select("id")
    bcc = connected_components(
        rule1.unionByName(rule2), nodes=aux_nodes
    ).components.select(F.col("id").alias("child"), F.col("comp").alias("bcc"))
    incident = (
        nonroot.select(F.col("id").alias("child"), F.col("parent").alias("vertex"))
        .join(bcc, "child")
        .select("vertex", "bcc")
        .unionByName(bcc.select(F.col("child").alias("vertex"), "bcc"))
    )
    out = (
        incident.groupBy("vertex")
        .agg(F.countDistinct("bcc").alias("nb"))
        .filter(F.col("nb") >= 2)
        .select(F.col("vertex").alias("id"))
    )
    und.unpersist()
    return attach_caches(out, [tree, et.adj, pos, first, iv, sp])


# ------------------------------------------------------------- SQL twins

def bridges_sql(edges_sql: str) -> str:
    """DuckDB oracle by DEFINITION, not by construction: edge (a, b)
    is a bridge iff b is unreachable from a when that one edge is
    excluded — one recursive reachability per candidate edge, all
    carried in a single recursion keyed by the excluded edge. Exact
    and implementation-independent (small graphs only: state is
    O(m·n))."""
    return f"""
WITH RECURSIVE
raw AS ({edges_sql}),
e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM raw WHERE src != dst),
arcs AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
reach(ea, eb, node) AS (
  SELECT a, b, a FROM e
  UNION
  SELECT r.ea, r.eb, arcs.y
  FROM reach r JOIN arcs ON arcs.x = r.node
  WHERE NOT ((arcs.x = r.ea AND arcs.y = r.eb)
          OR (arcs.x = r.eb AND arcs.y = r.ea))
)
SELECT e.a AS src, e.b AS dst
FROM e LEFT JOIN reach r ON r.ea = e.a AND r.eb = e.b AND r.node = e.b
WHERE r.node IS NULL
"""


def articulation_points_sql(edges_sql: str) -> str:
    """DuckDB oracle by definition: v is a cut vertex iff, with v
    excluded, some neighbor of v cannot reach v's smallest neighbor."""
    return f"""
WITH RECURSIVE
raw AS ({edges_sql}),
e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM raw WHERE src != dst),
arcs AS (SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e),
cand AS (SELECT DISTINCT x AS v FROM arcs),
nbr AS (SELECT x AS v, y AS w FROM arcs),
seed AS (SELECT v, MIN(w) AS w0 FROM nbr GROUP BY v),
reach(v, node) AS (
  SELECT v, w0 FROM seed
  UNION
  SELECT r.v, arcs.y FROM reach r JOIN arcs ON arcs.x = r.node
  WHERE arcs.y != r.v AND arcs.x != r.v
)
SELECT DISTINCT n.v AS id
FROM nbr n LEFT JOIN reach r ON r.v = n.v AND r.node = n.w
WHERE r.node IS NULL
ORDER BY 1
"""

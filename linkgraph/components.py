"""Connected components — distributed min-id propagation.

Re-creates the reference union-find procedures
(pub:core/.../core/utils/dss/DisjointSetStruct.java,
pub:algo/.../impl/GraphUnionFind.java + ParallelUnionFind* variants,
proc pub:algo/.../UnionFindProc.java; SURVEY.md §2.1): undirected
connectivity over the edge set, optional weight-threshold mode (union
only edges with weight >= threshold), per node ``setId``, stats row
``setCount``.

A shared-memory DSS with path compression cannot exist across Spark
executors, so the engine computes the same partition of the node set
by iterated min-id propagation (the closest reference analog is its
own MSColoring CC variant, pub:algo/.../impl/MSColoring.java — atomic
min-id propagation):

  comp_i^(0)  = i
  comp_i^(t+1)= min(comp_i^(t), min_{j ~ i} comp_j^(t))

to fixpoint. Because components are exact sets and the reference's DSS
root is an arbitrary representative, comparisons use canonical
relabeling (min member id — which is exactly what this algorithm
yields natively; BASELINE.md "Connected-components parity").

Convergence metering without a changed-rows join: every comp value is
monotonically non-increasing, so SUM(comp) is strictly decreasing
until the fixpoint — one cheap aggregate action per superstep.

Scale notes: duplicate/symmetric edges need no dedup (MIN is
idempotent), so the symmetrized edge table avoids a distinct shuffle;
it is hash-partitioned by src once and persisted. Iterations =
graph diameter; for web-scale diameters see the large-star/small-star
alternation (Kiveris et al., SoCC 2014) planned as `algorithm="star"`.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.checkpoint import SuperstepLoop, release_state
from linkgraph.skew import pin_split


@dataclass
class ComponentsResult:
    components: DataFrame  # (id: long, comp: long) — comp = min id in component
    set_count: int
    iterations: int
    stats: dict = field(default_factory=dict)


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    threshold: float | None = None,
    max_iter: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    algorithm: str = "minlabel",
    hub_cap: int | str | None = None,
    frontier: bool = True,
    resume: bool = False,
) -> ComponentsResult:
    """Undirected connected components over an edge table.

    threshold: keep only edges with weight >= threshold before
      connecting (reference ``algo.unionFind(..., {threshold})``,
      FIXTURES.md §2b). Missing weight column => all edges kept.
    algorithm: "minlabel" (default — min-id propagation; rounds =
      graph diameter, cheapest per round) or "star" (alternating
      large-star / small-star, Kiveris et al. SoCC'14 — O(log n)
      rounds regardless of diameter; the scale path for long-chain
      graphs). Identical output contract.
    hub_cap: power-law hub split of the per-superstep label join —
      None (default, off), a numeric src-degree cap, or ``"auto"``;
      components are identical either way. Thresholds and mechanism:
      linkgraph/skew.py.
    frontier: True (default) propagates each round only from nodes
      whose label CHANGED last round (delta iteration — exact under
      the monotone min lattice; measured 2.3x/1.9x faster at
      local[2]/local[8] on the 33.5M-edge Pareto scaling graph, and
      the advantage grows with diameter since post-frontier rounds
      touch only the active fringe). False runs the classic full
      propagation — fixed work per round, which is what the N-vs-4N
      scaling bench measures (a shrinking frontier makes tail rounds
      scheduling-bound at ANY parallelism, so ratio comparisons need
      the fixed-work mode; results are identical either way).
    resume: with a ``checkpoint_dir``, continue from the last durable
      superstep in the manifest instead of restarting (same contract
      as ``pagerank(resume=True)``). The (id, comp, changed) state
      round-trips through parquet, so the frontier resumes exactly;
      a pre-frontier 2-column checkpoint resumes with changed=True
      everywhere (safe over-propagation, one extra full round).
    """
    if algorithm == "star":
        return _connected_components_star(
            edges, nodes, threshold, max_iter, checkpoint_dir,
            checkpoint_every, resume,
        )
    assert algorithm == "minlabel", algorithm
    spark = edges.sparkSession
    t0 = time.time()
    e = edges
    if threshold is not None and "weight" in e.columns:
        e = e.filter(F.coalesce(F.col("weight"), F.lit(1.0)) >= F.lit(threshold))
    e = e.select("src", "dst")
    # symmetrize; no distinct — MIN is idempotent under duplicates.
    # pin_split partitions AND sorts by src once: the per-iteration
    # sort-merge join reuses the pinned layout (no re-shuffle/re-sort
    # of the big side)
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    split = pin_split(sym, "src", hub_cap)
    if nodes is not None:
        base = nodes.select("id")
    else:
        # universe from the PINNED tables (src alone covers both
        # endpoints) — never a second pass over the raw lineage
        base = split.rows().select(F.col("src").alias("id")).distinct()
    base = base.persist()
    n_nodes = base.count()
    t_load = time.time() - t0

    loop = SuperstepLoop(
        spark, checkpoint_dir, every=checkpoint_every, name="components",
        max_steps=max_iter,
    )
    # DELTA ITERATION (Pregel/Flink-style): a label can only decrease
    # when a NEIGHBOR'S label decreased, so each round propagates from
    # the frontier of just-changed nodes instead of every node. Exact
    # under the monotone min lattice; round 1's frontier is everyone,
    # later rounds shrink geometrically on low-diameter graphs — the
    # per-round join probe and min-agg shuffle shrink with them (at
    # 100TB this is the difference between diameter full passes and
    # one full pass + small deltas). State carries (id, comp, changed);
    # the changed flag is computed IN the superstep plan so frontier
    # extraction and the convergence probe are cheap scans of the
    # truncated state, not recomputations of the join.
    start_iter = 0
    labels = None
    if resume:
        resumed = loop.resume()
        if resumed is not None:
            start_iter, labels = resumed
            if "changed" not in labels.columns:
                # pre-frontier checkpoint: over-propagate one round
                labels = labels.select(
                    "id", "comp", F.lit(True).alias("changed")
                )
    if labels is None:
        labels = base.select(
            "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
        )
        labels = loop.advance(0, labels, force_checkpoint=bool(checkpoint_dir))

    t1 = time.time()
    it = start_iter
    for it in range(start_iter + 1, max_iter + 1):
        front = labels.filter("changed") if frontier else labels
        prop = split.join(front.select(F.col("id").alias("src"), "comp")).select(
            F.col("dst").alias("id"), "comp"
        )
        cand = prop.groupBy("id").agg(F.min("comp").alias("cand"))
        new_labels = (
            labels.select("id", "comp")
            .join(cand, "id", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.col("cand")).alias("comp"),
                F.coalesce(
                    F.col("cand") < F.col("comp"), F.lit(False)
                ).alias("changed"),
            )
        )
        labels = loop.advance(it, new_labels, metrics={"iteration": it})
        n_changed = (
            labels.agg(F.sum(F.col("changed").cast("long"))).first()[0] or 0
        )
        if n_changed == 0:
            break

    set_count = labels.select("comp").distinct().count()
    stats = {
        "nodes": n_nodes,
        "setCount": set_count,
        "iterations": it,
        "threshold": threshold,
        "hub_split": split.n_hubs,
        "load_s": round(t_load, 4),
        "compute_s": round(time.time() - t1, 4),
    }
    base.unpersist()
    split.release()
    # public contract stays (id, comp): the frontier flag is loop state
    return ComponentsResult(
        components=labels.select("id", "comp"),
        set_count=set_count,
        iterations=it,
        stats=stats,
    )


def canonical_components(components: DataFrame, nodes: DataFrame) -> DataFrame:
    """Relabel component ids to the MIN ORIGINAL KEY in each component.

    The reference emits arbitrary DSS-root representatives; parity
    checks compare under canonical relabeling (SURVEY.md §2.1). Our
    native comp is already min-dense-id; this helper maps it to the
    min node KEY for key-level golden comparisons (FIXTURES.md §2).
    Returns DataFrame(key, set_key).
    """
    labeled = components.join(nodes, "id")
    rep = labeled.groupBy("comp").agg(F.min("key").alias("set_key"))
    return labeled.join(rep, "comp").select("key", "set_key")


def _connected_components_star(
    edges: DataFrame,
    nodes: DataFrame | None,
    threshold: float | None,
    max_iter: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool = False,
) -> ComponentsResult:
    """Alternating large-star / small-star CC (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014).

    State is an edge set over node ids. Each round:
      large-star(u): for every neighbor v > u, emit (v, m(u)) where
                     m(u) = min(neighbors(u) + {u})
      small-star(u): for every neighbor v <= u (v != m), emit (v, m(u))
    Both operations preserve connectivity and strictly reduce a
    monotone potential; the edge set converges in O(log n) rounds to a
    forest of depth-1 stars rooted at each component's min id —
    diameter-independent, unlike min-label propagation.
    """
    spark = edges.sparkSession
    t0 = time.time()
    e = edges
    if threshold is not None and "weight" in e.columns:
        e = e.filter(F.coalesce(F.col("weight"), F.lit(1.0)) >= F.lit(threshold))
    e = e.select("src", "dst").filter(F.col("src") != F.col("dst"))
    if nodes is not None:
        base = nodes.select("id")
    else:
        base = e.select(F.col("src").alias("id")).union(
            e.select(F.col("dst").alias("id"))
        ).distinct()
    base = base.persist()
    n_nodes = base.count()

    def _sym(df: DataFrame) -> DataFrame:
        return df.union(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    def _large_star(df: DataFrame) -> DataFrame:
        # m(u) = min(neighbors(u) + {u}) as a per-node aggregate row,
        # joined back to the edge list — never a whole-neighborhood
        # array, so a mega-hub costs one (src, m) row, not an unbounded
        # collect_set (the join and the agg share the src shuffle key)
        sym = _sym(df)
        m = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
            "src", F.least(F.col("mn"), F.col("src")).alias("m")
        )
        return (
            sym.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(df: DataFrame) -> DataFrame:
        # orient edges to (hi -> lo): each u links its <= neighbors and
        # itself to m(u) = min of those neighbors (same join-based shape
        # as _large_star — no per-node neighbor arrays)
        oriented = _sym(df).filter(F.col("dst") < F.col("src"))
        m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        from_nbrs = (
            oriented.join(m, "src")
            .select(F.col("dst").alias("v"), "m")
            .filter(F.col("v") != F.col("m"))
        )
        # m < src always (min over strictly-smaller neighbors)
        from_self = m.select(F.col("src").alias("v"), "m")
        return (
            from_nbrs.union(from_self)
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    # every=1: each star round references its input edge set ~20x
    # (sym doubling + the m-join in both stars), so an un-truncated
    # plan grows ~20^k between checkpoints and ANALYSIS (driver CPU)
    # explodes; rounds are O(log n) few, so truncating per round is
    # cheap and keeps the plan constant-size
    loop = SuperstepLoop(spark, checkpoint_dir, every=1, name="components_star")
    start_iter = 0
    cur = None
    if resume:
        resumed = loop.resume()
        if resumed is not None:
            start_iter, cur = resumed
    if cur is None:
        cur = e.distinct()
        cur = loop.advance(0, cur, force_checkpoint=bool(checkpoint_dir))
    it = start_iter
    prev_sig = None
    t1 = time.time()
    for it in range(start_iter + 1, max_iter + 1):
        mid = _large_star(cur).localCheckpoint(eager=True)
        nxt = loop.advance(it, _small_star(mid), metrics={"round": it})
        release_state(mid)
        # collision-resistant fixpoint check: count + order-insensitive
        # sum of a 64-bit edge hash (two different edge sets colliding
        # on both is ~2^-64, vs the trivially-collidable sum(src+dst))
        sig = nxt.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)")).alias("h"),
        ).first()
        sig = (sig["n"], sig["h"])
        cur = nxt
        if sig == prev_sig:
            break
        prev_sig = sig

    # converged: edge set is (child -> root) stars; roots are min ids
    parents = cur.groupBy("src").agg(F.min("dst").alias("comp"))
    labels = (
        base.join(parents, base.id == parents.src, "left")
        .select("id", F.coalesce(F.col("comp"), F.col("id")).alias("comp"))
        .persist()
    )
    set_count = labels.select("comp").distinct().count()
    stats = {
        "nodes": n_nodes,
        "setCount": set_count,
        "iterations": it,
        "threshold": threshold,
        "algorithm": "star",
        "load_s": round(t1 - t0, 4),
        "compute_s": round(time.time() - t1, 4),
    }
    base.unpersist()
    return ComponentsResult(components=labels, set_count=set_count, iterations=it, stats=stats)

"""Community structure — exact Newman modularity and deterministic Louvain.

Engine extension beyond the reference procedure list (SURVEY.md §2 is
100% covered elsewhere): modularity is the standard quality functional
for the communities this engine's own label propagation / union-find
procedures emit, and the Louvain local-move sweep is the canonical
greedy optimizer over it (Blondel, Guillaume, Lambiotte, Lefebvre,
"Fast unfolding of communities in large networks", J. Stat. Mech. 2008
— public result).

Everything here is INTEGER-EXACT until the final division, which makes
the operators value-oracle-able against ANSI SQL despite being
"floating point" quantities:

* ``modularity(edges, assignment)`` — global Q as ONE double division
  of two BIGINT aggregates:  Q = (4m*E_in - sum_c D_c^2) / (4m^2)
  where m = undirected simple edge count, E_in = intra-community
  edges, D_c = total degree of community c. A single correctly-rounded
  IEEE division of exactly-representable integers is bit-identical on
  every engine. (BIGINT bound: safe to ~2^63 in the numerator, i.e.
  m*E_in < 2^61 — beyond ~1e9 edges switch the two aggregates to
  DECIMAL(38,0); the division itself is unchanged.)
* ``community_stats(edges, assignment)`` — per-community
  (intra_edges, degree_sum, contribution) where contribution
  = e_c/m - (D_c/2m)^2 with a PINNED evaluation order (each row is an
  independent expression over integers — no cross-row float sums).
* ``louvain_local_move(edges, rounds)`` — the Louvain phase-1 sweep,
  SYNCHRONIZED and integer-scaled: node i's gain for joining community
  C reduces (after dropping terms constant across candidates) to
      score(i, C) = 2m * e_iC - d_i * (D_C - d_i*[i in C])
  — pure BIGINT arithmetic, so the argmax (score DESC, community ASC)
  is deterministic and replayable in SQL. All nodes move at once
  (classic "parallel Louvain"; the sequential sweep's per-node order
  is inherently serial, exactly what a distributed engine must not
  do). Synchronous sweeps can oscillate on symmetric fixtures instead
  of strictly increasing Q — rounds are capped and the contract is
  determinism + the SQL oracle, with Q improvement asserted on the
  multilevel driver below.
* ``louvain(edges, max_levels, rounds_per_level)`` — full multilevel
  Louvain: local-move sweep, contract communities into weighted
  super-nodes (integer weights; intra mass becomes self-loops),
  repeat. Weights stay BIGINT through every level, so every level's
  sweep is as deterministic as the first.

Scale notes (100TB): the per-round cost is two hash aggregations (the
neighbor-community vote and the community degree sum) plus the
pre-partitioned vote join — the same shuffle shape as label
propagation, and the same hub exposure: a power-law hub's vote fan
lives in one task of the probe. ``hub_cap="auto"`` (linkgraph/skew.py,
the split LPA A/B-validated at 1.30x on 8 cores) routes hub-keyed pair
rows through a broadcast-state map-side join instead — engage it when
the level-1 sweep runs on an uncontracted web graph. Contraction
shrinks the graph geometrically, so levels past the first are cheap.
Driver-side state is zero — no collect anywhere.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.checkpoint import attach_caches, pin_table, release_state
from linkgraph.skew import HubSplit, pin_split
from linkgraph.triangles import _undirected_simple


@dataclass
class LouvainResult:
    assignment: DataFrame  # (id: long, community: long)
    levels: int
    rounds: list  # local-move rounds actually run per level
    modularity: float | None
    stats: dict = field(default_factory=dict)
    _caches: list = field(default_factory=list, repr=False)

    def release(self) -> None:
        for c in self._caches:
            release_state(c)
        self._caches = []


def _und_long(edges: DataFrame) -> DataFrame:
    """Canonical undirected simple edges (a < b, BIGINT unit weight)."""
    return _undirected_simple(edges).select(
        "a", "b", F.lit(1).cast("long").alias("w")
    )


def _degrees(und: DataFrame, loops: DataFrame | None) -> DataFrame:
    """(id, d): weighted degree, self-loops counting twice (standard
    modularity convention — a loop contributes 2 to its node's degree
    and 1 to m)."""
    ends = und.select(F.col("a").alias("id"), "w").unionByName(
        und.select(F.col("b").alias("id"), "w")
    )
    if loops is not None:
        ends = ends.unionByName(
            loops.select("id", (F.col("w") * F.lit(2)).cast("long").alias("w"))
        )
    return ends.groupBy("id").agg(F.sum("w").cast("long").alias("d"))


def _modularity_exact(und: DataFrame, deg: DataFrame, assignment: DataFrame) -> float:
    """Q over a prepared (a, b, w) simple view + (id, d) degrees."""
    asg = assignment.select("id", F.col("community").cast("long").alias("community"))
    node_c = deg.join(asg, "id", "left").select(
        "id", "d", F.coalesce("community", F.col("id")).alias("c")
    )
    ca = node_c.select(F.col("id").alias("a"), F.col("c").alias("ca"))
    cb = node_c.select(F.col("id").alias("b"), F.col("c").alias("cb"))
    agg = (
        und.join(ca, "a").join(cb, "b")
        .agg(
            F.sum("w").cast("long").alias("m"),
            F.sum(F.when(F.col("ca") == F.col("cb"), F.col("w")).otherwise(0))
            .cast("long").alias("e_in"),
        )
        .first()
    )
    m, e_in = int(agg["m"] or 0), int(agg["e_in"] or 0)
    if m == 0:
        return 0.0
    s = (
        node_c.groupBy("c").agg(F.sum("d").cast("long").alias("dc"))
        .agg(F.sum(F.col("dc") * F.col("dc")).cast("long").alias("s"))
        .first()["s"]
    )
    return (4 * m * e_in - int(s)) / (4 * m * m)


def modularity(edges: DataFrame, assignment: DataFrame) -> float:
    """Exact global Newman modularity of ``assignment`` (id, community)
    over the undirected simple view of ``edges``.

    ONE double division of two BIGINT aggregates — see module
    docstring. Nodes present in the graph but missing from the
    assignment land in singleton communities of their own id (so Q is
    always well-defined); extra assignment rows for isolated nodes
    contribute zero.
    """
    und = _und_long(edges)
    return _modularity_exact(und, _degrees(und, None), assignment)


def community_stats(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Per-community (community, intra_edges, degree_sum, contribution)
    over the undirected simple view; contribution uses the pinned
    order  CAST(e)/m - (CAST(D)/(2m)) * (CAST(D)/(2m))  so each row is
    an exact, engine-independent double. SUM(contribution) is Q — but
    sum it yourself only for display; the exact scalar is
    ``modularity()`` (cross-row float sums are order-dependent)."""
    und = _und_long(edges)
    deg = _degrees(und, None)
    asg = assignment.select("id", F.col("community").cast("long").alias("community"))
    node_c = deg.join(asg, "id", "left").select(
        "id", "d", F.coalesce("community", F.col("id")).alias("c")
    )
    m = int(und.agg(F.sum("w")).first()[0] or 0)
    if m == 0:
        raise ValueError("modularity undefined on an empty graph")
    ca = node_c.select(F.col("id").alias("a"), F.col("c").alias("ca"))
    cb = node_c.select(F.col("id").alias("b"), F.col("c").alias("cb"))
    intra = (
        und.join(ca, "a").join(cb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.sum("w").cast("long").alias("intra_edges"))
    )
    dsum = node_c.groupBy("c").agg(F.sum("d").cast("long").alias("degree_sum"))
    md = float(m)
    half = F.col("degree_sum").cast("double") / F.lit(2.0 * md)
    return (
        dsum.join(intra, "c", "left")
        .select(
            F.col("c").alias("community"),
            F.coalesce("intra_edges", F.lit(0)).cast("long").alias("intra_edges"),
            "degree_sum",
            (
                F.coalesce("intra_edges", F.lit(0)).cast("double") / F.lit(md)
                - half * half
            ).alias("contribution"),
        )
    )


def community_stats_sql(edges_sql: str, assignment_sql: str) -> str:
    """Oracle for ``community_stats``: assignment_sql must yield
    (id, community) — e.g. the LPA oracle — over the same tables."""
    return f"""
WITH e0 AS ({edges_sql}),
asg AS ({assignment_sql}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e0 WHERE src <> dst),
deg AS (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
nc AS (SELECT deg.id, deg.d, COALESCE(asg.community, deg.id) AS c
       FROM deg LEFT JOIN asg ON asg.id = deg.id),
m AS (SELECT COUNT(*) AS m FROM und),
intra AS (SELECT ca.c, COUNT(*) AS intra_edges
          FROM und JOIN nc ca ON ca.id = und.a JOIN nc cb ON cb.id = und.b
          WHERE ca.c = cb.c GROUP BY ca.c),
dsum AS (SELECT c, SUM(d) AS degree_sum FROM nc GROUP BY c)
SELECT dsum.c AS community,
       CAST(COALESCE(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST(dsum.degree_sum AS BIGINT) AS degree_sum,
       CAST(COALESCE(intra.intra_edges, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
         - (CAST(dsum.degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
           * (CAST(dsum.degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
         AS contribution
FROM dsum LEFT JOIN intra ON intra.c = dsum.c CROSS JOIN m
"""


def community_conductance(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Per-community conductance over the undirected simple view
    (Kannan-Vempala-Vetta; the GDS conductance lineage):

        phi(C) = cut(C) / min(vol(C), vol(G) - vol(C))

    with cut(C) = #edges crossing the (C, complement) boundary and
    vol(C) = sum of member degrees. Low phi = a well-separated
    community; the standard sanity check on an LPA/Louvain assignment.
    Nodes absent from ``assignment`` default to singleton communities
    (the community_stats contract).

    Returns (community, cut_edges, volume, conductance rounded 6) —
    cut and volume are INTEGER counts (exact cross-engine); only the
    final ratio is floating point. Communities with min(vol, rest)=0
    (isolated-node singletons, or a community holding every edge)
    report 0.0.

    Scale shape: two hash joins of the edge list against the |V|-row
    assignment (the modularity shape), then ONE map-side-combinable
    per-community aggregate; no windows, no self-joins.
    """
    und = _und_long(edges)
    asg = assignment.select("id", F.col("community").cast("long").alias("community"))
    deg = _degrees(und, None)
    node_c = deg.join(asg, "id", "left").select(
        "id", F.coalesce("community", F.col("id")).alias("c")
    )
    sym = und.select(F.col("a").alias("node"), F.col("b").alias("nbr"), "w").unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
    )
    oriented = (
        sym.join(node_c.select(F.col("id").alias("node"), F.col("c").alias("cn")), "node")
        .join(node_c.select(F.col("id").alias("nbr"), F.col("c").alias("cm")), "nbr")
    )
    per_c = oriented.groupBy(F.col("cn").alias("community")).agg(
        F.sum(F.when(F.col("cn") != F.col("cm"), F.col("w")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cut_edges"),
        F.sum("w").cast("long").alias("volume"),
    )
    tot = per_c.agg(F.sum("volume").alias("total_vol"))
    rest = F.col("total_vol") - F.col("volume")
    denom = F.least(F.col("volume"), rest)
    return per_c.crossJoin(F.broadcast(tot)).select(
        "community",
        "cut_edges",
        "volume",
        F.round(
            F.when(
                denom > 0, F.col("cut_edges").cast("double") / denom.cast("double")
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("conductance"),
    )


def community_conductance_sql(edges_sql: str, assignment_sql: str) -> str:
    """Oracle for ``community_conductance``: assignment_sql yields
    (id, community) over the same tables (nest the LPA/Louvain oracle
    SQL to check a composition end-to-end)."""
    return f"""
WITH e0 AS ({edges_sql}),
asg AS ({assignment_sql}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e0 WHERE src <> dst),
deg AS (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY id),
nc AS (SELECT deg.id, COALESCE(asg.community, deg.id) AS c
       FROM deg LEFT JOIN asg ON asg.id = deg.id),
sym AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
oriented AS (SELECT cn.c AS cn, cm.c AS cm
             FROM sym JOIN nc cn ON cn.id = sym.node
                      JOIN nc cm ON cm.id = sym.nbr),
per_c AS (SELECT cn AS community,
                 SUM(CASE WHEN cn <> cm THEN 1 ELSE 0 END) AS cut_edges,
                 COUNT(*) AS volume
          FROM oriented GROUP BY cn),
tot AS (SELECT SUM(volume) AS total_vol FROM per_c)
SELECT community,
       CAST(cut_edges AS BIGINT) AS cut_edges,
       CAST(volume AS BIGINT) AS volume,
       ROUND(CASE WHEN LEAST(volume, tot.total_vol - volume) > 0
             THEN CAST(cut_edges AS DOUBLE)
                  / CAST(LEAST(volume, tot.total_vol - volume) AS DOUBLE)
             ELSE 0.0 END, 6) AS conductance
FROM per_c CROSS JOIN tot
"""


def _local_move_round(
    sym: HubSplit, deg: DataFrame, state: DataFrame, two_m: int,
    parity: int | None = None,
) -> DataFrame:
    """One synchronized integer-scaled local-move sweep.

    sym: (node, nbr, w) both directions, loops EXCLUDED (a loop never
    changes relative gain — e_iC gains it only for i's own membership
    decisions where it is constant across candidates), pinned on
    ``nbr`` by ``pin_split`` — its hub split (linkgraph/skew.py) joins
    hub-keyed rows against a BROADCAST of the hub state; votes are
    bit-identical either way.
    deg: (id, d) loop-inclusive weighted degree. state: (id, c).
    parity: when 0/1, ONLY nodes with id % 2 == parity may move this
    round (the rest keep their community verbatim). Alternating the
    parity between rounds breaks the two-coloring oscillation a fully
    synchronous sweep exhibits on bipartite(-ish) graphs — two
    adjacent nodes can no longer swap into each other's communities in
    the same round — while staying deterministic and SQL-replayable.
    """
    nbr_state = state.select(F.col("id").alias("nbr"), F.col("c").alias("cand"))
    nbrc = (
        sym.join(nbr_state)
        .groupBy(F.col("node").alias("id"), "cand")
        .agg(F.sum("w").cast("long").alias("e"))
    )
    # community degree sums come from the FULL state — frozen nodes
    # still weigh down the communities movable nodes consider joining
    dc = (
        state.join(deg, "id")
        .groupBy(F.col("c").alias("cand"))
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    frozen = None
    movers = state
    if parity is not None:
        movable = F.pmod(F.col("id"), F.lit(2)) == F.lit(parity)
        frozen = state.filter(~movable)
        nbrc = nbrc.filter(movable)
        movers = state.filter(movable)
    # current community is always a candidate (e += 0 keeps the sum
    # exact whether or not a neighbor already votes for it)
    cand = (
        nbrc.unionByName(
            movers.select("id", F.col("c").alias("cand"), F.lit(0).cast("long").alias("e"))
        )
        .groupBy("id", "cand")
        .agg(F.sum("e").cast("long").alias("e"))
    )
    scored = (
        cand.join(deg, "id")
        .join(movers, "id")  # adds current community c
        .join(dc, "cand")
        .select(
            "id",
            "cand",
            (
                F.lit(two_m) * F.col("e")
                - F.col("d")
                * (
                    F.col("dc")
                    - F.when(F.col("cand") == F.col("c"), F.col("d")).otherwise(0)
                )
            ).cast("long").alias("score"),
        )
    )
    moved = scored.groupBy("id").agg(
        F.max_by("cand", F.struct(F.col("score"), (-F.col("cand")).alias("nc")))
        .alias("c")
    )
    return moved if frozen is None else moved.unionByName(frozen)


def louvain_local_move(
    edges: DataFrame,
    rounds: int = 2,
    assignment: DataFrame | None = None,
    sweep: str = "sync",
    hub_cap: int | str | None = None,
) -> LouvainResult:
    """Louvain phase-1: ``rounds`` synchronized local-move sweeps over
    the undirected simple view, starting from singletons (or
    ``assignment`` (id, community) when given). Deterministic —
    integer-scaled gains, (score DESC, community ASC) argmax — and
    exactly replayable by ``louvain_local_sql``. Stops early when no
    node moves (for ``sweep="alternate"``: no move in a full even+odd
    cycle — a single parity round leaves half the nodes frozen by
    construction).

    sweep: ``"sync"`` moves every node every round (the pure
    synchronized sweep — oscillates into a 2-coloring on bipartite
    graphs, kept as the simplest oracle target); ``"alternate"`` gates
    round t to nodes with id % 2 == t % 2 (see _local_move_round) —
    the production default used by ``louvain()``.

    hub_cap: power-law skew split for the per-round vote probe (same
    contract and auto-thresholds as ``label_propagation(hub_cap=...)``,
    see linkgraph/skew.py) — the phase-1 sweep runs on the UNcontracted
    graph, exactly the regime where a web hub's vote fan lands in one
    task. Assignment is bit-identical with the split on/off/forced."""
    und = pin_table(_und_long(edges))
    raw = und.select(F.col("a").alias("node"), F.col("b").alias("nbr"), "w").unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
    )
    sym = pin_split(raw, "nbr", hub_cap)
    deg = pin_table(_degrees(und, None))
    two_m = 2 * int(und.agg(F.sum("w")).first()[0] or 0)
    if assignment is None:
        state = deg.select("id", F.col("id").alias("c"))
    else:
        state = deg.select("id").join(
            assignment.select("id", F.col("community").cast("long").alias("c")),
            "id",
            "left",
        ).select("id", F.coalesce("c", F.col("id")).alias("c"))
    if sweep not in ("sync", "alternate"):
        raise ValueError(f"bad sweep {sweep}")
    state = pin_table(state)
    t0 = time.time()
    ran = 0
    zero_streak = 0
    for r in range(1, rounds + 1):
        parity = (r % 2) if sweep == "alternate" else None
        new_state = pin_table(
            _local_move_round(sym, deg, state, two_m, parity)
        )
        changed = (
            new_state.alias("n")
            .join(state.alias("o"), "id")
            .filter(F.col("n.c") != F.col("o.c"))
            .count()
        )
        release_state(state)
        state = new_state
        ran = r
        zero_streak = zero_streak + 1 if changed == 0 else 0
        if zero_streak >= (2 if sweep == "alternate" else 1):
            break
    out = attach_caches(
        state.select("id", F.col("c").alias("community")), [state]
    )
    stats = {"two_m": two_m, "rounds": ran, "sweep": sweep,
             "hub_split": sym.n_hubs,
             "compute_s": round(time.time() - t0, 4)}
    sym.release()
    release_state(und)
    release_state(deg)
    return LouvainResult(
        assignment=out, levels=1, rounds=[ran], modularity=None, stats=stats,
        _caches=[state],
    )


def louvain_local_sql(edges_sql: str, rounds: int, sweep: str = "sync") -> str:
    """Oracle: the sweep unrolled ``rounds`` times (same integer
    scores, ROW_NUMBER (score DESC, cand ASC) argmax). With
    ``sweep="alternate"`` round t only rescores ids with id % 2 = t % 2
    and carries the rest verbatim — byte-for-byte the Spark gating."""
    if sweep not in ("sync", "alternate"):
        raise ValueError(f"bad sweep {sweep}")
    parts = [
        f"WITH e0 AS ({edges_sql})",
        """und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e0 WHERE src <> dst)""",
        """sym AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und)""",
        "deg AS (SELECT node AS id, COUNT(*) AS d FROM sym GROUP BY node)",
        "m2 AS (SELECT COUNT(*) AS two_m FROM sym)",
        "s0 AS MATERIALIZED (SELECT id, id AS c FROM deg)",
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        gate = f" WHERE s.node % 2 = {t % 2}" if sweep == "alternate" else ""
        gate_cur = f" WHERE id % 2 = {t % 2}" if sweep == "alternate" else ""
        parts.append(
            f"""cand{t} AS MATERIALIZED (
  SELECT id, cand, SUM(e) AS e FROM (
    SELECT s.node AS id, st.c AS cand, COUNT(*) AS e
    FROM sym s JOIN s{p} st ON st.id = s.nbr{gate} GROUP BY s.node, st.c
    UNION ALL SELECT id, c AS cand, 0 AS e FROM s{p}{gate_cur}
  ) GROUP BY id, cand)"""
        )
        parts.append(
            f"""dc{t} AS MATERIALIZED (SELECT st.c AS cand, SUM(deg.d) AS dc
  FROM s{p} st JOIN deg ON deg.id = st.id GROUP BY st.c)"""
        )
        parts.append(
            f"""sc{t} AS (SELECT cand{t}.id, cand{t}.cand,
  m2.two_m * cand{t}.e
    - deg.d * (dc{t}.dc - CASE WHEN cand{t}.cand = s{p}.c THEN deg.d ELSE 0 END)
    AS score
  FROM cand{t} JOIN deg ON deg.id = cand{t}.id
  JOIN s{p} ON s{p}.id = cand{t}.id
  JOIN dc{t} ON dc{t}.cand = cand{t}.cand CROSS JOIN m2)"""
        )
        moved = f"""SELECT id, cand AS c FROM (
  SELECT id, cand,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY score DESC, cand ASC) AS rk
  FROM sc{t}) WHERE rk = 1"""
        if sweep == "alternate":
            moved += f"\n  UNION ALL SELECT id, c FROM s{p} WHERE id % 2 <> {t % 2}"
        parts.append(f"s{t} AS MATERIALIZED ({moved})")
    return (
        ",\n".join(parts)
        + f"\nSELECT id, c AS community FROM s{rounds}"
    )


def louvain(
    edges: DataFrame,
    max_levels: int = 3,
    rounds_per_level: int = 5,
    compute_modularity: bool = True,
    hub_cap: int | str | None = None,
) -> LouvainResult:
    """Full multilevel Louvain. Each level runs the alternate-parity
    local-move sweep to (early-stopped) fixpoint, then contracts each
    community into one super-node: cross-community edge weights sum,
    intra-community mass (edges + prior loops) becomes self-loop
    weight. Weights are BIGINT at every level, so determinism and the
    gain algebra survive contraction unchanged. Stops early when a
    level produces no merge. Returns the ORIGINAL-node assignment and
    (optionally) the exact modularity of that final assignment.

    hub_cap: power-law skew split for each level's vote probe
    (linkgraph/skew.py; contract as ``label_propagation(hub_cap=...)``).
    Probed per level — level 1 runs on the UNcontracted graph where a
    web hub's vote fan is the straggler; contracted levels shrink
    geometrically and "auto" disengages on its own. Bit-identical
    hierarchy with the split on/off/forced."""
    und0 = pin_table(_und_long(edges))
    deg0 = pin_table(_degrees(und0, None))
    und = und0
    loops = None  # (id, w) — appears from level 2 on
    # mapping original id -> current community (refined level by level)
    mapping = pin_table(und.select(F.col("a").alias("id")).unionByName(
        und.select(F.col("b").alias("id"))
    ).distinct().select("id", F.col("id").alias("community")))
    rounds_run: list[int] = []
    # Q-guard baseline: every round's refined mapping is scored
    # exactly on the original graph (see the per-round guard below)
    # and only improvements are kept — best-cut tracking for a greedy
    # hierarchy whose joint moves are individually, not jointly, safe
    best_q = _modularity_exact(und0, deg0, mapping)
    n_prev = None
    levels = 0
    for _ in range(max_levels):
        deg = pin_table(_degrees(und, loops))
        two_m = 2 * int(und.agg(F.sum("w")).first()[0] or 0)
        if loops is not None:
            two_m += 2 * int(loops.agg(F.sum("w")).first()[0] or 0)
        if two_m == 0:
            release_state(deg)
            break
        raw = und.select(F.col("a").alias("node"), F.col("b").alias("nbr"), "w").unionByName(
            und.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
        )
        sym = pin_split(raw, "nbr", hub_cap)
        init_state = pin_table(deg.select("id", F.col("id").alias("c")))
        state = init_state
        # per-ROUND Q-guard: joint (even parity-gated) moves are only
        # heuristically good — score every round's refined mapping
        # EXACTLY on the original graph (two aggregates off the pinned
        # und0/deg0) and contract the best-scoring round's state. This
        # makes the hierarchy monotone in true Q by construction.
        best_state, best_q_level = init_state, best_q
        ran = 0
        zero_streak = 0
        for r in range(1, rounds_per_level + 1):
            # alternate-parity gating — see _local_move_round: the
            # fully synchronous sweep 2-colors bipartite(-ish) graphs
            new_state = pin_table(
                _local_move_round(sym, deg, state, two_m, parity=r % 2)
            )
            changed = (
                new_state.alias("n")
                .join(state.alias("o"), "id")
                .filter(F.col("n.c") != F.col("o.c"))
                .count()
            )
            if state is not best_state and state is not init_state:
                release_state(state)
            state = new_state
            ran = r
            zero_streak = zero_streak + 1 if changed == 0 else 0
            if changed > 0:
                lifted_map = mapping.join(
                    state.select(
                        F.col("id").alias("community"), F.col("c").alias("nc")
                    ),
                    "community",
                ).select("id", F.col("nc").alias("community"))
                q_r = _modularity_exact(und0, deg0, lifted_map)
                if q_r > best_q_level:
                    if best_state is not init_state:
                        release_state(best_state)
                    best_state, best_q_level = state, q_r
            if zero_streak >= 2:
                break
        rounds_run.append(ran)
        levels += 1
        if state is not best_state and state is not init_state:
            release_state(state)
        state = best_state
        if state is init_state:
            # no round improved the global best — nothing to contract
            sym.release()
            release_state(deg)
            release_state(init_state)
            break
        n_comms = state.select("c").distinct().count()
        # refine the original-node mapping through this level's moves
        new_mapping = pin_table(
            mapping.join(
                state.select(F.col("id").alias("community"), F.col("c").alias("nc")),
                "community",
            ).select("id", F.col("nc").alias("community"))
        )
        release_state(mapping)
        mapping = new_mapping
        best_q = best_q_level
        if n_prev is not None and n_comms >= n_prev:
            sym.release()
            release_state(deg)
            release_state(state)
            release_state(init_state)
            break
        n_prev = n_comms
        # contract: endpoints -> communities; intra mass -> loops
        a_c = state.select(F.col("id").alias("a"), F.col("c").alias("ca"))
        b_c = state.select(F.col("id").alias("b"), F.col("c").alias("cb"))
        lifted = und.join(a_c, "a").join(b_c, "b")
        new_und = pin_table(
            lifted.filter(F.col("ca") != F.col("cb"))
            .groupBy(
                F.least("ca", "cb").alias("a"), F.greatest("ca", "cb").alias("b")
            )
            .agg(F.sum("w").cast("long").alias("w"))
        )
        new_loop_src = lifted.filter(F.col("ca") == F.col("cb")).select(
            F.col("ca").alias("id"), "w"
        )
        if loops is not None:
            old_lifted = loops.join(
                state.select(F.col("id").alias("id"), F.col("c").alias("cl")),
                "id",
            ).select(F.col("cl").alias("id"), "w")
            new_loop_src = new_loop_src.unionByName(old_lifted)
        new_loops = pin_table(
            new_loop_src.groupBy("id").agg(F.sum("w").cast("long").alias("w"))
        )
        sym.release()
        release_state(deg)
        release_state(state)
        if init_state is not state:
            release_state(init_state)
        if loops is not None:
            release_state(loops)
        if und is not und0:
            release_state(und)
        und, loops = new_und, new_loops
    if und is not und0:
        release_state(und)
    if loops is not None:
        release_state(loops)
    release_state(und0)
    release_state(deg0)
    q = best_q if compute_modularity else None
    mapping = attach_caches(mapping, [mapping])
    return LouvainResult(
        assignment=mapping,
        levels=levels,
        rounds=rounds_run,
        modularity=q,
        stats={"levels": levels, "rounds": rounds_run, "modularity": q},
        _caches=[mapping],
    )


def compare_assignments(x: DataFrame, y: DataFrame) -> DataFrame:
    """Agreement between two community assignments — Adjusted Rand
    Index (Hubert & Arabie 1985) and Normalized Mutual Information
    (sqrt normalization, the sklearn default) over the nodes present
    in BOTH assignments (inner join on id).

    Returns ONE row (n_nodes, ari, nmi), each score rounded to 6.
    Exactness: the contingency table and every pair-count Σ C(c,2)
    are INTEGERS (order-free); ARI is one fixed double expression
    over them. NMI's entropy/MI sums are genuine float series, so
    each term's ln is rounded to 7 (the perplexity finding: Java vs
    libm diverge 1 ulp on ~7% of inputs) and the series is folded in
    (cx, cy) order on both engines — bit-identical pre-round.

    Degenerate contracts: ARI with a zero denominator (both
    partitions trivial — all-singletons or one block) reports 1.0
    when the numerator is 0 too, else 0.0; NMI reports 1.0 when both
    entropies are 0 (two identical one-block partitions), 0.0 when
    exactly one is.

    Scale shape: one |V| hash join, one contingency groupBy
    (map-side combinable, at most |C_x|*|C_y| surviving cells), two
    marginal aggregates, then 1-row combines. The NMI fold collects
    the CELL table (not nodes) to one row — bounded by the community-
    pair count; for million-community regimes, round-9 term sums are
    the fallback (documented, not default).

    Pair-count integers overflow int64 when C(n,2) does (n ~ 4.3e9
    joined nodes) — cast the comb2 expressions to decimal(38,0) past
    that (the weighted-similarity playbook).
    """
    xa = x.select("id", F.col("community").cast("long").alias("cx"))
    ya = y.select("id", F.col("community").cast("long").alias("cy"))
    j = xa.join(ya, "id")
    cont = j.groupBy("cx", "cy").agg(F.count("*").alias("nij"))
    amarg = cont.groupBy("cx").agg(F.sum("nij").alias("ai"))
    bmarg = cont.groupBy("cy").agg(F.sum("nij").alias("bj"))
    tot = cont.agg(
        F.sum("nij").cast("long").alias("n"),
        F.sum(F.expr("(nij * (nij - 1)) DIV 2")).cast("long").alias("sij"),
    )
    sa = amarg.agg(F.sum(F.expr("(ai * (ai - 1)) DIV 2")).cast("long").alias("sa"))
    sb = bmarg.agg(F.sum(F.expr("(bj * (bj - 1)) DIV 2")).cast("long").alias("sb"))

    nd = F.col("n").cast("double")
    # MI series: one term per contingency cell, ln rounded to 7,
    # folded in (cx, cy) order
    cells = (
        cont.join(amarg, "cx")
        .join(bmarg, "cy")
        .crossJoin(F.broadcast(tot.select("n")))
        .select(
            "cx",
            "cy",
            (
                (F.col("nij").cast("double") / nd)
                * F.round(
                    F.log(
                        (nd * F.col("nij").cast("double"))
                        / (F.col("ai").cast("double") * F.col("bj").cast("double"))
                    ),
                    7,
                )
            ).alias("t"),
        )
    )
    mi_row = cells.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("cx", "cy", "t"))),
            F.lit(0.0),
            lambda acc, s: acc + s["t"],
        ).alias("mi")
    )

    def entropy(marg: DataFrame, key: str, cnt: str, alias: str) -> DataFrame:
        terms = marg.crossJoin(F.broadcast(tot.select("n"))).select(
            F.col(key),
            (
                (F.col(cnt).cast("double") / nd)
                * F.round(F.log(F.col(cnt).cast("double") / nd), 7)
            ).alias("t"),
        )
        return terms.agg(
            (
                -F.aggregate(
                    F.array_sort(F.collect_list(F.struct(key, "t"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["t"],
                )
            ).alias(alias)
        )

    hx_row = entropy(amarg, "cx", "ai", "hx")
    hy_row = entropy(bmarg, "cy", "bj", "hy")

    one = (
        tot.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(mi_row))
        .crossJoin(F.broadcast(hx_row))
        .crossJoin(F.broadcast(hy_row))
    )
    cn2 = (F.col("n") * (F.col("n") - 1) / F.lit(2)).cast("double")
    exp_idx = (F.col("sa").cast("double") * F.col("sb").cast("double")) / cn2
    ari_num = F.col("sij").cast("double") - exp_idx
    ari_den = (
        (F.col("sa").cast("double") + F.col("sb").cast("double")) / F.lit(2.0)
        - exp_idx
    )
    ari = (
        F.when(ari_den != 0, ari_num / ari_den)
        .when(ari_num == 0, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    hprod = F.col("hx") * F.col("hy")
    nmi = (
        F.when(hprod > 0, F.col("mi") / F.sqrt(hprod))
        .when((F.col("hx") == 0) & (F.col("hy") == 0), F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    return one.select(
        F.col("n").alias("n_nodes"),
        F.round(ari, 6).alias("ari"),
        F.round(nmi, 6).alias("nmi"),
    )


def compare_assignments_sql(x_sql: str, y_sql: str) -> str:
    """Oracle for ``compare_assignments``: x_sql/y_sql each yield
    (id, community) — nest two algorithm oracles to value-check an
    algorithm-vs-algorithm comparison end-to-end."""
    return f"""
WITH xa AS (SELECT id, CAST(community AS BIGINT) AS cx FROM ({x_sql})),
ya AS (SELECT id, CAST(community AS BIGINT) AS cy FROM ({y_sql})),
j AS (SELECT xa.cx, ya.cy FROM xa JOIN ya ON ya.id = xa.id),
cont AS (SELECT cx, cy, COUNT(*) AS nij FROM j GROUP BY cx, cy),
amarg AS (SELECT cx, SUM(nij) AS ai FROM cont GROUP BY cx),
bmarg AS (SELECT cy, SUM(nij) AS bj FROM cont GROUP BY cy),
tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n,
               CAST(SUM((nij * (nij - 1)) // 2) AS BIGINT) AS sij FROM cont),
sa AS (SELECT CAST(SUM((ai * (ai - 1)) // 2) AS BIGINT) AS sa FROM amarg),
sb AS (SELECT CAST(SUM((bj * (bj - 1)) // 2) AS BIGINT) AS sb FROM bmarg),
cells AS (SELECT c.cx, c.cy,
                 (CAST(c.nij AS DOUBLE) / CAST(t.n AS DOUBLE))
                 * ROUND(ln((CAST(t.n AS DOUBLE) * CAST(c.nij AS DOUBLE))
                            / (CAST(a.ai AS DOUBLE) * CAST(b.bj AS DOUBLE))), 7) AS t
          FROM cont c JOIN amarg a USING (cx) JOIN bmarg b USING (cy)
          CROSS JOIN tot t),
mi AS (SELECT COALESCE(list_reduce(list(t ORDER BY cx, cy), (p, q) -> p + q), 0.0) AS mi
       FROM cells),
hx AS (SELECT -COALESCE(list_reduce(list(t ORDER BY cx), (p, q) -> p + q), 0.0) AS hx
       FROM (SELECT a.cx,
                    (CAST(a.ai AS DOUBLE) / CAST(t.n AS DOUBLE))
                    * ROUND(ln(CAST(a.ai AS DOUBLE) / CAST(t.n AS DOUBLE)), 7) AS t
             FROM amarg a CROSS JOIN tot t)),
hy AS (SELECT -COALESCE(list_reduce(list(t ORDER BY cy), (p, q) -> p + q), 0.0) AS hy
       FROM (SELECT b.cy,
                    (CAST(b.bj AS DOUBLE) / CAST(t.n AS DOUBLE))
                    * ROUND(ln(CAST(b.bj AS DOUBLE) / CAST(t.n AS DOUBLE)), 7) AS t
             FROM bmarg b CROSS JOIN tot t))
SELECT tot.n AS n_nodes,
       ROUND(CASE
         WHEN ((CAST(sa.sa AS DOUBLE) + CAST(sb.sb AS DOUBLE)) / 2.0
               - (CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE))
                 / CAST(tot.n * (tot.n - 1) / 2 AS DOUBLE)) != 0
         THEN (CAST(tot.sij AS DOUBLE)
               - (CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE))
                 / CAST(tot.n * (tot.n - 1) / 2 AS DOUBLE))
              / ((CAST(sa.sa AS DOUBLE) + CAST(sb.sb AS DOUBLE)) / 2.0
                 - (CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE))
                   / CAST(tot.n * (tot.n - 1) / 2 AS DOUBLE))
         WHEN (CAST(tot.sij AS DOUBLE)
               - (CAST(sa.sa AS DOUBLE) * CAST(sb.sb AS DOUBLE))
                 / CAST(tot.n * (tot.n - 1) / 2 AS DOUBLE)) = 0
         THEN 1.0 ELSE 0.0 END, 6) AS ari,
       ROUND(CASE WHEN hx.hx * hy.hy > 0 THEN mi.mi / sqrt(hx.hx * hy.hy)
                  WHEN hx.hx = 0 AND hy.hy = 0 THEN 1.0
                  ELSE 0.0 END, 6) AS nmi
FROM tot CROSS JOIN sa CROSS JOIN sb CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""


def refine_communities(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Leiden-style refinement (Traag, Waltman, van Eck 2019, public):
    split every community into its CONNECTED parts. Louvain/LPA can
    emit internally disconnected communities (the Leiden paper's core
    defect report); refinement runs connected components on each
    community's INDUCED subgraph and relabels each part canonically
    (min member id). Nodes with no intra-community edge become
    singletons.

    Returns (id, community). Scale shape: one join to drop
    inter-community edges, then the engine's frontier delta-iteration
    WCC on the (strictly smaller) intra-edge table — community
    boundaries need no extra keying because no edge crosses them.
    """
    from linkgraph.components import connected_components

    asg = assignment.select(
        "id", F.col("community").cast("long").alias("community")
    )
    sa = asg.select(F.col("id").alias("src"), F.col("community").alias("ca"))
    sb = asg.select(F.col("id").alias("dst"), F.col("community").alias("cb"))
    intra = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .join(sa, "src")
        .join(sb, "dst")
        .filter(F.col("ca") == F.col("cb"))
        .select("src", "dst")
    )
    res = connected_components(intra)
    out = (
        asg.join(res.components, "id", "left")
        .select("id", F.coalesce("comp", F.col("id")).alias("community"))
    )
    return out


def refine_communities_sql(edges_sql: str, assignment_sql: str) -> str:
    """Oracle: min-label reachability (recursive UNION) restricted to
    intra-community edges; unreached nodes keep their own id."""
    # rf-prefixed CTE names: assignment_sql is often itself a full
    # WITH...SELECT (e.g. the unrolled Louvain oracle) whose CTE names
    # would otherwise collide when nested as a subquery
    return f"""
WITH RECURSIVE
rf_e AS ({edges_sql}),
rf_asg AS (SELECT id, CAST(community AS BIGINT) AS community
           FROM ({assignment_sql})),
rf_intra AS (
  SELECT rf_e.src, rf_e.dst FROM rf_e
  JOIN rf_asg a ON a.id = rf_e.src
  JOIN rf_asg b ON b.id = rf_e.dst
  WHERE rf_e.src <> rf_e.dst AND a.community = b.community),
rf_und AS (SELECT src, dst FROM rf_intra
           UNION ALL SELECT dst, src FROM rf_intra),
rf_nodes AS (SELECT DISTINCT src AS id FROM rf_und),
rf_reach(id, comp) AS (
  SELECT id, id FROM rf_nodes
  UNION
  SELECT u.dst, r.comp FROM rf_reach r JOIN rf_und u ON u.src = r.id
),
rf_cc AS (SELECT id, MIN(comp) AS comp FROM rf_reach GROUP BY id)
SELECT rf_asg.id, COALESCE(rf_cc.comp, rf_asg.id) AS community
FROM rf_asg LEFT JOIN rf_cc ON rf_cc.id = rf_asg.id
"""


def contract_graph(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """Community contraction as a PUBLIC operator (the multilevel
    building block infomap/louvain use internally): collapse the graph
    onto an assignment (id, community) — super-edge (c1, c2) with
    c1 <= c2 carries the total weight and edge count between the two
    communities; c1 == c2 rows are the intra-community mass
    (self-loops). Returns (src, dst, weight, n_edges).

    Weight exactness: weights are summed in the 6-decimal integer
    micro-domain (ROUND(w*1e6) int64 — order-free) and divided back
    once, so the contracted weights are value-exact cross-engine even
    for fractional inputs (a raw float SUM's last ulp depends on
    partitioning). Missing weight column = 1.0 per edge.

    Scale: two node-key hash joins against the (broadcastable)
    assignment + ONE map-side-combinable groupBy on the super-edge key
    — |communities|²-bounded output however large the input.
    """
    w = (
        F.coalesce(F.col("weight"), F.lit(1.0))
        if "weight" in edges.columns
        else F.lit(1.0)
    )
    a = assignment.select("id", "community")
    j = (
        edges.select("src", "dst", F.round(w * 1_000_000, 0).cast("long").alias("wmic"))
        .join(a.select(F.col("id").alias("src"), F.col("community").alias("cs")), "src")
        .join(a.select(F.col("id").alias("dst"), F.col("community").alias("cd")), "dst")
    )
    return (
        j.groupBy(
            F.least("cs", "cd").alias("src"), F.greatest("cs", "cd").alias("dst")
        )
        .agg(
            (F.sum("wmic") / 1_000_000).cast("double").alias("weight"),
            F.count("*").alias("n_edges"),
        )
    )


def contract_graph_sql(edges_sql: str, assignment_sql: str) -> str:
    """DuckDB twin of ``contract_graph`` (same integer-micro weight
    sums; assumes the edge SQL exposes a weight column — pass a
    SELECT adding ``1.0 AS weight`` otherwise)."""
    return f"""
WITH e AS ({edges_sql}),
a AS ({assignment_sql}),
j AS (
  SELECT LEAST(s.community, d.community) AS src,
         GREATEST(s.community, d.community) AS dst,
         CAST(ROUND(COALESCE(e.weight, 1.0) * 1000000, 0) AS BIGINT) AS wmic
  FROM e JOIN a s ON s.id = e.src JOIN a d ON d.id = e.dst)
SELECT src, dst, CAST(CAST(SUM(wmic) AS BIGINT) / 1000000 AS DOUBLE) AS weight,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM j GROUP BY src, dst
"""

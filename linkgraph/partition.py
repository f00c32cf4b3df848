"""Balanced edge-cut graph partitioning — capacity-constrained label
propagation (Spinner / restreaming partitioning family).

Engine extension beyond the reference procedure list (SURVEY.md §2 is
100% covered elsewhere): balanced k-way partitioning is the operator a
1000-executor deployment actually runs FIRST — assigning the link
graph's vertices to k near-equal buckets with few cross-bucket edges
so that downstream supersteps (PageRank/WCC/LPA shuffles) become
mostly bucket-local. The scheme follows the public
label-propagation-partitioning line (Ugander & Backstrom WSDM'13
"Balanced label propagation"; Martella et al. "Spinner" ICDE'17;
Nishimura & Ugander KDD'13 restreaming) with one deliberate change:
instead of Spinner's probabilistic move dampening, admission into a
partition is a DETERMINISTIC highest-gain-first ranking against the
partition's remaining headroom — reproducible run-to-run and exactly
replayable in SQL (``balanced_partition_sql``).

Per synchronous round:

1. ``load(q)``   — current size of every partition (one k-row agg);
2. each node counts neighbors per partition (one join + agg — the LPA
   shuffle shape) and proposes its best strict improvement: the
   partition q maximizing neighbor count (ties: smaller q) with
   ``cnt(q) > cnt(current)``;
3. proposals into q are ranked by (gain DESC, id ASC) and only the
   top ``headroom(q) = max(capacity - load(q), 0)`` are admitted.

``capacity = (n*(100+slack_pct) + 100k - 1) div (100k)`` (integer
ceil). The hash init is balanced to ±O(√n), and the admission rule
keeps every load <= capacity invariantly: inflow(q) <= capacity -
load(q) while outflow only frees space. All scores are integers —
bit-exact in Spark, DuckDB and Python. A round with zero admitted
moves is a fixpoint (identical state ⇒ identical proposals forever),
so the engine may stop early while a longer-unrolled SQL twin stays
value-identical (extra rounds are idempotent).

Scale notes (100TB): the per-round cost is ONE adjacency join + one
(node, part) aggregation — LPA's shuffle shape, with the state joined
on the PINNED ``node`` key (sym is symmetric, so collecting and
scattering votes are the same sums — the orientation that reuses the
layout contributes zero big-table exchanges per round), and the same
hub answer: ``hub_cap="auto"`` (linkgraph/skew.py) routes hub-keyed
adjacency through a round-robin + broadcast-state path, bit-identical
results.
The admission ranking windows ONLY the movers (strict-improvement
proposals, a shrinking set) partitioned k ways; k is small (≈ the
executor count), and if a single round ever proposes O(n) movers into
one partition the window sort for that task is O(movers log movers) —
bound it by capping proposals per round (take the top-m by gain per
partition map-side first) before raising k. State between rounds is
one narrow (id, part) frame, pinned and released pairwise.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linkgraph.checkpoint import pin_table, release_state
from linkgraph.coloring import _sym
from linkgraph.pipeline.hashing import stable_hash64, stable_hash64_sql
from linkgraph.skew import HubSplit, pin_split
from linkgraph.triangles import _undirected_simple


@dataclass
class PartitionResult:
    assignment: DataFrame  # (id, part)
    rounds: int
    capacity: int
    stats: dict = field(default_factory=dict)
    _caches: list = field(default_factory=list, repr=False)

    def release(self) -> None:
        for c in self._caches:
            release_state(c)
        self._caches = []


def balanced_partition(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 5,
    slack_pct: int = 10,
    seed: int = 0,
    weighted: bool = False,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
    hub_cap: int | str | None = None,
) -> PartitionResult:
    """Capacity-constrained LPA partitioning (see module docstring).
    Deterministic; replayed value-exact by ``balanced_partition_sql``.
    Returns per-node (id, part) plus edge-cut / balance stats.

    ``weighted=True`` scores proposals by 6-decimal fixed-point EDGE
    WEIGHT mass instead of neighbor counts (w6 = round(w*1e6) int64
    sums — exact; parallel pairs deduped to the MIN weight, the MST
    convention) — the right gain on co-occurrence-count graphs.

    Round-granular durable resume (the engine-wide SuperstepLoop
    contract): the durable state is the (id, part) assignment,
    guarded by the graph fingerprint and (k, slack_pct, seed) — a
    killed-then-resumed run equals an uninterrupted one exactly
    (rounds are a pure function of the previous assignment).

    hub_cap: power-law skew split for the per-round vote census
    (linkgraph/skew.py; contract as ``label_propagation(hub_cap=...)``,
    keyed on ``node`` — the pinned layout concentrates a hub's whole
    adjacency in one task). Bit-identical assignment on/off/forced."""
    import json as _json

    from linkgraph.checkpoint import SuperstepLoop
    from linkgraph.kcore import _check_resume_fp

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if rounds < 0 or slack_pct < 0:
        raise ValueError(
            f"rounds and slack_pct must be >= 0, got {rounds}, {slack_pct}"
        )
    t0 = time.time()
    spark = edges.sparkSession
    sym = pin_split(_wsym(edges, weighted), "node", hub_cap)
    sym_rows = sym.rows()
    # fingerprint over ALL the symmetric rows — XOR is order-free, so
    # it is independent of whether/where the hub split lands
    fp = (
        int(sym_rows.agg(F.expr("bit_xor(xxhash64(node, nbr, w6))").alias("fp"))
            .first()["fp"] or 0)
        if checkpoint_dir else None
    )
    nodes = sym_rows.select(F.col("node").alias("id")).distinct()
    params = {"k": k, "slack_pct": slack_pct, "seed": seed,
              "weighted": weighted}
    loop = SuperstepLoop(
        spark, checkpoint_dir, every=checkpoint_every, name="bpart",
        max_steps=rounds, context={"graph_fp": fp, "params": params},
    )
    caches = [sym.cold, sym.hot]
    start = 0
    state = None
    movers_hist: list[int] = []
    if resume and checkpoint_dir:
        resumed = loop.resume()
        if resumed is not None:
            _check_resume_fp(
                "balanced_partition", loop.last_context.get("graph_fp"), fp
            )
            rec = loop.last_context.get("params")
            if rec is not None and rec != params:
                raise ValueError(
                    "balanced_partition resume mismatch: parameters differ "
                    f"({rec!r} != {params!r})."
                )
            start, state = resumed
            movers_hist = _json.loads(
                loop.last_metrics.get("movers_json", "[]")
            )
    if state is None:
        state = loop.advance(
            0,
            nodes.select(
                "id",
                F.pmod(
                    stable_hash64(F.col("id").cast("string"), salt=f"bp-{seed}"),
                    F.lit(k),
                ).cast("long").alias("part"),
            ),
            force_checkpoint=bool(checkpoint_dir),
            metrics={"movers_json": _json.dumps(movers_hist)},
        )
    n = state.count()
    cap = (n * (100 + slack_pct) + 100 * k - 1) // (100 * k)
    done = rounds
    for t in range(start + 1, rounds + 1):
        admitted = pin_table(_round_moves(sym, state, cap))
        n_moved = admitted.count()
        movers_hist.append(n_moved)
        if n_moved == 0:
            release_state(admitted)
            done = t - 1
            break
        state = loop.advance(
            t,
            state.join(admitted.select("id"), "id", "left_anti")
            .unionByName(admitted),
            metrics={"movers_json": _json.dumps(movers_hist)},
        )
        release_state(admitted)
    caches.append(state)
    asg = state.select("id", "part")
    a = asg.select(F.col("id").alias("a"), F.col("part").alias("pa"))
    b = asg.select(F.col("id").alias("b"), F.col("part").alias("pb"))
    und = _undirected_simple(edges)
    cut_row = (
        und.join(a, "a").join(b, "b")
        .agg(
            F.count("*").alias("m"),
            F.sum((F.col("pa") != F.col("pb")).cast("long")).alias("cut"),
        )
        .first()
    )
    loads_final = {r["part"]: r["load"] for r in
                   state.groupBy("part").agg(F.count("*").alias("load"))
                   .collect()}
    return PartitionResult(
        assignment=asg,
        rounds=done,
        capacity=cap,
        stats={
            "n_nodes": n,
            "edge_cut": (cut_row["cut"] or 0) / max(cut_row["m"], 1),
            "loads": loads_final,
            "balance": max(loads_final.values()) / (n / k) if loads_final else 0.0,
            "movers_per_round": movers_hist,
            "hub_split": sym.n_hubs,
            "wall_s": round(time.time() - t0, 3),
        },
        _caches=caches,
    )


def _wsym(edges: DataFrame, weighted: bool) -> DataFrame:
    """Symmetric adjacency with an integer vote mass column ``w6``:
    1 per edge (count mode) or round(min-deduped weight * 1e6)
    (weighted mode)."""
    if not weighted:
        return _sym(edges).withColumn("w6", F.lit(1).cast("long"))
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            F.coalesce(F.col("weight"), F.lit(1.0)).alias("w"),
        )
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
        .select("a", "b",
                F.round(F.col("w") * 1_000_000, 0).cast("long").alias("w6"))
    )
    return und.select(F.col("a").alias("node"), F.col("b").alias("nbr"),
                      "w6").unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w6")
    )


def _round_moves(sym: HubSplit, state: DataFrame, cap: int) -> DataFrame:
    """One round's admitted moves (pre-pin) — the production kernel,
    exposed for plan assertions (tests/test_plans.py).

    The vote census joins the state on the PINNED ``node`` key and
    groups by ``nbr`` — ``sym`` is symmetric (w6 included), so
    "collect my neighbors' parts" and "scatter my part to my
    neighbors" are the same integer sums, and the orientation that
    reuses the pre-partitioned layout wins: the big table contributes
    ZERO exchanges per round instead of a fresh nbr-keyed shuffle
    (asserted in tests/test_plans.py). ``sym`` is pinned on ``node``
    by ``pin_split``; its hub split (linkgraph/skew.py) spreads a
    hub's whole adjacency, which otherwise sits in one task of the
    pinned layout — votes are bit-identical either way."""
    loads = state.groupBy("part").agg(F.count("*").alias("load"))
    node_state = state.select(F.col("id").alias("node"),
                              F.col("part").alias("npart"))
    nbrp = (
        sym.join(node_state)
        .groupBy(F.col("nbr").alias("node"), "npart")
        .agg(F.sum("w6").alias("cnt"))
    )
    cur = state.select(F.col("id").alias("node"), F.col("part").alias("cpart"))
    cnt0 = (
        cur.join(
            nbrp.select("node", F.col("npart").alias("cpart"),
                        F.col("cnt").alias("c0")),
            ["node", "cpart"], "left",
        )
        .select("node", "cpart", F.coalesce("c0", F.lit(0)).alias("c0"))
    )
    cand = (
        nbrp.join(cnt0, "node")
        .filter((F.col("npart") != F.col("cpart"))
                & (F.col("cnt") > F.col("c0")))
    )
    w_best = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("npart").asc()
    )
    best = (
        cand.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("node", "npart", (F.col("cnt") - F.col("c0")).alias("gain"))
    )
    w_adm = Window.partitionBy("npart").orderBy(
        F.col("gain").desc(), F.col("node").asc()
    )
    return (
        best.join(loads.select(F.col("part").alias("npart"), "load"), "npart")
        .withColumn("rk", F.row_number().over(w_adm))
        .filter(F.col("rk") <= F.greatest(F.lit(cap) - F.col("load"),
                                          F.lit(0)))
        .select(F.col("node").alias("id"), F.col("npart").alias("part"))
    )


def balanced_partition_sql(
    edges_sql: str,
    k: int = 4,
    rounds: int = 5,
    slack_pct: int = 10,
    seed: int = 0,
    weighted: bool = False,
) -> str:
    """Oracle: the partitioning rounds unrolled into DuckDB SQL — the
    same integer scores, argmax and admission ranking (``weighted``
    switches to the same w6 fixed-point vote mass as the engine)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = stable_hash64_sql("CAST(node AS VARCHAR)", salt=f"bp-{seed}")
    if weighted:
        und = """und AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
  CAST(ROUND(MIN(COALESCE(weight, 1.0)) * 1000000, 0) AS BIGINT) AS w6
  FROM e WHERE src <> dst GROUP BY 1, 2)"""
    else:
        und = """und AS (SELECT a, b, CAST(1 AS BIGINT) AS w6 FROM (
  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM e WHERE src <> dst))"""
    parts = [
        f"WITH e AS ({edges_sql})",
        und,
        """sym AS (SELECT a AS node, b AS nbr, w6 FROM und
  UNION ALL SELECT b AS node, a AS nbr, w6 FROM und)""",
        f"""a0 AS (SELECT node AS id, CAST({h} % {k} AS BIGINT) AS part
  FROM (SELECT DISTINCT node FROM sym))""",
        f"""cap AS (SELECT (COUNT(*) * {100 + slack_pct} + {100 * k} - 1)
  // {100 * k} AS c FROM a0)""",
    ]
    for t in range(1, rounds + 1):
        p = t - 1
        parts.append(
            f"""mv{t} AS MATERIALIZED (
  WITH loads AS (SELECT part, COUNT(*) AS load FROM a{p} GROUP BY part),
  nbrp AS (SELECT s.node, m.part AS npart, SUM(s.w6) AS cnt
           FROM sym s JOIN a{p} m ON m.id = s.nbr
           GROUP BY s.node, m.part),
  cnt0 AS (SELECT c.id AS node, c.part AS cpart,
                  COALESCE(np.cnt, 0) AS c0
           FROM a{p} c LEFT JOIN nbrp np
             ON np.node = c.id AND np.npart = c.part),
  best AS (SELECT node, npart, cnt - c0 AS gain,
                  ROW_NUMBER() OVER (PARTITION BY node
                    ORDER BY cnt DESC, npart ASC) AS rn
           FROM nbrp JOIN cnt0 USING (node)
           WHERE npart <> cpart AND cnt > c0)
  SELECT b.node AS id, b.npart AS part
  FROM (SELECT node, npart, gain,
               ROW_NUMBER() OVER (PARTITION BY npart
                 ORDER BY gain DESC, node ASC) AS rk
        FROM best WHERE rn = 1) b
  JOIN loads l ON l.part = b.npart
  WHERE b.rk <= GREATEST((SELECT c FROM cap) - l.load, 0))"""
        )
        parts.append(
            f"""a{t} AS MATERIALIZED (
  SELECT id, part FROM a{p} WHERE id NOT IN (SELECT id FROM mv{t})
  UNION ALL SELECT id, part FROM mv{t})"""
        )
    return ",\n".join(parts) + f"\nSELECT id, part FROM a{rounds}"


def edge_partition_dbh(edges: DataFrame, k: int = 4, seed: int = 0) -> DataFrame:
    """Degree-based-hashing VERTEX-CUT edge partitioning (DBH, Xie et
    al. NeurIPS'14; the PowerGraph/GraphX placement family — public
    results): each edge goes to ``hash(lower-degree endpoint) % k``,
    so a power-law hub's edges spread over the partitions its (low-
    degree) neighbors hash to, while low-degree vertices stay whole.
    The complement of ``balanced_partition``: that one cuts EDGES
    (node assignment), this one cuts VERTICES (edge assignment) — on
    heavy-tailed link graphs vertex cuts give asymptotically lower
    replication (the PowerGraph argument).

    Deterministic and integer-exact: degrees from one census; ties on
    equal degree break toward the smaller endpoint id; the hash is the
    cross-engine md5 (``stable_hash64``). Returns
    (src, dst, part) for the canonical undirected simple edges;
    replayed by ``edge_partition_dbh_sql``. Compose with
    ``edge_replication_stats`` for the replication factor.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    und = _undirected_simple(edges)
    deg = (
        und.select(F.col("a").alias("id")).unionByName(
            und.select(F.col("b").alias("id")))
        .groupBy("id").agg(F.count("*").alias("d"))
    )
    j = (
        und.join(deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
    )
    anchor = F.when(
        (F.col("da") < F.col("db"))
        | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
        F.col("a"),
    ).otherwise(F.col("b"))
    return j.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.pmod(
            stable_hash64(anchor.cast("string"), salt=f"dbh-{seed}"),
            F.lit(k),
        ).cast("long").alias("part"),
    )


def edge_replication_stats(assigned: DataFrame) -> DataFrame:
    """Replication factor of an edge partitioning: one row
    (n_vertices, n_replicas, replication_factor) where a vertex is
    replicated once per distinct partition its edges land in — the
    vertex-cut cost metric (PowerGraph §4)."""
    reps = (
        assigned.select(F.col("src").alias("id"), "part")
        .unionByName(assigned.select(F.col("dst").alias("id"), "part"))
        .distinct()
    )
    return reps.agg(
        F.countDistinct("id").alias("n_vertices"),
        F.count("*").alias("n_replicas"),
    ).select(
        "n_vertices", "n_replicas",
        F.round(F.col("n_replicas") / F.col("n_vertices"), 6)
        .alias("replication_factor"),
    )


def edge_partition_dbh_sql(edges_sql: str, k: int = 4, seed: int = 0) -> str:
    """Oracle: the same degree census, anchor pick and hash."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = stable_hash64_sql("CAST(anchor AS VARCHAR)", salt=f"dbh-{seed}")
    return f"""
WITH e AS ({edges_sql}),
und AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e WHERE src <> dst),
deg AS (SELECT id, COUNT(*) AS d FROM (
          SELECT a AS id FROM und UNION ALL SELECT b AS id FROM und)
        GROUP BY id),
j AS (SELECT u.a, u.b,
             CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
                  THEN u.a ELSE u.b END AS anchor
      FROM und u JOIN deg da ON da.id = u.a JOIN deg db ON db.id = u.b)
SELECT a AS src, b AS dst, CAST({h} % {k} AS BIGINT) AS part FROM j
"""

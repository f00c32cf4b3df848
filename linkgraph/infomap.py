"""InfoMap community detection — two-level map equation, local moves.

Reference parity: ``algo.infoMap`` (SURVEY.md §2 anchor; pub:
mknblch/neo4j-graph-algorithms InfoMap.java — the repo's flow-based
community procedure, after Rosvall & Bergstrom, "Maps of random walks
on complex networks reveal community structure", PNAS 2008). The
reference runs sequential node sweeps over an in-memory graph; this
engine runs SYNCHRONIZED sweeps (all movable nodes rescore at once —
the only shape a distributed engine can shuffle), with the same
parity-gating trick as ``louvain_local_move`` to break two-coloring
oscillation.

Objective (undirected, degree-proportional visit rates, no teleport):
with ``two_m = Σ_α d_α``, module visit mass ``sd_M = Σ_{α∈M} d_α``,
module exit weight ``cut_M`` (edge weight leaving M) and total exit
``Q = Σ_M cut_M``, the two-level map equation in nats is

    L = plp(Q) − 2·Σ_M plp(cut_M) + Σ_M plp(cut_M + sd_M) − Σ_α plp(d_α)

where ``plp(X) = (X/two_m)·ln(X/two_m)`` and ``plp(0) = 0``. The last
term is partition-independent, so local moves score only the first
three.

Cross-engine exactness (the DuckDB twin is VALUE-exact): every
quantity that feeds a float op is an INTEGER (d, e_iM, cut_M, sd_M,
Q — unit edge weights), each division is one IEEE op on exactly
representable integers, and every ``ln`` is ``ROUND(LN(x), 7)`` (Java
and libm ln differ by 1 ulp on ~7% of inputs; rounding to 7 collapses
that — the perplexity operator's measured result). The move score
ΔL(B) is a FIXED expression tree over those terms, built from ONE SQL
string (`_delta_expr`) that both Spark (`F.expr`) and DuckDB parse —
identical tree, identical doubles, so the (ΔL ASC, cand ASC) argmin
needs no further rounding.

Moving node i (degree d, current module A with e_a internal edges,
candidate B with e_b edges from i):

    cut_A' = cut_A − d + 2·e_a      sd_A' = sd_A − d
    cut_B' = cut_B + d − 2·e_b      sd_B' = sd_B + d
    Q'     = Q + 2·(e_a − e_b)

    ΔL(B) = plp(Q') − plp(Q)
          − 2·(plp(cut_A') − plp(cut_A)) − 2·(plp(cut_B') − plp(cut_B))
          + (plp(cut_A'+sd_A') − plp(cut_A+sd_A))
          + (plp(cut_B'+sd_B') − plp(cut_B+sd_B))

and ΔL(A) ≡ 0 (stay). Nodes take the minimum; negative means the
description length shrinks.

Scale notes (100TB): per round = the neighbor-module vote aggregate,
two |modules|-row aggregates (sd, cut), and a broadcast 1-row Q — the
same shuffle count as the Louvain sweep (one wide vote shuffle
dominates; module tables are tiny and broadcast by AQE). On
uncontracted power-law graphs set ``hub_cap="auto"`` — both per-edge
probes of a round (the cut census and the candidate vote) route
hub-keyed rows through LPA's validated broadcast-state split
(linkgraph/skew.py), bit-identical results either way.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.checkpoint import attach_caches, pin_table, release_state
from linkgraph.community import _degrees, _und_long
from linkgraph.pipeline.hashing import stable_hash64, stable_hash64_sql
from linkgraph.skew import HubSplit, pin_split

_SWEEPS = {"sync": 1, "alternate": 2, "hash": 4}  # -> early-stop streak

__all__ = [
    "InfomapResult",
    "infomap",
    "infomap_local_move",
    "infomap_sql",
    "map_equation",
]


@dataclass
class InfomapResult:
    assignment: DataFrame  # (id: long, module: long)
    rounds_run: int
    codelength: float  # full two-level L (nats) of the final partition
    stats: dict = field(default_factory=dict)
    _caches: list = field(default_factory=list, repr=False)

    def release(self) -> None:
        for c in self._caches:
            release_state(c)
        self._caches = []


def _plp(x: str, two_m: int | str) -> str:
    """plp(X) = (X/2m)·round(ln(X/2m), 7) as engine-shared SQL text.
    ``two_m`` may be a Python int (Spark side embeds the literal) or a
    column name (the oracle binds it from a scalar CTE) — the double
    division is the same IEEE op either way."""
    frac = f"(CAST({x} AS DOUBLE) / CAST({two_m} AS DOUBLE))"
    return f"(CASE WHEN {x} > 0 THEN {frac} * ROUND(LN({frac}), 7) ELSE 0.0 END)"


def _delta_expr(two_m: int | str) -> str:
    """ΔL(cand) over columns (c, cand, d, dx, e_a, e_b, cut_a, cut_b,
    sd_a, sd_b, q_tot) — ONE string parsed by both engines. ``d`` is
    the FULL weighted degree (loops ×2 — the visit mass that moves
    with the node); ``dx`` the EXTERNAL degree (loops excluded — the
    only mass that can cross a module boundary). Loop-free graphs
    have dx = d; the contracted levels of ``infomap`` don't."""
    p = lambda x: _plp(x, two_m)  # noqa: E731
    cut_a2 = "(cut_a - dx + 2 * e_a)"
    cut_b2 = "(cut_b + dx - 2 * e_b)"
    return (
        "CASE WHEN cand = c THEN 0.0 ELSE "
        f"{p('(q_tot + 2 * (e_a - e_b))')} - {p('q_tot')}"
        f" - 2 * ({p(cut_a2)} - {p('cut_a')})"
        f" - 2 * ({p(cut_b2)} - {p('cut_b')})"
        f" + ({p(f'({cut_a2} + sd_a - d)')} - {p('(cut_a + sd_a)')})"
        f" + ({p(f'({cut_b2} + sd_b + d)')} - {p('(cut_b + sd_b)')})"
        " END"
    )


def _module_tables(
    sym: HubSplit, deg: DataFrame, state: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(sd per module, cut per module, 1-row Q total) — all integers.
    ``cut`` is left-joined from the module list so a module whose
    members have only self-loops (possible on contracted levels)
    still carries cut = 0 instead of vanishing.

    The cut is computed through the per-node neighbor-module mass
    (node, cn, e) and a small join on ``id`` — NOT a second per-edge
    join with the node-side state: the nbr-side probe is the only
    edge-sized join, so the hub split of ``sym`` (linkgraph/skew.py)
    covers ALL the per-edge skew here, and the follow-up join fans at
    most #modules-per-node rows per node. Identical integer algebra
    either way (sum of w over cross-module edges grouped by the
    node-side module)."""
    sd = (
        state.join(deg, "id")
        .groupBy(F.col("c").alias("m"))
        .agg(F.sum("d").cast("long").alias("sd"))
    )
    nbr_state = state.select(F.col("id").alias("nbr"), F.col("c").alias("cn"))
    nbrm = (
        sym.join(nbr_state)
        .groupBy(F.col("node").alias("id"), "cn")
        .agg(F.sum("w").cast("long").alias("e"))
    )
    cut_raw = (
        nbrm.join(state, "id")
        .groupBy(F.col("c").alias("m"))
        .agg(
            F.sum(F.when(F.col("cn") != F.col("c"), F.col("e")).otherwise(0))
            .cast("long")
            .alias("cut")
        )
    )
    cut = sd.select("m").join(cut_raw, "m", "left").select(
        "m", F.coalesce("cut", F.lit(0)).cast("long").alias("cut")
    )
    q = cut.agg(F.sum("cut").cast("long").alias("q_tot"))
    return sd, cut, q


def _movable(round_no: int, sweep: str):
    """Movability predicate over column ``id`` for round ``round_no``,
    or None (everyone moves). ``alternate``: id parity flips per round.
    ``hash``: md5-derived parity keyed by (id, round) — round-varying
    membership breaks the pair-swap cycles id-parity cannot (two
    same-parity nodes oscillating between each other's modules stay
    jointly movable forever under ``alternate``; under ``hash`` some
    round freezes exactly one of them, letting the other settle).
    Cross-engine exact: the same 60-bit md5 hash both engines compute
    (pipeline/hashing.py)."""
    if sweep == "sync":
        return None
    if sweep == "alternate":
        return F.pmod(F.col("id"), F.lit(2)) == F.lit(round_no % 2)
    return (
        F.pmod(stable_hash64(F.col("id").cast("string"), salt=round_no), F.lit(2))
        == F.lit(1)
    )


def _movable_sql(round_no: int, sweep: str, id_expr: str) -> str:
    if sweep == "alternate":
        return f"{id_expr} % 2 = {round_no % 2}"
    h = stable_hash64_sql(f"CAST({id_expr} AS VARCHAR)", salt=round_no)
    return f"{h} % 2 = 1"


def _infomap_round(
    sym: HubSplit,
    deg: DataFrame,
    degx: DataFrame,
    state: DataFrame,
    two_m: int,
    movable=None,
) -> DataFrame:
    """One synchronized map-equation sweep (see module docstring).
    Mirrors ``community._local_move_round``'s candidate machinery;
    only the score differs. ``deg``: (id, d) full weighted degree,
    ``degx``: (id, dx) external (loop-free) degree. ``sym``'s hub
    split serves BOTH per-edge probes of the round — the module cut
    census and the candidate vote (linkgraph/skew.py; bit-identical
    either way)."""
    sd, cut, q = _module_tables(sym, deg, state)
    nbr_state = state.select(F.col("id").alias("nbr"), F.col("c").alias("cand"))
    nbrc = (
        sym.join(nbr_state)
        .groupBy(F.col("node").alias("id"), "cand")
        .agg(F.sum("w").cast("long").alias("e"))
    )
    frozen = None
    movers = state
    if movable is not None:
        frozen = state.filter(~movable)
        nbrc = nbrc.filter(movable)
        movers = state.filter(movable)
    cand = (
        nbrc.unionByName(
            movers.select(
                "id", F.col("c").alias("cand"), F.lit(0).cast("long").alias("e")
            )
        )
        .groupBy("id", "cand")
        .agg(F.sum("e").cast("long").alias("e"))
    )
    # e toward the CURRENT module (the union-0 row guarantees presence)
    e_cur = (
        cand.join(movers, "id")
        .filter(F.col("cand") == F.col("c"))
        .select("id", F.col("e").alias("e_a"))
    )
    scored = (
        cand.withColumnRenamed("e", "e_b")
        .join(movers, "id")  # adds current module c
        .join(deg, "id")
        .join(degx, "id")
        .join(e_cur, "id")
        .join(sd.select(F.col("m").alias("c"), F.col("sd").alias("sd_a")), "c")
        .join(cut.select(F.col("m").alias("c"), F.col("cut").alias("cut_a")), "c")
        .join(sd.select(F.col("m").alias("cand"), F.col("sd").alias("sd_b")), "cand")
        .join(cut.select(F.col("m").alias("cand"), F.col("cut").alias("cut_b")), "cand")
        .crossJoin(F.broadcast(q))
        .select("id", "cand", "c", F.expr(_delta_expr(two_m)).alias("delta"))
    )
    # stay-preference tie-break: zero-gain moves churn isomorphic
    # partitions forever on symmetric graphs — on equal ΔL keep c
    moved = scored.groupBy("id").agg(
        F.min_by(
            "cand",
            F.struct(
                F.col("delta"),
                (F.col("cand") != F.col("c")).cast("int").alias("mv"),
                F.col("cand"),
            ),
        ).alias("c")
    )
    return moved if frozen is None else moved.unionByName(frozen)


def infomap_local_move(
    edges: DataFrame,
    rounds: int = 4,
    assignment: DataFrame | None = None,
    sweep: str = "hash",
    hub_cap: int | str | None = None,
) -> InfomapResult:
    """``rounds`` synchronized map-equation sweeps from singletons (or
    ``assignment`` (id, module)). Deterministic and exactly replayable
    by ``infomap_sql``. ``sweep``: "sync" moves everyone (oscillates on
    symmetric graphs — simplest oracle target), "alternate" id-parity
    gates, "hash" (default) md5-round-keyed gates (see ``_movable``).
    Early-stops after a no-move streak (1/2/4 rounds respectively —
    hash gating is probabilistic coverage, so it waits longer).
    hub_cap: power-law skew split for the per-round per-edge probes
    (linkgraph/skew.py, contract as ``label_propagation(hub_cap=...)``)
    — bit-identical modules with the split on/off/forced."""
    if sweep not in _SWEEPS:
        raise ValueError(f"bad sweep {sweep}")
    t0 = time.time()
    und = pin_table(_und_long(edges))
    state, ran, two_m, sym, deg = _run_sweep(
        und, None, rounds, sweep, assignment, hub_cap=hub_cap
    )
    codelength = _codelength(sym, deg, state, two_m)
    n_modules = state.select("c").distinct().count()
    # the inputs are consumed; only the final state backs the (lazy)
    # assignment — same hygiene as louvain_local_move
    sym.release()
    release_state(und)
    release_state(deg)
    result = attach_caches(state.select("id", F.col("c").alias("module")), [state])
    return InfomapResult(
        assignment=result,
        rounds_run=ran,
        codelength=codelength,
        stats={
            "two_m": two_m,
            "n_modules": n_modules,
            "hub_split": sym.n_hubs,
            "wall_sec": time.time() - t0,
        },
        _caches=[state],
    )


def _run_sweep(
    und: DataFrame,
    loops: DataFrame | None,
    rounds: int,
    sweep: str,
    assignment: DataFrame | None = None,
    hub_cap: int | str | None = None,
):
    """Sweep to (early-stopped) fixpoint over a pinned (a,b,w) simple
    view + optional (id,w) loops. Returns (state pinned, rounds_run,
    two_m, sym, deg pinned) — ``sym`` is the ``pin_split`` HubSplit
    of the symmetric pairs; caller releases sym/deg/state.
    hub_cap: power-law skew split for the per-round per-edge probes
    (linkgraph/skew.py, same contract as label_propagation)."""
    raw = und.select(F.col("a").alias("node"), F.col("b").alias("nbr"), "w").unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
    )
    sym = pin_split(raw, "nbr", hub_cap)
    deg = pin_table(_degrees(und, loops))
    two_m = 2 * int(und.agg(F.sum("w")).first()[0] or 0)
    if loops is not None:
        two_m += 2 * int(loops.agg(F.sum("w")).first()[0] or 0)
        ext = _degrees(und, None).withColumnRenamed("d", "dx")
        degx = pin_table(
            deg.select("id")
            .join(ext, "id", "left")
            .select("id", F.coalesce("dx", F.lit(0)).cast("long").alias("dx"))
        )
    else:
        degx = deg.select("id", F.col("d").alias("dx"))
    if assignment is None:
        state = deg.select("id", F.col("id").alias("c"))
    else:
        state = (
            deg.select("id")
            .join(
                assignment.select("id", F.col("module").cast("long").alias("c")),
                "id",
                "left",
            )
            .select("id", F.coalesce("c", F.col("id")).alias("c"))
        )
    state = pin_table(state)
    ran = 0
    zero_streak = 0
    for r in range(1, rounds + 1):
        new_state = pin_table(
            _infomap_round(sym, deg, degx, state, two_m, _movable(r, sweep))
        )
        n_moved = (
            new_state.alias("new")
            .join(state.alias("old"), "id")
            .filter(F.col("new.c") != F.col("old.c"))
            .count()
        )
        release_state(state)
        state = new_state
        ran = r
        if n_moved == 0:
            zero_streak += 1
            if zero_streak >= _SWEEPS[sweep]:
                break
        else:
            zero_streak = 0
    if loops is not None:
        release_state(degx)
    return state, ran, two_m, sym, deg


def infomap(
    edges: DataFrame,
    max_levels: int = 3,
    rounds_per_level: int = 8,
    sweep: str = "hash",
    hub_cap: int | str | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 1,
    resume: bool = False,
) -> InfomapResult:
    """Full multilevel InfoMap (the reference procedure's shape):
    sweep to fixpoint, contract each module into a super-node
    (cross-module weights sum; intra mass + prior loops become
    self-loops — weights stay BIGINT at every level, so the sweep
    algebra is as deterministic as level 1), repeat. Every level's
    refined mapping is scored EXACTLY on the ORIGINAL graph and only
    kept if the true two-level codelength improves — the same
    best-cut guard as ``louvain`` (joint synchronized moves are
    individually, not jointly, safe). Returns the original-node
    assignment of the best-scoring level.

    Level-granular durable resume (the engine-wide SuperstepLoop
    contract, the affinity/MST kind-frame pattern): ONE durable frame
    carries the contracted edges (kind 'e'), contracted self-loops
    (kind 'l') and the original→module mapping (kind 'm'); best_l /
    levels / rounds_run ride in the manifest metrics. ``resume=True``
    re-enters at the first unfinished level, guarded by the original-
    graph fingerprint plus sweep/rounds_per_level validation — a
    killed-then-resumed run equals an uninterrupted one exactly (the
    per-level sweep is deterministic, so replaying an interrupted
    level reproduces it)."""
    import json as _json

    from linkgraph.checkpoint import SuperstepLoop
    from linkgraph.kcore import _check_resume_fp

    if sweep not in _SWEEPS:
        raise ValueError(f"bad sweep {sweep}")
    t0 = time.time()
    spark = edges.sparkSession
    und0 = pin_table(_und_long(edges))
    # unsplit: the original-graph census runs once per level
    sym0 = HubSplit(pin_table(
        und0.select(F.col("a").alias("node"), F.col("b").alias("nbr"), "w")
        .unionByName(
            und0.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
        )
    ), "nbr")
    deg0 = pin_table(_degrees(und0, None))
    two_m0 = 2 * int(und0.agg(F.sum("w")).first()[0] or 0)
    fp = (
        int(und0.agg(F.expr("bit_xor(xxhash64(a, b, w))").alias("fp"))
            .first()["fp"] or 0)
        if checkpoint_dir else None
    )
    loop = SuperstepLoop(
        spark, checkpoint_dir, every=checkpoint_every, name="infomap",
        max_steps=max_levels,
        context={"graph_fp": fp, "sweep": sweep,
                 "rounds_per_level": rounds_per_level},
    )

    def _kind_frame(e_df, l_df, m_df):
        rows = e_df.select(
            F.lit("e").alias("kind"), F.col("a").alias("x"),
            F.col("b").alias("y"), F.col("w").cast("long").alias("w"),
        ).unionByName(
            m_df.select(F.lit("m").alias("kind"), F.col("id").alias("x"),
                        F.col("c").alias("y"),
                        F.lit(None).cast("long").alias("w"))
        )
        if l_df is not None:
            rows = rows.unionByName(
                l_df.select(F.lit("l").alias("kind"), F.col("id").alias("x"),
                            F.lit(None).cast("long").alias("y"),
                            F.col("w").cast("long").alias("w"))
            )
        return rows

    start = 0
    mapping = None
    und = loops = None
    best_l = None
    levels = 0
    rounds_run = 0
    if resume and checkpoint_dir:
        resumed = loop.resume()
        if resumed is not None:
            _check_resume_fp("infomap", loop.last_context.get("graph_fp"), fp)
            rec_sweep = loop.last_context.get("sweep")
            rec_rpl = loop.last_context.get("rounds_per_level")
            if (rec_sweep is not None and rec_sweep != sweep) or (
                rec_rpl is not None and int(rec_rpl) != rounds_per_level
            ):
                raise ValueError(
                    f"infomap resume mismatch: checkpoint ran sweep={rec_sweep}, "
                    f"rounds_per_level={rec_rpl}; this call asked sweep={sweep}, "
                    f"rounds_per_level={rounds_per_level}. Rerun without resume "
                    "or with the original parameters."
                )
            start, st = resumed
            mapping = pin_table(
                st.filter(F.col("kind") == "m").select(
                    F.col("x").alias("id"), F.col("y").alias("c")
                )
            )
            und = pin_table(
                st.filter(F.col("kind") == "e").select(
                    F.col("x").alias("a"), F.col("y").alias("b"), "w"
                )
            )
            l_rows = st.filter(F.col("kind") == "l").select(
                F.col("x").alias("id"), "w"
            )
            loops = pin_table(l_rows) if not l_rows.isEmpty() else None
            m = _json.loads(loop.last_metrics.get("infomap_json", "{}"))
            best_l = m.get("best_l")
            levels = int(m.get("levels", start))
            rounds_run = int(m.get("rounds_run", 0))
    if mapping is None:
        mapping = pin_table(deg0.select("id", F.col("id").alias("c")))
        best_l = _codelength(sym0, deg0, mapping, two_m0)
        und, loops = und0, None
        if checkpoint_dir:
            ck0 = loop.advance(
                0, _kind_frame(und0, None, mapping), force_checkpoint=True,
                metrics={"infomap_json": _json.dumps(
                    {"best_l": best_l, "levels": 0, "rounds_run": 0}
                )},
            )
            release_state(ck0)  # durable parquet is the record we keep
    for lv in range(start + 1, max_levels + 1):
        state, ran, _, sym, deg = _run_sweep(
            und, loops, rounds_per_level, sweep, hub_cap=hub_cap
        )
        rounds_run += ran
        refined = pin_table(
            mapping.alias("m")
            .join(state.alias("s"), F.col("m.c") == F.col("s.id"))
            .select(F.col("m.id").alias("id"), F.col("s.c").alias("c"))
        )
        l_ref = _codelength(sym0, deg0, refined, two_m0)
        n_modules = state.select("c").distinct().count()
        n_nodes = state.count()
        sym.release()
        release_state(deg)
        if l_ref >= best_l - 1e-12:
            release_state(refined)
            release_state(state)
            break
        best_l = l_ref
        release_state(mapping)
        mapping = refined
        levels += 1
        if n_modules == n_nodes:
            release_state(state)
            break
        # contract: module graph with BIGINT weights
        sa = state.select(F.col("id").alias("a"), F.col("c").alias("ca"))
        sb = state.select(F.col("id").alias("b"), F.col("c").alias("cb"))
        e2 = und.join(sa, "a").join(sb, "b")
        und_next = pin_table(
            e2.filter(F.col("ca") != F.col("cb"))
            .groupBy(
                F.least("ca", "cb").alias("a"), F.greatest("ca", "cb").alias("b")
            )
            .agg(F.sum("w").cast("long").alias("w"))
        )
        intra = e2.filter(F.col("ca") == F.col("cb")).groupBy(
            F.col("ca").alias("id")
        ).agg(F.sum("w").cast("long").alias("w"))
        if loops is not None:
            prior = (
                loops.alias("l")
                .join(state.alias("s"), F.col("l.id") == F.col("s.id"))
                .groupBy(F.col("s.c").alias("id"))
                .agg(F.sum("l.w").cast("long").alias("w"))
            )
            intra = (
                intra.unionByName(prior)
                .groupBy("id")
                .agg(F.sum("w").cast("long").alias("w"))
            )
        loops_next = pin_table(intra)
        if loops is not None:
            release_state(loops)
        if und is not und0:
            release_state(und)
        und, loops = und_next, loops_next
        release_state(state)
        if checkpoint_dir:
            # durable level boundary: next level's graph + the refined
            # mapping + the scalar trackers (kind-frame pattern)
            ck = loop.advance(
                lv, _kind_frame(und, loops, mapping),
                metrics={"infomap_json": _json.dumps(
                    {"best_l": best_l, "levels": levels,
                     "rounds_run": rounds_run}
                )},
            )
            release_state(ck)  # durable parquet is the record we keep
    if und is not und0:
        release_state(und)
    if loops is not None:
        release_state(loops)
    n_final = mapping.select("c").distinct().count()
    loop.close()
    sym0.release()
    release_state(und0)
    release_state(deg0)
    result = attach_caches(
        mapping.select("id", F.col("c").alias("module")), [mapping]
    )
    return InfomapResult(
        assignment=result,
        rounds_run=rounds_run,
        codelength=best_l,
        stats={
            "two_m": two_m0,
            "levels": levels,
            "n_modules": n_final,
            "wall_sec": time.time() - t0,
        },
        _caches=[mapping],
    )


def _codelength(
    sym: HubSplit, deg: DataFrame, state: DataFrame, two_m: int,
) -> float:
    """Full two-level L (nats) including the constant Σ plp(d) term.
    Reported for monotonicity tests — NOT oracle-compared (the Σ over
    modules is an order-free sum of doubles only up to fp-association;
    the per-move deltas the oracle replays are fixed trees instead)."""
    if two_m == 0:
        return 0.0
    sd, cut, q = _module_tables(sym, deg, state)
    mod = sd.join(cut, "m").selectExpr(
        f"SUM(-2 * {_plp('cut', two_m)} + {_plp('(cut + sd)', two_m)}) AS s"
    )
    qv = int(q.first()["q_tot"] or 0)
    import math

    def plp(x: int) -> float:
        return (x / two_m) * round(math.log(x / two_m), 7) if x > 0 else 0.0

    node_term = deg.selectExpr(f"SUM({_plp('d', two_m)}) AS s").first()["s"] or 0.0
    mod_term = mod.first()["s"] or 0.0
    return plp(qv) + mod_term - node_term


def map_equation(edges: DataFrame, assignment: DataFrame) -> float:
    """Standalone two-level map equation (nats) of an (id, module)
    assignment over the undirected simple view of ``edges``."""
    und = _und_long(edges)
    sym = und.select(F.col("a").alias("node"), F.col("b").alias("nbr"), "w").unionByName(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"), "w")
    )
    deg = _degrees(und, None)
    two_m = 2 * int(und.agg(F.sum("w")).first()[0] or 0)
    state = deg.select("id").join(
        assignment.select("id", F.col("module").cast("long").alias("c")), "id", "left"
    ).select("id", F.coalesce("c", F.col("id")).alias("c"))
    return _codelength(HubSplit(sym, "nbr"), deg, state, two_m)


def infomap_sql(edges_sql: str, rounds: int, sweep: str = "sync") -> str:
    """Oracle: the sweep unrolled ``rounds`` times. The ΔL expression
    is THE SAME string `_delta_expr` the Spark path parses — identical
    IEEE tree. NOTE: no early-stop — callers must pass a ``rounds``
    the Spark run actually executed (fixpoint-stopped runs replay
    fine because a no-move round is idempotent in the unroll too)."""
    if sweep not in _SWEEPS:
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
    # the Spark side embeds two_m as a literal; here it rides as the
    # m2 scalar column — identical double value, identical tree
    for t in range(1, rounds + 1):
        p = t - 1
        gate = gate_cur = gate_frozen = ""
        if sweep != "sync":
            gate = f" WHERE {_movable_sql(t, sweep, 's.node')}"
            gate_cur = f" WHERE {_movable_sql(t, sweep, 'id')}"
            gate_frozen = f"NOT ({_movable_sql(t, sweep, 'id')})"
        parts.append(
            f"""cand{t} AS MATERIALIZED (
  SELECT id, cand, SUM(e) AS e FROM (
    SELECT s.node AS id, st.c AS cand, COUNT(*) AS e
    FROM sym s JOIN s{p} st ON st.id = s.nbr{gate} GROUP BY s.node, st.c
    UNION ALL SELECT id, c AS cand, 0 AS e FROM s{p}{gate_cur}
  ) GROUP BY id, cand)"""
        )
        parts.append(
            f"""sd{t} AS MATERIALIZED (SELECT st.c AS m, SUM(deg.d) AS sd
  FROM s{p} st JOIN deg ON deg.id = st.id GROUP BY st.c)"""
        )
        parts.append(
            f"""cut{t} AS MATERIALIZED (
  SELECT sd{t}.m, coalesce(cr.cut, 0) AS cut FROM sd{t} LEFT JOIN (
    SELECT sa.c AS m, SUM(CASE WHEN sb.c <> sa.c THEN 1 ELSE 0 END) AS cut
    FROM sym s JOIN s{p} sa ON sa.id = s.node JOIN s{p} sb ON sb.id = s.nbr
    GROUP BY sa.c) cr ON cr.m = sd{t}.m)"""
        )
        parts.append(f"q{t} AS (SELECT SUM(cut) AS q_tot FROM cut{t})")
        parts.append(
            f"""sc{t} AS (SELECT b.id, b.cand, b.c,
  {_delta_expr('two_m')} AS delta
  FROM (SELECT cand{t}.id, cand{t}.cand, cand{t}.e AS e_b, s{p}.c, deg.d,
               deg.d AS dx,
               ec.e_a, sda.sd AS sd_a, cta.cut AS cut_a,
               sdb.sd AS sd_b, ctb.cut AS cut_b, q{t}.q_tot, m2.two_m
        FROM cand{t}
        JOIN s{p} ON s{p}.id = cand{t}.id
        JOIN deg ON deg.id = cand{t}.id
        JOIN (SELECT c2.id, c2.e AS e_a FROM cand{t} c2
              JOIN s{p} s2 ON s2.id = c2.id AND s2.c = c2.cand) ec
          ON ec.id = cand{t}.id
        JOIN sd{t} sda ON sda.m = s{p}.c
        JOIN cut{t} cta ON cta.m = s{p}.c
        JOIN sd{t} sdb ON sdb.m = cand{t}.cand
        JOIN cut{t} ctb ON ctb.m = cand{t}.cand
        CROSS JOIN q{t} CROSS JOIN m2) b)"""
        )
        moved = f"""SELECT id, cand AS c FROM (
  SELECT id, cand,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY delta ASC,
           CASE WHEN cand = c THEN 0 ELSE 1 END ASC, cand ASC) AS rk
  FROM sc{t}) WHERE rk = 1"""
        if sweep != "sync":
            moved += f"\n  UNION ALL SELECT id, c FROM s{p} WHERE {gate_frozen}"
        parts.append(f"s{t} AS MATERIALIZED ({moved})")
    return ",\n".join(parts) + f"\nSELECT id, c AS module FROM s{rounds}"

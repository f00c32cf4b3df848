"""Balanced partitioning: capacity invariant, assignment totality,
fixpoint idempotence, clique separation, and the DuckDB twin."""

import random

import pytest

from linkgraph.partition import balanced_partition, balanced_partition_sql


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b), 1.0) for a, b in pairs], "src long, dst long, weight double"
    )


def _values_sql(pairs):
    rows = ", ".join(f"({a}, {b}, 1.0)" for a, b in pairs)
    return f"SELECT * FROM (VALUES {rows}) AS t(src, dst, weight)"


def _two_cliques():
    c1 = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    c2 = [(i + 10, j + 10) for i in range(6) for j in range(i + 1, 6)]
    return c1 + c2 + [(0, 10)]


def test_totality_capacity_and_clique_separation(spark):
    res = balanced_partition(_edges(spark, _two_cliques()), k=2, rounds=6, seed=1)
    rows = res.assignment.collect()
    asg = {r["id"]: r["part"] for r in rows}
    res.release()
    assert len(asg) == 12 and len(rows) == 12
    assert all(0 <= p < 2 for p in asg.values())
    assert max(res.stats["loads"].values()) <= res.capacity
    # the single bridge is the only cut edge once the cliques settle
    assert len({asg[i] for i in range(6)}) == 1
    assert len({asg[i + 10] for i in range(6)}) == 1
    assert res.stats["edge_cut"] == pytest.approx(1 / 31)  # only the bridge


def test_fixpoint_idempotent(spark):
    e = _edges(spark, _two_cliques())
    r1 = balanced_partition(e, k=2, rounds=6, seed=1)
    r2 = balanced_partition(e, k=2, rounds=12, seed=1)
    a1 = sorted(map(tuple, r1.assignment.collect()))
    a2 = sorted(map(tuple, r2.assignment.collect()))
    r1.release()
    r2.release()
    assert a1 == a2
    assert r1.stats["movers_per_round"][-1] == 0 or r1.rounds == 6


def test_duckdb_twin(spark):
    import duckdb

    rng = random.Random(41)
    pairs = [(a, b) for a, b in
             {(rng.randrange(30), rng.randrange(30)) for _ in range(120)} if a != b]
    res = balanced_partition(_edges(spark, pairs), k=3, rounds=4, seed=5)
    got = sorted(map(tuple, res.assignment.collect()))
    res.release()
    # unroll MORE rounds than the engine ran — idempotent past fixpoint
    want = sorted(map(tuple, duckdb.connect().execute(
        balanced_partition_sql(_values_sql(pairs), k=3, rounds=4, seed=5)
    ).fetchall()))
    assert got == want


def test_loads_never_exceed_capacity_random(spark):
    rng = random.Random(43)
    pairs = [(a, b) for a, b in
             {(rng.randrange(40), rng.randrange(40)) for _ in range(160)} if a != b]
    res = balanced_partition(_edges(spark, pairs), k=4, rounds=5, seed=2,
                             slack_pct=5)
    loads = res.stats["loads"]
    res.release()
    assert sum(loads.values()) == res.stats["n_nodes"]
    assert max(loads.values()) <= res.capacity


def test_bad_params(spark):
    e = _edges(spark, [(0, 1)])
    with pytest.raises(ValueError):
        balanced_partition(e, k=1)
    with pytest.raises(ValueError):
        balanced_partition(e, rounds=-1)
    with pytest.raises(ValueError):
        balanced_partition_sql("SELECT 1", k=0)


def test_resume_equals_uninterrupted(spark, tmp_path):
    rng = random.Random(61)
    pairs = [(a, b) for a, b in
             {(rng.randrange(26), rng.randrange(26)) for _ in range(100)} if a != b]
    e = _edges(spark, pairs)
    full = balanced_partition(e, k=3, rounds=5, seed=7)
    want = sorted(map(tuple, full.assignment.collect()))
    want_movers = full.stats["movers_per_round"]
    full.release()
    ckpt = str(tmp_path / "bp")
    part = balanced_partition(e, k=3, rounds=2, seed=7,
                              checkpoint_dir=ckpt, checkpoint_every=1)
    part.assignment.count()
    part.release()
    res = balanced_partition(e, k=3, rounds=5, seed=7,
                             checkpoint_dir=ckpt, checkpoint_every=1,
                             resume=True)
    got = sorted(map(tuple, res.assignment.collect()))
    got_movers = res.stats["movers_per_round"]
    res.release()
    assert got == want
    assert got_movers == want_movers


def test_resume_rejects_changed_graph_or_params(spark, tmp_path):
    e = _edges(spark, _two_cliques())
    ckpt = str(tmp_path / "bp2")
    r = balanced_partition(e, k=2, rounds=2, seed=1, checkpoint_dir=ckpt)
    r.assignment.count()
    r.release()
    with pytest.raises(ValueError, match="resume mismatch"):
        balanced_partition(_edges(spark, _two_cliques() + [(1, 11)]), k=2,
                           rounds=3, seed=1, checkpoint_dir=ckpt, resume=True)
    with pytest.raises(ValueError, match="resume mismatch"):
        balanced_partition(e, k=2, rounds=3, seed=2, checkpoint_dir=ckpt,
                           resume=True)


def test_dbh_edge_partition_properties_and_twin(spark):
    import duckdb

    from linkgraph.partition import (
        edge_partition_dbh,
        edge_partition_dbh_sql,
        edge_replication_stats,
    )

    # star: every edge anchors on its leaf (deg 1 < center's 4), so
    # the center replicates across partitions while leaves stay whole
    star = [(0, i) for i in range(1, 9)]
    asg = edge_partition_dbh(_edges(spark, star), k=4, seed=1)
    rows = asg.collect()
    assert len(rows) == 8
    assert all(0 <= r["part"] < 4 for r in rows)
    stats = edge_replication_stats(asg).first()
    assert stats["n_vertices"] == 9
    # leaves contribute 1 replica each; center one per distinct part
    parts_used = len({r["part"] for r in rows})
    assert stats["n_replicas"] == 8 + parts_used

    rng = random.Random(103)
    pairs = [(a, b) for a, b in
             {(rng.randrange(25), rng.randrange(25)) for _ in range(90)} if a != b]
    got = sorted(map(tuple, edge_partition_dbh(_edges(spark, pairs), k=3,
                                               seed=7).collect()))
    want = sorted(map(tuple, duckdb.connect().execute(
        edge_partition_dbh_sql(_values_sql(pairs), k=3, seed=7)
    ).fetchall()))
    assert got == want
    with pytest.raises(ValueError):
        edge_partition_dbh(_edges(spark, pairs), k=0)


def test_weighted_voting_twin_and_divergence(spark):
    import duckdb

    # a node torn between 2 unweighted neighbors in part A and 1
    # heavy neighbor in part B: count mode keeps it with A, weighted
    # mode moves it to B
    rng = random.Random(107)
    triples = [
        (a, b, round(rng.uniform(0.5, 5.0), 2))
        for a, b in {(rng.randrange(22), rng.randrange(22)) for _ in range(80)}
        if a != b
    ]
    e = spark.createDataFrame(triples, "src long, dst long, weight double")
    rw = balanced_partition(e, k=3, rounds=4, seed=9, weighted=True)
    got = sorted(map(tuple, rw.assignment.collect()))
    rw.release()
    rows = ", ".join(f"({a}, {b}, {w})" for a, b, w in triples)
    vs = f"SELECT * FROM (VALUES {rows}) AS t(src, dst, weight)"
    want = sorted(map(tuple, duckdb.connect().execute(
        balanced_partition_sql(vs, k=3, rounds=4, seed=9, weighted=True)
    ).fetchall()))
    assert got == want
    rc = balanced_partition(e, k=3, rounds=4, seed=9, weighted=False)
    count_asg = sorted(map(tuple, rc.assignment.collect()))
    rc.release()
    assert count_asg != got  # weights genuinely change the outcome


def test_balanced_partition_hub_split_equals_plain(spark):
    """hub_cap routes hub-keyed adjacency through the broadcast-state
    path (linkgraph/skew.py); the integer vote census — and therefore
    every admitted move — is split-invariant. Star+ring fixture forces
    the hub hot; multi-round so split state feeds later censuses."""
    from linkgraph.partition import balanced_partition

    pairs = (
        [(0, i) for i in range(1, 41)]
        + [(i, i % 40 + 1) for i in range(1, 41)]
        + [(100, 101)]
    )
    e = spark.createDataFrame(pairs, "src long, dst long")
    plain = balanced_partition(e, k=3, rounds=3)
    base = {(r["id"], r["part"]) for r in plain.assignment.collect()}
    forced = balanced_partition(e, k=3, rounds=3, hub_cap=20)
    assert forced.stats["hub_split"] == 1
    assert {(r["id"], r["part"]) for r in forced.assignment.collect()} == base
    auto = balanced_partition(e, k=3, rounds=3, hub_cap="auto")
    assert {(r["id"], r["part"]) for r in auto.assignment.collect()} == base
    plain.release()
    forced.release()
    auto.release()


def test_balanced_partition_pinned_side_not_reexchanged(spark):
    """The vote census joins the state on the PINNED node key: the big
    pinned table must contribute zero Exchange nodes per round (its
    hashpartitioning survives the localCheckpoint), with the swap to
    groupBy(nbr) keeping votes identical by symmetry."""
    import re

    from pyspark.sql import functions as F

    from linkgraph.partition import _round_moves, _wsym
    from linkgraph.skew import pin_split

    e = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(200)], "src long, dst long"
    ).filter("src != dst")
    sym = pin_split(_wsym(e, weighted=False), "node", hub_cap=None)
    state = sym.cold.select(F.col("node").alias("id")).distinct().select(
        "id", (F.col("id") % 3).alias("part")
    )
    plan = (
        _round_moves(sym, state, cap=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # no exchange directly above the pinned columnar scan
    assert not re.search(
        r"Exchange hashpartitioning\(node#\d+L, \d+\)[^\n]*\n[^\n]*InMemoryTableScan",
        plan,
    ), plan
    sym.release()

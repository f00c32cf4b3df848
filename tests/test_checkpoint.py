"""Resumability: a run killed at superstep k and resumed from the
checkpoint manifest finishes equal to an uninterrupted run within
float round-off (<=1e-12 — parquet round-trips IEEE doubles exactly,
but the cross-partition merge order of partial sums is shuffle-fetch-
dependent, so the last ulp can differ). SURVEY.md §5.5; north_rule
"resumable from checkpoint with per-partition lineage + metrics"."""

import json
import os

import numpy as np

from linkgraph import edges_from_pairs, pagerank
from tests.fixtures import PAGERANK_WIKI_EDGES, PAGERANK_WIKI_ISOLATED


def test_pagerank_resume_bit_identical(spark, tmp_path):
    nodes, edges = edges_from_pairs(
        spark, PAGERANK_WIKI_EDGES, extra_keys=PAGERANK_WIKI_ISOLATED
    )
    full = pagerank(edges, nodes=nodes, damping=0.85, max_iter=12)
    want = {r["id"]: r["rank"] for r in full.scores.collect()}

    ckpt = str(tmp_path / "pr_ckpt")
    # "killed" run: stops after 6 supersteps, durable every 3
    pagerank(edges, nodes=nodes, damping=0.85, max_iter=6,
             checkpoint_dir=ckpt, checkpoint_every=3)
    manifest = os.path.join(ckpt, "pagerank_manifest.jsonl")
    assert os.path.exists(manifest)
    lines = [json.loads(l) for l in open(manifest) if l.strip()]
    assert lines, "manifest must have durable checkpoints"
    # per-partition lineage recorded
    assert all("partitions" in l and l["partitions"] for l in lines)

    # resumed run continues from the manifest to iteration 12
    res = pagerank(edges, nodes=nodes, damping=0.85, max_iter=12,
                   checkpoint_dir=ckpt, checkpoint_every=3, resume=True)
    got = {r["id"]: r["rank"] for r in res.scores.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert np.isclose(got[k], want[k], rtol=0, atol=1e-12), (k, got[k], want[k])


def test_manifest_metrics_recorded(spark, tmp_path):
    nodes, edges = edges_from_pairs(spark, PAGERANK_WIKI_EDGES)
    ckpt = str(tmp_path / "pr_tol")
    pagerank(edges, nodes=nodes, damping=0.85, max_iter=30, tol=1e-4,
             checkpoint_dir=ckpt, checkpoint_every=5)
    manifest = os.path.join(ckpt, "pagerank_manifest.jsonl")
    lines = [json.loads(l) for l in open(manifest) if l.strip()]
    deltas = [l["metrics"].get("linf_delta") for l in lines if "linf_delta" in l["metrics"]]
    assert deltas and deltas[-1] is not None


def test_resume_after_completion_no_duplicates(spark, tmp_path):
    """Re-invoking a completed >=2M-edge run with resume=True must not
    re-union static nodes (the '_final' manifest entry is skipped by
    resume()). Exercised at small scale by forcing the final-suffix
    checkpoint path directly."""
    from linkgraph.checkpoint import SuperstepLoop
    from pyspark.sql import functions as F

    loop = SuperstepLoop(spark, str(tmp_path / "ck"), every=1, name="pr")
    st = spark.range(5).select(F.col("id"), F.lit(0.15).alias("rank"))
    loop.advance(3, st, force_checkpoint=True)
    final = st.union(spark.range(5, 8).select("id", F.lit(0.15).alias("rank")))
    loop.advance(3, final, force_checkpoint=True, suffix="_final")
    loop.close()

    resumed = SuperstepLoop(spark, str(tmp_path / "ck"), every=1, name="pr").resume()
    assert resumed is not None
    it, df = resumed
    assert it == 3
    assert df.count() == 5  # iteration state, NOT the final union


def test_pin_table_durable_parquet(spark, tmp_path):
    """pin_table(path=...) pins through a parquet round-trip: the
    pinned plan is a FileScan (constant size, single storage), values
    are preserved exactly, and a LATER reader session-equivalent
    (fresh read of the same path) sees identical data — the
    resumability property localCheckpoint cannot give."""
    from linkgraph.checkpoint import pin_table, release_state

    src = spark.range(0, 1000).selectExpr(
        "id AS src", "(id * 7) % 100 AS dst", "CAST(id % 5 AS DOUBLE) AS weight"
    )
    path = str(tmp_path / "pinned_edges")
    pinned = pin_table(src, path=path)
    plan = pinned._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert "Scan ExistingRDD" not in plan
    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, src.collect()))
    # release is a safe no-op; the files survive and re-read identically
    release_state(pinned)
    again = spark.read.parquet(path)
    assert sorted(map(tuple, again.collect())) == sorted(map(tuple, src.collect()))


def test_manifest_context_round_trips(spark, tmp_path):
    """The loop context (e.g. dense-id num_buckets of a derived graph)
    is written into every manifest line and surfaced on resume — the
    contract that lets a resumed session rebuild the same id space."""
    import json

    from linkgraph.checkpoint import SuperstepLoop

    d = str(tmp_path / "ckpt")
    loop = SuperstepLoop(
        spark, checkpoint_dir=d, every=1, name="ctx", context={"num_buckets": 64}
    )
    st = spark.createDataFrame([(1, 0.5)], "id long, rank double")
    loop.advance(0, st, metrics={"delta": 1.0})
    with open(f"{d}/ctx_manifest.jsonl") as f:
        lines = [json.loads(l) for l in f if l.strip()]
    assert lines[-1]["context"] == {"num_buckets": 64}
    loop.close()

    loop2 = SuperstepLoop(spark, checkpoint_dir=d, name="ctx")
    it, state = loop2.resume()
    assert it == 0 and state.count() == 1
    assert loop2.last_context == {"num_buckets": 64}
    loop2.close()


def test_progress_logger_percent_surface(spark, caplog):
    """ProgressLogger (reference ProgressLogger analog): throttled
    percent lines through the linkgraph.progress channel + a readable
    fraction; SuperstepLoop ticks it when max_steps is known."""
    import logging

    from linkgraph.checkpoint import ProgressLogger, SuperstepLoop

    pl = ProgressLogger(task="unit", step_pct=10.0)
    with caplog.at_level(logging.INFO, logger="linkgraph.progress"):
        for i in range(101):
            pl.log_progress(i, 100)
    assert pl.fraction == 1.0
    msgs = [r.getMessage() for r in caplog.records]
    assert "unit 100%" in msgs
    assert 5 <= len(msgs) <= 15  # throttled, not 101 lines

    loop = SuperstepLoop(spark, name="pr", max_steps=4)
    st = spark.createDataFrame([(1, 1.0)], "id long, rank double")
    for it in range(1, 5):
        st = loop.advance(it, st)
    assert loop.progress.fraction == 1.0
    loop.close()


def test_wcc_resume_identical(spark, tmp_path):
    """Killed-at-k WCC resumed from the manifest equals the
    uninterrupted run exactly — the (id, comp, changed) frontier
    state round-trips through the durable parquet checkpoint."""
    from linkgraph import connected_components

    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(14)]
    _nodes, edges = edges_from_pairs(spark, chain + [("a", "b")])
    want = {
        (r["id"], r["comp"])
        for r in connected_components(edges).components.collect()
    }
    ckpt = str(tmp_path / "wcc_ckpt")
    # "killed" run: 4 of the ~14 rounds a 15-chain needs, durable every 2
    part = connected_components(
        edges, max_iter=4, checkpoint_dir=ckpt, checkpoint_every=2
    )
    assert part.iterations == 4
    res = connected_components(
        edges, max_iter=50, checkpoint_dir=ckpt, checkpoint_every=2, resume=True
    )
    got = {(r["id"], r["comp"]) for r in res.components.collect()}
    assert got == want
    # resumed run did NOT restart: it continued past superstep 4
    manifest = os.path.join(ckpt, "components_manifest.jsonl")
    lines = [json.loads(l) for l in open(manifest) if l.strip()]
    assert max(l["iteration"] for l in lines) > 4


def test_release_state_frees_components_result(spark):
    """``ComponentsResult.components`` is a column projection of the
    localCheckpointed loop state; release_state must look through the
    projection and free that state's blocks."""
    from linkgraph import connected_components
    from linkgraph.checkpoint import release_state

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (5, 5)], "src long, dst long"
    )
    before = persistent_ids()
    res = connected_components(edges)
    assert res.set_count == 3
    assert persistent_ids() - before, "the result state holds storage"
    assert release_state(res.components)
    assert persistent_ids() - before == set()


def test_lpa_resume_identical(spark, tmp_path):
    """Killed-at-k LPA resumed from the manifest equals the
    uninterrupted fixed-iteration run exactly (deterministic
    min-label tie-break)."""
    from linkgraph import label_propagation

    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("e", "f")]
    _nodes, edges = edges_from_pairs(spark, pairs)
    want = {
        (r["id"], r["label"])
        for r in label_propagation(edges, direction="BOTH", max_iter=4).labels.collect()
    }
    ckpt = str(tmp_path / "lpa_ckpt")
    label_propagation(
        edges, direction="BOTH", max_iter=2,
        checkpoint_dir=ckpt, checkpoint_every=1,
    )
    res = label_propagation(
        edges, direction="BOTH", max_iter=4,
        checkpoint_dir=ckpt, checkpoint_every=1, resume=True,
    )
    got = {(r["id"], r["label"]) for r in res.labels.collect()}
    assert got == want


def test_wcc_star_resume_identical(spark, tmp_path):
    """Star-CC (edge-set superstep state) resumes from its manifest
    and converges to the same components as an uninterrupted run."""
    from linkgraph import connected_components

    chain = [(f"s{i:02d}", f"s{i + 1:02d}") for i in range(20)]
    _nodes, edges = edges_from_pairs(spark, chain + [("p", "q")])
    want = {
        (r["id"], r["comp"])
        for r in connected_components(edges, algorithm="star").components.collect()
    }
    ckpt = str(tmp_path / "star_ckpt")
    connected_components(
        edges, algorithm="star", max_iter=2, checkpoint_dir=ckpt
    )
    res = connected_components(
        edges, algorithm="star", max_iter=50, checkpoint_dir=ckpt, resume=True
    )
    got = {(r["id"], r["comp"]) for r in res.components.collect()}
    assert got == want


def test_sssp_resume_identical(spark, tmp_path):
    """Killed-at-hop-k SSSP resumed from the manifest equals the
    uninterrupted run exactly — the (id, dist, improved) relaxation
    state round-trips through the durable parquet checkpoint."""
    from linkgraph import sssp

    chain = [(f"w{i:02d}", f"w{i + 1:02d}") for i in range(10)]
    _nodes, edges = edges_from_pairs(spark, chain)
    src = _nodes.filter("key = 'w00'").first()["id"]
    want = {
        (r["id"], r["dist"]) for r in sssp(edges, src).distances.collect()
    }
    ckpt = str(tmp_path / "sssp_ckpt")
    part = sssp(edges, src, max_hops=3, checkpoint_dir=ckpt, checkpoint_every=1)
    assert part.iterations == 3
    res = sssp(edges, src, checkpoint_dir=ckpt, checkpoint_every=1, resume=True)
    got = {(r["id"], r["dist"]) for r in res.distances.collect()}
    assert got == want


def test_delta_stepping_resume_identical(spark, tmp_path):
    """Delta-stepping killed after 2 settled buckets resumes at bucket
    2 (scalar control state from the manifest metrics) and matches the
    uninterrupted run exactly."""
    from linkgraph import sssp_delta_stepping

    chain = [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(9)]
    _nodes, edges = edges_from_pairs(spark, chain)
    src = _nodes.filter("key = 'd00'").first()["id"]
    want = {
        (r["id"], r["dist"])
        for r in sssp_delta_stepping(edges, src, delta=1.5).distances.collect()
    }
    ckpt = str(tmp_path / "delta_ckpt")
    sssp_delta_stepping(
        edges, src, delta=1.5, max_buckets=2,
        checkpoint_dir=ckpt, checkpoint_every=1,
    )
    res = sssp_delta_stepping(
        edges, src, delta=1.5, checkpoint_dir=ckpt, checkpoint_every=1,
        resume=True,
    )
    got = {(r["id"], r["dist"]) for r in res.distances.collect()}
    assert got == want


def test_betweenness_batched_equals_unbatched_and_resumes(spark, tmp_path):
    """Source-batched Brandes (hash batches, durable per-batch
    accumulation) equals the single-pass computation, and a run
    stopped after max_batches=1 resumes to the identical result."""
    from linkgraph.betweenness import betweenness_centrality

    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("b", "e"),
             ("e", "f"), ("c", "f"), ("g", "a")]
    _nodes, edges = edges_from_pairs(spark, pairs)
    want = {
        r["id"]: r["centrality"]
        for r in betweenness_centrality(edges, direction="BOTH").scores.collect()
    }
    batched = {
        r["id"]: r["centrality"]
        for r in betweenness_centrality(
            edges, direction="BOTH", batch_size=3
        ).scores.collect()
    }
    assert batched.keys() == want.keys()
    for k in want:
        assert np.isclose(batched[k], want[k], atol=1e-9), (k, batched[k], want[k])

    ckpt = str(tmp_path / "bc_ckpt")
    # incremental run: one batch now ...
    betweenness_centrality(
        edges, direction="BOTH", batch_size=3, max_batches=1,
        checkpoint_dir=ckpt,
    )
    # ... rest on resume
    res = betweenness_centrality(
        edges, direction="BOTH", batch_size=3, checkpoint_dir=ckpt, resume=True,
    )
    got = {r["id"]: r["centrality"] for r in res.scores.collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert np.isclose(got[k], want[k], atol=1e-9), (k, got[k], want[k])


def test_betweenness_resume_rejects_changed_batching(spark, tmp_path):
    """Resuming batched Brandes with a different batch_size (different
    n_batches) or a different sources set must raise — batches are
    sources hashed mod n_batches, so the accumulated per-batch sums
    would silently double-count or skip sources otherwise."""
    import pytest
    from pyspark.sql import functions as F
    from linkgraph.betweenness import betweenness_centrality

    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
    nodes, edges = edges_from_pairs(spark, pairs)
    ckpt = str(tmp_path / "bc_guard_ckpt")
    src_abc = nodes.filter(F.col("key") < "d").select("id")  # a, b, c
    src_def = nodes.filter(F.col("key") >= "d").select("id")  # d, e, f
    betweenness_centrality(
        edges, direction="BOTH", sources=src_abc, batch_size=2,
        max_batches=1, checkpoint_dir=ckpt,
    )
    with pytest.raises(ValueError, match="n_batches"):
        betweenness_centrality(
            edges, direction="BOTH", sources=src_abc, batch_size=3,
            checkpoint_dir=ckpt, resume=True,
        )
    # SAME n_batches (3 sources, batch_size=2 -> 2 batches) but a
    # DIFFERENT source set: only the fingerprint check can catch this
    with pytest.raises(ValueError, match="fingerprint"):
        betweenness_centrality(
            edges, direction="BOTH", sources=src_def, batch_size=2,
            checkpoint_dir=ckpt, resume=True,
        )


def test_delta_stepping_resume_rejects_changed_delta(spark, tmp_path):
    """Resuming delta-stepping with a different delta must raise — the
    settled bound start_k*delta would no longer match the checkpointed
    settled_below and distances would come out wrong."""
    import pytest
    from linkgraph import sssp_delta_stepping

    chain = [(f"g{i:02d}", f"g{i + 1:02d}") for i in range(8)]
    _nodes, edges = edges_from_pairs(spark, chain)
    src = _nodes.filter("key = 'g00'").first()["id"]
    ckpt = str(tmp_path / "delta_guard_ckpt")
    sssp_delta_stepping(
        edges, src, delta=1.5, max_buckets=2, checkpoint_dir=ckpt,
    )
    with pytest.raises(ValueError, match="delta"):
        sssp_delta_stepping(
            edges, src, delta=2.5, checkpoint_dir=ckpt, resume=True,
        )


def test_scc_resume_identical(spark, tmp_path):
    """SCC killed after 1 outer round (first pivot class assigned, the
    second cycle still active) resumes from the round-boundary manifest
    and matches the uninterrupted run exactly. local_threshold=0 forces
    the distributed rounds the checkpoint protects."""
    from linkgraph import strongly_connected_components

    # cycle A (small ids) -> bridge -> cycle B: round 1 colors all from
    # A's min id but only A's members reach it backward, so B needs a
    # second outer round
    pairs = [("a0", "a1"), ("a1", "a2"), ("a2", "a0"), ("a0", "b0"),
             ("b0", "b1"), ("b1", "b2"), ("b2", "b0")]
    _nodes, edges = edges_from_pairs(spark, pairs)
    want = {
        (r["id"], r["scc"])
        for r in strongly_connected_components(
            edges, local_threshold=0
        ).components.collect()
    }
    ckpt = str(tmp_path / "scc_ckpt")
    part = strongly_connected_components(
        edges, local_threshold=0, max_rounds=1, checkpoint_dir=ckpt,
    )
    assert part.rounds == 1  # stopped with cycle B still active
    res = strongly_connected_components(
        edges, local_threshold=0, checkpoint_dir=ckpt, resume=True,
    )
    got = {(r["id"], r["scc"]) for r in res.components.collect()}
    assert got == want


def test_mst_resume_identical(spark, tmp_path):
    """Borůvka MSF killed after 1 round resumes from the manifest
    (chosen edges + comp assignment round-trip through one durable
    frame) and matches the uninterrupted forest exactly."""
    from linkgraph import minimum_spanning_forest

    # 8-node chain with increasing weights + a separate 2-node piece:
    # Borůvka needs >= 2 rounds to connect the chain
    pairs = [(f"m{i}", f"m{i + 1}", 1.0 + i) for i in range(8)] + [
        ("p", "q", 0.5)
    ]
    _nodes, edges = edges_from_pairs(spark, pairs)
    full = minimum_spanning_forest(edges)
    want = {
        (r["src"], r["dst"], r["weight"]) for r in full.tree_edges.collect()
    }
    assert full.rounds > 1
    ckpt = str(tmp_path / "mst_ckpt")
    minimum_spanning_forest(edges, max_rounds=1, checkpoint_dir=ckpt)
    res = minimum_spanning_forest(edges, checkpoint_dir=ckpt, resume=True)
    got = {(r["src"], r["dst"], r["weight"]) for r in res.tree_edges.collect()}
    assert got == want
    assert res.total_weight == full.total_weight
    assert res.edge_count == full.edge_count


def test_kcore_resume_identical(spark, tmp_path):
    """k-core peel killed after 1 round resumes from the durable
    survivor frame and matches the uninterrupted core; resuming with a
    different k or graph raises."""
    import pytest as _pytest
    from linkgraph import k_core

    # triangle + pendant chain: k=2 peels the chain over 2 rounds
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    _nodes, edges = edges_from_pairs(spark, pairs)
    full = k_core(edges, k=2)
    want = {(r["id"], r["degree"]) for r in full.members.collect()}
    full.release()
    assert full.rounds == 3
    ckpt = str(tmp_path / "kcore_ckpt")
    k_core(edges, k=2, max_iter=1, checkpoint_dir=ckpt).release()
    res = k_core(edges, k=2, checkpoint_dir=ckpt, resume=True)
    got = {(r["id"], r["degree"]) for r in res.members.collect()}
    res.release()
    assert got == want
    with _pytest.raises(ValueError, match="k-specific"):
        k_core(edges, k=3, checkpoint_dir=ckpt, resume=True)
    _n2, other = edges_from_pairs(spark, [("x", "y"), ("y", "z"), ("x", "z")])
    with _pytest.raises(ValueError, match="fingerprint"):
        k_core(other, k=2, checkpoint_dir=ckpt, resume=True)


def test_coreness_resume_identical(spark, tmp_path):
    """h-index coreness killed after 1 round resumes from the durable
    (id, c) frame + recorded sum meter and matches uninterrupted."""
    from linkgraph import core_numbers

    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    _nodes, edges = edges_from_pairs(spark, pairs)
    full = core_numbers(edges)
    want = {(r["id"], r["coreness"]) for r in full.coreness.collect()}
    full.release()
    assert full.rounds > 1
    ckpt = str(tmp_path / "coreness_ckpt")
    core_numbers(edges, max_iter=1, checkpoint_dir=ckpt).release()
    res = core_numbers(edges, checkpoint_dir=ckpt, resume=True)
    got = {(r["id"], r["coreness"]) for r in res.coreness.collect()}
    res.release()
    assert got == want

"""Physical-plan assertions: Catalyst must push filters and prune
columns into the parquet scans, and the iterative engines must reuse
cached layouts (SURVEY.md §4 — 'verify with explain()')."""

import re

from pyspark.sql import functions as F

from linkgraph.graphs import purchase_edges

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_purchase_edges_column_pruning(spark):
    plan = _plan(purchase_edges(spark, SF_DIR))
    # orders scan must read exactly the join/select columns, never the
    # wide remainder (o_totalprice, o_comment, ...)
    m = re.search(r"ReadSchema: struct<([^>]*)>.*orders|orders.*ReadSchema: struct<([^>]*)>", plan)
    assert "o_comment" not in plan and "o_totalprice" not in plan
    assert "l_extendedprice" not in plan  # lineitem pruned too


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    plan = _plan(q)
    assert "PushedFilters" in plan and "IsNotNull(lang)" in plan
    assert re.search(r"PushedFilters:.*EqualTo\(lang,en\)", plan)
    # column pruning: text (the wide column) must not be read
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" not in m.group(1)


def test_partition_filter_on_synthetic_edges(spark):
    from linkgraph.synth import synth_edge_table
    e = synth_edge_table(spark, n_nodes=1 << 10, n_edges=1 << 12)
    plan = _plan(e.filter(F.col("src") < 10))
    # generated table: filter must be applied before any exchange
    assert "Exchange" not in plan  # pure map pipeline, no shuffle


def test_pagerank_iteration_has_single_exchange_on_big_side(spark):
    """The cached, pre-sorted edge table must not be re-sorted or
    re-shuffled inside the superstep; the only exchanges operate on
    the (small) rank state and aggregation output."""
    from linkgraph.ids import edges_from_pairs
    nodes, edges = edges_from_pairs(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    ep = (
        edges.join(deg, "src")
        .select("src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("share"))
        .repartition("src").sortWithinPartitions("src").persist()
    )
    ep.count()
    ranks = nodes.select("id", F.lit(0.15).alias("rank")).localCheckpoint(eager=True)
    step = (
        ep.join(ranks, ep.src == ranks.id)
        .select(ep.dst.alias("dst"), (F.col("rank") * F.col("share")).alias("c"))
        .groupBy("dst").agg(F.sum("c").alias("s"))
    )
    plan = _plan(step)
    # everything below InMemoryRelation ran ONCE at cache time; the
    # per-iteration cost is the region above the cached scan. There,
    # at most: one exchange for the aggregation (+ possibly one for a
    # non-broadcast rank side) — and never a re-shuffle of the edges.
    upstream = plan[: plan.index("InMemoryRelation")]
    assert upstream.count("Exchange hashpartitioning") <= 2, upstream
    ep.unpersist()


def test_near_dup_lsh_has_no_cartesian(spark):
    """The LSH production near-dup must never plan a cross join — the
    candidate space comes from the (band, bkey) equi-join only."""
    from linkgraph.pipeline import near_dup_pairs_lsh
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(near_dup_pairs_lsh(emb, threshold=0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triangle_hub_cap_plan_splits_pivots(spark):
    """With hub_cap, the plan contains the hub-path semi-joins but
    still no cartesian products."""
    from linkgraph.ids import edges_from_pairs
    from linkgraph import triangle_count
    nodes, edges = edges_from_pairs(
        spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    )
    res = triangle_count(edges, nodes=nodes, hub_cap=2)
    plan = _plan(res.triangles)
    assert "CartesianProduct" not in plan


def test_ms_relax_state_is_single_aggregate_per_round(spark):
    """One relax round of the batched multi-source state plans one
    aggregation exchange over (source, id) — no per-source fan-out."""
    from linkgraph.ids import edges_from_pairs
    nodes, edges = edges_from_pairs(spark, [("a", "b", 2.0), ("b", "c", 3.0)])
    e = edges.select("src", "dst", F.col("weight").alias("w")).repartition("src").persist()
    e.count()
    frontier = nodes.select(
        F.col("id").alias("source"), F.col("id").alias("id"), F.lit(0.0).alias("dist")
    ).localCheckpoint(eager=True)
    relaxed = (
        e.join(frontier, e.src == frontier.id)
        .select("source", e.dst.alias("id"), (F.col("dist") + F.col("w")).alias("nd"))
        .groupBy("source", "id").agg(F.min("nd").alias("nd"))
    )
    plan = _plan(relaxed)
    upstream = plan[: plan.index("InMemoryRelation")] if "InMemoryRelation" in plan else plan
    assert upstream.count("Exchange hashpartitioning") <= 2, upstream
    e.unpersist()


def test_advance_truncates_plan_every_superstep(spark):
    """Superstep state must be a LogicalRDD after EVERY advance (not
    just durable checkpoints): a persisted-but-untruncated chain
    re-analyzes an O(k)-deep plan at superstep k — the measured
    250s-for-10-supersteps driver blowup."""
    from linkgraph.checkpoint import SuperstepLoop

    loop = SuperstepLoop(spark, None, every=100, name="trunc_test")
    st = loop.advance(0, spark.range(10).select("id", F.lit(0.0).alias("v")),
                      force_checkpoint=True)
    for it in range(1, 5):
        st = loop.advance(it, st.select("id", (F.col("v") + 1).alias("v")))
        root = st._jdf.queryExecution().analyzed()
        # the state plan is a constant-size projection over a LogicalRDD
        kinds = {root.getClass().getSimpleName()}
        it_node = root
        while it_node.children().size() > 0:
            it_node = it_node.children().head()
            kinds.add(it_node.getClass().getSimpleName())
        assert "LogicalRDD" in kinds, kinds
    assert st.agg(F.sum("v")).first()[0] == 40.0
    loop.close()


def test_pin_table_preserves_join_layout(spark):
    """pin_table (localCheckpoint) must keep the pre-shuffled layout:
    joining a pinned repartition(src) table on src must not re-exchange
    the pinned side."""
    from linkgraph.checkpoint import pin_table, release_state

    e = spark.range(4096).select(
        (F.col("id") % 97).alias("src"), F.col("id").alias("dst")
    )
    pinned = pin_table(e.repartition("src").sortWithinPartitions("src"))
    state = spark.range(97).select(
        F.col("id").alias("src"), F.lit(1.0).alias("r")
    )
    j = pinned.join(state, "src").groupBy("src").agg(F.sum("r").alias("s"))
    j.write.format("noop").mode("overwrite").save()
    plan = _plan(j)
    # pinned = localCheckpoint (tiny plan) + persist (columnar): reads
    # must go through the COLUMNAR cache, and the pinned side must
    # contribute zero Exchange nodes (its hashpartitioning survives)
    assert "InMemoryTableScan" in plan, plan[:800]
    big_side_exchanged = re.search(
        r"Exchange hashpartitioning\(src#\d+L, \d+\)[^\n]*\n[^\n]*InMemoryTableScan", plan
    )
    assert not big_side_exchanged, plan
    # the logical plan under the cache is the checkpoint, not the
    # original derivation — constant size per superstep
    assert "Scan ExistingRDD" in plan, plan[:800]
    release_state(pinned)

def test_lsh_signature_is_jvm_side_codegen(spark):
    """lsh_signatures must be one generated JVM expression: no Python
    eval operators in the plan (the round-1 mapInPandas kernel is
    gone) and the projection stays inside whole-stage codegen — this
    is what makes ann_lsh_topk SQL-oracle-able AND keeps the
    signature pass a pure map over the scan at 100TB."""
    from linkgraph.pipeline.simsearch import lsh_signatures

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(lsh_signatures(emb, n_planes=11))
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.lstrip().startswith("*(")  # whole-stage-codegen Project
    assert "Exchange" not in plan  # pure map over the scan, no shuffle


def test_near_dup_lsh_single_scan_banding(spark):
    """Banded candidate generation must evaluate the Arrow signature
    kernel EXACTLY ONCE: the banded keys are persisted before the
    self-join, so both sides are InMemoryTableScans over one cached
    relation — under ANY join strategy (round-3 residual: AQE
    broadcast broke ReuseExchange and ran the corpus matmul once per
    side). The kernel may appear at most twice in the plan STRING
    (each cached scan prints the relation's definition), and never the
    bands-way union fan (round-2 defect: 32 bands x 2 sides = 64
    kernel instances)."""
    from linkgraph.pipeline import near_dup_pairs_lsh

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(near_dup_pairs_lsh(emb, threshold=0.4))
    # both self-join sides read the cache -> kernel computes once
    assert plan.count("InMemoryTableScan") >= 2, plan.count("InMemoryTableScan")
    assert plan.count("MapInPandas") <= 2, plan.count("MapInPandas")
    assert "Union" not in plan


def test_minhash_lsh_single_scan_banding(spark):
    """Band keys come from ONE explode over the signature aggregate
    (the simhash_pairs shape) — no union of per-band selects that
    would re-run the num_hashes-min aggregation once per band — and
    the banded keys are persisted, so the aggregate computes exactly
    once under any join strategy (both self-join sides are
    InMemoryTableScans)."""
    from linkgraph.pipeline import minhash_lsh_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, n=3, threshold=0.8))
    assert plan.count("InMemoryTableScan") >= 2, plan.count("InMemoryTableScan")
    assert "Union" not in plan


def test_kspanning_cut_is_take_ordered(spark):
    """The k-1 cut must be a TakeOrderedAndProject (top-k over the
    tree, no global Sort materialization — the 100TB-safe shape)."""
    from linkgraph import k_spanning_tree

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 2.0), (2, 3, 3.0), (3, 4, 4.0), (0, 4, 5.0)],
        "src long, dst long, weight double",
    )
    res = k_spanning_tree(edges, k=3, mode="kmin")
    plan = _plan(res.removed_edges)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_semantic_dedup_plan_shape(spark):
    """SemDeDup: the centroid side of the assignment join is
    BROADCAST (never shuffles the corpus against k rows), and the
    assigned member table is persisted so the assignment subtree
    (window argmax over the broadcast join) evaluates exactly once
    under any self-join strategy — both pair sides read the cache."""
    from linkgraph.pipeline import semantic_dedup_pairs

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(semantic_dedup_pairs(emb, n_clusters=8, threshold=0.4))
    assert plan.count("InMemoryTableScan") >= 2, plan.count("InMemoryTableScan")
    assert "BroadcastExchange" in plan
    assert "Union" not in plan


def test_stratified_sample_is_shuffle_free(spark):
    """The docstring claims 'rides the scan': the hash-threshold
    filter must compile to a pure map pipeline — no Exchange."""
    from linkgraph.pipeline import stratified_sample
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(stratified_sample(docs, {"en": 0.5}, default_rate=0.1, seed=7))
    assert "Exchange" not in plan
    # and the wide text column is pruned from the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" not in m.group(1)


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The benchmark gram table must be broadcast (it is a test set,
    not a corpus); the corpus side must not be broadcast."""
    from linkgraph.pipeline import decontaminate
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(decontaminate(docs, docs.filter("doc_id % 29 = 0"), n=8))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_exchange(spark):
    """One shuffle total: the per-shard window. The running sum must
    be a window over the same partitioning, not a second exchange."""
    from linkgraph.pipeline import pack_sequences
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(pack_sequences(docs, seq_len=64, n_shards=4, seed=7))
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges == 1, plan[:2000]


def test_coreness_round_cost_over_pinned_sym(spark):
    """Each h-index round: exactly TWO hash exchanges (state join +
    neighbor-value aggregation — the documented per-round cost); the
    symmetrized edge table is pinned (InMemory scan), never
    re-derived."""
    from linkgraph.checkpoint import pin_table
    from linkgraph.kcore import _h_index, _sym_simple
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0)],
        "src long, dst long, weight double")
    sym = pin_table(_sym_simple(e))
    c = pin_table(sym.groupBy("a").agg(F.count("*").cast("long").alias("c"))
                  .select(F.col("a").alias("id"), "c"))
    nbr = (sym.join(c.withColumnRenamed("id", "b"), "b")
           .groupBy("a")
           .agg(F.sort_array(F.collect_list("c"), asc=False).alias("vals"))
           .select(F.col("a").alias("id"), _h_index(F.col("vals")).alias("c")))
    plan = _plan(nbr)
    assert "InMemoryTableScan" in plan          # pinned inputs reused
    assert "FileScan" not in plan               # never re-derived
    # no Python evaluation anywhere in the round (h-index is Catalyst)
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # documented per-round cost: 2 hash exchanges, no more (AQE may
    # plan the tiny state side as a broadcast — count only hash ones)
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) <= 2


def test_source_mix_single_groupby_no_joins(spark):
    """quality + token count are inline per-row expressions; the only
    hash exchange is groupBy(source) — no doc_id re-joins."""
    from linkgraph.pipeline import source_mix
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(source_mix(docs))
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert "SortMergeJoin" not in plan
    # one corpus scan feeds the aggregation (the broadcast total is a
    # scalar over the grouped table, not a second corpus read)
    assert len(re.findall(r"FileScan parquet", plan)) == 1


def test_anf_round_is_maxagg_not_collect_list(spark):
    """HyperBall's scale property: the register merge must compile to
    m plain MAX aggregates (map-side combinable HashAggregate), never
    a collect_list of neighbor sketches (ObjectHashAggregate) — a hub
    then ships m longs, not its neighborhood."""
    from linkgraph.checkpoint import pin_table, release_state
    from linkgraph.anf import _init_sketch, _sym_self
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double")
    m = 16
    sym = pin_table(_sym_self(e))
    sk = pin_table(sym.select("a").distinct().select(F.col("a").alias("id"))
                   .select("id", _init_sketch(m, 4, 56, 0).alias("sk")))
    g = (sym.join(sk.withColumnRenamed("id", "b"), "b")
         .groupBy("a")
         .agg(*[F.max(F.element_at("sk", j + 1)).alias(f"r{j}") for j in range(m)]))
    plan = _plan(g)
    assert "ObjectHashAggregate" not in plan and "collect_list" not in plan
    assert "HashAggregate" in plan               # partial-agg map side
    assert "InMemoryTableScan" in plan           # pinned inputs reused
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    release_state(sym); release_state(sk)


def test_sessionize_single_exchange_and_sort(spark):
    """Both window functions (lag + running sum) share ONE user-key
    exchange and ONE sort — Catalyst must not re-shuffle between
    them, and session_stats' groupBy reuses the same partitioning."""
    import datetime as dt

    from linkgraph.pipeline.events import session_stats, sessionize

    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(i, i % 3, t0 + dt.timedelta(minutes=i), "view", 1.0)
         for i in range(30)],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    plan = _plan(sessionize(ev).select("event_id", "session_idx"))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # stats: the window exchange is the ONLY hash exchange; the
    # groupBy rides the same (user_id, ...) partitioning
    plan2 = _plan(session_stats(ev))
    assert plan2.count("Exchange hashpartitioning") == 1, plan2


def test_line_dedup_shuffles_hashes_not_text(spark):
    """The DF-count aggregation exchange must carry the 60-bit span
    hash, never the span text: no Exchange on a `line` column."""
    from linkgraph.pipeline.curate import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "a\nc")], "doc_id long, text string"
    )
    plan = _plan(line_dedup(docs))
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        keys = frag[: frag.index(")")]
        assert "line#" not in keys, plan


def test_induced_subgraph_is_pure_filter(spark):
    """Node-induced sampling must plan as a scan filter — no join, no
    exchange, no aggregation."""
    from linkgraph.graphs import induced_subgraph

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    plan = _plan(induced_subgraph(e, 0.5, seed=1))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_bm25_filters_terms_before_shuffle(spark):
    """The query-term IN filter must sit below the tf aggregation's
    exchange (map-side), so only matching tokens move."""
    from linkgraph.pipeline.text import bm25_search

    docs = spark.createDataFrame(
        [(1, "scan merge row"), (2, "scan scan")], "doc_id long, text string"
    )
    plan = _plan(bm25_search(docs, "scan merge", top_n=2))
    # the literal term array appears in a Filter, and TakeOrdered (not
    # a global Sort+Exchange) caps the result
    assert "Filter" in plan and "scan" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_similarity_no_cartesian(spark):
    """weighted_node_similarity is a co-feature self-join, never a
    crossJoin: no CartesianProduct / BroadcastNestedLoop anywhere
    (the 100 TB contract shared with node_similarity)."""
    from linkgraph.similarity import weighted_node_similarity

    e = spark.createDataFrame(
        [(1, 10, 2.0), (2, 10, 1.0), (2, 11, 3.0), (3, 11, 1.0)],
        "src long, dst long, weight double",
    )
    for metric in ("euclidean", "pearson"):
        plan = _plan(weighted_node_similarity(e, metric))
        assert "CartesianProduct" not in plan, metric
        if metric == "euclidean":
            # pearson legitimately broadcasts the 1-ROW global feature
            # count (a BroadcastNestedLoop over one row); euclidean has
            # no global term, so any nested loop there is a defect
            assert "BroadcastNestedLoop" not in plan, metric


def test_fastrp_iteration_is_partial_aggregated(spark):
    """FastRP's per-iteration message combine must be a hash aggregate
    with a map-side partial (hub-safe: a power-law dst never
    concentrates raw rows in one task) — same contract as the ANF
    round. And the only wide exchanges are the per-iteration
    hashpartitioning on the gather key."""
    from linkgraph.embeddings import fastrp_embeddings

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 1.0)],
        "src long, dst long, weight double",
    )
    plan = _plan(fastrp_embeddings(e, dim=4, iterations=2))
    assert "partial_sum" in plan.lower() or "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_degree_centrality_single_aggregate(spark):
    """degree_centrality is one map-side-combinable aggregate + the
    |V|-row universe join — no window, no extra shuffle stages."""
    from linkgraph.graphs import degree_centrality

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0)], "src long, dst long, weight double"
    )
    plan = _plan(degree_centrality(e, "BOTH", weighted=True))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_nodesim_lsh_single_aggregation_no_cartesian(spark):
    """The banded signature table is persisted before the self-join
    (both sides InMemoryTableScans — the 32-min aggregation runs once
    under any join strategy), band keys come from ONE explode (no
    per-band Union), and no Cartesian product appears anywhere."""
    from linkgraph.similarity import node_similarity_lsh

    e = purchase_edges(spark, SF_DIR)
    plan = _plan(
        node_similarity_lsh(e, direction="INCOMING", bands=16, min_similarity=0.2)
    )
    assert plan.count("InMemoryTableScan") >= 2
    assert "Union" not in plan
    assert "Cartesian" not in plan


def test_dup_spans_hash_only_shuffle(spark):
    """duplicate_spans shuffles window hashes, never window text: the
    occurrence-count exchange partitions on the 60-bit hash column and
    the window-text column is projected away before any exchange."""
    from linkgraph.pipeline.dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(duplicate_spans(docs, k=6))
    # every hashpartitioning key is either the hash or doc-side keys —
    # wtext must not appear as an exchange key
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", plan):
        assert "wtext" not in m.group(1), m.group(0)
    assert "Cartesian" not in plan


def test_jaccard_prefix_no_cartesian_and_hash_joins(spark):
    """The prefix filter's candidate generation must be an equi-join
    on the prefix shingle (never a cartesian), and the verification
    joins stay hash/sort-merge equi-joins."""
    from linkgraph.pipeline import jaccard_prefix_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(jaccard_prefix_pairs(docs, n=3, threshold=0.8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_propagate_features_round_is_partial_aggregated(spark):
    """The per-round neighbor combine must be a hash aggregate with a
    map-side partial over the dim int64 sums (hub-safe), with no
    Python anywhere in the plan."""
    from linkgraph.embeddings import propagate_features

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    f = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.0, 1.0]), (3, [2.0, 0.5])],
        "id long, features array<double>",
    )
    plan = _plan(propagate_features(e, f, dim=2, rounds=2))
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_bpe_round_stays_jvm_side(spark):
    """BPE's pair census and greedy fold must be whole-JVM: no
    row-at-a-time Python, no pandas kernels — and the pair census must
    partial-aggregate map-side before its shuffle."""
    from linkgraph.pipeline.text import _bpe_run

    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the bat")], "doc_id long, text string"
    )
    merges, state = _bpe_run(docs, 2)
    try:
        plan = _plan(state)
        assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
        adj = state.select(
            "cnt",
            F.explode(
                F.expr(
                    "zip_with(slice(syms, 1, greatest(size(syms)-1, 0)),"
                    " slice(syms, 2, greatest(size(syms)-1, 0)),"
                    " (x, y) -> struct(x AS lhs, y AS rhs))"
                )
            ).alias("p"),
        ).groupBy("p.lhs", "p.rhs").agg(F.sum("cnt").alias("c"))
        census_plan = _plan(adj)
        assert "partial" in census_plan.lower()
        assert "BatchEvalPython" not in census_plan
    finally:
        state.unpersist()


def test_kcenter_round_is_take_ordered(spark):
    """Each k-center argmax must be a distributed TakeOrdered (map-side
    partial top-1 heaps), never a global sort exchange; the distance
    update is a pure map over the cached state. Exercises the
    PRODUCTION helpers the operator loop calls (_kcenter_quantized /
    _kcenter_argmax), not a reconstruction."""
    from linkgraph.pipeline.simsearch import (
        _dist2_sql,
        _kcenter_argmax,
        _kcenter_quantized,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 0.5]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    q = _kcenter_quantized(emb, "vec_id", "embedding")
    qplan = _plan(q)
    assert "BatchEvalPython" not in qplan and "MapInPandas" not in qplan
    state = q.crossJoin(
        F.broadcast(q.limit(1).select(F.col("qv").alias("cqv")))
    ).select("id", "qv", F.expr(_dist2_sql("qv", "cqv", 2, "element_at")).alias("dmin"))
    plan = _plan(_kcenter_argmax(state))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_contract_and_assortativity_plan_shape(spark):
    """Contraction and attribute assortativity: equi-joins only (no
    cartesian/nested-loop on the data path) and map-side partial
    aggregation on the super-key / marginal groupBys. (Assortativity's
    final 1-row x 1-row crossJoin of two scalar aggregates is the
    broadcast-scalar pattern, not a data-path product.)"""
    from linkgraph.community import contract_graph
    from linkgraph.graphs import attr_assortativity

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (3, 1, 1.0)], "src long, dst long, weight double"
    )
    asg = spark.createDataFrame([(1, 10), (2, 10), (3, 20)], "id long, community long")
    plan = _plan(contract_graph(e, asg))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()
    lab = spark.createDataFrame([(1, 0), (2, 0), (3, 1)], "id long, label long")
    plan2 = _plan(attr_assortativity(e, lab))
    assert "partial" in plan2.lower()
    # the data-path label joins must be equi joins; the only permitted
    # nested-loop product is the final 1-row x 1-row scalar combine
    assert plan2.count("CartesianProduct") + plan2.count("BroadcastNestedLoopJoin") <= 1


def test_wl_sum_round_is_partial_aggregated_jvm_side(spark):
    """The WL order-free encoding must be a map-side-combinable
    aggregate (partial DECIMAL sum) with no collect_list buffer and no
    Python anywhere; exercises the production round kernel."""
    from linkgraph.wl import _sym, _wl_round

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    sym = _sym(e)
    state = sym.select(F.col("node").alias("id")).distinct().select(
        "id", F.lit(0).cast("long").alias("wl_color")
    )
    plan = _plan(_wl_round(sym, state, "sum", 0))
    assert "partial" in plan.lower()
    assert "collect_list" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # the sort path DOES buffer per node — that is its documented cost
    plan_sort = _plan(_wl_round(sym, state, "sort", 0))
    assert "collect_list" in plan_sort


def test_balanced_partition_round_shape(spark):
    """One partitioning round: equi-joins only, the vote census is
    partial-aggregated, and the admission window sorts MOVERS within
    hash-partitioned groups — never a global range sort of all
    nodes."""
    from linkgraph.partition import _round_moves, _wsym
    from linkgraph.skew import HubSplit

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0)],
        "src long, dst long, weight double",
    )
    sym = _wsym(e, weighted=False)
    state = sym.select(F.col("node").alias("id")).distinct().select(
        "id", (F.col("id") % 2).alias("part")
    )
    plan = _plan(_round_moves(HubSplit(sym, "node"), state, cap=3))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # both windows run inside hashpartitioning exchanges (node / npart),
    # so no global rangepartitioning sort appears anywhere
    assert "rangepartitioning" not in plan


def test_spectral_matvec_partial_aggregated(spark):
    """The Laplacian matvec gather must partial-aggregate the int64
    neighbor sums (map-side combine) and stay JVM-side."""
    from linkgraph.spectral import _matvec, _sym_deg

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0)], "src long, dst long, weight double"
    )
    sym, deg = _sym_deg(e)
    state = deg.select(F.col("node").alias("id"), "deg",
                       F.lit(1).cast("long").alias("x"))
    plan = _plan(_matvec(sym, state, c=4))
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_mmr_argmax_is_take_ordered(spark):
    """Each MMR round's winner pick must plan as a distributed
    TakeOrdered top-1, never a global sort exchange."""
    from linkgraph.pipeline.simsearch import _idot_lit, _qnorm_expr

    emb = spark.createDataFrame(
        [(i, [float(i + 1), 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    qn = emb.select(
        F.col("vec_id").alias("id"),
        F.expr(_qnorm_expr("embedding", 2, "element_at")).alias("qn"),
    )
    state = qn.select(
        "id", "qn",
        _idot_lit("qn", [1_000_000, 0], 2).alias("rel"),
        F.lit(0).cast("long").alias("smax"),
    )
    pick = (
        state.withColumn("score", F.lit(70) * F.col("rel") - F.lit(30) * F.col("smax"))
        .orderBy(F.desc("score"), F.asc("id")).limit(1)
    )
    plan = _plan(pick)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BatchEvalPython" not in plan


def test_classifier_gradient_single_scan_partial_agg(spark):
    """The classifier epoch is ONE map-combined aggregate over the
    feature frame: no shuffle of document rows, no Python, and the
    (narrow) document scan must not read the text column after
    feature extraction collapses into the scan projection."""
    from linkgraph.pipeline.classifier import _features, halfup_div_spark_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    feats = _features()
    base = docs.selectExpr(
        "doc_id", "CAST(lang = 'en' AS BIGINT) AS y",
        *[f"{e} AS x{i}" for i, e in enumerate(feats)],
    )
    g = base.agg(*[
        F.expr(f"SUM({halfup_div_spark_sql(f'1000 * x{i}', 10**9)})").alias(f"g{i}")
        for i in range(len(feats))
    ])
    plan = _plan(g)
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    # exactly the two exchanges of a global aggregate pipeline at most
    assert plan.count("Exchange") <= 1


def test_path_cooccurrence_prunes_content_and_equi_joins(spark):
    """The co-occurrence derivation reads ONLY (repo, path) from the
    catalog — the 100TB content column must be pruned out of the scan
    — and the pair self-join is an equi-join on (repo, dir)."""
    from linkgraph.ingest import path_cooccurrence_edges
    from linkgraph.synth import generate_source_table

    src = generate_source_table(spark, repos=2, files_per_repo=6, packages=2)
    plan = _plan(path_cooccurrence_edges(src))
    assert "CartesianProduct" not in plan
    # the fat content column may appear ONLY in the mapInPandas
    # generator's own output schema — any other occurrence means the
    # derivation dragged it into a downstream project/join
    for line in plan.splitlines():
        if "content" in line:
            assert "MapInPandas" in line, line
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("source").alias("repo"), F.concat_ws("/", "lang", "doc_id").alias("path")
    )
    plan2 = _plan(path_cooccurrence_edges(docs))
    assert "text" not in plan2  # wide column pruned from the parquet scan


def test_dbh_and_kmeans_parallel_plan_shape(spark):
    """DBH edge assignment: equi-joins + one partial-aggregated degree
    census, no Python, no cartesian. k-means‖ candidate selection: the
    coin filter is a pure map over the pinned state (no shuffle, no
    Python); the distance refresh broadcasts the tiny center table."""
    from linkgraph.partition import edge_partition_dbh

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0)],
        "src long, dst long, weight double",
    )
    plan = _plan(edge_partition_dbh(e, k=4))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan

    from linkgraph.pipeline.simsearch import _kcenter_quantized

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    q = _kcenter_quantized(emb, "vec_id", "embedding")
    state = q.select(
        "id", "qv",
        F.expr("element_at(qv, 1) * element_at(qv, 1)").alias("dmin"),
    )
    coin = state.filter(
        (F.expr("CAST(conv(substring(md5(CAST(id AS STRING)), 1, 15), 16, 10) AS DOUBLE)")
         / F.lit(float(1 << 60)))
        < (F.lit(4.0) * F.col("dmin").cast("double") / F.lit(1e9))
    )
    cplan = _plan(coin)
    assert "Exchange" not in cplan  # pure map filter, zero shuffle
    assert "BatchEvalPython" not in cplan


def test_distributed_rank_no_single_partition_exchange(spark):
    """distributed_rank must place the rank window inside the range
    buckets (partitionBy _rb) — the plan may contain NO SinglePartition
    exchange anywhere, the signature of an unpartitioned global
    window."""
    from linkgraph.ids import distributed_rank

    df = spark.range(200).select(
        F.col("id").alias("d"), (F.col("id") * 7 % 13).alias("h")
    )
    out = distributed_rank(df, [("h", "asc"), ("d", "asc")], name="rn")
    plan = _plan(out)
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()  # the order-preserving split
    from linkgraph.checkpoint import release_caches

    release_caches(out)


def test_no_unpartitioned_rank_windows_in_rank_operators():
    """The four operators the round-4 audit flagged for global
    ``Window.orderBy`` ranks (configuration_model, robustness_curve,
    link_prediction_auc, sgns_embeddings) must stay on the
    distributed_rank path — no unpartitioned window in their source."""
    import inspect

    from linkgraph.embeddings import sgns_embeddings
    from linkgraph.graphs import configuration_model, robustness_curve
    from linkgraph.similarity import link_prediction_auc

    from linkgraph.pipeline.simsearch import _stride_centroids
    from linkgraph.traversal import bfs_stream

    for fn in (configuration_model, robustness_curve,
               link_prediction_auc, sgns_embeddings,
               bfs_stream, _stride_centroids):
        src = inspect.getsource(fn)
        assert "Window.orderBy" not in src, fn.__name__
        assert "distributed_rank" in src, fn.__name__


def test_community_hub_split_hot_path_is_broadcast(spark):
    """With a hub split engaged, the Louvain round's vote census must
    close the hub neighborhoods via a BROADCAST join (map-side over
    the round-robin partitions) — no shuffle of the hot pair rows —
    while staying free of cartesian products."""
    from linkgraph.community import _local_move_round
    from linkgraph.skew import pin_split

    e = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 30)] + [(1, 2, 1.0), (3, 4, 1.0)],
        "src long, dst long, weight double",
    )
    raw = e.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr"),
        F.lit(1).cast("long").alias("w"),
    ).unionByName(
        e.select(F.col("dst").alias("node"), F.col("src").alias("nbr"),
                 F.lit(1).cast("long").alias("w"))
    )
    # forced cap: only the star center (nbr-degree 29) exceeds it
    sym = pin_split(raw, "nbr", hub_cap=10)
    assert list(sym.hub_ids) == [0]
    deg = raw.groupBy(F.col("node").alias("id")).agg(
        F.count("*").cast("long").alias("d")
    )
    state = deg.select("id", F.col("id").alias("c"))
    plan = _plan(_local_move_round(sym, deg, state, two_m=62))
    sym.release()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_hub_split_thresholds_live_only_in_skew():
    """Every per-round pair probe with a ``hub_cap`` goes through
    ``skew.pin_split``: no module re-derives the hub thresholds, the
    size-gated hub collect, or the hot/cold row filter."""
    import importlib
    import inspect

    for name in ("components", "labelprop", "community", "infomap", "partition"):
        src = inspect.getsource(importlib.import_module(f"linkgraph.{name}"))
        assert "pin_split(" in src, name
        for literal in (".limit(", ".isin(", "1024", "1025", "32.0",
                        "spark.sql.shuffle.partitions"):
            assert literal not in src, (name, literal)

"""Structured Streaming extension tests — availableNow triggers over
the static events table (deterministic batch-equivalent results)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from linkgraph.streaming import (
    run_available_now,
    sessionize,
    stream_source_edges,
    streaming_degree_counts,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    # stage the events table as a parquet dir the stream can read;
    # watermarks need TIMESTAMP (LTZ) — the source is TIMESTAMP_NTZ
    out = str(tmp_path / "events_in")
    (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .write.parquet(out)
    )
    return out


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def test_windowed_counts_match_batch(spark, events_stream_dir, tmp_path):
    stream = windowed_event_counts(_read_stream(spark, events_stream_dir))
    run_available_now(stream, "win_counts", str(tmp_path / "ckpt1"))
    got = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = spark.read.parquet(events_stream_dir)
    want = {
        (r["w"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    # watermark may hold back the last open window in availableNow mode
    assert len(got) >= len(want) - len({k[1] for k in want})
    for k, v in got.items():
        assert want[k] == v


def test_streaming_degrees(spark, events_stream_dir, tmp_path):
    # treat (user_id -> event_type hash) as an edge stream keyed by src
    stream = _read_stream(spark, events_stream_dir).select(
        F.col("user_id").alias("src"), F.col("event_id").alias("dst"), "ts"
    )
    deg = streaming_degree_counts(stream)
    run_available_now(deg, "deg_counts", str(tmp_path / "ckpt2"))
    got = {r["src"]: r["outdeg"] for r in spark.sql("SELECT * FROM deg_counts").collect()}
    want = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_stream_source_edges_matches_batch_derivation(spark, tmp_path):
    """Streaming edge derivation == batch derivation on the same files:
    stage a synthetic source table as two parquet chunks (two arrival
    batches), drain with availableNow, and compare the resolved edge
    events against the batch extract+resolve over the identical data.
    The extraction kernel is the SAME Arrow UDF both ways."""
    from linkgraph.ingest import extract_imports, file_key, module_of_path
    from linkgraph.synth import generate_source_table

    src_dir = str(tmp_path / "src_in")
    source = generate_source_table(spark, repos=10, files_per_repo=20, seed=7)
    # two chunks = two distinct files in the directory (the stream
    # treats each parquet file as an independently arriving batch)
    source.filter(F.col("repo") < "r0005").write.parquet(src_dir)
    source.filter(F.col("repo") >= "r0005").write.mode("append").parquet(src_dir)

    stream = stream_source_edges(spark, src_dir)
    run_available_now(stream, "edge_events", str(tmp_path / "ckpt4"))
    got = spark.sql(
        "SELECT src_key, dst_key, COUNT(*) AS n FROM edge_events GROUP BY 1, 2"
    ).collect()

    static = spark.read.parquet(src_dir)
    files = static.select(
        file_key(static).alias("key"), module_of_path().alias("module")
    )
    refs = static.select(
        file_key(static).alias("src_key"),
        F.explode(extract_imports("content", "lang")).alias("module"),
    )
    want = {
        (r["src_key"], r["dst_key"]): r["n"]
        for r in refs.join(files.select("module", F.col("key").alias("dst_key")), "module")
        .groupBy("src_key", "dst_key").agg(F.count("*").alias("n"))
        .collect()
    }
    assert len(want) > 0
    assert {(r["src_key"], r["dst_key"]): r["n"] for r in got} == want


def test_sessionize_emits_closed_sessions(spark, events_stream_dir, tmp_path):
    stream = _read_stream(spark, events_stream_dir)
    sess = sessionize(stream, gap_minutes=30)
    run_available_now(sess, "sessions", str(tmp_path / "ckpt3"))
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
    # no user double-counted beyond their event total
    batch_counts = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(events_stream_dir)
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    from collections import defaultdict
    emitted = defaultdict(int)
    for r in rows:
        emitted[r["user_id"]] += r["n_events"]
    for uid, n in emitted.items():
        assert n <= batch_counts[uid]


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicate texts arriving later in the stream are dropped; one
    copy of every distinct text survives (batch-equivalent corpus)."""
    from linkgraph.streaming import streaming_exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.select(
        "doc_id", "text", F.timestamp_seconds(F.lit(1_700_000_000)).alias("ts")
    )
    dups = (
        docs.orderBy("doc_id").limit(50)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "text",
            F.timestamp_seconds(F.lit(1_700_000_300)).alias("ts"),
        )
    )
    src = str(tmp_path / "docs_in")
    base.unionByName(dups).write.parquet(src)

    stream = streaming_exact_dedup(_read_stream(spark, src), watermark="1 hour")
    run_available_now(stream, "dedup_docs", str(tmp_path / "ckpt4"))
    got = spark.sql("SELECT * FROM dedup_docs").collect()
    n_distinct = docs.select("text").distinct().count()
    assert len(got) == n_distinct
    assert {r["text"] for r in got} == {r["text"] for r in docs.collect()}


def test_stream_transitions_match_batch(spark, events_stream_dir, tmp_path):
    """The streamed transition pair multiset equals the batch
    transition_matrix counts (state carries the last event across
    micro-batches)."""
    from linkgraph.pipeline.events import transition_matrix
    from linkgraph.streaming import stream_transitions

    stream = stream_transitions(_read_stream(spark, events_stream_dir))
    run_available_now(stream, "transitions_out", str(tmp_path / "ckpt_tr"))
    got = {
        (r.from_type, r.to_type): r.n
        for r in spark.sql(
            "SELECT from_type, to_type, COUNT(*) AS n FROM transitions_out "
            "GROUP BY 1, 2"
        ).collect()
    }
    ev = spark.read.parquet(events_stream_dir)
    want = {(r.from_type, r.to_type): r.n for r in transition_matrix(ev).collect()}
    assert got == want


def test_stateless_text_ops_stream_equals_batch(spark, tmp_path):
    """The map-only corpus operators (gopher_quality, c4_clean,
    duplicate_structure_stats) are stateless Catalyst plans, so the
    SAME call works on readStream input — streamed results must equal
    the batch run row-for-row."""
    from pyspark.sql import functions as F

    from linkgraph.pipeline.text import gopher_quality
    from linkgraph.streaming import run_available_now

    src = str(tmp_path / "docs_in")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .write.parquet(src)
    )
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    run_available_now(
        gopher_quality(stream), "gq_stream_x", str(tmp_path / "ckpt")
    )
    streamed = {
        r["doc_id"]: tuple(r)
        for r in spark.sql("SELECT * FROM gq_stream_x").collect()
    }
    batch = {
        r["doc_id"]: tuple(r)
        for r in gopher_quality(spark.read.parquet(src)).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_streaming_countmin_matches_batch(spark, tmp_path):
    """Draining the doc stream through the streaming count-min yields
    exactly the batch sketch of the same corpus (counters are
    order-free integer sums — the running sketch is always the batch
    sketch of the drained prefix)."""
    from linkgraph.pipeline.text import countmin_sketch
    from linkgraph.streaming import run_available_now, streaming_countmin_sketch

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "cm_in")
    docs.select("doc_id", "text").write.parquet(src)
    stream = streaming_countmin_sketch(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        d=3,
        w=64,
    )
    run_available_now(stream, "cm_stream", str(tmp_path / "ckpt_cm"))
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM cm_stream").collect())
    )
    want = sorted(map(tuple, countmin_sketch(docs, d=3, w=64).collect()))
    assert got == want and len(got) > 0


def test_streaming_hll_matches_batch(spark, tmp_path):
    """Draining the doc stream through the streaming HLL registers
    yields exactly the batch registers, and the derived estimate
    equals batch hll_distinct's n_est (MAX registers are order-free
    and duplicate-insensitive)."""
    from linkgraph.pipeline.text import hll_distinct
    from linkgraph.streaming import (
        hll_estimate_from_registers,
        run_available_now,
        streaming_hll_registers,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    src = str(tmp_path / "hll_in")
    docs.select("doc_id", "text", "lang").write.parquet(src)
    stream = streaming_hll_registers(
        spark.readStream.schema("doc_id long, text string, lang string")
        .parquet(src),
        by="lang",
        b=6,
    )
    run_available_now(stream, "hll_stream", str(tmp_path / "ckpt_hll"))
    regs = spark.sql("SELECT * FROM hll_stream")
    got = sorted(
        map(tuple, hll_estimate_from_registers(regs, b=6).collect())
    )
    want = sorted(
        (r["grp"], r["n_est"]) for r in hll_distinct(docs, by="lang", b=6).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_hll_validates(spark):
    from linkgraph.streaming import streaming_hll_registers

    docs = spark.createDataFrame(
        [(0, "a b", "en")], "doc_id long, text string, lang string"
    )
    import pytest as _pytest
    with _pytest.raises(ValueError, match="b must be"):
        streaming_hll_registers(docs, b=2)


def test_incremental_components_batch_equal(spark, tmp_path):
    """Draining a 3-way batch split through ComponentMaintainer yields
    EXACTLY the batch WCC assignment of the full edge set, and the
    state is the narrow assignment frame (history edges dropped)."""
    import random

    from linkgraph.components import connected_components
    from linkgraph.streaming import ComponentMaintainer, streaming_components

    rng = random.Random(101)
    pairs = sorted({(rng.randrange(40), rng.randrange(40)) for _ in range(90)})
    pairs = [(a, b) for a, b in pairs if a != b]
    full = spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src long, dst long, weight double"
    )
    want = sorted(map(tuple, connected_components(full).components.collect()))

    # direct maintainer path: arbitrary 3-way split
    m = ComponentMaintainer()
    third = len(pairs) // 3
    for chunk in (pairs[:third], pairs[third:2 * third], pairs[2 * third:]):
        m.update(spark.createDataFrame(chunk, "src long, dst long"))
    assert sorted(map(tuple, m.assignment.collect())) == want

    # foreachBatch drive over a parquet stream
    src_dir = str(tmp_path / "edges_in")
    full.select("src", "dst").write.parquet(src_dir)
    stream = spark.readStream.schema("src long, dst long").parquet(src_dir)
    m2 = ComponentMaintainer()
    streaming_components(stream, m2, "inc_wcc_test",
                         str(tmp_path / "ck"))
    assert sorted(map(tuple, m2.assignment.collect())) == want


def test_component_maintainer_release_frees_all_state(spark):
    """Each update pins the new assignment and frees the WCC loop state
    under it, so after ``release()`` no storage of the maintainer is
    left."""
    from linkgraph.streaming import ComponentMaintainer

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    batches = [
        spark.createDataFrame([(b * 10, b * 10 + 1), (b * 10 + 1, b * 10 + 2)],
                              "src long, dst long")
        for b in range(2)
    ]
    before = persistent_ids()
    m = ComponentMaintainer()
    for batch in batches:
        m.update(batch)
    assert m.assignment.count() == 6
    m.release()
    assert persistent_ids() - before == set()

"""Structured Streaming extensions.

The reference is strictly batch-iterative (SURVEY.md §2.4: streaming
N/A), so these are engine extensions for the corpus-pipeline side:
continuous edge/event ingestion feeding the batch graph procedures.

  * windowed_event_counts — tumbling-window counts with a watermark
    (late-data tolerant) over an event stream.
  * streaming_degree_counts — incremental out-degree accumulation over
    an edge stream (the streaming half of the PageRank "LOAD" phase:
    degrees stay fresh while the superstep loop runs on snapshots).
  * sessionize — custom stateful operator via applyInPandasWithState
    (session windows with gap timeout), the pattern to extend for
    streaming graph-delta compaction.
  * stream_source_edges — the streaming half of the north-star ingest:
    watch an Iceberg-layout parquet directory of source files, run the
    SAME Arrow import-extraction kernel as the batch derive_graph
    incrementally on each new file batch, and resolve to edge events
    via a stream-static join against the file dimension.

All run with availableNow triggers in tests (deterministic over a
static directory), and identically against live sources in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Tumbling-window event counts with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
            "sum_value",
        )
    )


def streaming_degree_counts(
    edge_stream: DataFrame, ts_col: str = "ts", watermark: str = "1 hour"
) -> DataFrame:
    """Running out-degree per source over a timestamped edge stream
    (complete/update output mode; feeds the batch loader's `degrees`)."""
    return (
        edge_stream.withWatermark(ts_col, watermark)
        .groupBy("src")
        .agg(F.count("*").alias("outdeg"))
    )


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
):
    """Session windows with a gap timeout via applyInPandasWithState.

    Emits one row per CLOSED session: (user_id, session_start,
    session_end, n_events). Sessions split on every gap > the timeout,
    INCLUDING gaps between events that arrive inside one micro-batch
    (a replayed history arriving as a single batch still yields the
    same sessions as `linkgraph.pipeline.events.sessionize` run in
    batch). Within a batch the user's events are sorted and interval-
    merged with the open-session state; every run except the latest is
    emitted closed immediately, the latest stays in state and closes
    when the watermark passes its last event + gap. Immediate closure
    of earlier runs assumes stragglers never arrive more than the
    watermark delay (= gap) late — the same guarantee the watermark
    already enforces for the stateful path.
    """
    import numpy as np
    import pandas as pd

    gap_ms = gap_minutes * 60 * 1000

    def _closed(key, runs):
        return pd.DataFrame(
            {
                "user_id": [key[0]] * len(runs),
                "session_start": [pd.Timestamp(lo, unit="ms") for lo, _, _ in runs],
                "session_end": [pd.Timestamp(hi, unit="ms") for _, hi, _ in runs],
                "n_events": [n for _, _, n in runs],
            }
        )

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            run = state.get
            state.remove()
            yield _closed(key, [run])
            return
        chunks = [
            pd.to_datetime(pdf[ts_col]).astype("int64").to_numpy() // 1_000_000
            for pdf in pdfs
        ]
        times = np.sort(np.concatenate(chunks)) if chunks else np.array([], "int64")
        # gap-split the sorted batch into dense runs (lo, hi, n)
        runs: list[tuple[int, int, int]] = []
        if len(times):
            breaks = np.nonzero(np.diff(times) > gap_ms)[0]
            starts = np.concatenate(([0], breaks + 1))
            ends = np.concatenate((breaks, [len(times) - 1]))
            runs = [
                (int(times[s]), int(times[e]), int(e - s + 1))
                for s, e in zip(starts, ends)
            ]
        if state.exists:
            runs.append(tuple(state.get))
        # interval-merge (runs are each gap-dense; merging two runs
        # whose gap is <= the timeout preserves density)
        merged: list[tuple[int, int, int]] = []
        for lo, hi, n in sorted(runs):
            if merged and lo <= merged[-1][1] + gap_ms:
                plo, phi, pn = merged.pop()
                merged.append((plo, max(phi, hi), pn + n))
            else:
                merged.append((lo, hi, n))
        if not merged:
            return
        state.update(merged[-1])
        state.setTimeoutTimestamp(merged[-1][1] + gap_ms)
        if len(merged) > 1:
            yield _closed(key, merged[:-1])

    return (
        events.withWatermark(ts_col, f"{gap_minutes} minutes")
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id long, session_start timestamp, "
                "session_end timestamp, n_events long"
            ),
            stateStructType="start_ms long, end_ms long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_exact_dedup(
    docs: DataFrame,
    ts_col: str = "ts",
    watermark: str = "1 hour",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact dedup — the streaming half of
    linkgraph.pipeline.dedup.exact_dedup: keep the first-arriving copy
    of each byte-identical text, drop later copies arriving within the
    state-retention window.

    State is one 16-byte md5 digest per distinct document (the same
    never-shuffle-raw-text contract as the batch operator), evicted
    once the watermark passes the keeper's event time — bounded state
    at any corpus arrival rate. Built on dropDuplicatesWithinWatermark
    so Spark owns the dedup state store (RocksDB-backed on a real
    cluster; exactly-once across micro-batch replays).

    Contract difference vs batch: the batch operator labels duplicates
    with a canonical id; a stream cannot retroactively relabel, so the
    streaming contract is keep-first/drop-rest — equivalent corpus
    content whenever duplicates arrive within one watermark window.
    """
    keyed = docs.withColumn("_d", F.md5(F.col(text_col)))
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_d"])
        .drop("_d")
    )


def streaming_countmin_sketch(
    docs: DataFrame,
    d: int = 4,
    w: int = 1024,
    text_col: str = "text",
) -> DataFrame:
    """Streaming count-min sketch — the incremental half of
    linkgraph.pipeline.text.countmin_sketch: the d x w counter grid
    accumulates as documents arrive (counters are order-free integer
    sums, so the running sketch after draining any prefix of the
    stream equals the batch sketch of that prefix — batch-equal
    pytest-pinned).

    State is the d*w cells (fixed memory at ANY arrival rate — the
    whole point of sketching a stream); emit in complete/update mode.
    """
    from linkgraph.pipeline.text import _cm_cells

    toks = docs.select(
        F.explode(F.split(text_col, " ")).alias("token")
    ).filter(F.length("token") > 0)
    return (
        toks.select(F.explode(_cm_cells(d, w)).alias("c"))
        .groupBy(
            F.col("c.sketch_row").alias("sketch_row"),
            F.col("c.sketch_col").alias("sketch_col"),
        )
        .agg(F.count("*").alias("n"))
    )


SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"


def stream_source_edges(
    spark,
    source_path: str,
    files_dim: DataFrame | None = None,
) -> DataFrame:
    """Incremental edge derivation over a growing source-file directory.

    The batch LOAD (linkgraph.ingest.derive_graph) scans the whole
    catalog; this is its streaming counterpart for continuous
    ingestion: `readStream` tails the Iceberg-layout parquet path, the
    SAME vectorized Arrow kernel (`extract_imports`) pulls import
    tokens out of each newly arrived file batch, and a STREAM-STATIC
    inner join against the file dimension (module -> file key) turns
    them into edge events `(src_key, dst_key, ts)` — append-mode, no
    state, so it scales to any arrival rate. Feed the output to
    `streaming_degree_counts` for live degrees, or sink it to the edge
    table the batch supersteps snapshot from.

    files_dim: optional static dimension DataFrame(key, module). By
    default it is built from a batch read of the same path at stream
    START — files arriving later still resolve their imports against
    this dimension (Spark re-reads the static side per micro-batch
    only if the plan requires it; a production pipeline would refresh
    the dimension on a cadence or use another stream for it).
    """
    from linkgraph.ingest import extract_imports, file_key, module_of_path

    if files_dim is None:
        static = spark.read.schema(SOURCE_SCHEMA).parquet(source_path)
        files_dim = static.select(
            file_key(static).alias("key"), module_of_path().alias("module")
        )
    src = spark.readStream.schema(SOURCE_SCHEMA).parquet(source_path)
    extracted = src.select(
        "repo", "path", extract_imports("content", "lang").alias("imports")
    )
    refs = extracted.select(
        file_key(extracted).alias("src_key"),
        F.explode("imports").alias("module"),
        F.current_timestamp().alias("ts"),
    )
    dim = files_dim.select("module", F.col("key").alias("dst_key"))
    return refs.join(dim, "module").select("src_key", "dst_key", "ts")


def run_available_now(stream_df: DataFrame, query_name: str, checkpoint_dir: str):
    """Drain whatever is available into an in-memory table and stop —
    the deterministic test/batch-backfill mode of every streaming op."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete" if _is_agg_without_watermark_output(stream_df) else "append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _is_agg_without_watermark_output(df: DataFrame) -> bool:
    # degree counts, the count-min grid, and the HLL register grid
    # (plain streaming aggs with no watermark) need complete mode;
    # windowed aggs with watermark and sessionize emit append finals
    return (
        "outdeg" in df.columns
        or "sketch_row" in df.columns
        or "rho" in df.columns
    )


def stream_transitions(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Streaming twin of `pipeline.events.transition_matrix`'s pair
    derivation: emit one row per consecutive (from_type -> to_type)
    user transition as events arrive, carrying each user's LAST event
    in state so transitions spanning micro-batch boundaries are not
    lost. Within a batch the user's rows are sorted by (ts, id) —
    the same total order as the batch operator, so a replayed history
    yields the identical pair multiset (pytest-pinned).

    State per user is one (ts, id, type) triple — O(1), no timeout
    needed; the census/normalization happens downstream on the
    emitted pair stream (or in batch on the sink table).
    """
    import pandas as pd

    def fn(key, pdfs, state: GroupState):
        frames = [
            pdf[[ts_col, id_col, type_col]] for pdf in pdfs
        ]
        if not frames:
            return
        df = pd.concat(frames).sort_values([ts_col, id_col])
        ts = df[ts_col].astype("int64").to_numpy() // 1_000_000
        ids = df[id_col].to_numpy()
        types = df[type_col].tolist()
        prev = state.get if state.exists else None
        out_from, out_to, out_ts = [], [], []
        for i in range(len(df)):
            cur = (int(ts[i]), int(ids[i]), types[i])
            if prev is not None:
                out_from.append(prev[2])
                out_to.append(cur[2])
                out_ts.append(cur[0])
            prev = cur
        state.update(prev)
        if out_from:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_from),
                    "from_type": out_from,
                    "to_type": out_to,
                    "ts": [pd.Timestamp(t, unit="ms") for t in out_ts],
                }
            )

    return (
        events.groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType="user_id long, from_type string, to_type string, ts timestamp",
            stateStructType="ts long, id long, t string",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_hll_registers(
    docs: DataFrame, by: str = "lang", b: int = 9, text_col: str = "text"
) -> DataFrame:
    """Streaming HyperLogLog registers — the incremental half of
    linkgraph.pipeline.text.hll_distinct: the (group, bucket) -> max
    rho register grid accumulates as documents arrive. Registers
    combine by MAX (order-free and duplicate-insensitive), so the
    running grid after draining ANY prefix of the stream equals the
    batch grid of that prefix — batch-equal pytest-pinned, and the
    estimate derived by `hll_estimate_from_registers` equals the
    batch `hll_distinct` n_est exactly.

    State is |groups| x 2^b integer cells — fixed memory at any
    arrival rate; emit in complete/update mode."""
    from linkgraph.pipeline.text import (
        _hll_rho_sql,
        stable_hash64_sql_spark,
    )
    from linkgraph.pipeline.hashing import stable_hash64

    if not 4 <= b <= 14:
        raise ValueError(f"b must be in [4, 14], got {b}")
    m = 1 << b
    toks = docs.select(
        F.col(by).alias("grp"),
        F.explode(F.split(text_col, " ")).alias("token"),
    ).filter(F.length("token") > 0)
    h = stable_hash64(F.col("token"), salt="hll")
    keyed = toks.select(
        "grp",
        F.pmod(h, F.lit(m)).alias("bucket"),
        F.expr(
            _hll_rho_sql(f"(({stable_hash64_sql_spark('token', 'hll')}) div {m})")
        ).alias("rho"),
    )
    return keyed.groupBy("grp", "bucket").agg(F.max("rho").alias("rho"))


def hll_estimate_from_registers(regs: DataFrame, b: int = 9) -> DataFrame:
    """Batch finisher for `streaming_hll_registers` — delegates to the
    ONE shared implementation in linkgraph.pipeline.text (the same
    arithmetic hll_distinct uses), so the streaming and batch paths
    cannot de-synchronize."""
    from linkgraph.pipeline.text import hll_estimate_from_registers as _fin

    return _fin(regs, b=b)


class ComponentMaintainer:
    """Incremental connected components under arriving edge batches —
    the streaming half of ``linkgraph.components.connected_components``.

    ``update(batch)`` folds a new edge batch into the running
    (id, comp) assignment by running the delta-iteration WCC over
    ``previous assignment ∪ new edges``: the previous assignment is
    itself an edge list (id → comp) that connects exactly the
    already-merged nodes, so the union graph's components EQUAL the
    components of every edge seen so far — the maintained labels after
    draining ANY batch split of a stream are identical to one batch
    WCC over the full edge set (batch-equal, pytest-pinned), and the
    canonical min-id labels never depend on arrival order.

    Cost per batch: one WCC over |seen nodes| + |batch| edges, but the
    delta iteration converges in O(1) rounds when most labels are
    already canonical (the frontier is only the batch's neighborhood).
    State is ONE narrow pinned frame — O(nodes), not O(edges): history
    edges are never retained, which is the point at 100TB arrival
    volumes.
    """

    def __init__(self, retain_history: bool = False) -> None:
        """``retain_history=False`` (default) frees each superseded
        assignment frame as soon as the next batch lands — bounded
        state, but a PREVIOUSLY-RETURNED frame becomes unreadable
        after the next ``update`` (localCheckpoint blocks are freed,
        no lineage to recompute). Pass ``retain_history=True`` to keep
        every per-batch assignment readable (diffing across batches);
        free them with ``release()`` when done."""
        self.assignment: DataFrame | None = None
        self.retain_history = retain_history
        self._history: list[DataFrame] = []

    def update(self, batch_edges: DataFrame) -> DataFrame:
        from linkgraph.checkpoint import pin_table, release_state
        from linkgraph.components import connected_components

        e = batch_edges.select("src", "dst")
        if self.assignment is not None:
            e = e.unionByName(
                self.assignment.select(
                    F.col("id").alias("src"), F.col("comp").alias("dst")
                )
            )
        res = connected_components(e.withColumn("weight", F.lit(1.0)))
        new = pin_table(res.components)
        release_state(res.components)  # the loop state under the pin
        if self.assignment is not None:
            if self.retain_history:
                self._history.append(self.assignment)
            else:
                release_state(self.assignment)
        self.assignment = new
        return new

    def release(self) -> None:
        from linkgraph.checkpoint import release_state

        for f in self._history:
            release_state(f)
        self._history = []
        if self.assignment is not None:
            release_state(self.assignment)
            self.assignment = None


def streaming_components(
    stream_edges: DataFrame,
    maintainer: ComponentMaintainer,
    query_name: str,
    checkpoint_dir: str,
):
    """Drive a ComponentMaintainer from a streaming edge source via
    foreachBatch (trigger availableNow) — drain-and-stop, the
    deterministic test/backfill mode of the other streaming ops. The
    final assignment is ``maintainer.assignment``.

    UNLIKE the state-store-backed streaming ops (HLL/count-min), the
    maintainer's state lives in the DRIVER object, not in Spark's
    checkpoint — resuming a committed checkpoint with a FRESH
    maintainer would silently skip the already-committed batches'
    edges. Guarded: a fresh maintainer + a checkpoint dir with
    committed offsets raises instead of producing an incomplete
    assignment (use a new checkpoint dir, or keep the maintainer
    object alive across drains)."""
    import os as _os

    offsets = _os.path.join(checkpoint_dir, "offsets")
    if (
        maintainer.assignment is None
        and _os.path.isdir(offsets)
        and _os.listdir(offsets)
    ):
        raise ValueError(
            "streaming_components: checkpoint dir has committed offsets "
            "but the maintainer is fresh — the committed batches' edges "
            "would be silently skipped. Use a new checkpoint dir or the "
            "original maintainer object."
        )
    q = (
        stream_edges.writeStream.foreachBatch(
            lambda df, _id: (maintainer.update(df), None)[1]
        )
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

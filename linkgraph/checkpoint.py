"""Checkpointed superstep state for iterative graph algorithms.

The reference iterates inside one JVM with a thread barrier per
iteration (SURVEY.md §3: ParallelUtil fans ComputeSteps, barrier per
superstep). On Spark each superstep is a job whose input is the
previous superstep's state DataFrame; without truncation the logical
plan (lineage) grows linearly with iterations and planning cost blows
up (SURVEY.md §7 "iterative-loop lineage blowup").

``SuperstepLoop`` manages the state DataFrame across supersteps:

  * persists each new state, unpersists the superseded one,
  * every ``every`` supersteps truncates lineage — via an explicit
    Parquet checkpoint (durable, resumable) when ``checkpoint_dir`` is
    set, else ``localCheckpoint(eager=True)``,
  * appends a manifest line per durable checkpoint with per-partition
    lineage (file list + sizes) and the caller's convergence metrics,
    making any run resumable (north_rule: "resumable from checkpoint
    with per-partition lineage + metrics").

Parquet round-trips preserve IEEE doubles bit-exactly; a resumed run
reproduces the uninterrupted run to <= 1e-12 (the state itself is
exact — the residual ulp comes from shuffle-fetch-order-dependent
merge order of per-partition partial sums in subsequent supersteps;
BASELINE.md "Resumability" row; verified by tests/test_checkpoint.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame


def release_state(df: DataFrame | None) -> bool:
    """Free the storage behind a superseded state DataFrame — works for
    BOTH persisted and localCheckpointed frames.

    ``DataFrame.unpersist()`` silently does nothing for a
    localCheckpointed frame: its materialized RDD is registered with
    the BlockManager directly, not the CacheManager, so the cached
    blocks survive until the ContextCleaner eventually GCs them — an
    unbounded cache leak in iterative loops. The RDD is reachable
    through the LogicalRDD node of the checkpointed plan; this helper
    unpersists it there (falling back to plain unpersist for
    CacheManager-registered frames, and to the ContextCleaner if the
    internals are unavailable). Column projections of such a frame
    (``state.select(...)``, the usual shape of a returned result) are
    looked through to the LogicalRDD underneath, so releasing the
    projection frees the state it reads.

    After release the frame is NOT readable (a freed localCheckpoint
    has no lineage to recompute from) — only call on state that
    nothing still references.
    """
    if df is None:
        return False
    freed = False
    try:
        # CacheManager layer first (columnar cache of pin_table, or a
        # plain persist) — a no-op when nothing is registered
        df.unpersist()
        freed = True
    except Exception:
        pass
    try:
        # BlockManager layer: the localCheckpoint RDD under a pinned /
        # checkpointed frame (plain unpersist cannot reach it)
        plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
        while plan.getClass().getSimpleName() == "Project":
            plan = plan.child()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            freed = True
    except Exception:
        pass
    return freed


def attach_caches(df: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Record the persisted intermediates a returned (lazy) DataFrame
    still depends on, so the caller can free them with
    ``release_caches(df)`` once the result is consumed. The pattern for
    functions whose return type is a plain DataFrame (a dataclass
    result carries an explicit ``release()`` instead — TriangleResult,
    DerivedGraph). Cached blocks are LRU-evictable either way, so an
    unreleased cache degrades to recompute under pressure rather than
    failing — release is hygiene for loop callers."""
    df._linkgraph_caches = list(caches)  # noqa: SLF001
    return df


def release_caches(df: DataFrame) -> int:
    """Unpersist the intermediates recorded by ``attach_caches``;
    returns how many were freed. After release the DataFrame still
    WORKS but recomputes those subtrees on next use."""
    caches = getattr(df, "_linkgraph_caches", [])
    n = 0
    for c in caches:
        try:
            c.unpersist()
            n += 1
        except Exception:
            pass
    df._linkgraph_caches = []  # noqa: SLF001
    return n


def pin_table(df: DataFrame, path: str | None = None) -> DataFrame:
    """Materialize a LOOP-INVARIANT table: truncate its plan AND keep
    columnar scans.

    ``path`` switches to the DURABLE variant: one parquet write +
    re-read instead of localCheckpoint+persist. Single storage (no
    second in-memory copy), constant tiny plan (a FileScan), columnar
    reads via the parquet reader, and — unlike a localCheckpoint,
    which dies with its executors — the pinned table survives executor
    loss and even a driver restart (a later session re-reads the same
    path). This is the right mode on a cluster run that already has a
    checkpoint_dir; the in-memory mode stays the default for
    local/iterative work where the extra write would dominate.

    For a table an iterative loop re-references every superstep,
    ``persist()`` alone is not enough: the cached data is reused but
    the table's full logical plan (a multi-join edge derivation, an
    Arrow-UDF extraction) is re-analyzed inside every superstep's plan
    — constant-per-iteration but proportional to the UPSTREAM plan
    size, which dominates on derived graphs (measured ~2s/superstep of
    driver time on the synth-ingest PageRank). ``localCheckpoint``
    alone is also not enough: it truncates the plan to a LogicalRDD
    but per-superstep reads then go through a row-based
    `Scan ExistingRDD` instead of the compressed-columnar
    InMemoryTableScan — measured 1.5-2x slower per iteration on a
    33M-edge graph (the scaling-bench regime).

    So: localCheckpoint (eager) for the constant tiny plan, persist on
    top for the columnar cache. Physical outputPartitioning and
    outputOrdering survive both layers, so pre-shuffled pre-sorted
    join layouts still get reused (asserted in tests/test_plans.py).
    Costs one extra materialization pass and a second (columnar) copy
    of the table. Free with ``release_state`` (it drops BOTH layers;
    a no-op for the durable variant, whose files persist until the
    caller removes them). NOTE: a parquet round-trip does NOT preserve
    physical outputPartitioning/outputOrdering — joins against a
    durable pin re-shuffle, the normal cluster-run cost."""
    if path is not None:
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.parquet(path)
    pinned = df.localCheckpoint(eager=True).persist()
    pinned.count()
    return pinned


class ProgressLogger:
    """Percent-progress surface — the reference ProgressLogger analog
    (pub:core/.../core/utils/ProgressLogger.java logs logProgress(done,
    total) at most every ~1%). Emits through the ``linkgraph`` logging
    channel, throttled to ``step_pct`` increments so a million-superstep
    loop logs ~100 lines, not a million. ``fraction`` is always
    readable for programmatic polling (e.g. a UI thread next to a
    TerminationFlag)."""

    def __init__(self, task: str = "task", step_pct: float = 1.0):
        import logging

        self.task = task
        self.step_pct = max(0.01, step_pct)
        self.fraction = 0.0
        self._last_logged = -1.0
        self._log = logging.getLogger("linkgraph.progress")

    def log_progress(self, done: float, total: float | None) -> None:
        if not total or total <= 0:
            return
        self.fraction = min(1.0, done / total)
        pct = 100.0 * self.fraction
        if pct - self._last_logged >= self.step_pct or pct >= 100.0 > self._last_logged:
            self._last_logged = pct
            self._log.info("%s %.0f%%", self.task, pct)

    def log_done(self) -> None:
        self.log_progress(1, 1)


class TerminatedError(RuntimeError):
    """Raised by SuperstepLoop.advance when its TerminationFlag is set."""


class TerminationFlag:
    """Cooperative cancellation — the reference TerminationFlag analog
    (pub:core/.../core/utils/TerminationFlag.java checks transaction
    termination between batches). ``set()`` from any thread: the next
    superstep boundary raises TerminatedError AND cancels the loop's
    Spark job group so in-flight stages stop too (the checkpointed
    state on disk stays resumable)."""

    def __init__(self):
        self._stop = False

    def set(self):
        self._stop = True

    def is_set(self) -> bool:
        return self._stop


class SuperstepLoop:
    """Superstep state manager (see module docstring).

    FAULT-TOLERANCE TRADEOFF: every non-durable superstep truncates
    lineage with localCheckpoint, whose blocks live only in executor
    storage — on a real cluster, losing an executor makes that state
    unrecoverable (a plain persist() could recompute from lineage, but
    its plan growth is the measured superlinear driver blowup this
    class exists to prevent). Cluster runs should therefore always set
    ``checkpoint_dir``: recovery cost is then bounded by ``every``
    supersteps of replay from the last durable parquet state. ``every``
    governs ONLY the durable-parquet cadence (manifest/resume
    granularity); in-memory truncation happens every superstep
    regardless.

    ``context`` is written into every manifest line — record anything
    the resumed session must reproduce to join the checkpointed state
    correctly, e.g. the dense-id ``num_buckets`` of a derived graph
    (ids change with bucket count: a resume under a different shuffle
    conf would otherwise silently join mismatched id spaces).
    """

    def __init__(
        self,
        spark,
        checkpoint_dir: str | None = None,
        every: int = 5,
        name: str = "state",
        termination: TerminationFlag | None = None,
        context: dict | None = None,
        max_steps: int | None = None,
    ):
        self.spark = spark
        self.dir = checkpoint_dir
        self.every = max(1, every)
        self.name = name
        self.termination = termination
        self.context = context or {}
        # percent progress when the caller knows its superstep bound
        # (max_iter loops); fraction exposed via .progress.fraction
        self.progress = ProgressLogger(task=name)
        self.max_steps = max_steps
        self._current: DataFrame | None = None
        self._manifest_path = None
        if self.dir:
            os.makedirs(self.dir, exist_ok=True)
            self._manifest_path = os.path.join(self.dir, f"{name}_manifest.jsonl")

    # -- resumability -------------------------------------------------
    def resume(self) -> tuple[int, DataFrame] | None:
        """Return (iteration, state) of the latest durable checkpoint."""
        if not self._manifest_path or not os.path.exists(self._manifest_path):
            return None
        last = None
        with open(self._manifest_path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                entry = json.loads(line)
                # '_final' entries hold the post-loop result (dynamic
                # UNION static nodes) — resuming the superstep loop from
                # one would re-union the static rows (duplicates); skip
                # them and resume from the last true iteration state.
                if entry.get("final"):
                    continue
                last = entry
        if last is None:
            return None
        # surface the recorded context (e.g. dense-id num_buckets) and
        # the checkpoint's metrics (e.g. delta-stepping's settled
        # bucket bound) so the resuming session can validate/reproduce
        # the id space and re-enter mid-algorithm control state
        self.last_context = last.get("context", {})
        self.last_metrics = last.get("metrics", {})
        df = self.spark.read.parquet(last["path"])
        self._current = df.persist()
        return last["iteration"], self._current

    # -- superstep advance --------------------------------------------
    def advance(
        self,
        iteration: int,
        df: DataFrame,
        metrics: dict | None = None,
        force_checkpoint: bool = False,
        suffix: str = "",
    ) -> DataFrame:
        """Install ``df`` as the state after ``iteration`` supersteps.

        ``suffix`` namespaces the durable path — callers writing a
        FINAL state derived from the current state must use one, since
        mode("overwrite") onto the directory the lineage is currently
        reading would delete the input mid-job.
        """
        if self.termination is not None and self.termination.is_set():
            try:
                self.spark.sparkContext.cancelJobGroup(f"linkgraph-{self.name}")
            except Exception:
                pass
            raise TerminatedError(
                f"{self.name} terminated at superstep {iteration} "
                "(state up to the last durable checkpoint is resumable)"
            )
        self.spark.sparkContext.setJobGroup(
            f"linkgraph-{self.name}", f"{self.name} superstep {iteration}",
            interruptOnCancel=True,
        )
        self.progress.log_progress(iteration, self.max_steps)
        durable = force_checkpoint or (iteration % self.every == 0)
        prev = self._current
        if durable and self.dir:
            path = os.path.join(self.dir, f"{self.name}{suffix}_{iteration:06d}")
            df.write.mode("overwrite").parquet(path)
            new = self.spark.read.parquet(path).persist()
            self._write_manifest(iteration, path, metrics, final=bool(suffix))
        else:
            # EVERY superstep truncates lineage (localCheckpoint), not
            # just the durable ones: persist()+count() materializes the
            # data but the LOGICAL PLAN keeps growing — iteration k
            # re-analyzes a k-deep tree (each level embedding the full
            # upstream plan, e.g. an Arrow-UDF edge derivation), so
            # per-superstep driver cost grows superlinearly (measured:
            # 0.5s -> 5.6s over 10 supersteps on a 65k-edge graph;
            # 25s/superstep on a fat derivation plan). localCheckpoint
            # costs the same one action but pins the state to a
            # LogicalRDD — constant plan size at any iteration count.
            # Eager is also what makes release_state(prev) safe below:
            # the new state must not need prev's lineage once prev's
            # blocks are freed. ``every`` only governs DURABLE parquet
            # cadence (manifest/resume granularity) when a dir is set.
            new = df.localCheckpoint(eager=True)
        self._current = new
        if prev is not None:
            release_state(prev)
        return new

    def _write_manifest(
        self, iteration: int, path: str, metrics: dict | None, final: bool = False
    ):
        parts = []
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                parts.append({"file": fn, "bytes": os.path.getsize(os.path.join(path, fn))})
        line = {
            "iteration": iteration,
            "path": path,
            "ts": time.time(),
            "final": final,
            "partitions": parts,
            "metrics": metrics or {},
            "context": self.context,
        }
        with open(self._manifest_path, "a") as f:
            f.write(json.dumps(line) + "\n")

    def close(self):
        if self._current is not None:
            self._current.unpersist()
            self._current = None

"""Benchmark entry point for the linkgraph engine.

    python3 perfbench/run.py --workload code-ingest --seed 1 --seconds 15 --trace 0

Runs one workload (see perfbench/README.md) in a single Python process
against ``local[<cpus>/2]``: starts the session, generates the inputs
from ``--seed``, builds the oracle, runs warm-up repetitions, then
times a fixed number of repetitions that take about ``--seconds``
seconds on a 4-vCPU host. Every repetition
is checked against the oracle after its timer stops.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` adds a traced phase and
reports the per-layer metrics instead. The exit code is 0 only when
every layer call succeeded and every output matched its oracle.

Everything the run writes stays under ``.perfbench_work/`` (deleted at
exit) and ``.perfbench_out/`` (spans of traced runs) at the root of the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "3g"  # pinned: the session default (24g) exceeds small hosts' RAM
WARMUP_REPS = 1  # untimed, counted in setup_s
MIN_REPS = 2
TRACE_PAIRS = 1
DEADLINE_S = 150  # stop starting repetitions after this much wall time

END_TO_END_UNITS = {"job_s": "s", "edges_per_s": "1/s", "setup_s": "s", "ok_ops": "share"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cal_s() -> float:
    """Median time of a fixed pure-Python CPU loop (3 samples)."""
    def once():
        t = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc = (acc + i * i) % 1_000_003
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(3))


def prepare_env(work: str) -> None:
    """Keep the JVM, its Python workers and temp files inside ``work``;
    must run before pyspark starts a JVM."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    tempfile.tempdir = tmp


class Session:
    """One SparkSession (one JVM) at a time; restartable after the JVM dies."""

    def __init__(self, name: str, work: str, event_log: str | None):
        # half the vCPUs: the JIT compiler, GC, the Python driver and the
        # Arrow UDF workers need the rest, and oversubscribed cores would
        # time the scheduler rather than the engine
        self.cores = max(1, len(os.sched_getaffinity(0)) // 2)
        self.name = name
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None

    def start(self):
        from linkgraph.session import get_spark

        self.spark = get_spark(self.name, cores=self.cores, shuffle_partitions=self.cores,
                               extra_conf=self.conf)
        return self.spark

    def alive(self) -> bool:
        try:
            return not self.spark.sparkContext._jsc.sc().isStopped()  # noqa: SLF001
        except Exception:
            return False

    def storage(self) -> dict[int, int]:
        """Bytes held per cached RDD id, from Spark's storage info."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        return {int(i.id()): int(i.memSize()) + int(i.diskSize()) for i in infos}

    def stop(self) -> None:
        """Stop the session and wait for the JVM process to exit."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        gateway = SparkContext._gateway  # noqa: SLF001
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                log("session stop raised:\n" + traceback.format_exc())
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
        SparkContext._active_spark_context = None  # noqa: SLF001
        SparkSession._instantiatedSession = None  # noqa: SLF001
        SparkSession._activeSession = None  # noqa: SLF001
        self.spark = None


class Bench:
    """Set-up, repetitions and metric assembly for one workload run."""

    def __init__(self, args, run_id: str, work: str, out_dir: str):
        from perfbench.trace import Calls
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.event_log = os.path.join(work, "eventlog") if args.trace else None
        self.session = Session(f"perfbench-{args.workload}", work, self.event_log)
        self.wl = WORKLOADS[args.workload](args.seed, work, args.scale)
        self.calls = Calls(lambda: self.session.storage(), run_id, tracing=False)
        self.out_dir = out_dir
        self.t_begin = time.perf_counter()
        self.per_layer: dict[str, list] = {}

    def record(self, name: str, value) -> None:
        self.per_layer.setdefault(name, []).append(float(value))

    def start(self) -> tuple[float, float]:
        """Session start and input generation; returns their times."""
        t0 = time.perf_counter()
        spark = self.session.start()
        t1 = time.perf_counter()
        self.wl.setup(spark)
        return t1 - t0, time.perf_counter() - t1

    def repetition(self, i: int, tracing: bool) -> float | None:
        """One repetition; its job time, or None if it failed."""
        calls, res = self.calls, {}
        calls.tracing = tracing
        t0 = time.perf_counter()
        try:
            with calls.span("rep", rep=i):
                self.wl.run(self.session.spark, calls, i, tracing, res)
            dt = time.perf_counter() - t0
        except Exception:
            log(f"rep {i} failed:\n" + traceback.format_exc())
            dt = None
        calls.tracing = False
        out = None
        if dt is not None:
            try:
                out = self.wl.collect(res)
            except Exception:
                log(f"rep {i} output unreadable:\n" + traceback.format_exc())
                calls.fail()
                dt = None
        try:
            self.wl.release(res)
            if tracing:
                for layer, mb in calls.retained_mb().items():
                    self.record(f"{layer}.retained_mb", mb)
        except Exception:
            log(f"rep {i} release failed:\n" + traceback.format_exc())
        if dt is not None:
            try:
                bad = self.wl.check(res, out)
                if not bad and tracing:
                    for k, v in self.wl.layer_counts(res).items():
                        self.record(k, v)
            except Exception:
                log(f"rep {i} outputs incomplete:\n" + traceback.format_exc())
                bad = ["outputs"]
            if bad:
                log(f"rep {i} oracle mismatch in {bad}")
                calls.fail(len(bad))
                dt = None
        self.wl.cleanup(i)
        if not self.session.alive():
            log("JVM died; restarting the session and regenerating inputs")
            self.session.stop()
            self.start()
        return dt

    def timed(self, first: int) -> tuple[list[float], list[float]]:
        """A fixed number of repetitions: ``--seconds`` over the
        workload's nominal warm repetition time, at least MIN_REPS
        (TRACE_PAIRS pairs in a traced run). Repetitions still speed up
        as the JIT warms, so the count must not depend on how fast the
        host happens to run: every run then times the same stretch of
        the warm-up curve. A traced run alternates untraced and traced
        repetitions, so both see the same stage of JVM warm-up. Returns
        the job times of the (untraced, traced) repetitions that
        succeeded."""
        plain, traced, i = [], [], first
        want = max(MIN_REPS, round(self.args.seconds / self.wl.REP_S))
        if self.args.trace:
            want = max(want, 2 * TRACE_PAIRS)
        while i - first < want:
            if time.perf_counter() - self.t_begin > DEADLINE_S:
                log("deadline reached; ending the timed phase early")
                break
            tracing = bool(self.args.trace) and (i - first) % 2 == 1
            dt = self.repetition(i, tracing)
            if dt is not None:
                (traced if tracing else plain).append(dt)
            i += 1
        return plain, traced

    def run(self) -> dict:
        start_s, gen_s = self.start()
        t = time.perf_counter()
        self.wl.build_oracle(self.session.spark)
        log(f"oracle built in {time.perf_counter() - t:.2f}s; work {self.wl.work} edges/rep")
        t = time.perf_counter()
        for i in range(WARMUP_REPS):
            self.repetition(i, tracing=False)
        warm_s = time.perf_counter() - t
        cal = host_cal_s()
        times, traced = self.timed(WARMUP_REPS)
        job_s = statistics.median(times) if times else None
        log(f"host.cal_s {cal:.4f} start {start_s:.2f}s gen {gen_s:.2f}s warm-up {warm_s:.2f}s "
            f"reps {[round(x, 3) for x in times]} traced {[round(x, 3) for x in traced]}")
        self.session.stop()  # also flushes the event log
        if self.args.trace:
            return self.layer_metrics(start_s, gen_s, cal, job_s, traced)
        metrics = {
            "job_s": job_s,
            "edges_per_s": self.wl.work / job_s if job_s else None,
            "setup_s": start_s + gen_s + warm_s,
            "ok_ops": (self.calls.attempted - self.calls.failed) / max(self.calls.attempted, 1),
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}

    def layer_metrics(self, start_s, gen_s, cal, job_s, traced) -> dict:
        from perfbench.trace import spark_metrics

        spans = self.calls.spans
        reps = sum(1 for sp in spans if sp["name"] == "rep")
        for sp in spans:
            name = {"ingest": "ingest.derive_s", "io.write": "io.write_s"}.get(
                sp["name"], f"{sp['name']}.call_s")
            self.record(name, sp["end"] - sp["start"])
        values = {k: statistics.median(v) for k, v in self.per_layer.items()}
        values.update(spark_metrics(self.event_log, spans, reps))
        values.update({
            "session.start_s": start_s, "synth.gen_s": gen_s, "host.cal_s": cal,
            "trace.overhead_s": (statistics.median(traced) - job_s) if traced and job_s else 0.0,
        })
        os.makedirs(self.out_dir, exist_ok=True)
        spans_path = os.path.join(self.out_dir, f"{self.calls.run_id}.spans.jsonl")
        self.calls.write(spans_path)
        log(f"spans written to {os.path.relpath(spans_path, ROOT)}")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            declared = json.load(f)["per_layer"]
        return {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                for m in declared}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs, for the self-test")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "linkgraph")):
        log(f"no linkgraph package under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    prepare_env(work)
    bench = Bench(args, run_id, work, os.path.join(ROOT, ".perfbench_out"))
    try:
        metrics = bench.run()
    finally:
        bench.session.stop()
        shutil.rmtree(work, ignore_errors=True)
    calls = bench.calls
    correct = calls.failed == 0
    print(json.dumps({"correct": correct, "attempted": calls.attempted,
                      "failed": calls.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""The benchmark's three workloads.

Each workload generates its inputs from the seed with
``linkgraph.synth`` (``setup``), builds independent expected results
(``build_oracle``), and then runs repetitions of one job that calls
only ``linkgraph``'s public functions (``run``). After a repetition's
timer stops, ``collect`` gathers what is compared, ``release`` frees
the repetition's Spark storage, and ``check`` returns the layers whose
output disagreed with the oracle.

``work`` is the fixed edge work of one repetition: the sum over
procedure calls of input edges x supersteps run (triangle counting is
one pass over the oriented edges). It is deterministic for a seed and
taken from the oracle, never from the engine's own output.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from linkgraph import io, ingest, synth
from linkgraph.checkpoint import pin_table, release_state
from linkgraph.components import connected_components
from linkgraph.labelprop import label_propagation
from linkgraph.pagerank import pagerank
from linkgraph.triangles import triangle_count

from perfbench import oracles

RTOL = 1e-9


def _close(got: np.ndarray, want: np.ndarray) -> bool:
    return got.shape == want.shape and np.allclose(got, want, rtol=RTOL, atol=0.0)


class CodeIngest:
    """Source table -> import graph -> PageRank supersteps with a
    durable parquet checkpoint every 2 -> result write."""

    name = "code-ingest"
    REP_S = 6.0  # nominal warm repetition time on a 4-vCPU host
    ITERS = 5
    CKPT_EVERY = 2
    SIZES = {"full": (40, 100, 10), "toy": (4, 25, 4)}  # repos, files/repo, packages

    def __init__(self, seed: int, work_dir: str, scale: str):
        self.seed = seed
        self.dir = work_dir
        self.repos, self.files_per_repo, self.packages = self.SIZES[scale]
        self.src_dir = os.path.join(work_dir, "source")

    def setup(self, spark) -> None:
        self._source = synth.generate_source_table(
            spark, repos=self.repos, files_per_repo=self.files_per_repo,
            packages=self.packages, seed=self.seed,
        )
        self._source.write.mode("overwrite").parquet(self.src_dir)

    def build_oracle(self, spark) -> None:
        bad = synth.verify_ingestion(
            io.read_table(spark, self.src_dir), synth.content_manifest(self._source)
        )
        if bad != 0:
            raise RuntimeError(f"source table round-trip changed {bad} rows")
        self.keys, si, di = oracles.import_graph(self.src_dir)
        self.n_edges = len(si)
        self.ranks = oracles.pagerank(self.keys, si, di, self.ITERS)
        self.work = self.n_edges * self.ITERS

    def run(self, spark, calls, rep: int, tracing: bool, res: dict) -> None:
        res["ckpt"] = os.path.join(self.dir, f"ckpt-{rep}")
        res["out"] = os.path.join(self.dir, f"ranks-{rep}")
        src = calls.call("io.read", io.read_table, spark, self.src_dir)

        def derive(source):
            g = ingest.derive_graph(source)
            if tracing:
                g[1].count()  # derive_graph is lazy: close the ingest span here
            return g

        res["graph"] = g = calls.call("ingest", derive, src)
        nodes, file_edges, _ = g
        res["pagerank"] = pr = calls.call(
            "pagerank", pagerank, file_edges, nodes=nodes, max_iter=self.ITERS,
            checkpoint_dir=res["ckpt"], checkpoint_every=self.CKPT_EVERY,
        )
        scores = pr.scores.join(nodes, "id").select("key", "rank")
        res["write"] = calls.call("io.write", io.write_results, scores, res["out"])

    def collect(self, res: dict) -> dict:
        t = pq.read_table(res["out"], columns=["key", "rank"]).to_pandas()
        return {"ranks": t.sort_values("key")}

    def release(self, res: dict) -> None:
        if "pagerank" in res:
            release_state(res["pagerank"].scores)
        if "graph" in res:
            res["graph"].release()

    def cleanup(self, rep: int) -> None:
        shutil.rmtree(os.path.join(self.dir, f"ckpt-{rep}"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.dir, f"ranks-{rep}"), ignore_errors=True)

    def check(self, res: dict, out: dict) -> list[str]:
        bad = []
        if res["pagerank"].stats["edges"] != self.n_edges:
            bad.append("ingest")
        got = out["ranks"]
        if not (np.array_equal(got["key"].to_numpy(dtype=object), self.keys)
                and _close(got["rank"].to_numpy(), self.ranks)):
            bad.append("pagerank")
        if res["write"]["rows"] != len(self.keys):
            bad.append("io.write")
        return bad

    def layer_counts(self, res: dict) -> dict:
        st, w = res["pagerank"].stats, res["write"]
        writes, durable = 0, 0
        with open(os.path.join(res["ckpt"], "pagerank_manifest.jsonl")) as f:
            for line in f:
                writes += 1
                durable += sum(p["bytes"] for p in json.loads(line)["partitions"])
        return {
            "ingest.files": st["nodes"], "ingest.edges": st["edges"],
            "io.rows_written": w["rows"], "io.bytes_written": w["bytes"],
            "pagerank.load_s": st["load_s"], "pagerank.compute_s": st["compute_s"],
            "pagerank.supersteps": st["iterations"],
            "skew.pagerank_salt": st["hot_key_salt"],
            "checkpoint.durable_writes": writes, "checkpoint.durable_mb": durable / 1e6,
        }


class Powerlaw:
    """Connected components, label propagation and a triangle count over
    one power-law edge table, each with its hub split on; the two
    superstep loops checkpoint in memory."""

    name = "powerlaw"
    REP_S = 11.0
    LPA_ITERS = 2
    CC_MAX = 200
    CANDIDATES = 16
    # nodes, edges, min-label supersteps the table must take (None: any)
    SIZES = {"full": (1 << 14, 1 << 16, 5), "toy": (256, 2048, None)}

    def __init__(self, seed: int, work_dir: str, scale: str):
        self.seed = seed
        self.n_nodes, self.n_edges, self.cc_rounds = self.SIZES[scale]

    def setup(self, spark) -> None:
        # Most seeds give a table whose components converge in 5
        # supersteps, a few in 6 or 7, and the job's work and time follow
        # that count. Tables are drawn from a sequence derived from the
        # seed until one takes cc_rounds, so every seed does the same work.
        for k in range(self.CANDIDATES):
            table = synth.synth_edge_table(
                spark, n_nodes=self.n_nodes, n_edges=self.n_edges,
                seed=(self.seed * self.CANDIDATES + k) * 4,  # uses seed .. seed+3
            )
            pdf = table.toPandas()
            self._src = pdf["src"].to_numpy(np.int64)
            self._dst = pdf["dst"].to_numpy(np.int64)
            nodes, si, di = oracles.node_index(self._src, self._dst)
            self.cc_iters = oracles.min_label_rounds(len(nodes), si, di, self.CC_MAX)
            if self.cc_rounds in (None, self.cc_iters):
                break
        self.edges = pin_table(table)

    def build_oracle(self, spark) -> None:
        nodes, si, di = oracles.node_index(self._src, self._dst)
        n = len(nodes)
        self.nodes = nodes
        self.comp = nodes[oracles.wcc(n, si, di)]
        lab, self.lpa_iters = oracles.label_propagation(n, si, di, self.LPA_ITERS)
        self.labels = nodes[lab]
        self.triangles, self.per_node, self.oriented = oracles.triangles(self._src, self._dst)
        self.work = len(self._src) * (self.cc_iters + self.lpa_iters) + self.oriented

    def run(self, spark, calls, rep: int, tracing: bool, res: dict) -> None:
        res["components"] = calls.call(
            "components", connected_components, self.edges, max_iter=self.CC_MAX,
            hub_cap="auto",
        )
        res["labelprop"] = calls.call(
            "labelprop", label_propagation, self.edges, max_iter=self.LPA_ITERS,
            hub_cap="auto",
        )
        res["triangles"] = calls.call("triangles", triangle_count, self.edges, hub_cap="auto")

    def collect(self, res: dict) -> dict:
        return {
            "comp": res["components"].components.orderBy("id").toPandas(),
            "labels": res["labelprop"].labels.orderBy("id").toPandas(),
            "per_node": res["triangles"].counts.filter(F.col("triangles") > 0)
            .select("id", "triangles").orderBy("id").toPandas(),
        }

    def release(self, res: dict) -> None:
        if "components" in res:
            release_state(res["components"].components)
        if "labelprop" in res:
            release_state(res["labelprop"].labels)
        if "triangles" in res:
            res["triangles"].release()

    def cleanup(self, rep: int) -> None:
        pass

    def check(self, res: dict, out: dict) -> list[str]:
        bad = []
        c = out["comp"]
        if not (np.array_equal(c["id"].to_numpy(), self.nodes)
                and np.array_equal(c["comp"].to_numpy(), self.comp)
                and res["components"].iterations == self.cc_iters):
            bad.append("components")
        lab = out["labels"]
        if not (np.array_equal(lab["id"].to_numpy(), self.nodes)
                and np.array_equal(lab["label"].to_numpy(), self.labels)
                and res["labelprop"].iterations == self.lpa_iters):
            bad.append("labelprop")
        t, got, want = res["triangles"], out["per_node"], self.per_node
        if not (t.triangle_count == self.triangles
                and t.stats["orientedEdges"] == self.oriented
                and np.array_equal(got["id"].to_numpy(), want["id"].to_numpy())
                and np.array_equal(got["triangles"].to_numpy(), want["triangles"].to_numpy())):
            bad.append("triangles")
        return bad

    def layer_counts(self, res: dict) -> dict:
        cc, lp, tc = res["components"].stats, res["labelprop"].stats, res["triangles"].stats
        return {
            "components.iterations": cc["iterations"],
            "labelprop.iterations": lp["iterations"],
            "triangles.orient_s": tc["orient_s"], "triangles.triangles": tc["triangleCount"],
            "skew.components_hubs": cc["hub_split"],
            "skew.labelprop_hubs": lp["hub_split"],
        }


WORKLOADS = {w.name: w for w in (CodeIngest, Powerlaw)}

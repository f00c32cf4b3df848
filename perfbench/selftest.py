"""Toy-size self-test of the benchmark.

    python3 perfbench/selftest.py

1. Cross-checks every oracle against a plain-Python reference on small
   random graphs (no Spark).
2. Runs every workload end to end at ``--scale toy``, untraced and
   traced, and checks the exit code, the result line's keys and that
   the metric names and units are exactly the ones BENCHMARK.json
   declares.

Exits non-zero on the first failure. Takes a few minutes (one JVM per
run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter, defaultdict

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import oracles  # noqa: E402


def _ref_pagerank(n, edges, iters, d=0.85):
    outdeg = Counter(s for s, _ in edges)
    r = [1.0 - d] * n
    for _ in range(iters):
        s = [0.0] * n
        for a, b in edges:
            s[b] += r[a] / outdeg[a]
        r = [(1.0 - d) + d * x for x in s]
    return r


def _ref_components(n, edges):
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    comp = [-1] * n
    for start in range(n):
        if comp[start] >= 0:
            continue
        stack, members = [start], []
        comp[start] = start
        while stack:
            u = stack.pop()
            members.append(u)
            for v in adj[u]:
                if comp[v] < 0:
                    comp[v] = start
                    stack.append(v)
        for u in members:
            comp[u] = min(members)
    return comp


def _ref_lpa(n, edges, max_iter):
    lab = list(range(n))
    it = 0
    for it in range(1, max_iter + 1):
        votes = defaultdict(Counter)
        for a, b in edges:
            votes[a][lab[b]] += 1
        new = lab[:]
        for node, c in votes.items():
            new[node] = min(c, key=lambda lbl: (-c[lbl], lbl))
        changed = sum(x != y for x, y in zip(new, lab))
        lab = new
        if changed == 0:
            break
    return lab, it


def _ref_triangles(edges):
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
    per = Counter()
    for a, b in und:
        for c in adj[a] & adj[b]:
            per.update((a, b, c))
    return sum(per.values()) // 3, per, len(und)


def check_oracles() -> None:
    rng = np.random.default_rng(7)
    for trial in range(20):
        n = int(rng.integers(2, 40))
        m = int(rng.integers(1, 120))
        src = rng.integers(0, n, m)
        dst = np.minimum(rng.pareto(1.2, m).astype(np.int64), n - 1)
        nodes, si, di = oracles.node_index(src, dst)
        k = len(nodes)
        edges = list(zip(si.tolist(), di.tolist()))

        got = oracles.pagerank(nodes, si, di, 10)
        assert np.allclose(got, _ref_pagerank(k, edges, 10), rtol=1e-12), trial

        assert oracles.wcc(k, si, di).tolist() == _ref_components(k, edges), trial
        rounds = oracles.min_label_rounds(k, si, di, 200)
        assert 1 <= rounds <= k + 1, trial

        lab, it = oracles.label_propagation(k, si, di, 5)
        ref_lab, ref_it = _ref_lpa(k, edges, 5)
        assert lab.tolist() == ref_lab and it == ref_it, trial

        total, per_node, m_und = oracles.triangles(src, dst)
        ref_total, ref_per, ref_m = _ref_triangles(list(zip(src.tolist(), dst.tolist())))
        assert (total, m_und) == (ref_total, ref_m), trial
        assert dict(zip(per_node["id"].tolist(), per_node["triangles"].tolist())) == dict(ref_per)
    print("oracles agree with the plain-Python references")


def check_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for wl in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                   "--workload", wl["name"], "--seed", "3", "--seconds", "1",
                   "--trace", str(trace), "--scale", "toy"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            label = f"{wl['name']} trace={trace}"
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{label}: exit code {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
            assert result["correct"] is True and result["failed"] == 0, label
            assert result["attempted"] >= 1, label
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == declared[trace], f"{label}: metric names/units differ"
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            print(f"{label}: ok ({result['attempted']} layer calls)")


if __name__ == "__main__":
    check_oracles()
    check_runs()

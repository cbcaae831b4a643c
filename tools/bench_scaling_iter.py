"""Iterative-workload scaling evidence: PageRank + connected components at
local[N] vs local[4N] — the companion to tools/bench_scaling.py (which
measures the triangle kernel). The north_rule's ≥0.8 efficiency criterion
is about the ENGINE's jobs generally; the kernel is embarrassingly parallel
by construction, while the iterative jobs are the harder case worth
evidencing separately. Under the broadcast budget both run on driver-held
vertex state (``plans/vertex_state``): one ``mapInArrow`` pass per PageRank
step (every step in one pass when the graph fits one grouped partition) or
per CC round, over one id-range partition per ~1 M adjacency entries — so
they are bound by Python task latency and can use at most as many cores as
there are grouped partitions, not by shuffle round trips.

Protocol matches bench_scaling.py: separate subprocess JVMs per level,
IDENTICAL shuffle partitioning at both levels (partitions sized to data,
not cores, as on a real cluster), interleaved measurement rounds, per-level
minima (the shared hypervisor shows ~2× time-varying noise), identical
results asserted across levels. Prints one JSON line; results are appended
to BENCH/BASELINE.md BY HAND (this tool does not overwrite that file).

Usage:
    python tools/bench_scaling_iter.py [--n 2] [--scale 19] [--rounds 2]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from trianglecounting_spark.session import get_spark
from trianglecounting_spark.sources import generators as g
from trianglecounting_spark.operators.normalize import normalize_edges
from trianglecounting_spark.operators.pagerank import pagerank
from trianglecounting_spark.operators.components import connected_components

spark = get_spark(app_name="iter-scaling-{cores}", cores={cores},
                  shuffle_partitions=128)
spark.sparkContext.setLogLevel("ERROR")
edges = normalize_edges(g.rmat_graph(spark, {scale}, {edge_factor}))
edges = edges.localCheckpoint(eager=True)
n_edges = edges.count()
# warm the JVM codegen + python pool outside the timed region
pagerank(edges.limit(2000), iterations=2).count()

t0 = time.time()
pr = pagerank(edges, iterations=10)
pr_sum = pr.agg(F.round(F.sum("score"), 6).alias("s")).collect()[0]["s"]
t_pr = time.time() - t0

t0 = time.time()
cc = connected_components(edges)
n_comp = cc.select("component").distinct().count()
t_cc = time.time() - t0

print(json.dumps({{"cores": {cores}, "edges": n_edges, "pr_sec": round(t_pr, 2),
                   "pr_sum": pr_sum, "cc_sec": round(t_cc, 2),
                   "n_components": n_comp}}))
"""


def run_worker(cores: int, scale: int, edge_factor: int) -> dict:
    code = _WORKER.format(repo=REPO, cores=cores, scale=scale,
                          edge_factor=edge_factor)
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, check=True, cwd=REPO)
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--scale", type=int, default=19)
    ap.add_argument("--edge-factor", type=int, default=16)
    ap.add_argument("--rounds", type=int, default=2)
    args = ap.parse_args()
    lo, hi = args.n, 4 * args.n
    runs: dict[int, list[dict]] = {lo: [], hi: []}
    for r in range(args.rounds):
        # interleave levels so time-varying host noise hits both equally
        for cores in (lo, hi):
            res = run_worker(cores, args.scale, args.edge_factor)
            runs[cores].append(res)
            print(f"round {r} local[{cores}]: {res}", file=sys.stderr)
    # identical exact results at every level and round
    keys = [(x["pr_sum"], x["n_components"], x["edges"])
            for v in runs.values() for x in v]
    assert len(set(keys)) == 1, f"results differ across levels: {keys}"
    best = {c: {"pr_sec": min(x["pr_sec"] for x in v),
                "cc_sec": min(x["cc_sec"] for x in v)}
            for c, v in runs.items()}
    out = {
        "n": lo, "n4": hi, "scale": args.scale,
        "edges": runs[lo][0]["edges"],
        "pr_sec": [best[lo]["pr_sec"], best[hi]["pr_sec"]],
        "pr_speedup": round(best[lo]["pr_sec"] / best[hi]["pr_sec"], 2),
        "pr_efficiency": round(best[lo]["pr_sec"] / best[hi]["pr_sec"] / 4, 2),
        "cc_sec": [best[lo]["cc_sec"], best[hi]["cc_sec"]],
        "cc_speedup": round(best[lo]["cc_sec"] / best[hi]["cc_sec"], 2),
        "cc_efficiency": round(best[lo]["cc_sec"] / best[hi]["cc_sec"] / 4, 2),
        "pr_sum": runs[lo][0]["pr_sum"],
        "n_components": runs[lo][0]["n_components"],
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

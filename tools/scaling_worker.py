"""Single scaling-run worker: triangle-count the bench graph at a given
parallelism, print one JSON line. Invoked by tools/bench_scaling.py at two
core counts (the sandbox stand-in for N vs 4N executors — see BASELINE.md)."""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--scale", type=int, default=19)
    ap.add_argument("--edge-factor", type=int, default=16)
    ap.add_argument("--sf-dir", default=None, help="use copart graph from parquet instead of R-MAT")
    ap.add_argument("--with-sql", action="store_true", help="also time the declarative 3-way-join plan")
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import Observation

    from trianglecounting_spark.session import get_spark
    from trianglecounting_spark.sources import generators as g
    from trianglecounting_spark.operators.normalize import normalize_edges, orient_dodg
    from trianglecounting_spark.operators.triangles import (
        _count_from_layout,
        _layout_from_dodg,
        triangle_count_kernel,
        triangle_count_sql,
    )

    # IDENTICAL shuffle partitioning at both parallelism levels before AQE
    # coalesces it to the data (as on a real cluster), so the two runs
    # execute the same plan and differ only in executor slots.
    spark = get_spark(
        app_name=f"tc-scaling-{args.cores}", cores=args.cores, shuffle_partitions=128
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.sf_dir:
        edges = g.copart_graph(spark, args.sf_dir)
    else:
        edges = normalize_edges(g.rmat_graph(spark, args.scale, args.edge_factor))
    # materialize the input once so the timed region is the counting pipeline
    # (degree agg + orientation joins + adjacency + kernel), not input prep
    edges = edges.localCheckpoint(eager=True)
    n_edges = edges.count()

    # warm up JVM codegen + Python worker pool outside the timed region
    # (a cluster amortizes this once per executor lifetime)
    triangle_count_kernel(edges.limit(1000)).collect()

    # --- intersection-kernel timing (the north-star metric) ---
    # Build the degree-ordered layout once (the reference also times its
    # counting kernel on a BUILT CSR — BASELINE.md reports "kernel" and
    # "total" separately), then time the set-intersection stage best-of-N
    # (the sandbox hypervisor shows ~2x run-to-run noise).
    # The layout is sized from the graph exactly as the pipeline path sizes
    # it (no fixed partition count: AQE coalesces the src repartition), so
    # a small graph is not timed as 128 mostly-empty Python tasks.
    d = orient_dodg(edges).localCheckpoint(eager=False)
    laid_out, hub_bc = _layout_from_dodg(d)
    laid_out = laid_out.localCheckpoint(eager=True)
    laid_out.count()
    # one UNTIMED full-size pass first: Python worker pool spawn, hub-CSR
    # broadcast load into every worker, and checkpoint-block page-cache warm-up
    # all amortize once per executor lifetime on a real cluster — timing them
    # into repeat 1 would bias the measurement against the higher core count
    # (more workers to warm). The reference's kernel timings likewise exclude
    # one-time setup (BASELINE.md reports kernel vs total separately).
    _count_from_layout(laid_out, hub_bc).collect()
    t_kernel = float("inf")
    tri_kernel = probes = None
    for _ in range(args.repeats):
        obs = Observation("kernel")
        t0 = time.time()
        tri = _count_from_layout(laid_out, hub_bc, obs).collect()[0].triangles
        t_kernel = min(t_kernel, time.time() - t0)
        assert tri_kernel is None or tri == tri_kernel
        tri_kernel, probes = tri, obs.get["probes"]

    # --- end-to-end pipeline timing (scan→normalize excluded; DODG→count) ---
    t_pipeline = float("inf")
    for _ in range(max(1, args.repeats - 1)):
        t0 = time.time()
        tri_p = triangle_count_kernel(edges).collect()[0].triangles
        t_pipeline = min(t_pipeline, time.time() - t0)
        assert tri_p == tri_kernel

    # --- steady-state query timing: count from the pre-bucketed layout ---
    # The 100 TB deployment pays the DODG/adjacency/hub co-location once at
    # write time (plans/layout.py); the recurring cost is this query: hub-CSR
    # load + one bucketed scan of the probe table into the kernel + final sum.
    # Built untimed, then best-of-repeats.
    import tempfile

    from trianglecounting_spark.operators.triangles import triangle_count_kernel_bucketed
    from trianglecounting_spark.plans.layout import write_graph_layout

    layout_dir = tempfile.mkdtemp(prefix=f"tc_scaling_layout_{args.cores}_")
    e_tbl, a_tbl, h_tbl = write_graph_layout(
        edges, layout_dir, buckets=128, prefix=f"scal{args.cores}"
    )
    triangle_count_kernel_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl).collect()
    t_query = float("inf")
    for _ in range(args.repeats):
        t0 = time.time()
        tri_q = (
            triangle_count_kernel_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
            .collect()[0]
            .triangles
        )
        t_query = min(t_query, time.time() - t0)
        assert tri_q == tri_kernel

    if args.with_sql:
        t0 = time.time()
        tri_sql = triangle_count_sql(edges).collect()[0].triangles
        t_sql = time.time() - t0
        assert tri_kernel == tri_sql, (tri_kernel, tri_sql)
    else:
        t_sql = None
    print(
        json.dumps(
            {
                "cores": args.cores,
                "edges": int(n_edges),
                "triangles": int(tri_kernel),
                "probes": int(probes),
                "kernel_probes_per_sec": round(probes / t_kernel, 1),
                "kernel_sec": round(t_kernel, 3),
                "pipeline_sec": round(t_pipeline, 3),
                "query_sec": round(t_query, 3),
                "sql_sec": round(t_sql, 3) if t_sql is not None else None,
                "kernel_edges_per_sec": round(n_edges / t_kernel, 1),
                "pipeline_edges_per_sec": round(n_edges / t_pipeline, 1),
                "query_edges_per_sec": round(n_edges / t_query, 1),
                "sql_edges_per_sec": round(n_edges / t_sql, 1) if t_sql else None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

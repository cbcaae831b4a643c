"""Per-layer metrics of a traced run, computed from its spans.

Layers are the program's modules the benchmark calls into: ``session``,
``sources``, ``normalize``, ``layout`` (``plans/layout.py``), ``triangles``,
the iterative operators ``components``, ``pagerank``, ``scc`` and
``ktruss``, and ``cache`` (``plans/cache.py``). A metric of a layer that the
workload never calls reads 0. Where a layer is called more than once, the
metric is the median over its calls.
"""

from __future__ import annotations

import statistics

ITERATIVE_OPS = ("components", "pagerank", "scc", "ktruss")


def per_layer(tracer, ctx, session_start_s: float, cores: int,
              traced_s: float, untraced_s: float) -> dict[str, tuple[float, str]]:
    spans: dict[str, list] = {}
    for s in tracer.spans:
        spans.setdefault(s.name, []).append(s)

    def med(name: str, value=lambda s: s.seconds) -> float:
        vals = [value(s) for s in spans.get(name, [])]
        return statistics.median(vals) if vals else 0.0

    def counter(key: str):
        return lambda s: s.counters.get(key, 0)

    def ratio(num, den):
        return lambda s: num(s) / den(s) if den(s) else 0.0

    def idle(s):
        """Share of the call's core-seconds no task ran in."""
        return 1.0 - s.counters.get("executor_run_s", 0) / (s.seconds * cores)

    raw_rows = med("sources.scan", counter("raw_rows"))
    edges = med("normalize.normalize_edges", counter("edges"))
    m = {
        "session.start_s": (session_start_s, "s"),
        "session.warmup_s": (med("session.warmup"), "s"),
        "sources.scan_s": (med("sources.scan"), "s"),
        "sources.raw_rows": (raw_rows, "count"),
        "sources.copart_graph_s": (med("sources.copart_graph"), "s"),
        "normalize.normalize_edges_s": (med("normalize.normalize_edges"), "s"),
        "normalize.edges": (edges, "count"),
        "normalize.kept_ratio": (edges / raw_rows if edges else 0.0, "ratio"),
        "normalize.orient_dodg_s": (med("normalize.orient_dodg"), "s"),
        "layout.write_s": (med("layout.write"), "s"),
        "layout.jobs": (med("layout.write", counter("jobs")), "count"),
        "layout.bytes_written": (med("layout.write", counter("bytes_written")), "bytes"),
        "layout.hub_rows": (med("layout.write", counter("hub_rows")), "count"),
        "layout.shuffle_write_bytes": (
            med("layout.write", counter("shuffle_write_bytes")), "bytes"),
    }

    tc = "triangles.count"
    probes, hits = counter("probes"), counter("hits")
    m.update({
        "triangles.s": (med(tc), "s"),
        "triangles.layout_s": (med("triangles.layout"), "s"),
        "triangles.probes": (med(tc, probes), "count"),
        "triangles.hits": (med(tc, hits), "count"),
        "triangles.hit_ratio": (med(tc, ratio(hits, probes)), "ratio"),
        "triangles.probes_per_s": (med(tc, ratio(probes, lambda s: s.seconds)), "1/s"),
        "triangles.jobs": (med(tc, counter("jobs")), "count"),
        "triangles.executor_run_s": (med(tc, counter("executor_run_s")), "s"),
        "triangles.executor_cpu_s": (med(tc, counter("executor_cpu_s")), "s"),
        "triangles.gc_s": (med(tc, counter("gc_s")), "s"),
        "triangles.shuffle_read_bytes": (med(tc, counter("shuffle_read_bytes")), "bytes"),
        "triangles.shuffle_write_bytes": (med(tc, counter("shuffle_write_bytes")), "bytes"),
        "triangles.spill_bytes": (med(tc, counter("spill_bytes")), "bytes"),
        "triangles.result_bytes": (med(tc, counter("result_bytes")), "bytes"),
        "triangles.slot_idle_ratio": (med(tc, idle), "ratio"),
    })

    for op in ITERATIVE_OPS:
        m.update({
            f"{op}.s": (med(op), "s"),
            f"{op}.jobs": (med(op, counter("jobs")), "count"),
            f"{op}.s_per_job": (med(op, ratio(lambda s: s.seconds, counter("jobs"))), "s"),
            f"{op}.executor_run_s": (med(op, counter("executor_run_s")), "s"),
            f"{op}.shuffle_write_bytes": (med(op, counter("shuffle_write_bytes")), "bytes"),
            f"{op}.result_bytes": (med(op, counter("result_bytes")), "bytes"),
            f"{op}.slot_idle_ratio": (med(op, idle), "ratio"),
        })

    m.update({
        "cache.leaked_rdds": (ctx.leaked_rdds, "count"),
        "cache.release_s": (med("cache.release"), "s"),
        "trace.query_s": (traced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
    })
    return m

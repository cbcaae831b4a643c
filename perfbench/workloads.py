"""The benchmark's workloads: inputs, warm-up, ingest, timed query, checks.

Each workload runs closed-loop with one client on Spark ``local[2]``.
Every timed call into the program is one operation; an exception or a result
that differs from the oracle is a failed operation. Results are compared
after Spark has stopped, once the oracle (``oracle.py``) has run.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

from pyspark.sql import Observation, functions as F

import inputs
import oracle
from trianglecounting_spark.operators import triangles as tri
from trianglecounting_spark.operators.components import connected_components
from trianglecounting_spark.operators.ktruss import ktruss
from trianglecounting_spark.operators.normalize import normalize_edges, orient_dodg
from trianglecounting_spark.operators.pagerank import pagerank
from trianglecounting_spark.operators.scc import scc
from trianglecounting_spark.plans.cache import persistent_rdd_ids, release_all_cached
from trianglecounting_spark.plans.layout import write_graph_layout
from trianglecounting_spark.sources.generators import copart_graph, load_table
from trianglecounting_spark.sources.readers import read_edges_parquet

# R-MAT raw multigraph for the triangle workloads: 2^14 vertices, 16 raw rows
# per vertex (262,144 rows, about 213k canonical edges). Queries at this size
# and at scale 15 both cost mostly fixed per-query overhead (medians 2.3 s
# and 2.8 s over ten seeds); the smaller graph keeps ingest, queries and
# oracle of one run inside the time a run may take.
RMAT_SCALE, RMAT_EDGE_FACTOR = 14, 16
WARMUP_RMAT_SCALE = 10
LAYOUT_BUCKETS = 16
# TPC-H-shaped lineitem for the iterate workload (6,000 orders, 800 parts,
# about 44k co-part edges). The four operators are bound by per-job latency
# more than by data, so a larger graph adds run time and oracle time (a pass
# took ~38 s at sf0.01). The size also sets how many rounds ktruss(k=6)
# peels, and so its job count: over seeds 1-20, sf0.005 peels 2 or 3 rounds
# half and half (ktruss 2.9 s against 4.8 s a call), sf0.004 peels 2 rounds
# on 17 seeds.
COPART_SF = 0.004
# The co-part build takes under 1 s and speeds up as the JIT warms (0.94,
# 0.74, 0.55, 0.61, 0.55 s in one run). Over ten seeds, the median of seven
# builds spread by 12% and 15% of its median in two sets; ingest_s is the
# median of eleven builds. The last is kept.
COPART_INGEST_REPS = 11


class Check:
    """A deferred comparison of one operation's result against the oracle."""

    def __init__(self, call: int, op: str, key: str, got, rel_tol: float = 0.0):
        self.call, self.op, self.key = call, op, key
        self.got, self.rel_tol = got, rel_tol

    def ok(self, expected: dict) -> bool:
        want = expected[self.key]
        if self.rel_tol:
            return abs(self.got - want) <= self.rel_tol * abs(want)
        return self.got == want


class Context:
    """One run's Spark session, tracer and operation ledger."""

    def __init__(self, spark, tracer, work: str):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.protected: set[int] = set()
        self.attempted = 0
        self.errors: list[tuple[int, str]] = []  # (call number, message)
        self.checks: list[Check] = []
        self.leaked_rdds = 0
        self.last_span = None

    def release(self) -> None:
        with self.tracer.span("cache.release"):
            release_all_cached(self.spark, keep=self.protected)

    def call(self, name: str, fn, traced: bool = True):
        """Run one timed operation; returns (value or None on error, seconds).

        Cached blocks of the previous call are released first, outside the
        timed region. After a traced call, the blocks it leaves behind are
        counted and the stage metrics of the spans closed so far are read,
        both after the timed region. An untraced call may run inside an open
        span (the warm-up), where stage metrics cannot be read yet."""
        self.release()
        self.attempted += 1
        span = self.tracer.span(name) if traced else nullcontext()
        t0 = time.perf_counter()
        try:
            with span as self.last_span:
                value = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            self.errors.append((self.attempted, f"{name}: {type(e).__name__}: {e}"))
            return None, time.perf_counter() - t0
        seconds = time.perf_counter() - t0
        if traced and self.tracer.enabled:
            self.leaked_rdds += len(persistent_rdd_ids(self.spark) - self.protected)
            self.tracer.collect_stage_metrics()
        return value, seconds

    def expect(self, op: str, key: str, got, rel_tol: float = 0.0) -> None:
        """Check the result of the latest call when the oracle is known."""
        self.checks.append(Check(self.attempted, op, key, got, rel_tol))


def timed_loop(ctx: Context, seconds: float, rep, min_reps: int):
    """Call ``rep(traced)`` until ``seconds`` have passed and at least
    ``min_reps`` repetitions ran. With tracing on, repetitions alternate
    traced and untraced, traced first (at least one of each), for the
    overhead figure; every workload warms its query path before, so the
    first traced one is not the coldest.

    Returns (traced or all rep times, untraced rep times)."""
    times: list[float] = []
    plain: list[float] = []
    deadline = time.perf_counter() + seconds
    while True:
        traced = not ctx.tracer.enabled or len(times) <= len(plain)
        (times if traced else plain).append(rep(traced))
        if (
            time.perf_counter() >= deadline
            and len(times) + len(plain) >= min_reps
            and (plain or not ctx.tracer.enabled)
        ):
            return times, plain


# ---------------------------------------------------------------------------
# Triangle workloads
# ---------------------------------------------------------------------------


class TriangleWorkload:
    """Exact triangle count of a seeded raw R-MAT multigraph through the
    bucketed layout: ingest writes the layout once, and the query counts with
    ``triangle_count_kernel_bucketed``: hub selection, hub-CSR load and the
    exchange-free bucketed join."""

    oracle_kind = "triangles"
    min_reps = 3
    # Untimed queries on the ingested graph before timing: at scale 15 the
    # first queries of a process took about 7, 3.3 and 3.0 s before settling
    # near 2.7 s.
    warm_reps = 2

    @property
    def input_key(self) -> str:
        return f"rmat-s{RMAT_SCALE}-ef{RMAT_EDGE_FACTOR}"

    def make_inputs(self, seed: int, in_dir: str) -> str:
        path = os.path.join(in_dir, "rmat.parquet")
        inputs.write_rmat(path, seed, RMAT_SCALE, RMAT_EDGE_FACTOR)
        return path

    def warm_up(self, ctx: Context, seed: int, raw_path: str) -> None:
        """Ingest a tiny graph, so ingest runs with the JIT warm. The query
        path is warmed by ``warm_reps`` untimed queries after ingest."""
        path = os.path.join(ctx.work, "warmup_rmat.parquet")
        inputs.write_rmat(path, seed, WARMUP_RMAT_SCALE, RMAT_EDGE_FACTOR)
        edges = normalize_edges(read_edges_parquet(ctx.spark, path)).localCheckpoint(
            eager=True
        )
        write_graph_layout(
            edges, os.path.join(ctx.work, "warmup_layout"),
            buckets=LAYOUT_BUCKETS, prefix="warmup",
        )
        release_all_cached(ctx.spark)

    def ingest(self, ctx: Context, raw_path: str):
        spark, tracer = ctx.spark, ctx.tracer
        if tracer.enabled:
            with tracer.span("sources.scan") as s:
                s.counters["raw_rows"] = read_edges_parquet(spark, raw_path).count()
        layout_dir = os.path.join(ctx.work, "layout")

        def build():
            with tracer.span("normalize.normalize_edges") as s_norm:
                edges = normalize_edges(read_edges_parquet(spark, raw_path)).localCheckpoint(
                    eager=True
                )
            with tracer.span("layout.write") as s_layout:
                tables = write_graph_layout(edges, layout_dir, buckets=LAYOUT_BUCKETS)
            return edges, tables, s_norm, s_layout

        built, seconds = ctx.call("ingest", build)
        if built is None:
            raise RuntimeError(ctx.errors[-1][1])
        edges, tables, s_norm, s_layout = built
        ctx.protected = persistent_rdd_ids(spark)
        n_edges = edges.count()
        ctx.expect("ingest", "edges", n_edges)
        if tracer.enabled:
            s_norm.counters["edges"] = n_edges
            s_layout.counters["bytes_written"] = _dir_bytes(layout_dir)
            s_layout.counters["hub_rows"] = spark.table(tables[2]).count()
            with tracer.span("normalize.orient_dodg"):
                orient_dodg(edges).count()
            with tracer.span("triangles.layout"):
                laid_out, _hub_bc = tri.bucketed_kernel_layout(
                    spark, tables[0], tables[1], hub_table=tables[2]
                )
                laid_out.count()
        return tables, seconds

    def query(self, ctx: Context, tables, traced: bool) -> float:
        e_tbl, a_tbl, h_tbl = tables
        obs = Observation("kernel")

        def count() -> int:
            return tri.triangle_count_kernel_bucketed(
                ctx.spark, e_tbl, a_tbl, hub_table=h_tbl, observation=obs
            ).collect()[0].triangles

        value, seconds = ctx.call("triangles.count", count, traced)
        if value is not None:
            ctx.expect("triangles.count", "triangles", value)
            if ctx.last_span is not None:
                ctx.last_span.counters["probes"] = int(obs.get["probes"])
                ctx.last_span.counters["hits"] = int(obs.get["hits"])
        return seconds


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


# ---------------------------------------------------------------------------
# Iterate workload
# ---------------------------------------------------------------------------


def reciprocated_sample(edges):
    """The directed graph scc runs on (``oracle.reciprocated_sample``)."""

    def h(seed):
        m = F.lit(oracle.SAMPLE_M)
        return F.pmod(
            F.pmod(F.col("u"), m) * F.lit(oracle.SAMPLE_A)
            + F.pmod(F.col("v"), m) * F.lit(oracle.SAMPLE_B)
            + F.lit(seed),
            m,
        )

    s = edges.where(F.pmod(h(oracle.SAMPLE_KEEP_SEED), F.lit(oracle.SAMPLE_KEEP)) == 0)
    fwd = s.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    back = s.where(
        F.pmod(h(oracle.SAMPLE_BACK_SEED), F.lit(oracle.SAMPLE_BACK)) == 0
    ).select(F.col("v").alias("src"), F.col("u").alias("dst"))
    return fwd.unionAll(back)


class IterateWorkload:
    """One pass of four fixpoint operators on the co-part graph:
    ``connected_components``, ``pagerank(iterations=10)``, ``scc`` on the
    reciprocated 1/8 sample and ``ktruss(k=6)``."""

    oracle_kind = "copart"
    min_reps = 1
    warm_reps = 0
    # name -> call returning {oracle key: result}
    OPS = (
        ("components", lambda e: {"components": connected_components(e).agg(
            F.count_distinct("component")).collect()[0][0]}),
        ("pagerank", lambda e: dict(zip(
            ("pagerank_sum", "pagerank_max"),
            pagerank(e, iterations=oracle.PAGERANK_STEPS).agg(
                F.sum("score"), F.max("score")).collect()[0]))),
        ("scc", lambda e: {"scc_labels": scc(reciprocated_sample(e)).agg(
            F.count_distinct("label")).collect()[0][0]}),
        ("ktruss", lambda e: {"ktruss_edges": ktruss(e, k=oracle.KTRUSS_K).count()}),
    )

    @property
    def input_key(self) -> str:
        return f"copart-sf{COPART_SF}"

    def make_inputs(self, seed: int, in_dir: str) -> str:
        inputs.write_lineitem(in_dir, seed, COPART_SF)
        return os.path.join(in_dir, "lineitem.parquet")

    def warm_up(self, ctx: Context, seed: int, lineitem_path: str) -> None:
        """Build the co-part graph of the run's input and run one full,
        checked pass of the four operators on it. In one process the first
        pass took 28.8 s and the next four 19.6-21.8 s; warming components
        and ktruss on a tiny graph instead left pagerank and scc cold."""
        edges = copart_graph(ctx.spark, os.path.dirname(lineitem_path)).localCheckpoint(
            eager=True
        )
        ctx.protected = persistent_rdd_ids(ctx.spark)
        self.query(ctx, edges, traced=False)
        ctx.protected = set()
        release_all_cached(ctx.spark)

    def ingest(self, ctx: Context, lineitem_path: str):
        spark = ctx.spark
        sf_dir = os.path.dirname(lineitem_path)
        if ctx.tracer.enabled:
            with ctx.tracer.span("sources.scan") as s:
                s.counters["raw_rows"] = load_table(spark, sf_dir, "lineitem").count()

        def build():
            with ctx.tracer.span("sources.copart_graph"):
                return copart_graph(spark, sf_dir).localCheckpoint(eager=True)

        times = []
        for _ in range(COPART_INGEST_REPS):
            edges, seconds = ctx.call("ingest", build)
            if edges is None:
                raise RuntimeError(ctx.errors[-1][1])
            ctx.expect("ingest", "edges", edges.count())
            times.append(seconds)
        ctx.protected = persistent_rdd_ids(spark)
        return edges, statistics.median(times)

    def query(self, ctx: Context, edges, traced: bool) -> float:
        total = 0.0
        for name, op in self.OPS:
            results, seconds = ctx.call(name, lambda: op(edges), traced)
            total += seconds
            for key, got in (results or {}).items():
                # PageRank sums floats in another order than the oracle
                ctx.expect(name, key, got, rel_tol=1e-9 if isinstance(got, float) else 0.0)
        return total


WORKLOADS = {
    "tc-layout": TriangleWorkload(),
    "iterate-copart": IterateWorkload(),
}


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0

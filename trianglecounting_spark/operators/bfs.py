"""Single-source BFS levels (unweighted shortest paths) — frontier-parallel.

The remaining classic link-graph query (reachability / distance layers for
crawl-depth analysis). Textbook distributed BFS: per round, expand only the
FRONTIER (vertices first reached last round) through one vertex-keyed join,
anti-join out already-settled vertices, append. On unit weights the first
discovery is the shortest distance, so settled entries never change — each
round's work is O(|frontier| · avg degree), and the total across all rounds
is one pass over the symmetric edge set, the optimal work bound.

Scale notes: the (big) symmetric edge side is pre-partitioned by src once and
cached; each round shuffles only frontier-sized tables. Power-law graphs
reach most vertices in 2–4 rounds (the frontier IS the skew absorber — a
mega-hub simply lands the bulk of V in one round's frontier, which AQE
splits). Rounds are kept + released through ``IterationScope`` like the
other iterative operators.

Output: ``(v: long, dist: long)`` for every vertex REACHABLE from the
source; unreachable vertices are absent (not ∞ rows — the caller's join
decides the sentinel). Integer-exact, partitioning-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.normalize import undirect
from trianglecounting_spark.plans.cache import IterationScope
from trianglecounting_spark.plans.tuning import (
    iteration_partitions,
    scoped_shuffle_partitions,
)


def bfs_distances(
    edges: DataFrame, source: int | None = None, max_iterations: int = 50
) -> DataFrame:
    """BFS levels from ``source`` (default: the minimum vertex id — a
    deterministic, oracle-expressible choice). Runs until the frontier
    empties or ``max_iterations``."""
    spark = edges.sparkSession
    if source is None:
        source = int(edges.agg(F.min(F.least("u", "v"))).collect()[0][0])
    n_part = iteration_partitions(spark, edges.count() * 2)
    with IterationScope(spark) as it:
        sym = it.cache(undirect(edges).repartition(n_part, "src"))
        sym.count()  # materialize before the loop (cache must survive sweeps)
        frontier = dist = it.keep(spark.createDataFrame([(source, 0)], "v long, dist long"))
        with scoped_shuffle_partitions(spark, n_part):
            for k in range(1, max_iterations + 1):
                new_frontier = it.keep(
                    sym.join(
                        frontier.select(F.col("v").alias("src")), "src"
                    )
                    .select(F.col("dst").alias("v"))
                    .distinct()
                    .join(dist, "v", "left_anti")
                    .select("v", F.lit(k).cast("long").alias("dist"))
                )
                if new_frontier.count() == 0:
                    break
                new_dist = it.keep(dist.unionAll(new_frontier))
                it.release(dist, frontier)
                dist, frontier = new_dist, new_frontier
        return it.result(dist)


def double_sweep_diameter(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib 2009): BFS
    from the minimum vertex id, then BFS from the farthest vertex found
    (ties → smallest id); the second sweep's eccentricity is a lower bound on
    the diameter that is exact on trees and near-exact on real web graphs —
    the standard O(2·BFS) estimator where the exact diameter would need
    all-pairs. Output: one row ``(source, far_vertex, diameter_lb)``."""
    first = bfs_distances(edges, max_iterations=max_iterations)
    # farthest vertex, smallest id on ties: max over (dist, -v)
    far_row = first.agg(
        F.max(F.struct(F.col("dist"), (-F.col("v")).alias("nv"))).alias("m")
    ).collect()[0]["m"]
    far_v = -int(far_row["nv"])
    second = bfs_distances(edges, source=far_v, max_iterations=max_iterations)
    source = int(edges.agg(F.min(F.least("u", "v"))).collect()[0][0])
    return second.agg(
        F.lit(source).cast("long").alias("source"),
        F.lit(far_v).cast("long").alias("far_vertex"),
        F.max("dist").cast("long").alias("diameter_lb"),
    )


def double_sweep_diameter_sql(edges_sql: str, rounds: int = 8) -> str:
    """DuckDB oracle: two unrolled min-relaxation chains; the second is
    seeded from the first sweep's (max dist, min id) vertex."""

    def chain(prefix: str, seed_expr: str) -> list[str]:
        parts = [
            f"{prefix}0 AS MATERIALIZED (SELECT {seed_expr} AS v, 0 AS dist)"
        ]
        for k in range(1, rounds + 1):
            parts.append(
                f"{prefix}{k} AS MATERIALIZED (SELECT v, min(dist) AS dist FROM ("
                f"SELECT v, dist FROM {prefix}{k-1} UNION ALL "
                f"SELECT s.b AS v, d.dist + 1 AS dist "
                f"FROM {prefix}{k-1} d JOIN sym s ON s.a = d.v) GROUP BY v)"
            )
        return parts

    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e "
        "UNION ALL SELECT v AS a, u AS b FROM e)",
    ]
    parts += chain("f", "(SELECT min(least(u, v)) FROM e)")
    parts.append(
        f"farv AS MATERIALIZED (SELECT v FROM f{rounds} "
        "ORDER BY dist DESC, v ASC LIMIT 1)"
    )
    parts += chain("g", "(SELECT v FROM farv)")
    return (
        ", ".join(parts)
        + " SELECT CAST((SELECT min(least(u, v)) FROM e) AS BIGINT) AS source, "
        "CAST((SELECT v FROM farv) AS BIGINT) AS far_vertex, "
        f"CAST((SELECT max(dist) FROM g{rounds}) AS BIGINT) AS diameter_lb"
    )


def bfs_unrolled_sql(edges_sql: str, rounds: int = 8) -> str:
    """DuckDB oracle: ``rounds`` unrolled min-relaxation steps from the
    minimum vertex id. Relaxation is idempotent once the true BFS layers are
    settled, so any ``rounds`` ≥ the source's eccentricity equals the
    fixpoint — same idempotent-unroll contract as the peeling oracles."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS a, v AS b FROM e "
        "UNION ALL SELECT v AS a, u AS b FROM e)",
        "d0 AS MATERIALIZED (SELECT (SELECT min(least(u, v)) FROM e) AS v, 0 AS dist)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT v, min(dist) AS dist FROM ("
            f"SELECT v, dist FROM d{k-1} UNION ALL "
            f"SELECT s.b AS v, d.dist + 1 AS dist "
            f"FROM d{k-1} d JOIN sym s ON s.a = d.v) GROUP BY v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, CAST(dist AS BIGINT) AS dist FROM d{rounds} ORDER BY v"
    )


_WM = 1_000_000_007
_WA = 2_654_435_761


def hash_weights(edges: DataFrame) -> DataFrame:
    """Deterministic integer weights 1..9 per canonical edge — the lane input
    for weighted SSSP when the source table is unweighted (the contract edge
    tables carry no weight column; `io.c:28-29` in the reference likewise
    drops the IJV weight field). Same pure-int64 counter-hash family as
    functions/sampling.py — partitioning-invariant and expressible
    identically in Spark and DuckDB (no engine hash builtin involved).
    Output: ``(u, v, w: long)``."""
    w = (
        (F.col("u") % F.lit(_WM)) * F.lit(_WA) + (F.col("v") % F.lit(_WM))
    ) % F.lit(_WM) % F.lit(9) + F.lit(1)
    return edges.select("u", "v", w.cast("long").alias("w"))


def sssp_weighted(
    edges_w: DataFrame, source: int | None = None, max_iterations: int = 60
) -> DataFrame:
    """Single-source shortest paths on a weighted UNDIRECTED edge table
    ``(u, v, w)`` — frontier-parallel Bellman-Ford relaxation (the
    DataFrame analogue of delta-stepping's light-edge loop with one global
    bucket).

    Per round, only the FRONTIER (vertices whose tentative distance improved
    last round) relaxes its out-edges: candidates = frontier ⋈ edges with
    dist+w, min-combined per vertex, then compared against the settled map;
    strict improvements become the next frontier. Unlike unit-weight BFS a
    settled entry CAN improve later, so the map is min-merged (full outer)
    rather than anti-joined — but each round still shuffles only
    frontier-sized tables plus one map-sized min-merge, and the loop stops
    at the true fixpoint (empty frontier), which Bellman-Ford guarantees in
    ≤ |V|−1 rounds on negative-free weights.

    Scale notes: the symmetric weighted edge side is partitioned by src once
    and cached; rounds checkpoint-and-release like every other iterative
    operator here. Power-law web graphs converge in O(weighted effective
    diameter) rounds — tens, not |V|. A mega-hub landing most of V in one
    frontier is absorbed by AQE the same way bfs_distances documents.

    Output: ``(v: long, dist: long)`` for vertices reachable from
    ``source`` (default: minimum vertex id). Integer-exact.
    """
    spark = edges_w.sparkSession
    if source is None:
        source = int(edges_w.agg(F.min(F.least("u", "v"))).collect()[0][0])
    n_part = iteration_partitions(spark, edges_w.count() * 2)
    with IterationScope(spark) as it:
        sym = it.cache(
            edges_w.select(F.col("u").alias("src"), F.col("v").alias("dst"), "w")
            .unionAll(
                edges_w.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
            )
            .repartition(n_part, "src")
        )
        sym.count()
        frontier = dist = it.keep(spark.createDataFrame([(source, 0)], "v long, dist long"))
        with scoped_shuffle_partitions(spark, n_part):
            for _ in range(max_iterations):
                cand = (
                    sym.join(
                        frontier.select(F.col("v").alias("src"), "dist"), "src"
                    )
                    .select(
                        F.col("dst").alias("v"),
                        (F.col("dist") + F.col("w")).alias("nd"),
                    )
                    .groupBy("v")
                    .agg(F.min("nd").alias("nd"))
                )
                new_frontier = it.keep(
                    cand.join(dist, "v", "left_outer")
                    .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
                    .select("v", F.col("nd").alias("dist"))
                )
                if new_frontier.count() == 0:
                    break
                new_dist = it.keep(
                    dist.unionAll(new_frontier)
                    .groupBy("v")
                    .agg(F.min("dist").alias("dist"))
                )
                it.release(dist, frontier)
                dist, frontier = new_dist, new_frontier
        return it.result(dist)


def sssp_weighted_unrolled_sql(edges_sql: str, rounds: int = 25) -> str:
    """DuckDB oracle: ``rounds`` unrolled weighted min-relaxation steps from
    the minimum vertex id over hash-weighted symmetric edges (weights mirror
    ``hash_weights``). Idempotent once settled, so any ``rounds`` ≥ the
    weighted-hop depth of the shortest-path tree equals the fixpoint."""
    parts = [
        f"WITH e AS MATERIALIZED (SELECT u, v, "
        f"((u % {_WM}) * {_WA} + (v % {_WM})) % {_WM} % 9 + 1 AS w "
        f"FROM ({edges_sql}))",
        "sym AS MATERIALIZED (SELECT u AS a, v AS b, w FROM e "
        "UNION ALL SELECT v AS a, u AS b, w FROM e)",
        "d0 AS MATERIALIZED (SELECT (SELECT min(least(u, v)) FROM e) AS v, 0 AS dist)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT v, min(dist) AS dist FROM ("
            f"SELECT v, dist FROM d{k-1} UNION ALL "
            f"SELECT s.b AS v, d.dist + s.w AS dist "
            f"FROM d{k-1} d JOIN sym s ON s.a = d.v) GROUP BY v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, CAST(dist AS BIGINT) AS dist FROM d{rounds} ORDER BY v"
    )

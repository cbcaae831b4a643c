"""Distributed greedy graph coloring — Jones–Plassmann with fixed priorities.

Coloring partitions a graph into independent sets (conflict-free scheduling,
parallel updates, register-style allocation over shard graphs). Classic
Jones–Plassmann (1993) colors a vertex once all its higher-priority
uncolored neighbors are gone; with the priority fixed per vertex (the same
portable counter-hash family as operators/mis.py) the outcome is exactly the
SEQUENTIAL greedy coloring in priority order — one well-defined result,
independent of partitioning and round batching (our differential test), with
the usual O(log n / log log n) expected round count for hashed priorities.

Round k (all uncolored vertices in parallel):
  * a vertex is READY iff no uncolored neighbor has smaller ``(h(v), v)``
    key (ready vertices form an independent set — ties are impossible);
  * each ready vertex takes the minimum color ≥ 0 not used by its
    already-colored neighbors (the mex — an array expression over the
    collected neighbor-color set, bounded by degree).

Scale shape: per round one join of the symmetrized edge table against the
shrinking uncolored set + one min-aggregation (readiness) + one
collect_set bounded by degree (mex input). The edge side is partitioned
once and reused; colored state is append-only and checkpointed per round.

No counterpart in /root/reference; the priority/peel scaffolding mirrors
operators/mis.py (the two are the canonical symmetry-breaking pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.mis import _h, _h_sql
from trianglecounting_spark.operators.normalize import undirect
from trianglecounting_spark.plans.cache import IterationScope
from trianglecounting_spark.plans.tuning import iteration_partitions, scoped_shuffle_partitions


def greedy_coloring(edges: DataFrame, max_iterations: int = 100) -> DataFrame:
    """Output: ``(v: long, color: long)`` — the greedy coloring in
    ``(h(v), v)`` priority order. Colors are 0-based; the count of distinct
    colors is ≤ max-degree + 1 (greedy bound). Raises RuntimeError if not
    every vertex is colored after ``max_iterations`` rounds."""
    spark = edges.sparkSession
    m2 = edges.count() * 2
    n_part = iteration_partitions(spark, m2)
    with IterationScope(spark) as it:
        sym = it.cache(undirect(edges).repartition(n_part, "src"))
        vertices = sym.select(F.col("src").alias("v")).distinct()
        und = vertices
        colored = None  # accumulated (v, color)
        with scoped_shuffle_partitions(spark, n_part):
            for _ in range(max_iterations):
                if und.limit(1).count() == 0:
                    break
                # readiness: no uncolored neighbor with smaller priority key
                act = (
                    sym.join(und.withColumnRenamed("v", "src"), "src")
                    .join(und.withColumnRenamed("v", "dst"), "dst")
                    .select("src", "dst")
                )
                nbr_min = act.groupBy(F.col("src").alias("v")).agg(
                    F.min(F.struct(_h(F.col("dst")).alias("h"), F.col("dst").alias("v")))
                    .alias("mn")
                )
                ready = (
                    und.join(nbr_min, "v", "left")
                    .where(
                        F.col("mn").isNull()
                        | (F.struct(_h(F.col("v")).alias("h"), F.col("v").alias("v"))
                           < F.col("mn"))
                    )
                    .select("v")
                )
                # mex over already-colored neighbors' colors
                if colored is None:
                    newly = ready.select("v", F.lit(0).cast("long").alias("color"))
                else:
                    nbr_colors = (
                        sym.join(ready.withColumnRenamed("v", "src"), "src")
                        .join(
                            colored.select(F.col("v").alias("dst"), "color"), "dst"
                        )
                        .groupBy(F.col("src").alias("v"))
                        .agg(F.collect_set("color").alias("cs"))
                    )
                    newly = (
                        ready.join(nbr_colors, "v", "left")
                        .select(
                            "v",
                            F.when(F.col("cs").isNull(), F.lit(0).cast("long"))
                            .otherwise(
                                F.filter(
                                    F.sequence(
                                        F.lit(0).cast("long"),
                                        F.size("cs").cast("long"),
                                    ),
                                    lambda x: ~F.array_contains(F.col("cs"), x),
                                )[0]
                            )
                            .alias("color"),
                        )
                    )
                prev = (und, colored)
                und = it.keep(und.join(ready, "v", "left_anti"))
                colored = it.keep(newly if colored is None else colored.unionAll(newly))
                it.release(*prev)
            else:
                raise RuntimeError(
                    f"coloring did not converge in {max_iterations} rounds"
                )
        return it.result(it.keep(
            colored if colored is not None else vertices.select(
                "v", F.lit(0).cast("long").alias("color")
            ).limit(0)
        ))


def greedy_coloring_unrolled_sql(edges_sql: str, rounds: int = 30) -> str:
    """DuckDB oracle: the identical fixed-priority Jones–Plassmann rounds,
    unrolled (idempotent once the uncolored set empties). Priorities encode
    as ``h(v)·2³² + v`` exactly as :func:`mis_unrolled_sql`."""
    def pk(e: str) -> str:
        return f"({_h_sql(e)} * 4294967296 + {e})"

    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v, u FROM e)",
        "vs AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)",
        "u0 AS MATERIALIZED (SELECT v FROM vs)",
        "c0 AS MATERIALIZED (SELECT v, CAST(0 AS BIGINT) AS color "
        "FROM vs WHERE 1 = 0)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT s.src, s.dst FROM sym s "
            f"JOIN u{p} x ON x.v = s.src JOIN u{p} y ON y.v = s.dst)"
        )
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT u.v FROM u{p} u "
            f"LEFT JOIN (SELECT src AS v, min({pk('dst')}) AS mn "
            f"FROM a{k} GROUP BY src) n ON n.v = u.v "
            f"WHERE n.mn IS NULL OR {pk('u.v')} < n.mn)"
        )
        parts.append(
            f"nc{k} AS MATERIALIZED (SELECT s.src AS v, "
            f"list_sort(list(DISTINCT c.color)) AS cs "
            f"FROM sym s JOIN r{k} w ON w.v = s.src "
            f"JOIN c{p} c ON c.v = s.dst GROUP BY s.src)"
        )
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT r.v, CAST(CASE WHEN n.cs IS NULL "
            f"THEN 0 ELSE list_filter(generate_series(0, len(n.cs)), "
            f"x -> NOT list_contains(n.cs, x))[1] END AS BIGINT) AS color "
            f"FROM r{k} r LEFT JOIN nc{k} n ON n.v = r.v)"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT v, color FROM c{p} "
            f"UNION ALL SELECT v, color FROM w{k})"
        )
        parts.append(
            f"u{k} AS MATERIALIZED (SELECT v FROM u{p} WHERE v NOT IN "
            f"(SELECT v FROM r{k}))"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, color FROM c{rounds} ORDER BY v"
    )

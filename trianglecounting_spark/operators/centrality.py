"""Betweenness centrality (Brandes, 2001) — pivot-subset estimator.

Exact betweenness is Θ(|V|·|E|); at web scale nobody computes it — the
standard estimator (Brandes & Pich 2007) runs Brandes' dependency
accumulation from K pivot sources and sums the per-source dependencies.
Pivots here are the K lowest-id vertices (deterministic, same convention as
the IVF/k-means seeds), so the whole operator is exact-oracle-checkable.

Both phases are relational and run for ALL pivots simultaneously, keyed by
(src, v):

* forward: level-synchronous BFS that carries σ (the shortest-path counts) —
  frontier ⋈ adjacency, anti-join visited, groupBy-sum σ per (src, v). σ is
  an integer carried in a double (exact under 2^53; sums of integers are
  order-independent), so levels and σ are bit-portable.
* backward: for levels L−1 … 1, Brandes' rule
      δ(v) = Σ_{w ∈ succ(v)} σ(v)/σ(w) · (1 + δ(w))
  — one join per level against the level-(l+1) state. δ is a float sum
  (same portability contract as the PageRank family: rounded to 6dp at the
  very end only).

Per-round state is kept in an ``IterationScope`` (eager localCheckpoint)
like every iterative loop in this repo; the adjacency stays materialized
across rounds.
Cost: 2·depth shuffle rounds, each O(K·|E touched|) — the textbook
distributed Brandes schedule; K controls work, not correctness.

No counterpart in /root/reference; betweenness joins the centrality family
(PageRank/HITS/harmonic/closeness) on the link-graph side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.plans.cache import IterationScope
from trianglecounting_spark.plans.tuning import BROADCAST_ROWS, maybe_broadcast


def betweenness_pivots(edges: DataFrame, n_pivots: int = 16,
                       max_depth: int = 16,
                       broadcast_rows: int = BROADCAST_ROWS) -> DataFrame:
    """Pivot-subset betweenness. Output ``(v, bc)`` for every vertex of the
    (symmetrized) graph, bc = Σ_pivots δ_pivot(v), rounded to 6dp.

    The per-level (src, v) state tables are ≤ n_pivots·|V| rows — broadcast
    into the adjacency joins while that bound fits ``broadcast_rows``
    (size-aware; shuffle joins at web scale), so each BFS/backward level is
    a narrow pass over the cached symmetric edge table plus one aggregate
    exchange instead of sort-merge-joining the edge table per level."""
    with IterationScope(edges.sparkSession) as it:
        adj = it.keep(
            edges.select("u", "v").unionAll(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
        )
        verts = adj.select(F.col("u").alias("v")).distinct()
        n_state = n_pivots * verts.count()  # bound on every (src, v) table
        pivots = verts.orderBy("v").limit(n_pivots).select(F.col("v").alias("src"))

        # ---- forward: levels (src, v, d, sigma) ----
        frontier = visited = it.keep(
            pivots.select(
                "src",
                F.col("src").alias("v"),
                F.lit(0).cast("long").alias("d"),
                F.lit(1.0).alias("sigma"),
            )
        )
        levels = [frontier]   # per-depth frontiers; also the visited set union
        depth = 0
        for l in range(1, max_depth + 1):
            seen = visited.select("src", F.col("v").alias("w"), F.lit(1).alias("__seen"))
            nxt = it.keep(
                adj.join(
                    maybe_broadcast(frontier, n_state, broadcast_rows),
                    frontier["v"] == adj["u"],
                )
                .select("src", adj["v"].alias("w"), "sigma")
                .join(maybe_broadcast(seen, n_state, broadcast_rows), ["src", "w"], "left")
                .where(F.col("__seen").isNull())
                .groupBy("src", "w")
                .agg(F.sum("sigma").alias("sigma"))
                .select(
                    "src",
                    F.col("w").alias("v"),
                    F.lit(l).cast("long").alias("d"),
                    "sigma",
                )
            )
            if nxt.count() == 0:
                break
            new_vis = it.keep(visited.unionAll(nxt))
            it.release(visited)
            visited = new_vis
            levels.append(nxt)
            frontier = nxt
            depth = l

        # ---- backward: delta per level (deepest level's delta is all-zero
        # and only feeds the recurrence; level 0 is the pivot itself,
        # excluded) ----
        delta = levels[depth].select("src", "v", F.lit(0.0).alias("delta"))
        deltas = []   # levels depth-1 .. 1 — the rows that contribute to bc
        for l in range(depth - 1, 0, -1):
            up = (
                levels[l + 1]
                .join(delta, ["src", "v"])
                .select("src", F.col("v").alias("w"), F.col("sigma").alias("sw"),
                        F.col("delta").alias("dw"))
            )
            lv = levels[l].select(
                "src", "v", F.col("sigma").alias("sv")
            )
            contrib = (
                adj.select(F.col("u").alias("v"), F.col("v").alias("w"))
                .join(maybe_broadcast(lv, n_state, broadcast_rows), "v")
                .join(maybe_broadcast(up, n_state, broadcast_rows), ["src", "w"])
                .groupBy("src", "v")
                .agg(F.sum(F.col("sv") / F.col("sw") * (F.lit(1.0) + F.col("dw"))).alias("delta"))
            )
            delta = it.keep(
                levels[l].select("src", "v")
                .join(contrib, ["src", "v"], "left")
                .select("src", "v", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            )
            deltas.append(delta)
        if deltas:
            bc_src = deltas[0]
            for d_ in deltas[1:]:
                bc_src = bc_src.unionAll(d_)
            agg = bc_src.groupBy("v").agg(F.sum("delta").alias("bc"))
        else:
            agg = verts.limit(0).select("v", F.lit(0.0).alias("bc"))
        return it.result(it.keep(
            verts.join(agg, "v", "left").select(
                "v", F.round(F.coalesce("bc", F.lit(0.0)), 6).alias("bc")
            )
        ))


def betweenness_pivots_sql(edges_sql: str, n_pivots: int = 16,
                           max_depth: int = 16) -> str:
    """DuckDB twin of ``betweenness_pivots`` — the identical forward/backward
    recurrences unrolled to ``max_depth`` (rounds past the true depth are
    empty, so any max_depth ≥ the measured BFS depth matches)."""
    ctes = [
        f"e AS MATERIALIZED ({edges_sql})",
        "adj AS MATERIALIZED (SELECT u, v FROM e "
        "UNION ALL SELECT v AS u, u AS v FROM e)",
        "verts AS MATERIALIZED (SELECT DISTINCT u AS v FROM adj)",
        f"pivots AS MATERIALIZED (SELECT v AS src FROM verts ORDER BY v LIMIT {n_pivots})",
        "f0 AS MATERIALIZED (SELECT src, src AS v, CAST(0 AS BIGINT) AS d, "
        "1.0 AS sigma FROM pivots)",
        "vis0 AS MATERIALIZED (SELECT src, v FROM f0)",
    ]
    for l in range(1, max_depth + 1):
        ctes.append(
            f"f{l} AS MATERIALIZED (SELECT f.src, a.v, CAST({l} AS BIGINT) AS d, "
            f"sum(f.sigma) AS sigma FROM f{l-1} f JOIN adj a ON a.u = f.v "
            f"LEFT JOIN vis{l-1} s ON s.src = f.src AND s.v = a.v "
            f"WHERE s.v IS NULL GROUP BY f.src, a.v)"
        )
        ctes.append(
            f"vis{l} AS MATERIALIZED (SELECT src, v FROM vis{l-1} "
            f"UNION ALL SELECT src, v FROM f{l})"
        )
    # backward: d{l} = delta at level l; deepest levels may be empty — a
    # uniform recurrence starting from an empty "level max_depth+1" handles
    # ragged per-pivot depths exactly like the Spark loop's depth cut.
    ctes.append(
        f"d{max_depth} AS MATERIALIZED (SELECT src, v, 0.0 AS delta FROM f{max_depth})"
    )
    for l in range(max_depth - 1, 0, -1):
        ctes.append(
            f"d{l} AS MATERIALIZED (SELECT lv.src, lv.v, "
            f"coalesce(c.delta, 0.0) AS delta FROM f{l} lv LEFT JOIN ("
            f"SELECT lv.src, lv.v, sum(lv.sigma / up.sigma * (1.0 + up.delta)) AS delta "
            f"FROM f{l} lv JOIN adj a ON a.u = lv.v "
            f"JOIN (SELECT f.src, f.v, f.sigma, dd.delta FROM f{l+1} f "
            f"JOIN d{l+1} dd ON dd.src = f.src AND dd.v = f.v) up "
            f"ON up.src = lv.src AND up.v = a.v "
            f"GROUP BY lv.src, lv.v) c ON c.src = lv.src AND c.v = lv.v)"
        )
    union = " UNION ALL ".join(
        f"SELECT v, delta FROM d{l}" for l in range(1, max_depth)
    )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT verts.v, round(coalesce(b.bc, 0.0), 6) AS bc FROM verts "
        f"LEFT JOIN (SELECT v, sum(delta) AS bc FROM ({union}) GROUP BY v) b "
        f"ON b.v = verts.v ORDER BY verts.v"
    )

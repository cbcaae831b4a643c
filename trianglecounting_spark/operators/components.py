"""Connected components: driver-held min-label flooding under the broadcast
budget, alternating large-star / small-star rounds above it (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — the
algorithm named by the north_star; absent from the reference).

Two regimes, chosen from |V| against ``tuning.BROADCAST_ROWS``:

  * |V| ≤ budget — driver-held state (``plans/vertex_state``): the
    symmetric adjacency is grouped once into ``(v, nbrs)`` rows and cached;
    the label array lives on the driver; a pass is ONE ``mapInArrow`` that
    floods min labels to a partition-local fixpoint (owned vertices in
    place, remote ones from the broadcast) plus a collect of the changed
    rows, after which the driver hooks each changed vertex's old label onto
    its new one and pointer-jumps ``label ← label[label]`` (a numpy gather)
    — min-label propagation with Shiloach-Vishkin shortcutting, so long
    paths cost a few passes, not their length. The grouped rows are
    range-partitioned by id and mapped once into index space. Bound: the
    broadcast state and the per-pass collect are O(|V|). Cost model
    (4-vCPU host, Spark local[2]): a pass 0.3-0.7 s, against a star
    round's checkpoint job plus its fixpoint probes. On the benchmark's
    co-part graph (seed 5, 44k edges, one grouped partition) a call is ONE
    pass: 9 Spark jobs where the star rounds ran 46 (both counts include
    the caller's count-distinct); on an R-MAT scale-17 graph (972k edges,
    two grouped partitions) three passes and ~4.4 s, where the 46 jobs of
    the star rounds took ~8.6 s.
  * otherwise, or with a ``checkpointer`` (resumable runs) — the star
    path. Both operations are pure DataFrame groupBy/join plans, no UDFs:

      large-star(u): m = min(N(u) ∪ {u}); connect every neighbor v > u to m.
      small-star(u): on the parent-pointer graph (edges u→v with v < u),
                     m = min(children ∪ {u}); connect u and all children to m.

    Converges in O(log² n) rounds on any graph; at fixpoint every vertex
    points at its component's minimum id. Each round is two shuffles
    (groupBy min + join) with its state checkpointed — web-scale friendly:
    no per-vertex state beyond the edge/pointer table, skew from mega-hubs
    is one group with one ``min`` aggregate plus a join AQE can split.

Output/parity: exact integer labels, component = min vertex id in both
regimes (north_rule: exact equality).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.normalize import undirect
from trianglecounting_spark.plans.cache import IterationScope
from trianglecounting_spark.plans.checkpoint import IterationCheckpointer
from trianglecounting_spark.plans.tuning import (
    BROADCAST_ROWS,
    iteration_partitions,
    scoped_shuffle_partitions,
)
from trianglecounting_spark.plans.vertex_state import VertexState, fits_driver


def _large_star(sym: DataFrame) -> DataFrame:
    """Symmetric edge table (src,dst) → edges (v, m) for every nbr v > src.

    No dedup here: the only consumer is ``_small_star``, whose min-aggregate
    is duplicate-insensitive and whose own output IS deduped — dropping the
    distinct saves one full shuffle per round."""
    mins = sym.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Parent-pointer edges (src > dst) → re-point src and all its children
    at the minimum of the star."""
    mins = edges.groupBy("src").agg(F.least(F.col("src"), F.min("dst")).alias("m"))
    repoint_children = (
        edges.join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    repoint_self = mins.select(F.col("src"), F.col("m").alias("dst"))
    return repoint_children.unionAll(repoint_self).where(
        F.col("src") != F.col("dst")
    ).distinct()


def _min_label_step(part, st):
    """CC pass: label(v) = min label over v's neighbors, to the
    partition-local fixpoint."""
    lab0 = st["label"][part.own]
    lab = part.min_flood("nbrs", lab0, st["label"])
    return part.changes(lab != lab0, lab, part.remote("nbrs"))


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    checkpointer: IterationCheckpointer | None = None,
    broadcast_rows: int = BROADCAST_ROWS,
) -> DataFrame:
    """Exact connected components of the canonical (u<v) edge table.

    Output: ``(v: long, component: long)`` for every vertex that appears in an
    edge; component = min vertex id of the component. Isolated vertices don't
    appear in an edge table, so they label themselves trivially upstream.

    ``max_iterations`` caps the passes (driver-held regime, which raises
    when they do not converge) or the star rounds (star path).
    """
    spark = edges.sparkSession
    if checkpointer is None:
        driver, n_rows = fits_driver(edges, ("u", "v"), broadcast_rows)
        if driver:
            entries = undirect(edges).select(
                F.col("src").cast("long").alias("v"), F.col("dst").cast("long").alias("nbrs")
            )
            with VertexState(entries, ("nbrs",), 2 * n_rows) as vs:
                label = vs.converge(
                    _min_label_step, {"label": np.arange(vs.n, dtype=np.int64)},
                    "label", max_iterations, what="connected_components", hook=True,
                )
                out = pd.DataFrame({"v": vs.ids, "component": vs.ids[label]})
            return spark.createDataFrame(out, "v long, component long")

    with IterationScope(spark, checkpointer) as it:
        vertices = it.cache(
            edges.select(F.explode(F.array("u", "v")).alias("v")).distinct()
        )
        start, cur = it.restore(undirect(edges).distinct())
        cur = it.keep(cur)
        n_cur = cur.count()
        with scoped_shuffle_partitions(spark, iteration_partitions(spark, 2 * n_cur)):
            for k in range(start + 1, max_iterations + 1):
                # large-star needs the symmetric closure of the current pointer
                # graph; duplicates don't change mins, and _large_star/_small_star
                # dedup their outputs, so no distinct here.
                sym = cur.unionAll(
                    cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
                # the keep (eager localCheckpoint) truncates lineage — without
                # it each round's plan contains all previous rounds and planning
                # grows superlinearly
                after_small = it.keep(_small_star(_large_star(sym)), k)
                # Fixpoint check: both sides are distinct sets, so equal size +
                # zero rows missing from `cur` ⇒ equal sets. The size probe is a
                # near-free count on the just-materialized checkpoint; the
                # membership join runs ONLY when sizes agree (i.e. at most the
                # final round plus rare coincidences) — early rounds pay one
                # metadata-cheap action, not a join.
                n_next = after_small.count()
                if n_next != n_cur:
                    changed = True
                else:
                    added = (
                        after_small.join(cur, ["src", "dst"], "left_anti")
                        .limit(1)
                        .count()
                    )
                    changed = added > 0
                # round k is durable and the probe has read round k-1 — release it
                it.release(cur)
                cur, n_cur = after_small, n_next
                if not changed:
                    break
        # At fixpoint cur is (v, component_min) for every non-minimum vertex;
        # component minima point at themselves.
        labels = cur.select(F.col("src").alias("v"), F.col("dst").alias("component"))
        return it.result(it.keep(
            vertices.join(labels, "v", "left")
            .select("v", F.coalesce("component", F.col("v")).cast("long").alias("component"))
        ))


def cc_minlabel_unrolled_sql(edges_sql: str, rounds: int = 20) -> str:
    """DuckDB oracle: min-label flooding for `rounds` synchronous rounds —
    exact CC labels provided rounds ≥ graph diameter (verified in tests for
    the sf0.01 oracle graph). Column names match connected_components()."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e)",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM sym)",
    ]
    for k in range(1, rounds + 1):
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT p.v AS v, least(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl "
            f"FROM l{k-1} p LEFT JOIN sym s ON s.dst = p.v "
            f"LEFT JOIN l{k-1} q ON q.v = s.src GROUP BY p.v, p.lbl)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, CAST(lbl AS BIGINT) AS component FROM l{rounds} ORDER BY v"
    )


def component_size_dist(edges: DataFrame) -> DataFrame:
    """Component-size distribution — the percolation report (giant-component
    fraction, periphery shape): ``(size, n_components)`` per occupied size.
    Two map-side-combined counts on top of ``connected_components``; output
    bounded by the number of DISTINCT sizes (≤ √(2n))."""
    cc = connected_components(edges)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .groupBy("size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_components"))
    )


def component_size_dist_sql(edges_sql: str, rounds: int = 25) -> str:
    """DuckDB twin of ``component_size_dist`` over the unrolled min-label
    CC oracle."""
    cc = cc_minlabel_unrolled_sql(edges_sql, rounds=rounds)
    return (
        f"WITH csd_cc AS ({cc}), "
        "csd_s AS (SELECT component, CAST(count(*) AS BIGINT) AS size "
        "FROM csd_cc GROUP BY component) "
        "SELECT size, CAST(count(*) AS BIGINT) AS n_components "
        "FROM csd_s GROUP BY size"
    )


def attack_tolerance(
    edges: DataFrame, fracs: tuple[float, ...] = (0.01, 0.05, 0.10)
) -> DataFrame:
    """Targeted-attack robustness curve (Albert, Jeong & Barabási, Nature
    2000): remove the top ⌈f·n⌉ vertices by (degree desc, id asc) — the
    deterministic "attack the hubs" order — and measure how the giant
    component degrades. The scale-free web is famously robust to random
    failure and fragile to exactly this attack; the curve is the standard
    resilience report for a link graph.

    Per fraction: exact top-k cut via `scalable_dense_rank` (the
    range-partitioned counting sort — no single-task window), one
    broadcast-friendly anti-join to drop the hubs' edges, then the
    large-star/small-star CC fixpoint on the survivors. Survivors with no
    remaining edge are size-1 components, so an edgeless remainder has
    giant_size 1 by convention (both engines).

    Output, one row per fraction: ``(frac, removed, n_survivors,
    giant_size, giant_frac)`` with giant_frac = giant_size/n_survivors
    rounded 6dp.
    """
    from trianglecounting_spark.operators.normalize import scalable_dense_rank

    spark = edges.sparkSession
    sym = undirect(edges)
    rows = []
    with IterationScope(spark) as it:
        deg = it.keep(
            sym.groupBy(F.col("src").alias("v")).agg(
                F.count(F.lit(1)).cast("long").alias("deg")
            )
        )
        n = deg.count()
        ranked = it.keep(scalable_dense_rank(
            deg, [F.col("deg").desc(), F.col("v").asc()], ["v", "deg"], out_col="rn"
        ))
        for f in fracs:
            k = math.ceil(f * n)
            cut = ranked.where(F.col("rn") < k).select("v")
            surv = edges.join(
                cut.withColumnRenamed("v", "u"), "u", "left_anti"
            ).join(cut, "v", "left_anti")
            sizes = (
                connected_components(surv)
                .groupBy("component")
                .agg(F.count(F.lit(1)).alias("size"))
                .agg(F.coalesce(F.max("size"), F.lit(1)).cast("long").alias("g"))
            )
            giant = sizes.collect()[0]["g"]
            rows.append((float(f), int(k), int(n - k), int(giant)))
    # the one float division rides Spark's round (matches the oracle's
    # round text), not Python's banker's rounding
    return spark.createDataFrame(
        rows, "frac double, removed long, n_survivors long, giant_size long"
    ).select(
        "frac", "removed", "n_survivors", "giant_size",
        F.round(
            F.col("giant_size") / F.greatest("n_survivors", F.lit(1)), 6
        ).alias("giant_frac"),
    )


def attack_tolerance_sql(
    edges_sql: str, fracs: tuple[float, ...] = (0.01, 0.05, 0.10),
    rounds: int = 40,
) -> str:
    """DuckDB twin of ``attack_tolerance`` — same deterministic cut order,
    min-label CC flood per fraction (``rounds`` must cover the surviving
    graph's diameter; hub removal lengthens paths, hence 40 > the usual
    25)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v AS src, u AS dst FROM e)",
        "deg AS MATERIALIZED (SELECT src AS v, count(*) AS deg "
        "FROM sym GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM deg)",
        "rk AS MATERIALIZED (SELECT v, row_number() OVER "
        "(ORDER BY deg DESC, v ASC) AS rn FROM deg)",
    ]
    selects = []
    for i, f in enumerate(fracs):
        parts.append(
            f"cut{i} AS MATERIALIZED (SELECT v FROM rk "
            f"WHERE rn <= ceil({f!r} * (SELECT n FROM nn)))"
        )
        parts.append(
            f"se{i} AS MATERIALIZED (SELECT u, v FROM e "
            f"WHERE u NOT IN (SELECT v FROM cut{i}) "
            f"AND v NOT IN (SELECT v FROM cut{i}))"
        )
        parts.append(
            f"s{i}sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM se{i} "
            f"UNION ALL SELECT v AS src, u AS dst FROM se{i})"
        )
        parts.append(
            f"s{i}l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl "
            f"FROM s{i}sym)"
        )
        for r in range(1, rounds + 1):
            parts.append(
                f"s{i}l{r} AS MATERIALIZED (SELECT p.v AS v, "
                f"least(p.lbl, coalesce(min(q.lbl), p.lbl)) AS lbl "
                f"FROM s{i}l{r-1} p LEFT JOIN s{i}sym s ON s.dst = p.v "
                f"LEFT JOIN s{i}l{r-1} q ON q.v = s.src GROUP BY p.v, p.lbl)"
            )
        parts.append(
            f"g{i} AS MATERIALIZED (SELECT coalesce(max(cnt), 1) AS g FROM "
            f"(SELECT lbl, count(*) AS cnt FROM s{i}l{rounds} GROUP BY lbl))"
        )
        selects.append(
            f"SELECT CAST({f!r} AS DOUBLE) AS frac, "
            f"CAST(ceil({f!r} * (SELECT n FROM nn)) AS BIGINT) AS removed, "
            f"CAST((SELECT n FROM nn) - ceil({f!r} * (SELECT n FROM nn)) "
            f"AS BIGINT) AS n_survivors, "
            f"CAST((SELECT g FROM g{i}) AS BIGINT) AS giant_size, "
            f"round((SELECT g FROM g{i}) / greatest((SELECT n FROM nn) "
            f"- ceil({f!r} * (SELECT n FROM nn)), 1), 6) AS giant_frac"
        )
    return ", ".join(parts) + " " + " UNION ALL ".join(selects)


def connected_components_incremental(
    labels: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Maintain CC labels under a batch of edge INSERTIONS without
    recomputing on the full graph — the CC member of the engine's
    incremental-maintenance family (triangles: `triangle_count_delta`;
    k-truss: `ktruss_incremental`).

    ``labels``: the current exact labeling ``(v, component)`` with
    component = min vertex id (what `connected_components` emits).
    ``new_edges``: canonical ``(u, v)`` rows being inserted (may introduce
    brand-new vertices).

    Insertions only MERGE components, so the update is a CC problem on the
    CONTRACTION graph: project each new edge onto the component labels of
    its endpoints (a new vertex is its own singleton label), keep the
    distinct cross-component label pairs, run the large-star/small-star
    fixpoint on THAT graph — its size is bounded by the number of affected
    components, not |V| — and remap. Labels stay canonical: the contraction
    CC's min label is the global min vertex id of the merged set, so output
    is row-identical to a full recompute on base ∪ batch (differential- and
    oracle-tested). Deletions are out of scope (they split, which needs
    reachability — the full fixpoint is the honest path there).

    Scale shape: two broadcast-friendly label lookups on the (small) batch,
    a CC fixpoint on the contraction pairs, then ONE hash join of the
    |V|-row label table against the (tiny, broadcast) remap table.
    Output: ``(v, component)`` for every vertex in labels ∪ batch.
    """
    lab_u = labels.select(F.col("v").alias("u"), F.col("component").alias("cu"))
    lab_v = labels.select("v", F.col("component").alias("cv"))
    tagged = (
        new_edges.join(lab_u, "u", "left")
        .join(lab_v, "v", "left")
        .select(
            F.coalesce("cu", F.col("u")).alias("cu"),
            F.coalesce("cv", F.col("v")).alias("cv"),
        )
    )
    pairs = (
        tagged.where(F.col("cu") != F.col("cv"))
        .select(
            F.least("cu", "cv").alias("u"), F.greatest("cu", "cv").alias("v")
        )
        .distinct()
    )
    with IterationScope(labels.sparkSession) as it:
        pairs = it.keep(pairs)
        # every vertex the result must cover: old labels + both batch endpoints
        # (a batch vertex absent from labels starts as its own singleton)
        batch_verts = new_edges.select(
            F.explode(F.array("u", "v")).alias("v")
        ).distinct()
        base = labels.unionByName(
            batch_verts.join(labels, "v", "left_anti").select(
                "v", F.col("v").alias("component")
            )
        )
        if pairs.limit(1).count() == 0:
            return it.result(it.keep(base))
        remap = connected_components(pairs)  # (v=old label, component=new label)
        remap = remap.select(
            F.col("v").alias("component"), F.col("component").alias("__new")
        )
        return it.result(it.keep(
            base.join(F.broadcast(remap), "component", "left").select(
                "v", F.coalesce("__new", F.col("component")).alias("component")
            )
        ))

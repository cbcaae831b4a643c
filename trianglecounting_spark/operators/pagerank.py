"""PageRank over the undirected link graph and the other link-analysis
scores (directed, personalized, weighted, TrustRank, HITS, SALSA,
eigenvector, Katz), each with its unrolled-SQL oracle.

Absent from the reference (strictly a TC engine); mandated by the north_star.

``pagerank`` runs in two regimes, chosen from |V| against
``tuning.BROADCAST_ROWS`` like ``connected_components``:

  * |V| ≤ budget and no ``checkpointer`` — driver-held ranks
    (``plans/vertex_state``): the symmetric adjacency is grouped once into
    ``(v, nbrs)`` rows and cached, the degrees ride the id collect, and the
    float64 rank array lives on the driver. A pass is ONE ``mapInArrow``
    that computes ``base + d·Σ rank(u)/deg(u)`` per vertex (a gather and a
    segment sum) plus a collect of the new ranks. When the grouped
    adjacency is one partition (up to ``ENTRIES_PER_PARTITION`` list
    entries) that partition owns every vertex, so ONE pass runs every step
    and stops at the first step whose L1 delta is under ``tol``; otherwise
    a pass is one synchronous step and the driver checks ``tol``. Bound:
    the broadcast state and the per-pass collect are O(|V|). Measured on a
    4-vCPU host (Spark local[2]), 10 steps: on the benchmark's co-part
    graph (one grouped partition) a call ran 9 Spark jobs in 1.0 s where
    the shuffle loop ran 39 in 2.8 s; on R-MAT scale 16 ef16 (909k edges,
    two grouped partitions, ten passes) 5.1-6.3 s against 8.2-9.4 s.
  * otherwise (|V| over the budget, or a ``checkpointer``, whose snapshots
    are the resume point) — the shuffle loop: each iteration is one shuffle
    join (ranks ⋈ edges on src) and one partial+final aggregation
    (contributions by dst), all Column expressions.
      - ranks and degrees are |V|-row tables joined by shuffle. (An explicit
        F.broadcast(ranks) for small |V| was A/B-measured in round 4 at
        sf0.1, 10 iterations, 32 cores: 12.4–13.9 s both ways — no win; the
        per-iteration cost is the contribution aggregation, which
        broadcasting cannot remove.)
      - the edge side is pre-partitioned by src and persisted once, so every
        iteration's rank join reuses that hash partitioning and only the
        rank table shuffles.
      - lineage grows linearly with iterations → a kept checkpoint every
        5 steps (every step in ``tol`` mode and with a checkpointer, whose
        snapshots are taken of the kept state).

The other functions here run their DataFrame loops at any size.

Determinism/parity: scores are doubles; the oracle comparison rounds to 1e-6
(north_rule: allclose 1e-6). The two regimes sum in different orders, so
their scores agree to ~1e-15 relative, not bit for bit. The iteration count
is an explicit parameter so the DuckDB unrolled-SQL oracle computes the
*same* function, not "until converged" (which is not a deterministic query).
"""

from __future__ import annotations

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


def _rank_steps(steps: int, damping: float, tol: float | None):
    """Pass body: ``steps`` synchronous PageRank steps for the partition's
    vertices — one when other partitions own neighbors (their ranks come
    from the broadcast), all of them when this partition owns every vertex,
    stopping early at the first L1 delta under ``tol``."""

    def step(part, st):
        deg = st["deg"]
        own_deg, all_c = deg[part.own], st["rank"] / deg
        base = (1.0 - damping) / len(deg)
        r = r0 = st["rank"][part.own]
        for _ in range(steps):
            c = part.gather("nbrs", r / own_deg, all_c)
            new = base + damping * part.seg_sum("nbrs", c)
            delta, r = np.abs(new - r).sum(), new
            if tol is not None and delta < tol:
                break
        return part.changes(r != r0, r, np.zeros(part.n, dtype=bool))

    return step


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    checkpointer: IterationCheckpointer | None = None,
    tol: float | None = None,
    broadcast_rows: int = BROADCAST_ROWS,
) -> DataFrame:
    """`iterations` synchronous PageRank steps on the undirected simple graph.

    rank_0(v) = 1/N;  rank_{k+1}(v) = (1-d)/N + d · Σ_{u ∈ N(v)} rank_k(u)/deg(u)

    Undirected ⇒ no dangling mass (every vertex has out-edges).
    Output: ``(v: long, score: double)`` — materialized (lineage-free), so the
    edge-side cache is already released when this returns.
    Resumable: pass a checkpointer; a restored snapshot skips completed steps.

    ``tol``: optional convergence mode (the north_star's "at convergence"
    contract) — stop once the L1 delta Σ|rank_k − rank_{k−1}| < tol, with
    ``iterations`` as the cap. In the shuffle regime it costs one extra
    join-aggregate action per step, so the default (None) keeps the
    fixed-iteration oracle-matched behavior.

    ``broadcast_rows``: |V| at or under it (and no ``checkpointer``) runs
    the driver-held regime, otherwise the shuffle loop (module docstring).
    """
    spark = edges.sparkSession
    if checkpointer is None:
        driver, n_rows = fits_driver(edges, ("u", "v"), broadcast_rows)
        if driver:
            entries = undirect(edges).select(
                F.col("src").cast("long").alias("v"), F.col("dst").cast("long").alias("nbrs")
            )
            with VertexState(entries, ("nbrs",), 2 * n_rows, attrs={"deg": F.size("nbrs")}) as vs:
                whole = vs.n_part == 1  # one pass runs every step and the tol stop
                step = _rank_steps(iterations if whole else 1, damping, tol)
                deg = vs.attrs["deg"].astype(np.float64)
                rank = np.full(vs.n, 1.0 / max(vs.n, 1))
                for _ in range(1 if whole else iterations):
                    i, x, _ = vs.run_pass(step, {"rank": rank, "deg": deg}, "rank")
                    new = rank.copy()
                    new[i] = x
                    delta, rank = np.abs(new - rank).sum(), new
                    if tol is not None and delta < tol:
                        break
                out = pd.DataFrame({"v": vs.ids, "score": rank})
            return spark.createDataFrame(out, "v long, score double")

    with IterationScope(spark, checkpointer) as it:
        sym = undirect(edges)
        out_deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        n = out_deg.count()
        m2 = edges.count() * 2  # rows of the symmetric edge table
        n_part = iteration_partitions(spark, m2)
        # pre-partition the (big) edge side by the join key and cache it: every
        # iteration's rank join then reuses this distribution and only the
        # (|V|-row) rank table shuffles — 1 big exchange total instead of 1 per
        # iteration. Partition count matches the per-iteration shuffles so the
        # rank join is co-partitioned without re-exchanging the edge side.
        sym_deg = it.cache(sym.join(out_deg, "src").repartition(n_part, "src"))
        start, ranks = it.restore(
            out_deg.select(F.col("src").alias("v"), (F.lit(1.0) / n).alias("score"))
        )
        with scoped_shuffle_partitions(spark, n_part):
            for k in range(start + 1, iterations + 1):
                prev_ranks = ranks
                contribs = (
                    sym_deg.join(ranks.withColumnRenamed("v", "src"), "src")
                    .select(F.col("dst").alias("v"), (F.col("score") / F.col("deg")).alias("c"))
                    .groupBy("v")
                    .agg(F.sum("c").alias("mass"))
                )
                ranks = contribs.select(
                    "v", (F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("mass")).alias("score")
                )
                # truncate lineage every 5th step so the plan doesn't accrete
                # one join per step — every step in tol mode (the delta probe
                # reads the previous state) and with a checkpointer (its
                # snapshot rounds)
                kept = (
                    tol is not None or checkpointer is not None
                    or k % 5 == 0 or k == iterations
                )
                if kept:
                    ranks = it.keep(ranks, k)
                if tol is not None:
                    delta = (
                        ranks.withColumnRenamed("score", "s1")
                        .join(prev_ranks.withColumnRenamed("score", "s0"), "v")
                        .agg(F.sum(F.abs(F.col("s1") - F.col("s0"))).alias("d"))
                        .collect()[0]["d"]
                    )
                if kept:
                    it.release(prev_ranks)
                if tol is not None and delta < tol:
                    break
        return it.result(ranks)


def pagerank_unrolled_sql(edges_sql: str, iterations: int = 10, damping: float = 0.85,
                          ndigits: int = 6) -> str:
    """The DuckDB oracle: the *same* fixed-iteration PageRank as unrolled ANSI
    SQL over an edge CTE (u < v). Used by __spark_entry__.oracle_sql."""
    d = damping
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e)",
        "odeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM odeg)",
        "r0 AS MATERIALIZED (SELECT src AS v, 1.0/(SELECT n FROM nn) AS score FROM odeg)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT s.dst AS v, "
            f"(1.0 - {d})/(SELECT n FROM nn) + {d} * sum(r.score / o.deg) AS score "
            f"FROM sym s JOIN odeg o ON o.src = s.src "
            f"JOIN r{k-1} r ON r.v = s.src GROUP BY s.dst)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, round(score, {ndigits}) AS score FROM r{iterations} ORDER BY v"
    )


def pagerank_directed(
    directed_edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a DIRECTED graph with dangling-mass redistribution —
    the real web-graph semantics for the page front door (hyperlinks point
    one way; link targets that are never crawled have no out-edges).

    rank_{k+1}(v) = (1−d)/N + d·( Σ_{u→v} rank_k(u)/outdeg(u) + D_k/N )
    where D_k = Σ_{outdeg(u)=0} rank_k(u) (the dangling mass, spread
    uniformly — the standard teleport treatment, keeps Σ rank = 1).

    Input: ``(src, dst)`` directed edges (duplicates allowed ⇒ weighted by
    multiplicity, like repeated hyperlinks). Output ``(v, score)`` over every
    vertex appearing as source or target.

    Scale notes: the edge side is pre-partitioned by src once and cached
    (iterations shuffle only the |V|-row rank table, as in ``pagerank``);
    the dangling term is one |V|-row aggregate per iteration — a scalar
    collect, the textbook implementation on any cluster.
    """
    spark = directed_edges.sparkSession
    e = directed_edges.select("src", "dst")
    with IterationScope(spark) as it:
        verts = it.hold(
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n = verts.count()
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        n_part = iteration_partitions(spark, e.count())
        ed = it.cache(e.join(out_deg, "src").repartition(n_part, "src"))
        ed.count()  # materialize the cache before the loop
        dangling_verts = it.hold(verts.join(
            out_deg.select(F.col("src").alias("v")), "v", "left_anti"
        ).localCheckpoint(eager=False))
        ranks = verts.select("v", (F.lit(1.0) / n).alias("score"))
        with scoped_shuffle_partitions(spark, n_part):
            for _ in range(iterations):
                # the dangling scalar reads rank_{k-1}, which the end of the
                # previous iteration materialized (keep below) — this collect
                # scans |dangling| in-memory rows, it never replays the
                # join-agg chain (the round-3 lineage-replay defect)
                d_mass = (
                    ranks.join(dangling_verts, "v")
                    .agg(F.coalesce(F.sum("score"), F.lit(0.0)).alias("m"))
                    .collect()[0]["m"]
                )
                contribs = (
                    ed.join(ranks.withColumnRenamed("v", "src"), "src")
                    .select(F.col("dst").alias("v"),
                            (F.col("score") / F.col("deg")).alias("c"))
                    .groupBy("v")
                    .agg(F.sum("c").alias("mass"))
                )
                # keep EVERY iteration: the per-iteration scalar action
                # forces a job regardless, so letting that job also
                # materialize the state keeps every action exactly one
                # iteration deep (the alternative — every 5 — made each
                # d_mass collect replay up to 5 iterations of joins)
                new_ranks = it.keep(verts.join(contribs, "v", "left").select(
                    "v",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * (F.coalesce(F.col("mass"), F.lit(0.0)) + F.lit(d_mass / n))
                    ).alias("score"),
                ))
                it.release(ranks)
                ranks = new_ranks
        return it.result(ranks)


def pagerank_weighted(
    weighted_edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an UNDIRECTED WEIGHTED graph ``(u, v, w)``: each step a
    vertex distributes its rank to neighbors proportionally to edge weight —
    rank·w(u,v)/strength(u) with strength = Σ w. The natural form when edges
    carry link multiplicity (repeated hyperlinks between the same pages).
    Same physical plan as ``pagerank``: the weighted symmetric edge side is
    pre-partitioned once and cached; iterations shuffle |V|-row tables only.
    Output ``(v, score)``; Σ score = 1 (no dangling on undirected graphs).
    """
    spark = weighted_edges.sparkSession
    sym = weighted_edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionAll(
        weighted_edges.select(
            F.col("v").alias("src"), F.col("u").alias("dst"), "w"
        )
    )
    strength = sym.groupBy("src").agg(F.sum("w").alias("s"))
    n = strength.count()
    n_part = iteration_partitions(spark, weighted_edges.count() * 2)
    with IterationScope(spark) as it:
        sym_s = it.cache(sym.join(strength, "src").repartition(n_part, "src"))
        sym_s.count()
        ranks = strength.select(F.col("src").alias("v"), (F.lit(1.0) / n).alias("score"))
        with scoped_shuffle_partitions(spark, n_part):
            for k in range(1, iterations + 1):
                prev = ranks
                contribs = (
                    sym_s.join(ranks.withColumnRenamed("v", "src"), "src")
                    .select(
                        F.col("dst").alias("v"),
                        (F.col("score") * F.col("w") / F.col("s")).alias("c"),
                    )
                    .groupBy("v")
                    .agg(F.sum("c").alias("mass"))
                )
                ranks = contribs.select(
                    "v",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping) * F.col("mass")).alias("score"),
                )
                if k % 5 == 0 or k == iterations:
                    ranks = it.keep(ranks)
                    it.release(prev)
        return it.result(ranks)


def pagerank_weighted_unrolled_sql(weighted_edges_sql: str, iterations: int = 10,
                                   damping: float = 0.85, ndigits: int = 6) -> str:
    """DuckDB oracle for ``pagerank_weighted`` — identical weighted walk,
    unrolled; ``weighted_edges_sql`` yields ``(u, v, w)``."""
    d = damping
    parts = [
        f"WITH e AS MATERIALIZED ({weighted_edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst, w FROM e "
        "UNION ALL SELECT v AS src, u AS dst, w FROM e)",
        "st AS MATERIALIZED (SELECT src, sum(w) AS s FROM sym GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM st)",
        "r0 AS MATERIALIZED (SELECT src AS v, 1.0/(SELECT n FROM nn) AS score FROM st)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT s.dst AS v, "
            f"(1.0 - {d})/(SELECT n FROM nn) + {d} * sum(r.score * s.w / t.s) AS score "
            f"FROM sym s JOIN st t ON t.src = s.src "
            f"JOIN r{k-1} r ON r.v = s.src GROUP BY s.dst)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, round(score, {ndigits}) AS score FROM r{iterations} ORDER BY v"
    )


def personalized_pagerank(
    directed_edges: DataFrame,
    seeds: list[int],
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: the random walk teleports to the uniform
    distribution over ``seeds`` instead of over all vertices — the standard
    link-graph similarity/recommendation score ("pages related to these").

    rank_{k+1}(v) = (1−d)·p(v) + d·( Σ_{u→v} rank_k(u)/outdeg(u) + D_k·p(v) )
    with p uniform on the seed set (dangling mass D_k also returns to the
    seeds — the walk restarts where it started). Same physical plan as
    ``pagerank_directed``: cached pre-partitioned edge side, |V|-row rank
    shuffles, one scalar dangling aggregate per step.

    Output ``(v, score)``; mass concentrates near the seeds and Σ score = 1.
    """
    spark = directed_edges.sparkSession
    e = directed_edges.select("src", "dst")
    p = 1.0 / len(seeds)
    tele = F.when(F.col("v").isin([int(s) for s in seeds]), F.lit(p)).otherwise(
        F.lit(0.0)
    )
    with IterationScope(spark) as it:
        verts = it.hold(
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        n_part = iteration_partitions(spark, e.count())
        ed = it.cache(e.join(out_deg, "src").repartition(n_part, "src"))
        ed.count()
        dangling_verts = it.hold(verts.join(
            out_deg.select(F.col("src").alias("v")), "v", "left_anti"
        ).localCheckpoint(eager=False))
        ranks = verts.select("v", tele.alias("score"))
        with scoped_shuffle_partitions(spark, n_part):
            for _ in range(iterations):
                # rank_{k-1} is materialized (end of previous iteration), so the
                # dangling scalar is an in-memory scan, not a lineage replay
                d_mass = (
                    ranks.join(dangling_verts, "v")
                    .agg(F.coalesce(F.sum("score"), F.lit(0.0)).alias("m"))
                    .collect()[0]["m"]
                )
                contribs = (
                    ed.join(ranks.withColumnRenamed("v", "src"), "src")
                    .select(F.col("dst").alias("v"),
                            (F.col("score") / F.col("deg")).alias("c"))
                    .groupBy("v")
                    .agg(F.sum("c").alias("mass"))
                )
                # kept every iteration — see pagerank_directed: the per-step
                # scalar already forces a job, so materializing here keeps
                # every action one iteration deep
                new_ranks = it.keep(verts.join(contribs, "v", "left").select(
                    "v",
                    (
                        F.lit(1.0 - damping) * tele
                        + F.lit(damping)
                        * (F.coalesce(F.col("mass"), F.lit(0.0))
                           + F.lit(d_mass) * tele)
                    ).alias("score"),
                ))
                it.release(ranks)
                ranks = new_ranks
        return it.result(ranks)


def personalized_pagerank_unrolled_sql(edges_sql: str, seeds: list[int],
                                       iterations: int = 10,
                                       damping: float = 0.85,
                                       ndigits: int = 6) -> str:
    """DuckDB oracle for ``personalized_pagerank`` — identical seed-teleport
    walk with per-step dangling scalars, unrolled."""
    d = damping
    p = 1.0 / len(seeds)
    seed_list = ", ".join(str(int(s)) for s in seeds)
    tele = f"(CASE WHEN vv.v IN ({seed_list}) THEN {p!r} ELSE 0.0 END)"
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM e UNION ALL SELECT dst FROM e))",
        "odeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT vv.v, {tele} AS score FROM verts vv)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"dm{k} AS MATERIALIZED (SELECT coalesce(sum(score), 0) AS m "
            f"FROM r{k-1} WHERE v NOT IN (SELECT src FROM e))"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e.dst AS v, "
            f"sum(r.score / o.deg) AS mass FROM e "
            f"JOIN odeg o ON o.src = e.src JOIN r{k-1} r ON r.v = e.src "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT vv.v, "
            f"(1.0 - {d}) * {tele} + {d} * "
            f"(coalesce(c.mass, 0) + (SELECT m FROM dm{k}) * {tele}) "
            f"AS score FROM verts vv LEFT JOIN c{k} c ON c.v = vv.v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, round(score, {ndigits}) AS score FROM r{iterations} ORDER BY v"
    )


def hits(directed_edges: DataFrame, iterations: int = 10) -> DataFrame:
    """HITS (Kleinberg 1999) hub/authority scores over the directed link
    graph — PageRank's classic companion: authorities are pages good links
    point AT, hubs are pages that point at good authorities.

    Per iteration (L1-normalized so scores are comparable and the oracle is
    a plain unrolled query):  a_k(v) ∝ Σ_{u→v} h_{k-1}(u) then
    h_k(u) ∝ Σ_{u→v} a_k(v), each rescaled to sum 1. Two vertex-keyed joins
    + two |V|-row aggregates per iteration over the one cached pre-partitioned
    edge table — the same shuffle envelope as the PageRank loop.

    Output: ``(v, hub: double, authority: double)`` over all vertices
    (vertices with no in-links get authority 0; no out-links → hub 0).
    """
    spark = directed_edges.sparkSession
    e = directed_edges.select("src", "dst")

    def _norm_total(t: float | None) -> float:
        # an exact-0.0 total (degenerate all-zero round) gets the same
        # treatment as the empty aggregate, and the SQL twin's
        # coalesce(nullif(sum, 0), 1.0) matches it — a bare `or 1.0` would
        # be identical here, but spelling the zero case out keeps the
        # engine/oracle contract explicit
        return 1.0 if t is None or t == 0.0 else float(t)

    with IterationScope(spark) as it:
        verts = it.hold(
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n = verts.count()
        n_part = iteration_partitions(spark, e.count())
        ed = it.cache(e.repartition(n_part, "src"))
        ed.count()
        hubs = verts.select("v", (F.lit(1.0) / n).alias("hub"))
        auths = verts.select("v", F.lit(0.0).alias("authority"))
        with scoped_shuffle_partitions(spark, n_part):
            for _ in range(iterations):
                # materialize each half-step's aggregate BEFORE taking its
                # normalization scalar: the scalar then scans |V| in-memory
                # rows and every downstream plan is at most two joins deep —
                # no action ever replays a previous iteration's lineage
                prev = (hubs, auths)
                a_raw = it.keep(
                    ed.join(hubs.withColumnRenamed("v", "src"), "src")
                    .groupBy(F.col("dst").alias("v"))
                    .agg(F.sum("hub").alias("a"))
                )
                a_tot = _norm_total(a_raw.agg(F.sum("a")).collect()[0][0])
                auths = verts.join(a_raw, "v", "left").select(
                    "v", (F.coalesce(F.col("a"), F.lit(0.0)) / F.lit(a_tot)).alias("authority")
                )
                h_raw = it.keep(
                    ed.join(auths.withColumnRenamed("v", "dst"), "dst")
                    .groupBy(F.col("src").alias("v"))
                    .agg(F.sum("authority").alias("h"))
                )
                h_tot = _norm_total(h_raw.agg(F.sum("h")).collect()[0][0])
                hubs = verts.join(h_raw, "v", "left").select(
                    "v", (F.coalesce(F.col("h"), F.lit(0.0)) / F.lit(h_tot)).alias("hub")
                )
                # the previous round's raw aggregates are no longer referenced
                # once this round's are materialized (hubs_{k}/auths_{k} read
                # only a_raw_{k}/h_raw_{k} + verts)
                it.release(*prev)
        # materialized, so the result reads one block, not verts + both aggregates
        return it.result(it.keep(hubs.join(auths, "v").select("v", "hub", "authority")))


def hits_unrolled_sql(edges_sql: str, iterations: int = 10,
                      ndigits: int = 6) -> str:
    """DuckDB oracle for ``hits`` — identical L1-normalized power iteration,
    unrolled with per-step normalization scalars."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM e UNION ALL SELECT dst FROM e))",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM verts)",
        "h0 AS MATERIALIZED (SELECT v, 1.0/(SELECT n FROM nn) AS hub FROM verts)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"ar{k} AS MATERIALIZED (SELECT e.dst AS v, sum(h.hub) AS a "
            f"FROM e JOIN h{k-1} h ON h.v = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"at{k} AS MATERIALIZED (SELECT coalesce(nullif(sum(a), 0), 1.0) AS t FROM ar{k})"
        )
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT vv.v, "
            f"coalesce(r.a, 0) / (SELECT t FROM at{k}) AS authority "
            f"FROM verts vv LEFT JOIN ar{k} r ON r.v = vv.v)"
        )
        parts.append(
            f"hr{k} AS MATERIALIZED (SELECT e.src AS v, sum(a.authority) AS h "
            f"FROM e JOIN a{k} a ON a.v = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"ht{k} AS MATERIALIZED (SELECT coalesce(nullif(sum(h), 0), 1.0) AS t FROM hr{k})"
        )
        parts.append(
            f"h{k} AS MATERIALIZED (SELECT vv.v, "
            f"coalesce(r.h, 0) / (SELECT t FROM ht{k}) AS hub "
            f"FROM verts vv LEFT JOIN hr{k} r ON r.v = vv.v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT h.v, round(h.hub, {ndigits}) AS hub, "
        f"round(a.authority, {ndigits}) AS authority "
        f"FROM h{iterations} h JOIN a{iterations} a ON a.v = h.v ORDER BY h.v"
    )


def pagerank_directed_unrolled_sql(edges_sql: str, iterations: int = 10,
                                   damping: float = 0.85, ndigits: int = 6) -> str:
    """DuckDB oracle for ``pagerank_directed``: same fixed-iteration directed
    walk with the per-step dangling-mass scalar, unrolled. ``edges_sql`` must
    yield directed ``(src, dst)`` rows."""
    d = damping
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM e UNION ALL SELECT dst FROM e))",
        "odeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM verts)",
        "r0 AS MATERIALIZED (SELECT v, 1.0/(SELECT n FROM nn) AS score FROM verts)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"dm{k} AS MATERIALIZED (SELECT coalesce(sum(score), 0) AS m "
            f"FROM r{k-1} WHERE v NOT IN (SELECT src FROM e))"
        )
        parts.append(
            f"c{k} AS MATERIALIZED (SELECT e.dst AS v, "
            f"sum(r.score / o.deg) AS mass FROM e "
            f"JOIN odeg o ON o.src = e.src JOIN r{k-1} r ON r.v = e.src "
            f"GROUP BY e.dst)"
        )
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT vv.v, "
            f"(1.0 - {d})/(SELECT n FROM nn) + {d} * "
            f"(coalesce(c.mass, 0) + (SELECT m FROM dm{k})/(SELECT n FROM nn)) "
            f"AS score FROM verts vv LEFT JOIN c{k} c ON c.v = vv.v)"
        )
    return (
        ", ".join(parts)
        + f" SELECT v, round(score, {ndigits}) AS score FROM r{iterations} ORDER BY v"
    )


def pagerank_tol_unrolled_sql(edges_sql: str, iterations: int = 15,
                              tol: float = 1e-4, damping: float = 0.85,
                              ndigits: int = 6) -> str:
    """DuckDB oracle for CONVERGENCE-mode ``pagerank(tol=...)``: unroll the
    cap's worth of iterations, compute each step's L1 delta
    Σ|rank_k − rank_{k−1}|, and select the ranks of the FIRST iteration whose
    delta drops below ``tol`` (the cap if none does) — the same
    stop-at-min-k semantics as the driver loop's break. Deltas decay
    geometrically, so any tol not adjacent to an actual delta value makes the
    cross-engine comparison robust to last-ulp float differences."""
    d = damping
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v AS src, u AS dst FROM e)",
        "odeg AS MATERIALIZED (SELECT src, count(*) AS deg FROM sym GROUP BY src)",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM odeg)",
        "r0 AS MATERIALIZED (SELECT src AS v, 1.0/(SELECT n FROM nn) AS score FROM odeg)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"r{k} AS MATERIALIZED (SELECT s.dst AS v, "
            f"(1.0 - {d})/(SELECT n FROM nn) + {d} * sum(r.score / o.deg) AS score "
            f"FROM sym s JOIN odeg o ON o.src = s.src "
            f"JOIN r{k-1} r ON r.v = s.src GROUP BY s.dst)"
        )
        parts.append(
            f"dl{k} AS MATERIALIZED (SELECT sum(abs(a.score - b.score)) AS d "
            f"FROM r{k} a JOIN r{k-1} b ON b.v = a.v)"
        )
    deltas = " UNION ALL ".join(
        f"SELECT {k} AS k, (SELECT d FROM dl{k}) AS d"
        for k in range(1, iterations + 1)
    )
    parts.append(f"ds AS MATERIALIZED ({deltas})")
    parts.append(
        f"stopk AS MATERIALIZED (SELECT coalesce(min(k), {iterations}) AS k "
        f"FROM ds WHERE d < {tol!r})"
    )
    finals = " UNION ALL ".join(
        f"SELECT v, round(score, {ndigits}) AS score FROM r{k} "
        f"WHERE (SELECT k FROM stopk) = {k}"
        for k in range(1, iterations + 1)
    )
    return ", ".join(parts) + f" SELECT v, score FROM ({finals}) ORDER BY v"


def eigenvector_centrality(
    edges: DataFrame, iterations: int = 4
) -> DataFrame:
    """Eigenvector centrality by INTEGER-EXACT power iteration (walk counts).

    x_0(v) = 1;  x_{k+1}(v) = Σ_{u ∈ N(v)} x_k(u)  — so x_k(v) is exactly the
    number of k-walks ending at v (A^k · 1), and x_k / ‖x_k‖∞ converges to the
    principal eigenvector of the adjacency matrix. Keeping the iterate as
    decimal(38,0) walk COUNTS instead of normalized doubles makes every round
    partitioning-invariant (integer sums commute exactly — the same trick as
    the modularity and assortativity lanes); the single float division happens
    once at the end. Bound: x_k ≤ Δ^k ≤ 10^38 holds for any graph with max
    degree < 10^(38/k) — at the default 4 iterations that is Δ < 3·10^9,
    i.e. any real web graph.

    Per round: one co-partitioned join (the pre-partitioned symmetric edge
    table never re-shuffles) + one map-side-combined sum — identical shuffle
    shape to `pagerank`. Output: ``(v, walks: decimal(38,0) → double score)``
    as ``(v: long, score: double)``, score = x_k(v)/max(x_k) rounded 6dp.
    """
    spark = edges.sparkSession
    sym = undirect(edges)
    n_part = iteration_partitions(spark, edges.count() * 2)
    with IterationScope(spark) as it:
        sym_p = it.cache(sym.repartition(n_part, "src"))
        x = sym_p.select("src").distinct().select(
            F.col("src").alias("v"), F.lit(1).cast("decimal(38,0)").alias("x")
        )
        with scoped_shuffle_partitions(spark, n_part):
            for _ in range(iterations):
                # truncate lineage each round (repo-wide iteration rule) and
                # release the previous round's blocks — they are dead state
                new_x = it.keep(
                    sym_p.join(x.withColumnRenamed("v", "src"), "src")
                    .groupBy(F.col("dst").alias("v"))
                    .agg(F.sum("x").cast("decimal(38,0)").alias("x"))
                )
                it.release(x)
                x = new_x
        mx = x.agg(F.max("x").cast("double").alias("__mx"))
        return it.result(x.crossJoin(mx).select(
            "v",
            F.round(F.col("x").cast("double") / F.col("__mx"), 6).alias("score"),
        ))


def eigenvector_centrality_unrolled_sql(
    edges_sql: str, iterations: int = 4, ndigits: int = 6
) -> str:
    """DuckDB oracle: the same integer walk-count power iteration, unrolled.
    HUGEINT sums are exact to 2^127 — strictly wider than the engine's
    decimal(38,0), so both sides compute identical integers."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v AS src, u AS dst FROM e)",
        "x0 AS MATERIALIZED (SELECT DISTINCT src AS v, "
        "CAST(1 AS HUGEINT) AS x FROM sym)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"x{k} AS MATERIALIZED (SELECT s.dst AS v, "
            f"CAST(sum(x.x) AS HUGEINT) AS x "
            f"FROM sym s JOIN x{k-1} x ON x.v = s.src GROUP BY s.dst)"
        )
    parts.append(
        f"mx AS MATERIALIZED (SELECT CAST(max(x) AS DOUBLE) AS m FROM x{iterations})"
    )
    return (
        ", ".join(parts)
        + f" SELECT v, round(CAST(x AS DOUBLE) / (SELECT m FROM mx), {ndigits})"
        f" AS score FROM x{iterations} ORDER BY v"
    )


def salsa(directed_edges: DataFrame, iterations: int = 5) -> DataFrame:
    """SALSA (Lempel & Moran, WWW 2000 / TOIT 2001) — the stochastic
    hub/authority companion to :func:`hits`, the link-analysis scheme behind
    Twitter's who-to-follow. Instead of HITS's mutual-reinforcement sums
    (which a single dense site can capture), SALSA runs TWO alternating
    random walks on the bipartite hub/authority view of the directed graph,
    so every step is degree-normalized:

        a_k(j) = Σ_{i→j} h_{k-1}(i) / outdeg(i)     (hub side → authority)
        h_k(i) = Σ_{i→j} a_k(j)     / indeg(j)      (authority side → hub)

    starting from the uniform hub distribution h_0 = 1/|{v: outdeg(v)>0}|.
    Both steps are stochastic, so mass is conserved exactly — unlike HITS
    there is NO per-iteration normalization scalar and therefore NO driver
    action inside the loop: the whole run is |2·iterations| join+agg rounds,
    each checkpointed. For a connected support graph the stationary
    authority weight is indeg(j)/m — the property test pins that limit.

    Output: ``(v, hub: double, authority: double)`` over ALL vertices of the
    directed graph (vertices with outdeg 0 have hub 0; indeg 0 → authority
    0). Scale shape: one pre-joined degree-weighted edge table persisted and
    re-used every round (the same envelope as the PageRank loop); both
    per-round aggregates are map-side combined vertex sums.

    No counterpart in /root/reference (strictly a TC engine); public-paper
    algorithm, north-star link-analysis family.
    """
    spark = directed_edges.sparkSession
    e = directed_edges.select("src", "dst")
    with IterationScope(spark) as it:
        verts = it.hold(
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        od = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("od"))
        idg = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("ind"))
        n_part = iteration_partitions(spark, e.count())
        # degree-annotated edge table, built once, partitioned like the loop's
        # first join key
        ew = it.cache(
            e.join(od, "src")
            .join(idg, "dst")
            .select("src", "dst", "od", "ind")
            .repartition(n_part, "src")
        )
        ew.count()
        n_hubs = od.count()
        hubs = od.select(F.col("src").alias("v"), (F.lit(1.0) / n_hubs).alias("hub"))
        auths = idg.select(F.col("dst").alias("v"), F.lit(0.0).alias("authority"))
        with scoped_shuffle_partitions(spark, n_part):
            for _k in range(iterations):
                a_new = it.keep(
                    ew.join(hubs.withColumnRenamed("v", "src"), "src")
                    .groupBy(F.col("dst").alias("v"))
                    .agg(F.sum(F.col("hub") / F.col("od").cast("double")).alias("authority"))
                )
                h_new = it.keep(
                    ew.join(
                        a_new.withColumnRenamed("v", "dst").withColumnRenamed(
                            "authority", "__a"
                        ),
                        "dst",
                    )
                    .groupBy(F.col("src").alias("v"))
                    .agg(F.sum(F.col("__a") / F.col("ind").cast("double")).alias("hub"))
                )
                it.release(hubs, auths)
                auths, hubs = a_new, h_new
        # materialized, so the result reads one block, not verts + both states
        return it.result(it.keep(
            verts.join(hubs, "v", "left")
            .join(auths, "v", "left")
            .select(
                "v",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("authority", F.lit(0.0)).alias("authority"),
            )
        ))


def salsa_unrolled_sql(edges_sql: str, iterations: int = 5,
                       ndigits: int = 6) -> str:
    """DuckDB oracle for :func:`salsa` — identical alternating stochastic
    walk, unrolled; per-edge division before the sum, mirrored exactly."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "verts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM e UNION ALL SELECT dst FROM e))",
        "od AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS od "
        "FROM e GROUP BY src)",
        "idg AS MATERIALIZED (SELECT dst, CAST(count(*) AS BIGINT) AS ind "
        "FROM e GROUP BY dst)",
        "ew AS MATERIALIZED (SELECT e.src, e.dst, od.od, idg.ind "
        "FROM e JOIN od ON od.src = e.src JOIN idg ON idg.dst = e.dst)",
        "nh AS (SELECT count(*) AS n FROM od)",
        "h0 AS MATERIALIZED (SELECT src AS v, 1.0/(SELECT n FROM nh) AS hub "
        "FROM od)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT ew.dst AS v, "
            f"sum(h.hub / CAST(ew.od AS DOUBLE)) AS authority "
            f"FROM ew JOIN h{k-1} h ON h.v = ew.src GROUP BY ew.dst)"
        )
        parts.append(
            f"h{k} AS MATERIALIZED (SELECT ew.src AS v, "
            f"sum(a.authority / CAST(ew.ind AS DOUBLE)) AS hub "
            f"FROM ew JOIN a{k} a ON a.v = ew.dst GROUP BY ew.src)"
        )
    return (
        ", ".join(parts)
        + f" SELECT vv.v, round(coalesce(h.hub, 0.0), {ndigits}) AS hub, "
        f"round(coalesce(a.authority, 0.0), {ndigits}) AS authority "
        f"FROM verts vv LEFT JOIN h{iterations} h ON h.v = vv.v "
        f"LEFT JOIN a{iterations} a ON a.v = vv.v ORDER BY vv.v"
    )


def katz_centrality(
    edges: DataFrame, alpha: float = 0.01, iterations: int = 4
) -> DataFrame:
    """Truncated Katz centrality (Katz 1953) by the same INTEGER-EXACT
    walk-count iteration as :func:`eigenvector_centrality`:

        katz(v) = Σ_{k=1..K} α^k · w_k(v),   w_k(v) = (A^k · 1)(v)

    i.e. every walk of length k ending at v contributes α^k — the classic
    attenuated-influence index (eigenvector centrality weights only the
    k→∞ limit; Katz counts SHORT reach too, which is what matters on a
    bounded-diameter web graph). Each w_k is an exact decimal(38,0) vertex
    sum (partitioning-invariant); the K float multiply-adds happen ONCE per
    vertex at the end in a fixed left-to-right order mirrored in the
    oracle, so the 6dp result is bit-portable. Requires α < 1/λ_max for the
    untruncated series to converge; the truncated form is a deterministic
    query for any α.

    Per round: one co-partitioned join + one map-side-combined integer sum
    (the `pagerank` shuffle envelope). Output: ``(v: long, katz: double
    6dp)`` over all non-isolated vertices.

    No counterpart in /root/reference; public-paper centrality family
    (see also eigenvector_centrality, pagerank, hits, salsa).
    """
    spark = edges.sparkSession
    sym = undirect(edges)
    n_part = iteration_partitions(spark, edges.count() * 2)
    with IterationScope(spark) as it:
        sym_p = it.cache(sym.repartition(n_part, "src"))
        verts = it.hold(
            sym_p.select(F.col("src").alias("v")).distinct().localCheckpoint(eager=False)
        )
        x = verts.select("v", F.lit(1).cast("decimal(38,0)").alias("x"))
        # every w_k feeds the FINAL select, so (unlike the pure power
        # iteration) no round's blocks are dead until the result is built
        walk_tables = []
        with scoped_shuffle_partitions(spark, n_part):
            for _k in range(iterations):
                x = it.keep(
                    sym_p.join(x.withColumnRenamed("v", "src"), "src")
                    .groupBy(F.col("dst").alias("v"))
                    .agg(F.sum("x").cast("decimal(38,0)").alias("x"))
                )
                walk_tables.append(x)
        out = verts
        terms = []
        for k, wk in enumerate(walk_tables, start=1):
            out = out.join(
                wk.select("v", F.col("x").alias(f"__w{k}")), "v", "left"
            )
            terms.append(
                F.lit(alpha**k)
                * F.coalesce(F.col(f"__w{k}"), F.lit(0)).cast("double")
            )
        # fixed left-to-right accumulation, mirrored in the SQL twin
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        return it.result(it.keep(out.select("v", F.round(acc, 6).alias("katz"))))


def katz_centrality_unrolled_sql(
    edges_sql: str, alpha: float = 0.01, iterations: int = 4,
    ndigits: int = 6,
) -> str:
    """DuckDB oracle for :func:`katz_centrality` — identical HUGEINT walk
    counts and the identical left-to-right float fold (α^k literals are
    generated by the same Python floats on both sides)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v AS src, u AS dst FROM e)",
        "verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)",
        "x0 AS MATERIALIZED (SELECT v, CAST(1 AS HUGEINT) AS x FROM verts)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"x{k} AS MATERIALIZED (SELECT s.dst AS v, "
            f"CAST(sum(x.x) AS HUGEINT) AS x "
            f"FROM sym s JOIN x{k-1} x ON x.v = s.src GROUP BY s.dst)"
        )
    folded = " + ".join(
        f"{alpha ** k!r} * CAST(coalesce(x{k}.x, 0) AS DOUBLE)"
        for k in range(1, iterations + 1)
    )
    joins = " ".join(
        f"LEFT JOIN x{k} ON x{k}.v = verts.v" for k in range(1, iterations + 1)
    )
    return (
        ", ".join(parts)
        + f" SELECT verts.v, round({folded}, {ndigits}) AS katz "
        f"FROM verts {joins} ORDER BY verts.v"
    )


def trustrank(
    directed_edges: DataFrame,
    seeds: list[int],
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """TrustRank + relative spam mass (Gyöngyi, Garcia-Molina & Pedersen,
    VLDB 2004; Gyöngyi et al., VLDB 2006) — the classic web-spam-demotion
    pair: trust flows from a hand-reviewed seed whitelist along out-links
    (a seed-personalized PageRank walk), and a page's *relative spam mass*
    ``(PR(v) − TR(v)) / PR(v)`` estimates how much of its PageRank arrives
    from spam-like (untrusted) sources — near 1 for pages ranked by link
    farms, near 0 (or negative) for pages endorsed by the trusted core.

    Composition of the two walks this module already proves:
    :func:`pagerank_directed` (uniform teleport + dangling redistribution)
    and :func:`personalized_pagerank` (seed teleport; dangling mass returns
    to the seeds) — both rounded at 6dp first, so spam mass divides the same
    doubles both engines print, making the quotient bit-portable. Vertices
    whose 6dp PageRank rounds to zero get NULL spam mass (at web scale the
    teleport floor (1−d)/N keeps PR(v) ≥ 1.5·10⁻⁷/page only while N < 10⁶ —
    the NULL convention is the honest report, not a sentinel zero).

    Output: ``(v, pr_score, trust_score, spam_mass)``, floats at 6dp.

    Scale: exactly two PageRank-family runs (each: cached pre-partitioned
    edge side, |V|-row rank shuffles, per-iteration checkpoint) plus ONE
    |V|-row equi-join — nothing new beyond the proven loops.
    """
    pr = pagerank_directed(directed_edges, iterations=iterations,
                           damping=damping).select(
        "v", F.round("score", 6).alias("pr_score")
    )
    tr = personalized_pagerank(directed_edges, seeds=seeds,
                               iterations=iterations, damping=damping).select(
        "v", F.round("score", 6).alias("trust_score")
    )
    return pr.join(tr, "v").select(
        "v",
        "pr_score",
        "trust_score",
        F.when(
            F.col("pr_score") > 0,
            F.round(
                (F.col("pr_score") - F.col("trust_score")) / F.col("pr_score"),
                6,
            ),
        ).alias("spam_mass"),
    )


def trustrank_unrolled_sql(edges_sql: str, seeds: list[int],
                           iterations: int = 10, damping: float = 0.85,
                           ndigits: int = 6) -> str:
    """DuckDB oracle for :func:`trustrank` — nests the two existing unrolled
    walks (each carries its own WITH chain, scoped inside its CTE) and joins
    them with the identical rounded-first spam-mass expression."""
    pr_sql = pagerank_directed_unrolled_sql(edges_sql, iterations=iterations,
                                            damping=damping, ndigits=ndigits)
    tr_sql = personalized_pagerank_unrolled_sql(edges_sql, seeds=seeds,
                                                iterations=iterations,
                                                damping=damping,
                                                ndigits=ndigits)
    return (
        f"WITH trk_pr AS MATERIALIZED ({pr_sql}), "
        f"trk_tr AS MATERIALIZED ({tr_sql}) "
        "SELECT p.v, p.score AS pr_score, t.score AS trust_score, "
        f"CASE WHEN p.score > 0 THEN round((p.score - t.score) / p.score, "
        f"{ndigits}) END AS spam_mass "
        "FROM trk_pr p JOIN trk_tr t ON t.v = p.v ORDER BY p.v"
    )

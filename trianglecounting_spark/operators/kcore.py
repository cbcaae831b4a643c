"""k-core decomposition by iterative degree peeling.

The k-core of G is the maximal subgraph where every vertex has degree ≥ k.
Peeling: drop vertices with degree < k (and their edges), recompute degrees,
repeat to fixpoint. Companion to k-truss (edge-support peeling, ktruss.py) —
the standard web-graph denoising pass before community/centrality analytics.
Absent from the reference (a TC engine); added for the link-graph suite.

Each round = one degree aggregation + one semi-join filter — two shuffles on
the SHRINKING edge set, all Column expressions. Exact integer labels, so
results are partitioning-invariant; the fixed-round form is oracle-matched
(rounds are idempotent once converged).

``coreness`` (the whole decomposition as one h-index fixpoint) runs in two
regimes, chosen from |V| against ``tuning.BROADCAST_ROWS``: at or under the
budget the h state is held on the driver and a round is one ``mapInArrow``
pass over the cached grouped adjacency (``plans/vertex_state``; broadcast
state and per-round collect O(|V|), 0.3-0.45 s a pass on a 4-vCPU host);
above it, a per-round shuffle join + aggregate with a checkpointed state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.plans.cache import (
    barrier_checkpoint,
    persistent_rdd_ids,
    release_ids,
    tracked_checkpoint,
)
from trianglecounting_spark.plans.tuning import BROADCAST_ROWS, iteration_partitions
from trianglecounting_spark.plans.vertex_state import VertexState, fits_driver

# Reliable-checkpoint barrier cadence for deep peel cascades. localCheckpoint
# does NOT cut the underlying RDD DAG, and a driver-side per-job traversal
# walks lineage PATHS — O(refs^depth). With this loop's ≥3 state references
# per round, a ~20-round chain cascade at sf0.1 pinned the driver in
# BigInteger stats arithmetic for >25 min while the bulk peel took 23 s
# (measured round 5); a file barrier every 12 rounds caps the walkable depth,
# same contract as operators/scc.py's floods.
_BARRIER_EVERY = 12


def _peel_once(cur: DataFrame, k: int) -> DataFrame:
    from trianglecounting_spark.operators.normalize import degrees

    keep = degrees(cur).where(F.col("deg") >= k).select("v")
    ku = keep.select(F.col("v").alias("u"))
    kv = keep.select(F.col("v").alias("v"))
    # semi-joins: an edge survives iff BOTH endpoints survive
    return cur.join(ku, "u", "left_semi").join(kv, "v", "left_semi")


def kcore(edges: DataFrame, k: int, max_iterations: int = 100) -> DataFrame:
    """Edges of the k-core subgraph ``(u, v)`` with u < v. Runs to fixpoint."""
    spark = edges.sparkSession
    cur, cur_ids = tracked_checkpoint(edges.select("u", "v"))
    n_cur = cur.count()
    for _ in range(max_iterations):
        before = persistent_rdd_ids(spark)
        nxt, nxt_ids = tracked_checkpoint(_peel_once(cur, k), before=before)
        n_nxt = nxt.count()
        release_ids(spark, cur_ids)
        cur, cur_ids = nxt, nxt_ids
        if n_nxt == n_cur:
            break
        n_cur = n_nxt
    return cur


def kcore_rounds(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Exactly `rounds` peels — the deterministic oracle-matched contract."""
    spark = edges.sparkSession
    cur, cur_ids = tracked_checkpoint(edges.select("u", "v"))
    for _ in range(rounds):
        before = persistent_rdd_ids(spark)
        cur, nxt_ids = tracked_checkpoint(_peel_once(cur, k), before=before)
        release_ids(spark, cur_ids)
        cur_ids = nxt_ids
    return cur


def kcore_unrolled_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB oracle for ``kcore_rounds``: per round, degree filter + edge
    semi-join, identical semantics."""
    parts = [f"WITH t0 AS MATERIALIZED ({edges_sql})"]
    for r in range(rounds):
        parts.append(
            f"deg{r} AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
            f"(SELECT u AS x FROM t{r} UNION ALL SELECT v AS x FROM t{r}) GROUP BY x)"
        )
        parts.append(
            f"keep{r} AS MATERIALIZED (SELECT v FROM deg{r} WHERE deg >= {k})"
        )
        parts.append(
            f"t{r+1} AS MATERIALIZED (SELECT t.u, t.v FROM t{r} t "
            f"WHERE t.u IN (SELECT v FROM keep{r}) AND t.v IN (SELECT v FROM keep{r}))"
        )
    return ", ".join(parts) + f" SELECT u, v FROM t{rounds} ORDER BY u, v"


def kcore_incremental(
    edges: DataFrame, k: int, max_iterations: int = 100
) -> DataFrame:
    """Fixpoint k-core with DELTA degree maintenance — same output as
    ``kcore`` (differential-tested), the degree-peel analog of
    ``ktruss_incremental``'s support maintenance.

    ``kcore`` re-aggregates degrees over ALL surviving edge endpoints every
    round (a full 2·|E| shuffle); after round one only neighbors of removed
    vertices change, so this form maintains a ``(v, deg)`` state and
    decrements exactly the survivors adjacent to the removed batch R:

    * removed vertices are BROADCAST (a peel batch is vertex-count bounded),
      so classifying edges as dead/alive is a scan of the edge state, never
      a shuffle of it;
    * an edge with one endpoint in R decrements its surviving endpoint by 1;
      an edge with both endpoints in R decrements nobody — the two broadcast
      left-join flags distinguish the cases exactly;
    * per-round shuffle volume is the decrement aggregate,
      O(edges incident to R), not O(|survivors|).

    Each round checkpoints both states (eager localCheckpoint, tracked),
    with a reliable-file barrier every ``_BARRIER_EVERY`` rounds.

    Bulk-vs-delta, MEASURED (round 5, sf0.1 core = 1.196 M edges, local[32]):
    unlike k-truss — whose bulk round re-runs the triangle kernel and loses
    the cascade tail 46.8 s vs 105.9 s — k-core's bulk round is a single
    whole-stage-codegen degree aggregate, so bulk stays ahead even on a
    ~20-round chain-cascade tail (bulk 19.2 s vs delta 24.1 s; dense-core
    full collapse at k=110: 2.4 s vs 3.8 s). The delta form's advantage is
    asymptotic, not local: its per-round shuffle is O(edges incident to the
    removed batch) versus bulk's O(|survivors|) full re-aggregate, which
    crosses over when survivors are ~100× the removal neighborhood for many
    rounds — the web-periphery regime at 100 TB, not reproducible at sf0.1.
    """
    from trianglecounting_spark.operators.normalize import degrees

    spark = edges.sparkSession
    e_state, e_ids = tracked_checkpoint(edges.select("u", "v"))
    n_part = iteration_partitions(spark, e_state.count())
    d_state, d_ids = tracked_checkpoint(
        degrees(e_state).repartition(n_part, "v")
    )

    for _it in range(max_iterations):
        removed = d_state.where(F.col("deg") < k).select("v")
        if removed.count() == 0:
            break
        ru = F.broadcast(removed.select(F.col("v").alias("u"), F.lit(1).alias("__du")))
        rv = F.broadcast(removed.select("v", F.lit(1).alias("__dv")))
        flagged = e_state.join(ru, "u", "left").join(rv, "v", "left")
        new_e_plan = flagged.where(
            F.col("__du").isNull() & F.col("__dv").isNull()
        ).select("u", "v")
        # one-dead-endpoint edges decrement the OTHER (surviving) endpoint
        dec = (
            flagged.where(F.col("__du").isNotNull() & F.col("__dv").isNull())
            .select(F.col("v"))
            .unionAll(
                flagged.where(
                    F.col("__dv").isNotNull() & F.col("__du").isNull()
                ).select(F.col("u").alias("v"))
            )
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("__dec"))
        )
        new_d_plan = (
            d_state.where(F.col("deg") >= k)
            .join(dec, "v", "left")
            .select(
                "v",
                (F.col("deg") - F.coalesce("__dec", F.lit(0)))
                .cast("long")
                .alias("deg"),
            )
            .repartition(n_part, "v")
        )
        before = persistent_rdd_ids(spark)
        if (_it + 1) % _BARRIER_EVERY == 0:
            new_e, new_e_ids = barrier_checkpoint(new_e_plan)
            new_d, new_d_ids = barrier_checkpoint(new_d_plan)
        else:
            new_e, new_e_ids = tracked_checkpoint(new_e_plan, before=before)
            new_d, new_d_ids = tracked_checkpoint(new_d_plan)
        release_ids(spark, e_ids | d_ids)
        e_state, e_ids = new_e, new_e_ids
        d_state, d_ids = new_d, new_d_ids
    release_ids(spark, d_ids)
    return e_state


def _h_index_agg(values_col: str) -> F.Column:
    """Sort-free (no window) h-index of a group's values as ONE aggregate
    expression: with the multiset sorted descending, H = #{i : a_i ≥ i}
    (1-based) — the classic prefix characterization, equal to
    max_i min(i, a_i) because {i : a_i ≥ i} is a prefix of a non-increasing
    sequence. The per-group array sort happens inside the hash aggregate
    (bounded by the group's degree), replacing a full partition-wide
    window sort; ties need no tiebreak — H is order-independent."""
    arr = F.reverse(F.array_sort(F.collect_list(F.col(values_col))))
    return F.size(
        F.filter(arr, lambda x, i: x >= (i + F.lit(1)).cast("long"))
    ).cast("long")


def _h_index_step(part, st):
    """One synchronous h-index round for the partition's vertices:
    h'(v) = H({h(u) : u ~ v}) from the broadcast h (no in-place updates, so
    a pass is exactly one round of the recurrence)."""
    h = st["h"]
    rows = part.row("nbrs")
    nh = h[part.nbr("nbrs")]
    # per-row descending h (one sort of the key (row, -h); rows ascend),
    # then the prefix count #{i : a_i >= i}
    k = int(nh.max(initial=0)) + 1
    snh = k - 1 - np.sort(rows * k + (k - 1 - nh)) % k
    pos = np.arange(len(rows), dtype=np.int64) - np.searchsorted(rows, rows)
    hh = part.seg_sum("nbrs", (snh >= pos + 1).astype(np.int64))
    h0 = h[part.own]
    # every change matters to a neighbor next round: no remote shortcut
    return part.changes(hh != h0, hh, np.ones(part.n, dtype=bool))


def coreness(
    edges: DataFrame,
    max_iterations: int = 200,
    broadcast_rows: int = BROADCAST_ROWS,
) -> DataFrame:
    """Per-vertex core number ``(v, coreness)`` via the distributed h-index
    fixpoint (Lü et al., "The H-index of a network node", Nature Comms 2016):

        h_0(v)   = deg(v)
        h_t+1(v) = H({ h_t(u) : u ~ v })   (H = the h-index operator)

    h is elementwise monotone non-increasing and converges to the core number
    — the whole decomposition in one fixpoint instead of one ``kcore`` peel
    per k. Absent from the reference (a TC engine, no vertex hierarchy);
    added for the link-graph suite (web-spam / importance tiers).

    Two regimes, chosen from |V| against ``tuning.BROADCAST_ROWS``:

    * |V| ≤ budget — driver-held state (``plans/vertex_state``): the
      symmetric adjacency is grouped ONCE into Arrow list rows and cached
      (degrees ride the id collect); the h array lives on the driver, and a
      round is ONE narrow ``mapInArrow`` pass that maps every neighbor to
      its h and computes every vertex's H with one segment-sorted prefix
      count, plus a collect of the changed rows — zero joins, zero
      exchanges, zero per-round checkpoints; the grouped rows are mapped
      into index space once, not per round. Bound: the broadcast state and
      the per-round collect are O(|V|). Cost model (4-vCPU host, Spark
      local[2]): a pass 0.3-0.45 s, one Spark job per round (R-MAT
      scale 17, two grouped partitions: 24 passes, ~12.5 s).
    * otherwise (web scale, |V| not driver-boundable): per-round shuffle
      join of adjacency against the h state + one hash aggregate with
      ``_h_index_agg`` (an in-group array sort), the h state checkpointed
      per round (tracked, file barrier every ``_BARRIER_EVERY``).

    Both regimes run the identical synchronous integer recurrence, one
    round per pass, to the identical fixpoint (H is tie-order-independent),
    so results are regime- and partitioning-invariant — also when
    ``max_iterations`` stops them early.
    """
    spark = edges.sparkSession
    adj_plan = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    driver, n_rows = fits_driver(edges, ("u", "v"), broadcast_rows)
    if driver:
        entries = adj_plan.select(
            F.col("u").cast("long").alias("v"), F.col("v").cast("long").alias("nbrs")
        )
        with VertexState(entries, ("nbrs",), 2 * n_rows, attrs={"deg": F.size("nbrs")}) as vs:
            h = vs.converge(_h_index_step, {"h": vs.attrs["deg"]}, "h", max_iterations)
            out = pd.DataFrame({"v": vs.ids, "coreness": h})
        return spark.createDataFrame(out, "v long, coreness long")

    adj, adj_ids = tracked_checkpoint(adj_plan)
    h, h_ids = tracked_checkpoint(
        adj.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("h"))
        .select(F.col("u").alias("v"), "h")
    )
    total = h.agg(F.sum("h")).collect()[0][0]
    for it in range(1, max_iterations + 1):
        hn = h.select(F.col("v").alias("__nbr"), F.col("h").alias("__nh"))
        new_plan = (
            adj.join(hn, F.col("v") == F.col("__nbr"))
            .groupBy("u")
            .agg(_h_index_agg("__nh").alias("h"))
            .select(F.col("u").alias("v"), "h")
        )
        before = persistent_rdd_ids(spark)
        if it % _BARRIER_EVERY == 0:
            new_h, new_ids = barrier_checkpoint(new_plan)
        else:
            new_h, new_ids = tracked_checkpoint(new_plan, before=before)
        new_total = new_h.agg(F.sum("h")).collect()[0][0]
        release_ids(spark, h_ids)
        h, h_ids = new_h, new_ids
        if new_total == total:
            break
        total = new_total
    release_ids(spark, adj_ids)
    return h.select("v", F.col("h").alias("coreness"))


def coreness_unrolled_sql(edges_sql: str, rounds: int) -> str:
    """DuckDB oracle for ``coreness``: the identical h-index recurrence
    unrolled a fixed number of rounds (the operator is idempotent at the
    fixpoint, so any rounds ≥ the measured convergence depth matches)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "adj AS MATERIALIZED (SELECT u, v FROM e "
        "UNION ALL SELECT v AS u, u AS v FROM e)",
        "h0 AS MATERIALIZED (SELECT u AS v, CAST(count(*) AS BIGINT) AS h "
        "FROM adj GROUP BY u)",
    ]
    for r in range(rounds):
        parts.append(
            f"h{r+1} AS MATERIALIZED (SELECT u AS v, "
            "CAST(max(least(rnk, nh)) AS BIGINT) AS h FROM ("
            f"SELECT a.u, h.h AS nh, row_number() OVER (PARTITION BY a.u "
            f"ORDER BY h.h DESC, a.v ASC) AS rnk "
            f"FROM adj a JOIN h{r} h ON h.v = a.v) GROUP BY u)"
        )
    return ", ".join(parts) + (
        f" SELECT v, h AS coreness FROM h{rounds} ORDER BY v"
    )

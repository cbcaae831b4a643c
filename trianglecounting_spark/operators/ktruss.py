"""k-truss decomposition by iterative support peeling — north_star algorithm.

The k-truss of G is the maximal subgraph where every edge is in ≥ k-2
triangles (support ≥ k-2). Peeling: compute per-edge support (the per-edge
output of the triangle operators), drop under-supported edges, repeat until a
pass removes nothing. The reference computes only the global count; per-edge
support + peeling are our extension (SURVEY.md §7 step 5).

Rounds are synchronous: a round drops every edge whose support among the
current survivors is below k-2, so a run capped at R rounds returns the same
edges in either regime below (integer-exact, partitioning-invariant). A peel
past the fixpoint removes nothing, so R forced peels (``ktruss_rounds``, the
oracle-matched contract form) are a fixpoint run capped at R.

Two regimes, chosen per call:

* **One task** — the edge table has at most
  ``vertex_state.ENTRIES_PER_PARTITION`` rows (the one-Python-worker bound,
  1 M) and no checkpointer is given. The whole table goes to one
  ``mapInArrow`` task, which orients it by (degree, id), enumerates every
  triangle once through the kernel's intersection core, and peels with one
  ``bincount`` of the surviving triangles per round; the survivors come
  back as one checkpointed block. Spark local[2], 4-vCPU host, k=6: the
  co-part sf0.004 graph (44,404 edges) peels in 0.63 s against 2.22 s for
  the round loop (medians of 9); R-MAT scale 16 ef16 (909,391 edges, 15.7 M
  triangles, 12 rounds) in 22-27 s against 129-133 s, with a task peak of
  ~1.8 GB.
* **Round loop** — over that bound, or with a checkpointer (its snapshots
  are the resume point). The degree orientation is computed once and each
  round is one kernel support pass (``triangle_support_counts_oriented``:
  a collect and rebroadcast of the oriented survivors in the full-CSR
  layout, partial support, a groupBy-sum) plus a checkpoint and a count.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.triangles import triangle_per_edge_support
from trianglecounting_spark.plans import vertex_state
from trianglecounting_spark.plans.cache import IterationScope
from trianglecounting_spark.plans.checkpoint import IterationCheckpointer
from trianglecounting_spark.plans.tuning import maybe_broadcast


def _peel_once(cur: DataFrame, k: int) -> DataFrame:
    sup = triangle_per_edge_support(cur)
    return sup.where(F.col("support") >= k - 2).select("u", "v")


def _peel_once_oriented(
    cur_d: DataFrame, k: int, n_rows: int | None = None
) -> DataFrame:
    """One support peel on an already-oriented edge table — identical edge
    sets to ``_peel_once`` on the canonical form (support is
    orientation-invariant; see ``triangle_support_counts_oriented``), but
    no per-round degree aggregation or orientation joins — and, for the
    k ≥ 3 peel, no join back to the edge table at all: the kernel's
    partial-aggregated support counts omit zero-support edges, which are
    exactly the edges the ``support >= k-2 >= 1`` filter drops."""
    from trianglecounting_spark.operators.triangles import (
        triangle_support_counts_oriented,
    )

    if k <= 2:  # every edge has support >= 0 >= k-2: the peel is a no-op
        return cur_d
    sup = triangle_support_counts_oriented(cur_d, n_rows=n_rows)
    return sup.where(F.col("support") >= k - 2).select("src", "dst")


def _canon_uv(d: DataFrame) -> DataFrame:
    """Oriented survivors → the canonical ``(u, v)`` (u < v) contract."""
    return d.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    )


def _oriented_snapshot(state: DataFrame) -> DataFrame:
    """A restored k-truss snapshot as the oriented ``(src, dst)`` table the
    peel runs on. Snapshots in the canonical ``(u, v)`` form (written before
    the peel ran oriented) are re-oriented by degree: any acyclic
    orientation enumerates each triangle exactly once, so support stays
    exact. Any other schema is rejected before the peel starts."""
    from trianglecounting_spark.operators.normalize import orient_dodg

    cols = set(state.columns)
    if {"src", "dst"} <= cols:
        return state.select("src", "dst")
    if {"u", "v"} <= cols:
        return orient_dodg(state.select("u", "v"))
    raise ValueError(
        f"k-truss snapshot has columns {state.columns}; "
        "expected (src, dst) or (u, v)"
    )


def _peel_in_one_task(k: int, max_iterations: int):
    """``mapInArrow`` body: the whole ``(u, v)`` edge table in one task →
    its k-truss survivors ``(u, v)``, u < v, after the same synchronous
    rounds as the round loop."""

    def run(batches):
        import pyarrow as pa

        from trianglecounting_spark.operators.triangles import (
            _enumerate_reducer,
            _flat_csr,
            _partition_views,
        )

        rbs = [rb for rb in batches if rb.num_rows > 0]
        if not rbs:
            return
        tbl = pa.Table.from_batches(rbs)
        u, v = (tbl.column(c).to_numpy().astype(np.int64, copy=False) for c in "uv")
        # index space: ids ascending, so index order is id order
        ids, inv = np.unique(np.concatenate((u, v)), return_inverse=True)
        iu, iv, n = inv[: len(u)], inv[len(u):], len(ids)
        deg = np.bincount(inv, minlength=n)
        up = (deg[iu] < deg[iv]) | ((deg[iu] == deg[iv]) & (iu < iv))  # rank order
        csr = _flat_csr(np.where(up, iu, iv), np.where(up, iv, iu))
        src, dst = np.repeat(csr[0], np.diff(csr[1])), csr[2]
        rows = pa.RecordBatch.from_pydict({"src": src, "dst": dst})
        t = _enumerate_reducer(_partition_views([rows], csr), csr)
        # each triangle as the positions of its three edges in the sorted rows
        key = src * n + dst
        tri = np.searchsorted(
            key, np.stack((t["a"] * n + t["b"], t["a"] * n + t["c"], t["b"] * n + t["c"]))
        )
        alive = np.ones(len(key), dtype=bool)
        for _ in range(max_iterations):
            drop = alive & (np.bincount(tri.ravel(), minlength=len(key)) < k - 2)
            if not drop.any():
                break
            alive &= ~drop
            tri = tri[:, alive[tri].all(axis=0)]
        a, b = ids[src[alive]], ids[dst[alive]]
        yield pa.RecordBatch.from_pydict({"u": np.minimum(a, b), "v": np.maximum(a, b)})

    return run


def ktruss(
    edges: DataFrame,
    k: int,
    max_iterations: int = 100,
    checkpointer: IterationCheckpointer | None = None,
) -> DataFrame:
    """Edges of the k-truss subgraph: ``(u, v)`` with u < v, peeled until a
    round drops nothing or ``max_iterations`` rounds have run.

    Up to ``vertex_state.ENTRIES_PER_PARTITION`` edges and without a
    ``checkpointer``, the whole peel runs in one task (``_peel_in_one_task``;
    ``ktruss(...).count()`` on the co-part sf0.004 graph at k=6 runs 4 Spark
    jobs against 21 for the round loop). Otherwise the round loop runs on the ORIENTED
    survivor table: the degree-ordered orientation is computed once (the
    total order stays acyclic on every subgraph, so triangle enumeration
    stays exact and exactly-once), and each round is the kernel support pass
    + the filter + a checkpoint, which ``checkpointer`` can snapshot."""
    from trianglecounting_spark.operators.normalize import orient_dodg

    with IterationScope(edges.sparkSession, checkpointer) as it:
        if checkpointer is None and edges.count() <= vertex_state.ENTRIES_PER_PARTITION:
            # coalesce, not repartition: no shuffle job, and the block keeps its
            # single partitioning, so a count of the result needs no exchange
            # (4 Spark jobs for ``ktruss(...).count()`` instead of 6)
            peel = _peel_in_one_task(k, max_iterations)
            return it.result(it.keep(
                edges.select("u", "v").coalesce(1).mapInArrow(peel, "u long, v long")
            ))
        start, cur = it.restore(orient_dodg(edges))
        cur = it.keep(_oriented_snapshot(cur))
        n_cur = cur.count()
        for r in range(start + 1, max_iterations + 1):
            # the keep also sweeps the peel's kernel-internal adjacency/hub
            # materializations
            nxt = it.keep(_peel_once_oriented(cur, k, n_rows=n_cur), r)
            n_nxt = nxt.count()
            it.release(cur)
            cur = nxt
            if n_nxt == n_cur:
                break
            n_cur = n_nxt
        return it.result(_canon_uv(cur))


def ktruss_rounds(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Exactly ``rounds`` peels — the deterministic oracle-matched contract.
    Peels past the fixpoint remove nothing, so this is ``ktruss`` capped at
    ``rounds``."""
    return ktruss(edges, k, max_iterations=rounds)


def ktruss_unrolled_sql(edges_sql: str, k: int, rounds: int) -> str:
    """DuckDB oracle for ``ktruss_rounds``: per round, support via the
    symmetric-adjacency two-join (count of common neighbors w of u and v),
    then the >= k-2 filter."""
    parts = [f"WITH t0 AS MATERIALIZED ({edges_sql})"]
    for r in range(rounds):
        parts.append(
            f"sym{r} AS MATERIALIZED (SELECT u AS src, v AS dst FROM t{r} "
            f"UNION ALL SELECT v AS src, u AS dst FROM t{r})"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT t.u, t.v, count(*) AS sup FROM t{r} t "
            f"JOIN sym{r} a ON a.src = t.u JOIN sym{r} b ON b.src = t.v AND b.dst = a.dst "
            f"GROUP BY t.u, t.v)"
        )
        parts.append(
            f"t{r+1} AS MATERIALIZED (SELECT t.u, t.v FROM t{r} t JOIN s{r} s "
            f"ON s.u = t.u AND s.v = t.v WHERE s.sup >= {k - 2})"
        )
    return ", ".join(parts) + f" SELECT u, v FROM t{rounds} ORDER BY u, v"


def ktruss_incremental(
    edges: DataFrame,
    k: int,
    max_iterations: int = 100,
    broadcast_rows: int = 5_000_000,
    delta_frac: float = 0.05,
) -> DataFrame:
    """Fixpoint k-truss with ADAPTIVE delta support maintenance — same output
    as ``ktruss`` (differential-tested on hand graphs, the sf0.001 sample,
    and the full sf0.1 graph), different per-round cost model.

    ``ktruss`` re-enumerates every surviving triangle each round; after round
    one, only edges that co-triangled with a removed edge can change, so the
    delta rounds here enumerate exactly the triangles LOST to the removed
    batch R (each once) and decrement the surviving edges — per-round SHUFFLE
    volume is O(|removal neighborhood|), not O(|survivors| · avg-deg).

    Adaptivity (measured, round 5): pure delta-from-round-1 LOSES to the bulk
    recount on this engine — sf0.1 (1.196 M edges, local[32]): 59 s vs 41 s
    at k=6 and 78 s vs 22 s at k=8 — because the bulk recount rides the
    vectorized Arrow intersection kernel while delta rounds are Catalyst row
    joins, and early peel rounds remove a large FRACTION of the graph, making
    "triangles lost" ≈ "all triangles" at row-join prices. So this operator
    peels with the bulk kernel while batches are big and switches to delta
    maintenance once a round's removals drop below ``delta_frac`` of the
    survivors — the long-tail regime (many rounds, small batches) where the
    delta form's shuffle volume actually tracks the removal neighborhood.
    ``delta_frac=float("inf")`` forces pure delta (kept for tests/A-B).

    Delta-round shape (what a shuffle engine can and cannot save):
    * state is the ORIENTED survivor table ``(src, dst, support)`` under the
      input graph's degree-ordered DODG (round 6: orientation is computed
      ONCE up front and the bulk peel already runs oriented, so the switch
      just repartitions the last bulk support table — no re-keying join); a
      fixed total vertex order gives each triangle of every subgraph exactly
      one (a→b, b→c, a→c) representation. Support itself is an
      undirected-edge property, identical under any orientation.
    * R expands to candidate wedges via BROADCAST joins (R is hinted below
      ``broadcast_rows``), so the big side is scanned, never shuffled;
    * the closing-edge membership checks and the final decrement join all
      key on ``(src, dst)`` — only the wedge/decrement
      (removal-neighborhood-sized) side is ever the moving side;
    * triangles losing 2-3 edges in one batch are deduplicated by the
      ``distinct`` on the lost-triangle triples.

    Every round's state is kept (eager localCheckpoint), so no action
    replays lineage.
    """
    from trianglecounting_spark.operators.normalize import orient_dodg
    from trianglecounting_spark.operators.triangles import (
        triangle_support_counts_oriented,
    )
    from trianglecounting_spark.plans.tuning import iteration_partitions

    spark = edges.sparkSession
    n_part = iteration_partitions(spark, edges.count())

    # ---- bulk phase: kernel recounts while removal batches are large ----
    # oriented ONCE up front (round-6: the same orient-once peel as
    # ``ktruss``); the support pass then needs no per-round degree/orientation
    # joins, and the delta switch needs no re-keying join — the support table
    # is already keyed on the oriented rows the delta phase uses. The counts
    # omit zero-support rows (they can never re-gain support, sit in no
    # triangle, and fail the k ≥ 3 filter — dropping them here is the same
    # removal the filter performs); ``n_cur`` tracks the survivor count so
    # the fixpoint/switch tests see the identical removal sizes.
    if k <= 2:
        return edges.select("u", "v")
    with IterationScope(spark) as it:
        cur = it.keep(orient_dodg(edges))
        n_cur = cur.count()
        state = None
        rounds_used = 0
        while rounds_used < max_iterations:
            rounds_used += 1
            sup = it.keep(triangle_support_counts_oriented(cur, n_rows=n_cur))
            n_surv = sup.where(F.col("support") >= k - 2).count()
            n_removed = n_cur - n_surv
            if n_removed == 0:
                return it.result(_canon_uv(cur))
            if n_removed <= delta_frac * max(n_surv, 1):
                state = it.keep(sup.repartition(n_part, "src", "dst"))
                it.release(cur, sup)
                break
            nxt = it.keep(sup.where(F.col("support") >= k - 2).select("src", "dst"))
            it.release(cur, sup)
            cur = nxt
            n_cur = n_surv
        if state is None:  # hit max_iterations while still in bulk mode
            return it.result(_canon_uv(cur))

        # ---- delta phase: decrement-only rounds ----
        for r in range(rounds_used + 1, max_iterations + 1):
            removed = state.where(F.col("support") < k - 2).select("src", "dst")
            n_removed = removed.count()
            if n_removed == 0:
                break
            survivors = state.where(F.col("support") >= k - 2)
            cur_o = state.select("src", "dst")
            rm = maybe_broadcast(removed, n_removed, broadcast_rows)

            e1 = cur_o.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            e2 = cur_o.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
            e3 = cur_o.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))
            r1 = rm.select(F.col("src").alias("a"), F.col("dst").alias("b"))
            r2 = rm.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
            r3 = rm.select(F.col("src").alias("a3"), F.col("dst").alias("c3"))

            def _close(wedges):
                # closing-edge membership: keys (a,c) == state's (src, dst)
                # partitioning, so only the wedge side moves
                return wedges.join(
                    e3,
                    (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")),
                    "left_semi",
                ).select("a", "b", "c")

            lost = (
                _close(r1.join(e2, F.col("b") == F.col("b2")))
                .unionAll(_close(r2.join(e1, F.col("b") == F.col("b2"))))
                .unionAll(
                    # R as the closing edge (a,c): attach the wedge through b
                    r3.join(e1, F.col("a") == F.col("a3"))
                    .join(
                        e2,
                        (F.col("b") == F.col("b2")) & (F.col("c3") == F.col("c")),
                        "left_semi",
                    )
                    .select("a", "b", F.col("c3").alias("c"))
                )
                .distinct()
            )
            # all three edges of an (a<b<c)-ordered triangle are themselves
            # rank-ascending, i.e. exactly the oriented rows of the state
            dec = (
                lost.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                .unionAll(lost.select(F.col("b").alias("src"), F.col("c").alias("dst")))
                .unionAll(lost.select(F.col("a").alias("src"), F.col("c").alias("dst")))
                .groupBy("src", "dst")
                .agg(F.count(F.lit(1)).alias("__lost"))
            )
            new_state = it.keep(
                survivors.join(dec, ["src", "dst"], "left")
                .select(
                    "src",
                    "dst",
                    (F.col("support") - F.coalesce("__lost", F.lit(0)))
                    .cast("long")
                    .alias("support"),
                )
                .repartition(n_part, "src", "dst"),
                r, barrier=True,  # deep-cascade guard
            )
            it.release(state)
            state = new_state
        return it.result(state.where(F.col("support") >= k - 2).select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        ))


# ---------------------------------------------------------------------------
# Full truss decomposition (per-edge truss number) in one fixpoint
# ---------------------------------------------------------------------------

def trussness(edges: DataFrame, max_iterations: int = 200) -> DataFrame:
    """Per-edge truss number ``(u, v, trussness)`` via the edge h-index
    fixpoint — the triangle analogue of ``kcore.coreness`` (the local
    nucleus-decomposition recurrence of Sariyuce/Seshadhri/Pinar, VLDB'18):

        t_0(e)   = support(e)
        t_k+1(e) = H({ min(t_k(e1), t_k(e2)) : triangles (e, e1, e2) })

    t is elementwise monotone non-increasing and converges to trussness-2;
    edges in no triangle have trussness 2. One fixpoint replaces one
    ``ktruss`` peel per k (differential-tested: {e : trussness(e) >= k} ==
    ktruss(k) for every k).

    Plan shape (round-6 rewrite, same integers): the triangle-edge
    incidence table (3 rows per triangle, each edge paired with its two
    partner edges) is built ONCE from the Arrow enumeration kernel and
    checkpointed; each round joins the incidence against the per-edge
    state — BROADCAST when the state is ≤ ``tuning.BROADCAST_ROWS`` (size-aware;
    shuffle joins at web scale) — and computes the per-edge H with
    ``kcore._h_index_agg`` (one hash aggregate with an in-group array
    sort) instead of a partition-wide ``row_number`` window: no full sort
    of the 3·#triangles incidence rows per round, and in the broadcast
    regime the joins add no exchange. All integer,
    partitioning-invariant (h-index is order-independent under ties).
    Convergence on sum(t), which strictly decreases on every non-fixpoint
    round. State checkpointed per round, barrier every
    ``cache.BARRIER_EVERY`` rounds.

    Scale: per-round cost is O(3·#triangles) join rows — the same volume
    the per-edge support pass already touches; rounds observed ≤ ~15 on
    web-like graphs. The incidence table never grows; only the (much
    smaller) per-edge state moves.
    """
    from trianglecounting_spark.operators.kcore import _h_index_agg
    from trianglecounting_spark.operators.triangles import triangle_enumerate_kernel

    with IterationScope(edges.sparkSession) as it:
        tri = triangle_enumerate_kernel(edges)

        def pair(x, y):
            return F.least(x, y), F.greatest(x, y)

        # 3 incidence rows per triangle: (edge, other-edge-1, other-edge-2)
        def inc_row(e, o1, o2):
            (eu, ev), (a1, b1), (a2, b2) = pair(*e), pair(*o1), pair(*o2)
            return tri.select(
                eu.alias("u"), ev.alias("v"),
                a1.alias("o1u"), b1.alias("o1v"),
                a2.alias("o2u"), b2.alias("o2v"),
            )

        ab, ac, bc = (F.col("a"), F.col("b")), (F.col("a"), F.col("c")), (F.col("b"), F.col("c"))
        inc = it.keep(
            inc_row(ab, ac, bc).unionAll(inc_row(ac, ab, bc)).unionAll(inc_row(bc, ab, ac))
        )
        t = it.keep(inc.groupBy("u", "v").agg(F.count(F.lit(1)).cast("long").alias("t")))
        n_t = t.count()
        total = t.agg(F.sum("t")).collect()[0][0]
        for r in range(1, max_iterations + 1):
            t1 = maybe_broadcast(t.select(F.col("u").alias("o1u"), F.col("v").alias("o1v"),
                                          F.col("t").alias("t1")), n_t)
            t2 = maybe_broadcast(t.select(F.col("u").alias("o2u"), F.col("v").alias("o2v"),
                                          F.col("t").alias("t2")), n_t)
            new_t = it.keep(
                inc.join(t1, ["o1u", "o1v"]).join(t2, ["o2u", "o2v"])
                .withColumn("mv", F.least(F.col("t1"), F.col("t2")))
                .groupBy("u", "v")
                .agg(_h_index_agg("mv").alias("t")),
                r, barrier=True,
            )
            new_total = new_t.agg(F.sum("t")).collect()[0][0]
            it.release(t)
            t = new_t
            if new_total == total:
                break
            total = new_total
        return it.result(it.keep(
            edges.select("u", "v")
            .join(t, ["u", "v"], "left")
            .select("u", "v",
                    (F.coalesce(F.col("t"), F.lit(0)) + F.lit(2))
                    .cast("long").alias("trussness"))
        ))


def trussness_unrolled_sql(edges_sql: str, rounds: int) -> str:
    """DuckDB oracle for ``trussness``: the identical edge-h-index
    recurrence unrolled (idempotent at the fixpoint, so any rounds >= the
    measured convergence depth matches)."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x)",
        "d AS MATERIALIZED (SELECT CASE WHEN (du.deg < dv.deg) OR "
        "(du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v END AS src, "
        "CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v) "
        "THEN e.v ELSE e.u END AS dst "
        "FROM e JOIN deg du ON du.v = e.u JOIN deg dv ON dv.v = e.v)",
        "tri AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c "
        "FROM d e1 JOIN d e2 ON e2.src = e1.dst "
        "JOIN d e3 ON e3.src = e1.src AND e3.dst = e2.dst)",
        "inc AS MATERIALIZED ("
        "SELECT least(a,b) AS u, greatest(a,b) AS v, least(a,c) AS o1u, "
        "greatest(a,c) AS o1v, least(b,c) AS o2u, greatest(b,c) AS o2v FROM tri "
        "UNION ALL SELECT least(a,c), greatest(a,c), least(a,b), greatest(a,b), "
        "least(b,c), greatest(b,c) FROM tri "
        "UNION ALL SELECT least(b,c), greatest(b,c), least(a,b), greatest(a,b), "
        "least(a,c), greatest(a,c) FROM tri)",
        "t0 AS MATERIALIZED (SELECT u, v, CAST(count(*) AS BIGINT) AS t "
        "FROM inc GROUP BY u, v)",
    ]
    for r in range(rounds):
        parts.append(
            f"t{r+1} AS MATERIALIZED (SELECT u, v, "
            "CAST(max(least(rnk, mv)) AS BIGINT) AS t FROM ("
            f"SELECT i.u, i.v, least(x.t, y.t) AS mv, "
            f"row_number() OVER (PARTITION BY i.u, i.v "
            f"ORDER BY least(x.t, y.t) DESC, i.o1u, i.o1v, i.o2u, i.o2v) AS rnk "
            f"FROM inc i JOIN t{r} x ON x.u = i.o1u AND x.v = i.o1v "
            f"JOIN t{r} y ON y.u = i.o2u AND y.v = i.o2v) GROUP BY u, v)"
        )
    return ", ".join(parts) + (
        f" SELECT e.u, e.v, CAST(coalesce(t.t, 0) + 2 AS BIGINT) AS trussness "
        f"FROM e LEFT JOIN t{rounds} t ON t.u = e.u AND t.v = e.v "
        f"ORDER BY e.u, e.v"
    )

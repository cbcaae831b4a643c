"""Strongly connected components of the DIRECTED link graph.

The web graph's classic macro-structure analysis (Broder et al., "Graph
structure in the Web", WWW'00): the bowtie — one giant SCC, IN/OUT DAG
periphery, tendrils. The reference engine is undirected-only (SURVEY §2);
the north_star's directed page graph makes SCC the natural companion to
``connected_components`` (which answers the undirected question).

Algorithm: Trim + multi-pivot forward-coloring + backward containment
(Orzan's coloring algorithm with the FW-BW-Trim prepass, the standard
distributed SCC scheme):

  repeat until no active vertices:
    0. TRIM: peel vertices with no incoming or no outgoing active edge
       (each is a singleton SCC) layer by layer, before paying for a
       coloring round per nesting level.
    1. COLOR (forward min-label flood): color(v) = min id that reaches v
       over active edges — a monotone fixpoint of per-dst min aggregates.
    2. Every color class has exactly one ROOT r (color(r) = r, the class
       minimum). SCC(r) = { v in class r : v reaches r } — computed by a
       BACKWARD reachability flood from the roots restricted to
       same-color edges (crossing a color boundary cannot return: colors
       only decrease along forward edges).
    3. Extract every root's SCC simultaneously (label = root id = the SCC
       minimum — the same canonical labeling as connected_components),
       remove those vertices, repeat on the remainder.

Two regimes, chosen from |V| against ``tuning.BROADCAST_ROWS``:

  * |V| ≤ budget — driver-held state (``plans/vertex_state``): the grouped
    adjacency ``(v, ins, outs)`` is cached once, range-partitioned by id
    and mapped once into index space; the active, color and reach arrays
    live on the driver; every trim / color / containment pass is ONE
    ``mapInArrow`` over the cached partitions that iterates the monotone
    update to a partition-local fixpoint, plus a collect of the changed
    rows. Both floods also compose labels on the driver
    (color(v) ← color(color(v)): whatever reaches v's color reaches v).
    A phase may take ``2·max_inner`` passes (a pass moves a flood at least
    one hop; a broadcast shuffle round moves it two). Bound: the broadcast
    state and the per-pass collect are O(|V|). Cost model (4-vCPU host,
    Spark local[2]): a pass 0.3-0.7 s, against a checkpointed DataFrame
    round's checkpoint job + changed-count probe + plan construction. On
    the benchmark's reciprocated co-part sample (seed 5, ~800 vertices,
    one grouped partition) a call is one trim, one color and one
    containment pass: 11 Spark jobs where the shuffle rounds ran 160
    (both counts include the caller's count-distinct); on a directed
    R-MAT scale-17 graph (1.05 M edges, three grouped partitions) 10
    passes and ~9 s where the shuffle rounds took 140 jobs and 17-19 s.
  * otherwise — the shuffle path: every step is a vertex-keyed join +
    aggregate over the active edge subgraph, each round's |V|-row state
    checkpointed (tracked_checkpoint; a file barrier every
    ``_BARRIER_EVERY`` rounds) and probed for changes; floods are
    O(diameter) rounds.

Both regimes compute the same fixpoints (trim and min-label floods are
monotone, so chaotic iteration reaches the synchronous answer), and a run
that exhausts ``max_rounds`` / ``max_inner`` raises and releases every
block it cached.

Determinism: output ``(v, label)`` with label = min vertex id of v's SCC —
partitioning-invariant, integer-exact, so the DuckDB oracle can be the
DEFINITIONAL query (recursive-CTE transitive closure + mutual-reachability
min) rather than a mirror of the algorithm.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.plans.cache import (
    barrier_checkpoint,
    release_ids,
    released_on_error,
    tracked_checkpoint,
)
from trianglecounting_spark.plans.tuning import (
    BROADCAST_ROWS,
    iteration_partitions,
    scoped_shuffle_partitions,
)
from trianglecounting_spark.plans.vertex_state import VertexState, fits_driver


# Reliable-checkpoint cadence for long flood chains — a defensive TRUE
# lineage barrier (plans/cache.barrier_checkpoint) so a deep flood can never
# accumulate unbounded chained-localCheckpoint state.
_BARRIER_EVERY = 12


def _minlabel_flood(
    spark,
    edges: DataFrame,
    color: DataFrame,
    color_ids: set[int],
    src: str,
    dst: str,
    max_inner: int,
    what: str,
    small: bool = False,
) -> tuple[DataFrame, set[int]]:
    """Monotone min-label flood to fixpoint: each round
    label(v) ← min(label(v), labels of in-neighbors along ``src``→``dst``).

    Convergence is O(diameter of the flooded subgraph) rounds — the standard
    bound for every distributed SCC/reachability engine; web-graph SCCs have
    single-digit diameters. ``max_inner`` guards pathological deep cycles.

    POINTER-JUMPING WAS MEASURED AND REJECTED (round 4): adding the label
    composition label(label(v)) — a self-join of the state on its label
    column — triggers a driver-side geometric slowdown past ~12 chained
    rounds in this Spark build (flat ~0.35 s/round without it for 40+
    rounds; with it 2.8 → 11.6 → 57 → 351 s at rounds 12-15 on a 40-vertex
    ring, constant stage/task counts, so the cost is in the driver, not the
    data path). It also cannot help the adversarial direction: when the
    minimum must travel against the id ordering, untouched labels are still
    self, so there is nothing to compose — the flood is one-frontier and
    O(diameter) regardless. (The driver-held regime composes labels as a
    numpy gather instead, where it costs nothing.)

    ``color`` must be a materialized ``(v, label)`` table whose blocks
    (``color_ids``) the flood takes over; every new state is checkpointed
    before the changed-count action, so no action replays a prior round,
    and every ``_BARRIER_EVERY`` rounds the state gets a reliable (file)
    checkpoint as a true lineage barrier.

    The changed-count rides the checkpointed state as a flag column
    (``in_min < label`` IS "this row changed" — labels only decrease); when
    ``small`` the |V|-row state is broadcast into the edge join, so a flood
    round is one narrow pass over the (pre-partitioned) edge table.
    """
    small = bool(small)

    def _step(cur: DataFrame) -> DataFrame:
        # cur: (v, label, __l0) — __l0 is the label at round start, carried
        # through so the changed flag needs no join of new-vs-old states
        col_in = cur.select(F.col("v").alias(src), "label")
        incoming = (
            edges.join(F.broadcast(col_in) if small else col_in, src)
            .groupBy(F.col(dst).alias("v"))
            .agg(F.min("label").alias("in_min"))
        )
        incoming = F.broadcast(incoming) if small else incoming
        return cur.join(incoming, "v", "left").select(
            "v",
            F.least("label", F.coalesce("in_min", F.col("label"))).alias("label"),
            "__l0",
        )

    # Two recurrence steps per checkpoint when the state is broadcastable
    # (the second step references the first step's plan twice, which is
    # cheap when the inner aggregate rides a broadcast but would re-run a
    # shuffle at web scale): the per-round materialization + probe overhead
    # is paid half as often, and applying the monotone update more times per
    # materialization reaches the identical fixpoint.
    steps = 2 if small else 1
    for _round in range(max_inner):
        new_plan = color.select("v", "label", F.col("label").alias("__l0"))
        for _s in range(steps):
            new_plan = _step(new_plan)
        new_plan = new_plan.select(
            "v", "label", (F.col("label") < F.col("__l0")).cast("int").alias("__ch")
        )
        if (_round + 1) % _BARRIER_EVERY == 0:
            new_color, new_ids = barrier_checkpoint(new_plan)
        else:
            new_color, new_ids = tracked_checkpoint(new_plan)
        changed = new_color.agg(F.sum("__ch")).collect()[0][0] or 0
        release_ids(spark, color_ids)
        color, color_ids = new_color.select("v", "label"), new_ids
        if changed == 0:
            return color, color_ids
    release_ids(spark, color_ids)
    raise RuntimeError(
        f"{what} did not converge in {max_inner} flood rounds — "
        "raise max_inner for this graph"
    )


def scc(
    directed_edges: DataFrame,
    max_rounds: int = 20,
    max_inner: int = 100,
    broadcast_rows: int = BROADCAST_ROWS,
) -> DataFrame:
    """Exact SCC labels over directed ``(src, dst)`` edges.

    Output: ``(v: long, label: long)`` for every vertex appearing as source
    or target; ``label`` is the minimum vertex id in v's SCC (singletons
    label themselves). Raises if the outer loop has not emptied the graph
    after ``max_rounds`` (each round removes ≥ 1 SCC per current color
    class, so only an adversarial chain of Ω(max_rounds) nested SCC levels
    trips this — raise the cap for such graphs), or if a trim / flood phase
    has not converged in ``max_inner`` rounds (shuffle regime) or
    ``2·max_inner`` passes (driver-held regime: a pass moves a flood at
    least one hop, a broadcast shuffle round two). Either way every block
    the call cached is released before the error propagates.
    """
    spark = directed_edges.sparkSession
    with released_on_error(spark):
        driver, n_rows = fits_driver(directed_edges, ("src", "dst"), broadcast_rows)
        if driver:
            return _scc_driver(directed_edges, n_rows, max_rounds, max_inner)
        return _scc_shuffle(directed_edges, max_rounds, max_inner, broadcast_rows)


def _trim_step(part, st):
    """Trim pass: an active vertex with no active in- or out-neighbor is a
    singleton SCC — peeled to the partition-local fixpoint."""
    all_act = st["active"]
    act0 = all_act[part.own]
    act = act0
    while True:
        new = (
            act
            & part.seg_any("ins", part.gather("ins", act, all_act))
            & part.seg_any("outs", part.gather("outs", act, all_act))
        )
        if np.array_equal(new, act):
            break
        act = new
    return part.changes(act != act0, act, part.remote("ins") | part.remote("outs"))


def _color_step(part, st):
    """Forward coloring pass: color(v) = min color over active in-edges."""
    act, color = st["active"], st["color"]
    ok = act[part.nbr("ins")] & act[part.own][part.row("ins")]
    c0 = color[part.own]
    c = part.min_flood("ins", c0, color, ok)
    return part.changes(c != c0, c, part.remote("outs"))


def _contain_step(part, st):
    """Backward containment pass: reach(v) = min reach over v's active
    out-edges that stay inside v's color class."""
    act, color, reach = st["active"], st["color"], st["reach"]
    nbr, row = part.nbr("outs"), part.row("outs")
    own_act, own_color = act[part.own], color[part.own]
    ok = act[nbr] & own_act[row] & (color[nbr] == own_color[row])
    r0 = reach[part.own]
    r = part.min_flood("outs", r0, reach, ok)
    return part.changes(r != r0, r, part.remote("ins"))


def _scc_driver(
    directed_edges: DataFrame, n_rows: int, max_rounds: int, max_inner: int
) -> DataFrame:
    """The driver-held regime: vertex ids become indices 0..n-1 in id
    order, so index minima ARE id minima and labels compose as gathers."""
    spark = directed_edges.sparkSession
    d = directed_edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    # one row per endpoint occurrence; self-loops add the vertex with no
    # neighbor (a self-loop-only vertex is a singleton SCC the first trim
    # pass extracts), duplicate edges only repeat list entries
    loop = F.col("src") == F.col("dst")
    none = F.lit(None).cast("long")
    entries = d.select(
        F.col("src").alias("v"), none.alias("ins"), F.when(~loop, F.col("dst")).alias("outs")
    ).unionAll(
        d.select(F.col("dst").alias("v"), F.when(~loop, F.col("src")).alias("ins"), none.alias("outs"))
    )
    # a flood round of the shuffle regime moves two hops while the state is
    # broadcastable; a pass moves at least one, so 2·max_inner passes reach
    # at least as far as max_inner rounds
    max_passes = 2 * max_inner
    with VertexState(entries, ("ins", "outs"), 2 * n_rows) as vs:
        idx = np.arange(vs.n, dtype=np.int64)
        active = np.ones(vs.n, dtype=bool)
        label = idx.copy()  # trimmed vertices keep their own label
        for _ in range(max_rounds):
            if not active.any():
                break
            active = vs.converge(
                _trim_step, {"active": active}, "active", max_passes, what="scc trim"
            )
            if not active.any():
                break
            color = vs.converge(
                _color_step, {"active": active, "color": idx}, "color", max_passes,
                what="scc forward coloring", compose=True,
            )
            reach = vs.converge(
                _contain_step, {"active": active, "color": color, "reach": idx},
                "reach", max_passes, what="scc backward containment", compose=True,
            )
            marked = active & (reach == color)
            label[marked] = color[marked]
            active = active & ~marked
        if active.any():
            raise RuntimeError(
                f"scc: {int(active.sum())} vertices still unassigned after "
                f"{max_rounds} outer rounds — the SCC condensation has a deeper "
                "removal chain than the cap; raise max_rounds"
            )
        out = pd.DataFrame({"v": vs.ids, "label": vs.ids[label]})
    return spark.createDataFrame(out, "v long, label long")


def _scc_shuffle(
    directed_edges: DataFrame, max_rounds: int, max_inner: int, broadcast_rows: int
) -> DataFrame:
    """The shuffle regime (|V| past the budget): DataFrame rounds with
    per-round tracked checkpoints. Raising exits release through the
    caller's ``released_on_error``."""
    spark = directed_edges.sparkSession
    e_all, e_ids = tracked_checkpoint(
        directed_edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    # vertex universe from the RAW input (before the self-loop filter): a
    # vertex whose only edge is a self-loop is still its own singleton SCC
    # and must appear in the output — the trim prepass extracts it (no
    # non-loop edge touches it), matching the definitional oracle
    verts, verts_ids = tracked_checkpoint(
        directed_edges.select(F.col("src").alias("v"))
        .unionAll(directed_edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    n_part = iteration_partitions(spark, e_all.count())
    # assigned SCCs accumulate as a list of already-materialized frames
    # (trivial/marked checkpoints) and union ONCE at return
    assigned_parts: list[DataFrame] = []
    assigned_ids: set[int] = set()
    active, active_ids = verts, set()  # verts' blocks released at return
    n_active = active.count()

    def _bc(df):
        # size-aware: once the active set shrinks under the budget, the
        # |active|-row vertex/label tables are broadcast into the edge-side
        # joins (narrow trim/flood passes)
        return F.broadcast(df) if n_active <= broadcast_rows else df

    def _finish() -> DataFrame:
        release_ids(spark, active_ids | e_ids | verts_ids)
        if not assigned_parts:
            return spark.createDataFrame([], "v long, label long")
        out = assigned_parts[0]
        for p in assigned_parts[1:]:
            out = out.unionAll(p)
        out, _ = tracked_checkpoint(out)
        release_ids(spark, assigned_ids)
        return out

    with scoped_shuffle_partitions(spark, n_part):
        for _round in range(1, max_rounds + 1):
            # TRIM (the FW-BW-Trim prepass): a vertex with no incoming or no
            # outgoing active edge is its own SCC — peel such layers
            # iteratively before paying for a coloring round.
            for _ in range(max_inner):
                ea_t = (
                    e_all.join(
                        _bc(active.withColumnRenamed("v", "src")), "src", "left_semi"
                    )
                    .join(_bc(active.withColumnRenamed("v", "dst")), "dst", "left_semi")
                )
                trivial, triv_ids = tracked_checkpoint(
                    active.join(
                        _bc(ea_t.select(F.col("dst").alias("v")).distinct()),
                        "v",
                        "left_anti",
                    ).unionAll(
                        active.join(
                            _bc(ea_t.select(F.col("src").alias("v")).distinct()),
                            "v",
                            "left_anti",
                        )
                    ).dropDuplicates(["v"])
                )
                n_triv = trivial.count()
                if n_triv == 0:
                    release_ids(spark, triv_ids)
                    break
                assigned_parts.append(
                    trivial.select("v", F.col("v").alias("label"))
                )
                assigned_ids |= triv_ids
                remaining, rem_ids = tracked_checkpoint(
                    active.join(_bc(trivial), "v", "left_anti")
                )
                release_ids(spark, active_ids)
                active, active_ids = remaining, rem_ids
                n_active -= n_triv
            if n_active == 0:
                return _finish()

            # restrict edges to the still-active vertex set (both endpoints)
            ea, ea_ids = tracked_checkpoint(
                e_all.join(_bc(active.withColumnRenamed("v", "src")), "src", "left_semi")
                .join(_bc(active.withColumnRenamed("v", "dst")), "dst", "left_semi")
                .select("src", "dst")
                .repartition(n_part, "src")
            )

            # 1. forward min-label flood: color(v) = min(v, colors of
            #    in-neighbors), iterated to fixpoint — O(diameter of the
            #    flooded subgraph) rounds (see _minlabel_flood).
            color, color_ids = tracked_checkpoint(
                active.select("v", F.col("v").alias("label"))
            )
            color, color_ids = _minlabel_flood(
                spark, ea, color, color_ids, "src", "dst", max_inner,
                what="scc forward coloring", small=n_active <= broadcast_rows,
            )

            # 2. backward containment over same-color edges (crossing a
            #    color boundary cannot lead back to the root): bcolor(v) =
            #    min id v REACHES within its color class, computed as the
            #    same diameter-bound min-label flood over the REVERSED
            #    same-color edges. Class ids are all ≥ the root, so
            #    v ∈ SCC(root) ⟺ bcolor(v) == its forward color.
            ec, ec_ids = tracked_checkpoint(
                ea.join(
                    _bc(color.select(F.col("v").alias("src"), F.col("label").alias("cl_s"))),
                    "src",
                )
                .join(
                    _bc(color.select(F.col("v").alias("dst"), F.col("label").alias("cl_d"))),
                    "dst",
                )
                .where(F.col("cl_s") == F.col("cl_d"))
                # reversed: flood labels from dst back to src
                .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            bcolor, bcolor_ids = tracked_checkpoint(
                active.select("v", F.col("v").alias("label"))
            )
            bcolor, bcolor_ids = _minlabel_flood(
                spark, ec, bcolor, bcolor_ids, "src", "dst", max_inner,
                what="scc backward containment", small=n_active <= broadcast_rows,
            )
            marked, marked_ids = tracked_checkpoint(
                color.join(
                    bcolor.withColumnRenamed("label", "blabel"), "v"
                ).where(F.col("label") == F.col("blabel")).select("v", "label")
            )
            release_ids(spark, bcolor_ids)

            # 3. extract: marked vertices ARE complete SCCs labeled by their
            #    root; the marked checkpoint joins the deferred assigned
            #    union at return, so only the next round's active input
            #    needs a fresh materialization here
            assigned_parts.append(marked.select("v", "label"))
            assigned_ids |= marked_ids
            remaining, rem_ids = tracked_checkpoint(
                active.join(_bc(marked.select("v")), "v", "left_anti")
            )
            n_active = remaining.count()
            release_ids(spark, active_ids | ea_ids | color_ids | ec_ids)
            active, active_ids = remaining, rem_ids
            if n_active == 0:
                return _finish()
        raise RuntimeError(
            f"scc: {active.count()} vertices still unassigned after "
            f"{max_rounds} outer rounds — the SCC condensation has a deeper "
            "removal chain than the cap; raise max_rounds"
        )


def scc_reach_sql(edge_ctes: str) -> str:
    """DuckDB oracle for ``scc`` — the DEFINITION, not the algorithm:
    recursive-CTE transitive closure, then label(v) = min over vertices
    mutually reachable with v (v itself included).

    ``edge_ctes``: comma-separated CTE definitions (no leading WITH) whose
    final CTE is named ``de`` and yields directed ``(src, dst)`` rows —
    they're spliced flat into the WITH RECURSIVE clause because DuckDB does
    not resolve a *nested* WITH inside a recursive-with member."""
    return (
        f"WITH RECURSIVE {edge_ctes}, "
        "verts AS MATERIALIZED (SELECT DISTINCT x AS v FROM "
        "(SELECT src AS x FROM de UNION ALL SELECT dst FROM de)), "
        "r(a, b) AS (SELECT DISTINCT src, dst FROM de WHERE src <> dst "
        "UNION SELECT r.a, de.dst FROM r JOIN de ON de.src = r.b "
        "WHERE de.dst <> r.a), "
        "mutual AS MATERIALIZED (SELECT r1.a AS v, min(r1.b) AS m "
        "FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a GROUP BY r1.a) "
        "SELECT vv.v, CAST(least(vv.v, coalesce(mu.m, vv.v)) AS BIGINT) AS label "
        "FROM verts vv LEFT JOIN mutual mu ON mu.v = vv.v ORDER BY vv.v"
    )


def bowtie_classes(
    directed_edges: DataFrame,
    max_rounds: int = 20,
    max_inner: int = 100,
    labels: DataFrame | None = None,
) -> DataFrame:
    """FULL Broder bowtie decomposition (Broder et al., WWW'00) relative to
    the LARGEST SCC — the complete six-class web macro-structure taxonomy:

      * ``core``         — member of the giant SCC (largest by size, ties
        broken toward the smaller canonical label);
      * ``in``           — reaches the core but is not in it (the crawl
        frontier that feeds the web's center);
      * ``out``          — reachable from the core but not in it;
      * ``tube``         — reachable from IN and reaches OUT while touching
        neither the core's forward nor backward cone (an IN→OUT bypass);
      * ``tendril``      — hangs off IN (reachable from it) or feeds OUT
        (reaches it), but not both and never the core;
      * ``disconnected`` — none of the above.

    ``in``/``out`` are disjoint outside the core (mutual reachability with
    the core IS core membership); tube/tendril vertices are by definition
    outside both core cones, so any IN→tube path avoids the core and the
    precedence order below is exact, not approximate.

    Plan shape: one ``scc`` run, then FOUR monotone sentinel floods
    (forward/backward from the core, forward from the IN set, backward from
    the OUT set), each a per-round join + aggregate over the edge table
    with checkpoint-per-round — the same |V|-row-state iteration envelope
    as BFS. Output ``(v, cls)``.
    """
    spark = directed_edges.sparkSession
    # ``labels``: optionally reuse a precomputed ``scc`` result (e.g. the
    # driver contract computes SCC labels once and feeds both queries) —
    # must be the (v, label) output of ``scc`` on the SAME edge table
    if labels is None:
        labels, lab_ids = tracked_checkpoint(
            scc(directed_edges, max_rounds, max_inner)
        )
    else:
        labels, lab_ids = tracked_checkpoint(labels)
    e, e_ids = tracked_checkpoint(
        directed_edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    top = (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("label").asc())
        .limit(1)
        .collect()
    )
    if not top:  # vertex-less input: no SCCs, no classes
        release_ids(spark, lab_ids | e_ids)
        return spark.createDataFrame([], "v long, cls string")
    giant = int(top[0]["label"])
    core, core_ids = tracked_checkpoint(
        labels.where(F.col("label") == giant).select("v")
    )
    n_part = iteration_partitions(spark, e.count())

    # seeded reachability via the min-label sentinel flood: seed members get
    # their own id, everyone else a +∞ sentinel; after the flood,
    # label < sentinel ⟺ some seed reaches v (along the flood direction)
    _FAR = F.lit(1 << 62)

    def _reach_flood(
        seeds: DataFrame, edge_from: str, edge_to: str, what: str
    ) -> tuple[DataFrame, set[int]]:
        init, init_ids = tracked_checkpoint(
            labels.select("v").join(
                seeds.select(F.col("v").alias("sv")), F.col("v") == F.col("sv"), "left"
            ).select(
                "v",
                F.when(F.col("sv").isNotNull(), F.col("v")).otherwise(_FAR).alias("label"),
            )
        )
        flooded, f_ids = _minlabel_flood(
            spark, e, init, init_ids, edge_from, edge_to, max_inner, what=what
        )
        reached, r_ids = tracked_checkpoint(
            flooded.where(F.col("label") < _FAR).select("v")
        )
        release_ids(spark, f_ids)
        return reached, r_ids

    with scoped_shuffle_partitions(spark, n_part):
        # core's forward/backward cones
        fwd_reach, fwd_ids = _reach_flood(core, "src", "dst", "bowtie forward reach")   # core ∪ out
        bwd_reach, bwd_ids = _reach_flood(core, "dst", "src", "bowtie backward reach")  # core ∪ in
        in_set, in_ids = tracked_checkpoint(bwd_reach.join(core, "v", "left_anti"))
        out_set, out_ids = tracked_checkpoint(fwd_reach.join(core, "v", "left_anti"))
        # tendril/tube cones: reachable FROM the in-set, reaches the out-set
        fi_reach, fi_ids = _reach_flood(in_set, "src", "dst", "bowtie from-IN reach")
        bo_reach, bo_ids = _reach_flood(out_set, "dst", "src", "bowtie to-OUT reach")
    out = (
        labels.select("v")
        .join(core.withColumnRenamed("v", "cv"), F.col("v") == F.col("cv"), "left")
        .join(fwd_reach.withColumnRenamed("v", "fv"), F.col("v") == F.col("fv"), "left")
        .join(bwd_reach.withColumnRenamed("v", "bv"), F.col("v") == F.col("bv"), "left")
        .join(fi_reach.withColumnRenamed("v", "iv"), F.col("v") == F.col("iv"), "left")
        .join(bo_reach.withColumnRenamed("v", "ov"), F.col("v") == F.col("ov"), "left")
        .select(
            "v",
            F.when(F.col("cv").isNotNull(), F.lit("core"))
            .when(F.col("bv").isNotNull(), F.lit("in"))
            .when(F.col("fv").isNotNull(), F.lit("out"))
            .when(F.col("iv").isNotNull() & F.col("ov").isNotNull(), F.lit("tube"))
            .when(F.col("iv").isNotNull() | F.col("ov").isNotNull(), F.lit("tendril"))
            .otherwise(F.lit("disconnected"))
            .alias("cls"),
        )
    )
    out, _ = tracked_checkpoint(out)
    release_ids(
        spark,
        lab_ids | e_ids | core_ids | fwd_ids | bwd_ids | in_ids | out_ids
        | fi_ids | bo_ids,
    )
    return out


def bowtie_sql(edge_ctes: str) -> str:
    """DuckDB oracle for ``bowtie_classes`` — the full six-class taxonomy,
    definitional over the same recursive closure as ``scc_reach_sql`` (same
    ``edge_ctes`` contract: flat CTE parts ending in ``de(src, dst)``)."""
    return (
        f"WITH RECURSIVE {edge_ctes}, "
        "verts AS MATERIALIZED (SELECT DISTINCT x AS v FROM "
        "(SELECT src AS x FROM de UNION ALL SELECT dst FROM de)), "
        "r(a, b) AS (SELECT DISTINCT src, dst FROM de WHERE src <> dst "
        "UNION SELECT r.a, de.dst FROM r JOIN de ON de.src = r.b "
        "WHERE de.dst <> r.a), "
        "mutual AS MATERIALIZED (SELECT r1.a AS v, min(r1.b) AS m "
        "FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a GROUP BY r1.a), "
        "lab AS MATERIALIZED (SELECT vv.v, "
        "least(vv.v, coalesce(mu.m, vv.v)) AS label "
        "FROM verts vv LEFT JOIN mutual mu ON mu.v = vv.v), "
        "gs AS MATERIALIZED (SELECT label FROM "
        "(SELECT label, count(*) AS c FROM lab GROUP BY label) "
        "ORDER BY c DESC, label ASC LIMIT 1), "
        "core AS MATERIALIZED (SELECT v FROM lab "
        "WHERE label = (SELECT label FROM gs)), "
        # the core's backward/forward cones (incl. the core itself)
        "bwd AS MATERIALIZED (SELECT vv.v FROM verts vv WHERE "
        "vv.v IN (SELECT v FROM core) OR EXISTS (SELECT 1 FROM r "
        "WHERE r.a = vv.v AND r.b IN (SELECT v FROM core))), "
        "fwd AS MATERIALIZED (SELECT vv.v FROM verts vv WHERE "
        "vv.v IN (SELECT v FROM core) OR EXISTS (SELECT 1 FROM r "
        "WHERE r.b = vv.v AND r.a IN (SELECT v FROM core))), "
        "inn AS MATERIALIZED (SELECT v FROM bwd WHERE v NOT IN (SELECT v FROM core)), "
        "outt AS MATERIALIZED (SELECT v FROM fwd WHERE v NOT IN (SELECT v FROM core)), "
        # reachable from the IN set / reaches the OUT set (incl. the sets)
        "fi AS MATERIALIZED (SELECT vv.v FROM verts vv WHERE "
        "vv.v IN (SELECT v FROM inn) OR EXISTS (SELECT 1 FROM r "
        "WHERE r.b = vv.v AND r.a IN (SELECT v FROM inn))), "
        "bo AS MATERIALIZED (SELECT vv.v FROM verts vv WHERE "
        "vv.v IN (SELECT v FROM outt) OR EXISTS (SELECT 1 FROM r "
        "WHERE r.a = vv.v AND r.b IN (SELECT v FROM outt))) "
        "SELECT vv.v, CASE "
        "WHEN vv.v IN (SELECT v FROM core) THEN 'core' "
        "WHEN vv.v IN (SELECT v FROM bwd) THEN 'in' "
        "WHEN vv.v IN (SELECT v FROM fwd) THEN 'out' "
        "WHEN vv.v IN (SELECT v FROM fi) AND vv.v IN (SELECT v FROM bo) THEN 'tube' "
        "WHEN vv.v IN (SELECT v FROM fi) OR vv.v IN (SELECT v FROM bo) THEN 'tendril' "
        "ELSE 'disconnected' END AS cls "
        "FROM verts vv ORDER BY vv.v"
    )


def directed_graph_stats(directed_edges: DataFrame) -> DataFrame:
    """One-row profile of a DIRECTED edge table — the directed companion of
    ``normalize.graph_stats``: vertex/edge counts, max in/out degree, and
    **reciprocity** (fraction of directed edges whose reverse also exists —
    the standard web/social directed-graph statistic; ~1/3 by construction
    on the reciprocated sample here).

    Everything integer except the final ratios (rounded to 6 digits), so the
    row is bit-identical across engines and partitionings. Two aggregate
    shuffles plus one self-semi-join for the reciprocal count.

    Output: ``(n_vertices, n_edges, n_reciprocal, reciprocity, max_in_deg,
    max_out_deg)``.
    """
    e = (
        directed_edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=False)
    )
    recip = e.join(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "left_semi",
    ).agg(F.count(F.lit(1)).alias("n_recip"))
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ind = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
    base = e.agg(F.count(F.lit(1)).alias("m"))
    nv = (
        e.select(F.col("src").alias("v"))
        .unionAll(e.select(F.col("dst").alias("v")))
        .agg(F.countDistinct("v").alias("n"))
    )
    return (
        base.crossJoin(recip)
        .crossJoin(nv)
        .crossJoin(outd.agg(F.max("d").alias("max_out")))
        .crossJoin(ind.agg(F.max("d").alias("max_in")))
        .select(
            F.col("n").cast("long").alias("n_vertices"),
            F.col("m").cast("long").alias("n_edges"),
            F.col("n_recip").cast("long").alias("n_reciprocal"),
            F.round(F.col("n_recip") / F.col("m"), 6).alias("reciprocity"),
            F.col("max_in").cast("long").alias("max_in_deg"),
            F.col("max_out").cast("long").alias("max_out_deg"),
        )
    )


def directed_graph_stats_sql(edge_ctes: str) -> str:
    """DuckDB twin of ``directed_graph_stats`` (same ``edge_ctes`` contract
    as ``scc_reach_sql``: flat CTE parts ending in ``de(src, dst)``)."""
    return (
        f"WITH {edge_ctes}, "
        "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM de WHERE src <> dst), "
        "rc AS MATERIALIZED (SELECT count(*) AS n_recip FROM e "
        "WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)), "
        "b AS MATERIALIZED (SELECT count(*) AS m FROM e), "
        "nv AS MATERIALIZED (SELECT count(DISTINCT v) AS n FROM "
        "(SELECT src AS v FROM e UNION ALL SELECT dst FROM e)), "
        "od AS MATERIALIZED (SELECT max(d) AS max_out FROM "
        "(SELECT src, count(*) AS d FROM e GROUP BY src)), "
        "idg AS MATERIALIZED (SELECT max(d) AS max_in FROM "
        "(SELECT dst, count(*) AS d FROM e GROUP BY dst)) "
        "SELECT CAST(nv.n AS BIGINT) AS n_vertices, CAST(b.m AS BIGINT) AS n_edges, "
        "CAST(rc.n_recip AS BIGINT) AS n_reciprocal, "
        "round(CAST(rc.n_recip AS DOUBLE) / b.m, 6) AS reciprocity, "
        "CAST(idg.max_in AS BIGINT) AS max_in_deg, "
        "CAST(od.max_out AS BIGINT) AS max_out_deg "
        "FROM b, rc, nv, od, idg"
    )


def condensation_levels(
    directed_edges: DataFrame, max_rounds: int = 60
) -> DataFrame:
    """Topological level structure of the SCC condensation DAG.

    Composes `scc` into the canonical "how deep is the web's DAG skeleton"
    report: contract every SCC to one node, keep the distinct cross-SCC
    edges (the condensation — acyclic by construction), and assign every
    component its LONGEST-PATH depth from the source layer:

        level(c) = 0                      if c has no in-edges
        level(c) = 1 + max level(pred)    otherwise

    computed as the standard max-plus relaxation fixpoint: per round one
    join + max-aggregate over the condensation edge table, state merged
    with `greatest`. A DAG reaches the fixpoint in depth(DAG) rounds and
    each round touches only condensation-sized tables — on a bowtie-shaped
    web graph that is FAR smaller than the page graph (the giant SCC is one
    node), so the whole phase costs a few tiny shuffles after the `scc`
    labeling itself.

    Output: one row per occupied level — ``(level: long,
    n_components: long, n_vertices: long)`` — the DAG's layer profile
    (level 0 = source components; max level = the condensation's depth).

    Raises RuntimeError past ``max_rounds`` (a DAG deeper than the cap —
    raise it for adversarially-chained graphs; the relaxation is exact for
    any cap ≥ depth).
    """
    spark = directed_edges.sparkSession
    labels = scc(directed_edges)  # (v, label), materialized lineage-free
    lab_src = labels.select(F.col("v").alias("src"), F.col("label").alias("a"))
    lab_dst = labels.select(F.col("v").alias("dst"), F.col("label").alias("b"))
    cond = (
        directed_edges.join(lab_src, "src")
        .join(lab_dst, "dst")
        .where(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    cond, cond_ids = tracked_checkpoint(cond)
    n_part = iteration_partitions(spark, max(cond.count(), 1))
    lev = labels.select(F.col("label").alias("c")).distinct().select(
        "c", F.lit(0).cast("long").alias("level")
    )
    lev, prev_ids = tracked_checkpoint(lev)
    with scoped_shuffle_partitions(spark, n_part):
        for r in range(max_rounds + 1):
            cand = (
                cond.join(lev.withColumnRenamed("c", "a"), "a")
                .groupBy(F.col("b").alias("c"))
                .agg((F.max("level") + F.lit(1)).alias("cl"))
            )
            merged = (
                lev.join(cand, "c", "left")
                .select(
                    "c",
                    F.greatest(F.col("level"), F.coalesce("cl", F.lit(0))).alias(
                        "new_level"
                    ),
                    "level",
                )
            )
            changed = (
                merged.where(F.col("new_level") > F.col("level")).limit(1).count()
            )
            if changed == 0:
                break
            if r == max_rounds:
                raise RuntimeError(
                    f"condensation deeper than max_rounds={max_rounds}"
                )
            lev, new_ids = tracked_checkpoint(
                merged.select("c", F.col("new_level").alias("level"))
            )
            release_ids(spark, prev_ids)
            prev_ids = new_ids
    sizes = labels.groupBy(F.col("label").alias("c")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    out = (
        lev.join(sizes, "c")
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("nv").cast("long").alias("n_vertices"),
        )
        .orderBy("level")
    )
    release_ids(spark, cond_ids)
    return out


def condensation_levels_sql(edge_ctes: str) -> str:
    """DuckDB oracle for ``condensation_levels`` — definitional: SCC labels
    by mutual-reachability closure (same CTEs as `scc_reach_sql`), the
    distinct condensation edges, then level(c) = max over ALL path lengths
    ending at c in the condensation, enumerated by a deduplicating
    recursive CTE (terminates because the condensation is acyclic).

    ``edge_ctes``: flat CTE definitions whose final CTE ``de`` yields
    directed ``(src, dst)`` rows (spliced, same contract as
    `scc_reach_sql`)."""
    return (
        f"WITH RECURSIVE {edge_ctes}, "
        "verts AS MATERIALIZED (SELECT DISTINCT x AS v FROM "
        "(SELECT src AS x FROM de UNION ALL SELECT dst FROM de)), "
        "r(a, b) AS (SELECT DISTINCT src, dst FROM de WHERE src <> dst "
        "UNION SELECT r.a, de.dst FROM r JOIN de ON de.src = r.b "
        "WHERE de.dst <> r.a), "
        "mutual AS MATERIALIZED (SELECT r1.a AS v, min(r1.b) AS m "
        "FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a GROUP BY r1.a), "
        "lab AS MATERIALIZED (SELECT vv.v, "
        "CAST(least(vv.v, coalesce(mu.m, vv.v)) AS BIGINT) AS label "
        "FROM verts vv LEFT JOIN mutual mu ON mu.v = vv.v), "
        "cond AS MATERIALIZED (SELECT DISTINCT ls.label AS a, ld.label AS b "
        "FROM de JOIN lab ls ON ls.v = de.src JOIN lab ld ON ld.v = de.dst "
        "WHERE ls.label <> ld.label), "
        "lp(c, l) AS (SELECT label, 0 FROM lab GROUP BY label "
        "UNION SELECT cond.b, p.l + 1 FROM lp p JOIN cond ON cond.a = p.c), "
        "lev AS MATERIALIZED (SELECT c, max(l) AS level FROM lp GROUP BY c), "
        "sizes AS MATERIALIZED (SELECT label AS c, count(*) AS nv "
        "FROM lab GROUP BY label) "
        "SELECT CAST(level AS BIGINT) AS level, count(*) AS n_components, "
        "CAST(sum(nv) AS BIGINT) AS n_vertices "
        "FROM lev JOIN sizes ON sizes.c = lev.c GROUP BY level ORDER BY level"
    )

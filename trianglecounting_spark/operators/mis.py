"""Maximal independent set — deterministic parallel greedy (Luby-style).

The classic symmetry-breaking primitive (Luby 1986): MIS seeds distributed
graph coloring, scheduling, and landmark/pivot selection. We fix one hashed
priority per vertex instead of re-randomizing per round, which makes the
result the *lexicographically-first MIS under the priority order* — a single
well-defined set, independent of partitioning, round batching, and engine
(the property the north_rule needs; plain Luby's output depends on its
per-round randomness). Blelloch et al. (SPAA'12) analyze exactly this
fixed-priority variant: with hashed priorities the peeling still converges in
O(log n) rounds w.h.p., while the sequential greedy over the same order gives
the IDENTICAL set — which is our differential test.

Round k (all undecided vertices in parallel):
  * a vertex WINS iff its priority ``(h(v), v)`` is smaller than every
    undecided neighbor's (vertices with no undecided neighbor win trivially);
  * winners join the MIS; winners' neighbors become losers; both leave the
    undecided set.

Scale shape: per round, one join of the edge table against the undecided set
(shrinking geometrically), one min-aggregation keyed on vertex, one anti-join.
The edge side is pre-partitioned by src once and reused every round (only the
|undecided| side shuffles — same pattern as pagerank/labelprop). State is
checkpointed per round, so no action replays lineage.

No counterpart in /root/reference (undirected triangle engine); the priority
hash reuses the portable counter-hash family from functions/sampling.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from trianglecounting_spark.operators.normalize import undirect
from trianglecounting_spark.plans.cache import release_ids, tracked_checkpoint
from trianglecounting_spark.plans.tuning import (
    BROADCAST_ROWS,
    iteration_partitions,
    scoped_shuffle_partitions,
)

_M = 1_000_000_007
_A = 2_654_435_761
_SEED = 17


def _h(v: F.Column) -> F.Column:
    return ((v % F.lit(_M)) * F.lit(_A) + F.lit(_SEED)) % F.lit(_M)


def _h_sql(expr: str) -> str:
    return f"(({expr} % {_M}) * {_A} + {_SEED}) % {_M}"


def maximal_independent_set(
    edges: DataFrame, max_iterations: int = 50, broadcast_rows: int = BROADCAST_ROWS
) -> DataFrame:
    """Output: ``(v: long, in_mis: int)`` for every vertex of ``edges``.

    Deterministic: the lexicographically-first MIS under the ``(h(v), v)``
    priority order (ties impossible — the id is part of the key). Raises
    RuntimeError if the peel hasn't emptied the undecided set after
    ``max_iterations`` rounds (expected rounds are O(log n); hitting the cap
    means an adversarial priority order, not a bigger graph).

    Round-6 round shape (same winners every round — the win predicate is
    unchanged): the |undecided|-row state is BROADCAST into the edge-side
    joins while it fits ``broadcast_rows`` (size-aware; falls back to the
    shuffle joins at web scale where |V| is not broadcastable), so the two
    per-round passes over the cached symmetric edge table are NARROW — the
    min-priority aggregate reuses sym's persisted hash partitioning on src
    with zero exchanges, where the previous form sort-merge-joined the edge
    table twice per round (4 full-edge exchanges + sorts). The winner set
    is checkpointed before reuse so the losers pass never recomputes it.
    """
    spark = edges.sparkSession
    m2 = edges.count() * 2
    n_part = iteration_partitions(spark, m2)
    sym = (
        undirect(edges)
        .repartition(n_part, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    vertices = sym.select(F.col("src").alias("v")).distinct()
    und, und_ids = tracked_checkpoint(vertices)
    n_und = und.count()
    mis = None  # accumulated winners (append-only, tiny per round)
    mis_ids: set[int] = set()
    with scoped_shuffle_partitions(spark, n_part):
        for _ in range(max_iterations):
            if n_und == 0:
                break
            small = n_und <= broadcast_rows

            def _bc(df, _small=small):
                return F.broadcast(df) if _small else df

            # active edges: both endpoints still undecided
            act = (
                sym.join(_bc(und.withColumnRenamed("v", "src")), "src")
                .join(_bc(und.withColumnRenamed("v", "dst")), "dst")
                .select("src", "dst")
            )
            # per-vertex min neighbor priority over the active subgraph
            nbr_min = act.groupBy(F.col("src").alias("v")).agg(
                F.min(F.struct(_h(F.col("dst")).alias("h"), F.col("dst").alias("v")))
                .alias("mn")
            )
            win_plan = (
                und.join(nbr_min, "v", "left")
                .where(
                    F.col("mn").isNull()
                    | (F.struct(_h(F.col("v")).alias("h"), F.col("v").alias("v"))
                       < F.col("mn"))
                )
                .select("v")
            )
            # materialize winners once: they are read 3× below (losers scan,
            # undecided anti-join, MIS append)
            win, win_ids = tracked_checkpoint(win_plan)
            # losers: undecided neighbors of winners — one narrow sym scan,
            # semi-joined with the undecided set so the broadcast below is
            # bounded by |undecided| (the budget checked above), not |V|
            lose = (
                sym.join(_bc(win.withColumnRenamed("v", "src")), "src")
                .select(F.col("dst").alias("v"))
                .join(_bc(und), "v", "left_semi")
                .distinct()
            )
            mis = win if mis is None else mis.unionAll(win)
            new_und_plan = und.join(_bc(win.unionAll(lose)), "v", "left_anti")
            new_und, ids_u = tracked_checkpoint(new_und_plan)
            mis, ids_m = tracked_checkpoint(mis)
            n_und = new_und.count()
            release_ids(spark, und_ids | mis_ids | win_ids)
            und, und_ids = new_und, ids_u
            mis_ids = ids_m
        else:
            sym.unpersist()
            raise RuntimeError(
                f"MIS peel did not converge in {max_iterations} rounds"
            )
    out = vertices.join(
        (mis if mis is not None else vertices.limit(0)).withColumn(
            "in_mis", F.lit(1)
        ),
        "v",
        "left",
    ).select("v", F.coalesce("in_mis", F.lit(0)).cast("int").alias("in_mis"))
    out, _ = tracked_checkpoint(out)
    sym.unpersist()
    release_ids(spark, und_ids | mis_ids)
    return out


def mis_unrolled_sql(edges_sql: str, rounds: int = 20) -> str:
    """DuckDB oracle: the identical fixed-priority peel, unrolled ``rounds``
    times (idempotent once the undecided set empties — extra rounds are
    no-ops, so any rounds ≥ the measured convergence depth is exact).

    Priorities compare as the single integer ``h(v)·2³² + v`` — equivalent to
    the engine's lexicographic ``(h(v), v)`` struct compare for ids < 2³²
    (true of every test graph; h < 2³⁰ keeps the key under 2⁶²).
    """
    def pk(e: str) -> str:
        return f"({_h_sql(e)} * 4294967296 + {e})"

    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v, u FROM e)",
        "vs AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)",
        "u0 AS MATERIALIZED (SELECT v FROM vs)",
    ]
    win_rels = []
    for k in range(1, rounds + 1):
        p = k - 1
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT s.src, s.dst FROM sym s "
            f"JOIN u{p} x ON x.v = s.src JOIN u{p} y ON y.v = s.dst)"
        )
        parts.append(
            f"n{k} AS MATERIALIZED (SELECT src AS v, min({pk('dst')}) AS mn "
            f"FROM a{k} GROUP BY src)"
        )
        parts.append(
            f"w{k} AS MATERIALIZED (SELECT u.v FROM u{p} u "
            f"LEFT JOIN n{k} n ON n.v = u.v "
            f"WHERE n.mn IS NULL OR {pk('u.v')} < n.mn)"
        )
        parts.append(
            f"u{k} AS MATERIALIZED (SELECT v FROM u{p} WHERE v NOT IN "
            f"(SELECT v FROM w{k}) AND v NOT IN "
            f"(SELECT a.dst FROM a{k} a JOIN w{k} w ON w.v = a.src))"
        )
        win_rels.append(f"SELECT v FROM w{k}")
    mis_union = " UNION ALL ".join(win_rels)
    return (
        ", ".join(parts)
        + f", mis AS MATERIALIZED ({mis_union}) "
        f"SELECT vs.v, CAST(CASE WHEN m.v IS NULL THEN 0 ELSE 1 END AS INTEGER) "
        f"AS in_mis FROM vs LEFT JOIN mis m ON m.v = vs.v ORDER BY vs.v"
    )

"""Redirect-chain resolution — the crawl-normalization step before any
link-graph build: every crawler stores a redirect map ``src → dst`` (HTTP
301/302/meta-refresh) and every downstream URL must be rewritten to its
chain terminal, with redirect LOOPS (live on the real web) detected rather
than followed forever.

Absent from the reference (a TC engine takes the edge list as given); this
is the web-pipeline front-door operator the north_star's page table implies.

Algorithm: POINTER DOUBLING over the functional graph — the right tool
here, unlike the SCC floods where it was measured-and-rejected
(operators/scc.py `_minlabel_flood`): a redirect map is a FUNCTION (one
successor per source), so composing the map with itself squares the step
count with |R|-row state per round and no fan-out. ceil(log2(cap)) rounds
resolve every chain up to ``cap`` hops:

    state_0(v)   = (cur = f(v), steps = 1, done = cur ∉ dom f)
    state_{k+1}(v), v not done:
        let m = state_k(v).cur in
        (cur = state_k(m).cur, steps = steps_k(v) + steps_k(m),
         done = state_k(m).done)

so after round k a live row sits exactly 2^(k+1) hops in — on a loop the
state never becomes done and ``steps`` saturates at exactly ``cap``, which
is also what the linear-walk oracle reports at its recursion cap: the two
engines agree row-for-row on loops, rho-shapes, and exact-cap chains alike.

Scale shape: each round is one |R|-row self-join on the current-pointer key
(plus the domain anti-probe folded into the same join) — state tables
shuffle, nothing fans out, 5 rounds for the HTTP-practical cap of 32. Every
round is checkpointed (repo iteration rule) so no action replays lineage.

Determinism: integer ids, exact hop counts, no floats anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.plans.cache import IterationScope
from trianglecounting_spark.plans.tuning import (
    iteration_partitions,
    scoped_shuffle_partitions,
)


def resolve_redirects(redirects: DataFrame, cap: int = 32) -> DataFrame:
    """Resolve every redirect source to its chain terminal.

    ``redirects``: functional edge table ``(src: long, dst: long)`` — at
    most one row per src (a redirect map). ``cap`` (power of two): maximum
    hops to follow, the HTTP-client analogue of a redirect limit.

    Output, one row per redirect source:
    ``(src, final: long, hops: long, resolved: boolean)`` —
    ``resolved=false`` rows sit on (or flow into) a loop, or exceed
    ``cap``; their ``final`` is the node exactly ``cap`` hops in and
    ``hops = cap``.
    """
    if cap & (cap - 1) != 0 or cap < 1:
        raise ValueError(f"cap must be a power of two, got {cap}")
    spark = redirects.sparkSession
    f_map = redirects.select("src", "dst")
    n_part = iteration_partitions(spark, max(f_map.count(), 1))
    dom = f_map.select(F.col("src").alias("cur"), F.lit(True).alias("__in_dom"))
    state = (
        f_map.select(
            F.col("src").alias("v"),
            F.col("dst").alias("cur"),
            F.lit(1).cast("long").alias("steps"),
        )
        .join(dom, "cur", "left")
        .select(
            "v", "cur", "steps",
            F.coalesce(~F.col("__in_dom"), F.lit(True)).alias("done"),
        )
    )
    rounds = max(1, cap.bit_length() - 1)  # 2^rounds = cap
    with IterationScope(spark) as it:
        state = it.keep(state)
        with scoped_shuffle_partitions(spark, n_part):
            for _ in range(rounds):
                hop = state.select(
                    F.col("v").alias("cur"),
                    F.col("cur").alias("__next"),
                    F.col("steps").alias("__add"),
                    F.col("done").alias("__next_done"),
                )
                advanced = it.keep(
                    state.join(hop, "cur", "left")
                    .select(
                        "v",
                        F.when(F.col("done"), F.col("cur"))
                        .otherwise(F.coalesce("__next", "cur"))
                        .alias("cur"),
                        F.when(F.col("done"), F.col("steps"))
                        .otherwise(F.col("steps") + F.coalesce("__add", F.lit(0)))
                        .alias("steps"),
                        # a missing lookup means cur left the redirect domain
                        # one composition ago — it IS the terminal
                        F.when(F.col("done"), F.lit(True))
                        .otherwise(F.coalesce("__next_done", F.lit(True)))
                        .alias("done"),
                    )
                )
                it.release(state)
                state = advanced
        return it.result(state.select(
            F.col("v").alias("src"),
            F.col("cur").alias("final"),
            F.least(F.col("steps"), F.lit(cap)).cast("long").alias("hops"),
            "done",
        ).withColumnRenamed("done", "resolved"))


def resolve_redirects_sql(redirect_ctes: str, cap: int = 32) -> str:
    """DuckDB oracle for :func:`resolve_redirects` — the DEFINITION: a
    linear recursive walk capped at ``cap`` hops, final row per source,
    resolved iff the final node has no outgoing redirect.

    ``redirect_ctes``: flat CTE definitions whose final CTE ``red`` yields
    ``(src, dst)`` redirect rows (same splice contract as scc_reach_sql).
    """
    return (
        f"WITH RECURSIVE {redirect_ctes}, "
        "walk(src, cur, hops) AS (SELECT src, dst, 1 FROM red "
        "UNION ALL SELECT w.src, r.dst, w.hops + 1 FROM walk w "
        f"JOIN red r ON r.src = w.cur WHERE w.hops < {cap}), "
        "last AS MATERIALIZED (SELECT src, max(hops) AS hops FROM walk "
        "GROUP BY src), "
        "fin AS MATERIALIZED (SELECT w.src, w.cur, w.hops FROM walk w "
        "JOIN last l ON l.src = w.src AND l.hops = w.hops) "
        "SELECT fin.src, fin.cur AS final, CAST(fin.hops AS BIGINT) AS hops, "
        "(r2.src IS NULL) AS resolved "
        "FROM fin LEFT JOIN red r2 ON r2.src = fin.cur ORDER BY fin.src"
    )

"""Approximate neighborhood function via HyperBall — distance profiles at
web scale.

The effective diameter / neighborhood function N(t) = Σ_v |B(v,t)| is the
standard global distance report for web graphs (Broder et al. WWW'00 report
it for the crawl graph; the reference's LiveJournal/Twitter benchmark graphs
come with published effective diameters). Exact computation is all-pairs BFS
— Θ(n·m), unrunnable at 10^12 documents. The published scale path is
HyperBall (Boldi & Vigna, "In-Core Computation of Geometric Centralities
with HyperBall", 2013; Palmer et al.'s ANF is the Flajolet–Martin
predecessor): per vertex keep an m-register HyperLogLog sketch of its
distance-≤t ball and iterate

    B_{t+1}(v) = B_t(v) ⊔ ⨆_{(v,w) ∈ E} B_t(w)      (⊔ = register-wise max)

Here the sketch is held RELATIONALLY: one row per *populated* register,
``(v, j, rho)`` — so the union-of-maxes round is a plain join + groupBy-max,
Catalyst plans it JVM-side, and register count per vertex is capped at
m = 64 rows. No per-row Python anywhere.

Determinism / oracle parity: HLL needs a hash; engines' built-in hashes
differ, so registers derive from TWO fixed-constant MINSTD-style integer
mixes (exact int64 arithmetic, no overflow at |V| < 2^31) and a ctz CASE
chain — the identical SQL text runs on both engines
(``hyperball_unrolled_sql``). The register sum Σ 2^-rho is a sum of dyadic
rationals with granularity 2^-16 and total < 64, hence EXACTLY representable
— float summation order cannot change it; the only libm call is one final
``ln`` (same 6-dp rounding contract as tfidf's).

Scale notes: state ≤ m rows/vertex ⇒ the round join's output is
Σ_v deg(v)·nnz(v) ≤ m·2m rows — the same O(m·|E|) bound HyperBall proves;
keys are (v, j) pairs so reducer skew is mild even on hub vertices. Each
round is kept in the call's ``IterationScope`` (eager localCheckpoint; the
previous round's blocks released), so no action replays lineage and the
loop survives arbitrarily many rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.normalize import undirect
from trianglecounting_spark.plans.cache import IterationScope
from trianglecounting_spark.plans.tuning import BROADCAST_ROWS, maybe_broadcast

M_REG = 64          # HLL registers per vertex (b = 6)
ALPHA_64 = 0.709    # Flajolet et al. 2007 bias constant for m = 64
RHO_CAP = 16        # ctz chain depth; P(rho hits cap) = 2^-15 per vertex

# MINSTD-family mixing constants — small enough that (v % M)·A stays far
# inside int64 for any nonnegative vertex id.
_H_M = 2147483647   # 2^31 - 1 (prime)
_H_A1, _H_B1 = 48271, 11
_H_A2, _H_B2 = 69621, 12345


def _register_exprs() -> tuple[str, str]:
    """(j_expr, rho_expr) as SQL text over a column named ``v`` — the SAME
    text is used by the Spark plan (F.expr) and the DuckDB oracle, so the
    sketch contents are bit-identical by construction."""
    j = f"((v % {_H_M}) * {_H_A1} + {_H_B1}) % {_H_M} % {M_REG}"
    h2 = f"((v % {_H_M}) * {_H_A2} + {_H_B2}) % {_H_M}"
    cases = " ".join(
        f"WHEN {h2} % {1 << k} = {1 << (k - 1)} THEN {k}"
        for k in range(1, RHO_CAP)
    )
    rho = f"CASE {cases} ELSE {RHO_CAP} END"
    return j, rho


def _round6(expr: str) -> str:
    """6-dp rounding as shared SQL text: ``floor(x·10^6 + 0.5) / 10^6``.

    Engine-native ``round()`` is NOT on the parity surface — Spark rounds via
    BigDecimal HALF_UP on the shortest decimal repr while DuckDB rounds the
    binary double directly, and they disagree by one 6th-decimal unit on tie
    values (measured: one sf0.001 harmonic vertex, 66.4518265). floor over
    identical IEEE multiply/add is bit-identical on both engines by
    construction (the CAST normalizes Spark's BIGINT floor vs DuckDB's
    DOUBLE floor; exponent literals because both engines parse ``1000000.0``
    as DECIMAL, which would turn the division decimal-typed)."""
    return f"(CAST(floor(({expr}) * 1e6 + 5e-1) AS BIGINT) / 1e6)"


def _estimate_expr() -> str:
    """Per-vertex HLL estimate over aggregates ``nnz`` (populated registers)
    and ``snz`` (Σ 2^-rho over them) — raw harmonic-mean estimator with the
    standard linear-counting small-range correction. SQL text shared by both
    engines; rounded to 6 dp.

    Bit-identical across engines BY CONSTRUCTION, not just to 6 dp: the raw
    branch is one IEEE division of exact inputs (snz is a sum of dyadic
    rationals — exactly representable, order-free), and the linear-counting
    branch's ``m·ln(m/V)`` has only m−1 possible integer inputs, so it is
    emitted as a CASE table of PRECOMPUTED round-trip decimal literals
    instead of a runtime ``ln`` call — JVM ``Math.log`` and DuckDB's libm
    disagree by 1 ulp on some arguments (measured: one sf0.001 harmonic
    vertex flipped its 6th decimal), and a literal table removes the libm
    from the parity surface entirely."""
    import math

    s = f"(({M_REG} - nnz) + snz)"
    raw = f"({ALPHA_64} * {M_REG}.0 * {M_REG}.0 / {s})"
    lin_cases = " ".join(
        f"WHEN {vz} THEN {M_REG * math.log(M_REG / vz)!r}"
        for vz in range(1, M_REG)
    )
    lin = f"(CASE ({M_REG} - nnz) {lin_cases} ELSE 0.0 END)"
    return _round6(
        f"CASE WHEN {raw} <= 2.5 * {M_REG} AND ({M_REG} - nnz) > 0 "
        f"THEN {lin} ELSE {raw} END"
    )


def _initial_state(it: IterationScope, edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``(sym, state)``: the symmetric edge table, held for the call, and the
    kept register state of every vertex's distance-0 ball (itself)."""
    j_expr, rho_expr = _register_exprs()
    sym = it.hold(undirect(edges).localCheckpoint(eager=False))
    verts = sym.select(F.col("src").alias("v")).distinct()
    state = it.keep(verts.select(
        "v", F.expr(j_expr).cast("int").alias("j"), F.expr(rho_expr).cast("int").alias("rho")
    ))
    return sym, state


def _merge_round(
    it: IterationScope, sym: DataFrame, state: DataFrame, rows: float,
    budget: int = BROADCAST_ROWS,
) -> DataFrame:
    """One merge round — every vertex's registers max-merged with its
    neighbors' — kept, with ``state`` released. ``state`` (``rows`` rows) is
    broadcast into the neighbor join while it fits ``budget``."""
    st = maybe_broadcast(state, rows, budget)
    contrib = sym.join(st, sym["dst"] == st["v"]).select(
        sym["src"].alias("v"), st["j"], st["rho"]
    )
    merged = it.keep(
        state.unionAll(contrib).groupBy("v", "j").agg(F.max("rho").alias("rho"))
    )
    it.release(state)
    return merged


def hyperball_state(
    edges: DataFrame, t: int, broadcast_rows: int = BROADCAST_ROWS
) -> DataFrame:
    """Register state after ``t`` merge rounds: ``(v, j, rho)`` — the HLL
    sketch of every vertex's distance-≤t ball (undirected).

    The state is ≤ |V|·M_REG rows — broadcast into the per-round neighbor
    join while that bound fits ``broadcast_rows`` (size-aware; shuffle join
    at web scale), so a merge round is one narrow pass over the symmetric
    edge table + one map-side-combined max aggregate."""
    with IterationScope(edges.sparkSession) as it:
        sym, state = _initial_state(it, edges)
        rows = state.count() * M_REG
        for _ in range(t):
            state = _merge_round(it, sym, state, rows, broadcast_rows)
        return it.result(state)


def hyperball_balls(edges: DataFrame, t: int) -> DataFrame:
    """Per-vertex approximate ball size |B(v, t)| (HLL estimate, includes v
    itself). Output: ``(v, ball_est: double)`` rounded to 6 dp."""
    state = hyperball_state(edges, t)
    aggs = state.groupBy("v").agg(
        F.count(F.lit(1)).alias("nnz"),
        F.sum(F.expr("1.0 / power(2.0, rho)")).alias("snz"),
    )
    return aggs.select("v", F.expr(_estimate_expr()).alias("ball_est"))


def neighborhood_function(
    edges: DataFrame, t_max: int, broadcast_rows: int = BROADCAST_ROWS
) -> list[tuple[int, float]]:
    """ANF curve [(t, N̂(t))] for t = 0..t_max, N̂(t) = Σ_v |B(v,t)| — the
    driver-side report (one scalar per t; each t's state reuses the previous
    round's checkpoint, so the whole curve costs one pass of t_max rounds)."""
    def nf(st: DataFrame) -> float:
        aggs = st.groupBy("v").agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sum(F.expr("1.0 / power(2.0, rho)")).alias("snz"),
        )
        row = aggs.select(F.expr(_estimate_expr()).alias("b")).agg(
            F.sum("b").alias("nf")
        ).collect()[0]
        return float(row["nf"])

    with IterationScope(edges.sparkSession) as it:
        sym, state = _initial_state(it, edges)
        rows = state.count() * M_REG
        curve = [(0, nf(state))]
        for t in range(1, t_max + 1):
            state = _merge_round(it, sym, state, rows, broadcast_rows)
            curve.append((t, nf(state)))
    return curve


def effective_diameter(edges: DataFrame, t_max: int = 32, q: float = 0.9) -> float:
    """Smallest t with N̂(t) ≥ q·N̂(t_max), linearly interpolated between
    rounds (the standard 90%-effective-diameter report). Stops early once
    the curve plateaus (N̂ stops growing ⇒ every ball is complete)."""
    curve = []
    prev = None
    for t, val in neighborhood_function(edges, t_max):
        curve.append((t, val))
        if prev is not None and val <= prev:
            break
        prev = val
    target = q * curve[-1][1]
    for (t0, v0), (t1, v1) in zip(curve, curve[1:]):
        if v1 >= target:
            if v1 == v0:
                return float(t1)
            return t0 + (target - v0) / (v1 - v0)
    return float(curve[-1][0])


def harmonic_centrality_approx(edges: DataFrame, t_max: int) -> DataFrame:
    """Approximate harmonic centrality H(v) = Σ_{u≠v} 1/d(u,v), truncated at
    distance ``t_max`` — THE application HyperBall was built for (Boldi &
    Vigna 2013 compute it for the whole 2012 Common Crawl): with ball
    estimates b_t(v),

        H(v) ≈ Σ_{t=1..t_max} (b_t(v) − b_{t−1}(v)) / t .

    Output: ``(v, harmonic: double)`` rounded to 6 dp.
    """
    acc = _ball_delta_accumulate(edges, t_max, "inv")
    return acc.select("v", F.expr(_round6("h")).alias("harmonic"))


def _ball_delta_accumulate(edges: DataFrame, t_max: int, weight: str) -> DataFrame:
    """Shared HyperBall accumulation loop: run ``t_max`` merge rounds and fold
    the per-round ball-estimate deltas into one accumulator column,

        acc = Σ_{t=1..t_max} (b_t(v) − b_{t−1}(v)) <op> t

    with ``weight`` = ``"inv"`` (÷ t — harmonic centrality) or ``"mul"``
    (× t — farness / distance sum). One pass of t_max merge rounds; the
    accumulator rides along as a plain column (join on v per round, both
    sides checkpointed — no lineage growth). Output:
    ``(v, h: double, prev_b: double)`` with ``prev_b`` = b_{t_max}(v), both
    un-rounded.

    Estimate deltas can be slightly negative (two independent HLL reads);
    they are kept as-is — the SQL oracles do the identical arithmetic, and
    truncation/clamping choices would be estimator policy, not correctness.
    """
    def ests(st: DataFrame) -> DataFrame:
        return st.groupBy("v").agg(
            F.count(F.lit(1)).alias("nnz"),
            F.sum(F.expr("1.0 / power(2.0, rho)")).alias("snz"),
        ).select("v", F.expr(_estimate_expr()).alias("b"))

    with IterationScope(edges.sparkSession) as it:
        sym, state = _initial_state(it, edges)
        acc = it.keep(
            ests(state).select("v", F.lit(0.0).alias("h"), F.col("b").alias("prev_b"))
        )
        for t in range(1, t_max + 1):
            state = _merge_round(it, sym, state, float("inf"))
            delta = F.col("b") - F.col("prev_b")
            step = delta / F.lit(float(t)) if weight == "inv" else delta * F.lit(float(t))
            new_acc = it.keep(acc.join(ests(state), "v").select(
                "v", (F.col("h") + step).alias("h"), F.col("b").alias("prev_b")
            ))
            it.release(acc)
            acc = new_acc
        return it.result(acc)


# Shared final-projection text for closeness: farness f = Σ t·Δb, reachable
# r = b_{t_max}; truncated closeness = (r − 1) / f, 0 where the (estimated)
# farness is not positive. One IEEE division of engine-identical inputs.
_CLOSENESS_FINAL = "CASE WHEN {f} > 0.0 THEN ({r} - 1.0) / {f} ELSE 0.0 END"


def closeness_centrality_approx(edges: DataFrame, t_max: int) -> DataFrame:
    """Approximate (truncated) closeness centrality — the other geometric
    centrality of Boldi & Vigna 2013: with farness
    f(v) = Σ_{t=1..t_max} t · (b_t(v) − b_{t−1}(v)) ≈ Σ_u d(v,u) and
    reachable-set size r(v) = b_{t_max}(v),

        C(v) ≈ (r(v) − 1) / f(v)

    (the disconnected-graph normalization: average distance over the
    reachable set only, so small isolated components don't get inflated
    scores). Output: ``(v, closeness: double)`` rounded to 6 dp.
    """
    acc = _ball_delta_accumulate(edges, t_max, "mul")
    final = _CLOSENESS_FINAL.format(f="h", r="prev_b")
    return acc.select("v", F.expr(_round6(final)).alias("closeness"))


def harmonic_centrality_unrolled_sql(edges_sql: str, t_max: int) -> str:
    """DuckDB twin of ``harmonic_centrality_approx`` — same unrolled rounds,
    same per-round estimate text, same accumulation arithmetic."""
    return _accum_unrolled_sql(edges_sql, t_max, "inv", "{h}", "harmonic")


def closeness_centrality_unrolled_sql(edges_sql: str, t_max: int) -> str:
    """DuckDB twin of ``closeness_centrality_approx`` — farness fold (× t)
    plus the shared truncated-closeness final projection."""
    final = _CLOSENESS_FINAL.format(f="{h}", r="{r}")
    return _accum_unrolled_sql(edges_sql, t_max, "mul", final, "closeness")


def _accum_unrolled_sql(
    edges_sql: str, t_max: int, weight: str, final_fmt: str, colname: str
) -> str:
    """Shared SQL twin of ``_ball_delta_accumulate``: unrolled merge rounds,
    per-round estimate CTEs, and a left-fold of the deltas exactly as the
    Spark loop computes it — (((0 + Δ1 op 1) + Δ2 op 2) + …). ``final_fmt``
    formats {h} (the fold) and {r} (= b_{t_max}) into the output column."""
    j_expr, rho_expr = _register_exprs()
    est = _estimate_expr()
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v, u FROM e)",
        "verts AS (SELECT DISTINCT src AS v FROM sym)",
        f"s0 AS MATERIALIZED (SELECT v, CAST({j_expr} AS INT) AS j, "
        f"CAST({rho_expr} AS INT) AS rho FROM verts)",
        f"b0 AS MATERIALIZED (SELECT v, {est} AS b FROM (SELECT v, count(*) AS nnz, "
        "sum(1.0 / power(2.0, rho)) AS snz FROM s0 GROUP BY v))",
    ]
    for i in range(1, t_max + 1):
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT v, j, max(rho) AS rho FROM ("
            f"SELECT v, j, rho FROM s{i-1} "
            f"UNION ALL SELECT sym.src AS v, s.j, s.rho FROM s{i-1} s "
            f"JOIN sym ON sym.dst = s.v) GROUP BY v, j)"
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT v, {est} AS b FROM (SELECT v, count(*) AS nnz, "
            f"sum(1.0 / power(2.0, rho)) AS snz FROM s{i} GROUP BY v))"
        )
    h = "0.0"
    for i in range(1, t_max + 1):
        op = "/" if weight == "inv" else "*"
        h = f"({h} + (b{i}.b - b{i-1}.b) {op} {float(i)})"
    joins = "b0 " + " ".join(
        f"JOIN b{i} ON b{i}.v = b0.v" for i in range(1, t_max + 1)
    )
    final = final_fmt.format(h=h, r=f"b{t_max}.b")
    return (
        ", ".join(parts)
        + f" SELECT b0.v AS v, {_round6(final)} AS {colname} FROM {joins}"
    )


def hyperball_unrolled_sql(edges_sql: str, t: int) -> str:
    """DuckDB twin of ``hyperball_balls``: identical register derivation,
    ``t`` unrolled join+groupBy-max rounds, identical estimator text."""
    j_expr, rho_expr = _register_exprs()
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v, u FROM e)",
        "verts AS (SELECT DISTINCT src AS v FROM sym)",
        f"s0 AS MATERIALIZED (SELECT v, CAST({j_expr} AS INT) AS j, "
        f"CAST({rho_expr} AS INT) AS rho FROM verts)",
    ]
    for i in range(1, t + 1):
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT v, j, max(rho) AS rho FROM ("
            f"SELECT v, j, rho FROM s{i-1} "
            f"UNION ALL SELECT sym.src AS v, s.j, s.rho FROM s{i-1} s "
            f"JOIN sym ON sym.dst = s.v) GROUP BY v, j)"
        )
    est = _estimate_expr()
    return (
        ", ".join(parts)
        + f", agg AS (SELECT v, count(*) AS nnz, sum(1.0 / power(2.0, rho)) AS snz "
        f"FROM s{t} GROUP BY v) "
        f"SELECT v, {est} AS ball_est FROM agg"
    )

"""Link prediction by common-neighbor scoring — the friend-of-a-friend query.

Beyond the reference (strictly a TC engine) but the same workload shape: the
candidate pairs ARE the open wedges the triangle kernel probes, so the
DODG machinery bounds this exactly like it bounds counting.

Two phases, mirroring the engine's LSH design (bounded candidate generation,
then exact re-score of candidates only):

  1. candidates — non-adjacent pairs (a, b) sharing at least one common
     LOWER-RANKED neighbor, enumerated from DODG out-lists: every vertex w
     contributes C(outdeg⁺(w), 2) pairs, and outdeg⁺ ≤ O(√m) (the DODG
     bound), so total candidate volume is O(m^1.5) worst-case and far less on
     real graphs — never the all-pairs O(n²), and hub-skew-proof for the same
     reason the kernel is.
  2. exact score — |N(a) ∩ N(b)| over the FULL symmetric adjacency for just
     the surviving candidates (two vertex-keyed joins), so the reported score
     is the standard common-neighbor count, not a rank-truncated variant.

Recall contract (deterministic, shared with the oracle): a pair (a, b) is
generated iff some common neighbor w ranks below BOTH endpoints — i.e. iff
its minimum-rank common neighbor is rank-admissible as a DODG center. Pairs
whose every common neighbor outranks an endpoint (hub-only intermediaries)
are skipped; that is the deliberate scale trade — exhaustive generation is
the symmetric wedge join, Σ deg² and hub-quadratic. Since degree-rank makes
high-rank = high-degree, the skipped wedges are exactly the
through-a-mega-hub pairs that common-neighbor scoring over-counts anyway
(the same reason Adamic–Adar down-weights them).

Output: ``(a, b, common: long)`` with a < b, (a,b) ∉ E, common ≥ min_common —
integer-exact, partitioning-invariant, ORDER-free (driver hash sorts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.normalize import orient_dodg, undirect


def common_neighbor_pairs(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Candidate non-edges scored by exact common-neighbor count."""
    d = orient_dodg(edges).localCheckpoint(eager=False)
    # phase 1: DODG wedge pairs (both spokes out of the same center)
    n1 = d.select(F.col("src").alias("w"), F.col("dst").alias("x"))
    n2 = d.select(F.col("src").alias("w"), F.col("dst").alias("y"))
    cands = (
        n1.join(n2, "w")
        .where(F.col("x") != F.col("y"))
        .select(
            F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b")
        )
        .distinct()
        # non-adjacent only: drop pairs that are already edges
        .join(edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
              ["a", "b"], "left_anti")
        .localCheckpoint(eager=False)
    )
    # phase 2: exact |N(a) ∩ N(b)| over the full symmetric adjacency
    sym = undirect(edges)
    na = sym.select(F.col("src").alias("a"), F.col("dst").alias("w"))
    nb = sym.select(F.col("src").alias("b"), F.col("dst").alias("w"))
    scored = (
        cands.join(na, "a")
        .join(nb, ["b", "w"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
    )
    return scored.where(F.col("common") >= min_common)


def link_prediction_scores(edges: DataFrame, min_common: int = 2) -> DataFrame:
    """Candidate non-edges with the standard link-prediction score family:
    raw common-neighbor count, adjacency Jaccard
    ``common / (deg(a) + deg(b) − common)``, and Adamic–Adar
    ``Σ_w 1/ln(deg(w))`` (Adamic & Adar 2003 — down-weights mega-hub
    intermediaries; deg(w) ≥ 2 for any common neighbor, so ln is safe).

    Same two-phase plan as ``common_neighbor_pairs`` (DODG-bounded candidate
    wedges, exact re-score); the per-neighbor degree joins ride the existing
    vertex-keyed shuffles. Floats rounded to 6 digits for oracle parity.
    Output: ``(a, b, common: long, jaccard: double, adamic_adar: double)``.
    """
    from trianglecounting_spark.operators.normalize import degrees

    d = orient_dodg(edges).localCheckpoint(eager=False)
    n1 = d.select(F.col("src").alias("w"), F.col("dst").alias("x"))
    n2 = d.select(F.col("src").alias("w"), F.col("dst").alias("y"))
    cands = (
        n1.join(n2, "w")
        .where(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
        .distinct()
        .join(edges.select(F.col("u").alias("a"), F.col("v").alias("b")),
              ["a", "b"], "left_anti")
        .localCheckpoint(eager=False)
    )
    deg = degrees(edges).localCheckpoint(eager=False)
    sym = undirect(edges)
    na = sym.select(F.col("src").alias("a"), F.col("dst").alias("w"))
    nb = sym.select(F.col("src").alias("b"), F.col("dst").alias("w"))
    deg_w = deg.select(F.col("v").alias("w"), F.col("deg").alias("deg_w"))
    scored = (
        cands.join(na, "a")
        .join(nb, ["b", "w"])
        .join(deg_w, "w")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("common"),
            F.sum(F.lit(1.0) / F.log(F.col("deg_w"))).alias("aa_raw"),
        )
        .where(F.col("common") >= min_common)
    )
    deg_a = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    deg_b = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    return (
        scored.join(deg_a, "a")
        .join(deg_b, "b")
        .select(
            "a",
            "b",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_a") + F.col("deg_b") - F.col("common")),
                6,
            ).alias("jaccard"),
            F.round(F.col("aa_raw"), 6).alias("adamic_adar"),
        )
    )


def link_prediction_scores_sql(edges_sql: str, min_common: int = 2) -> str:
    """DuckDB twin of ``link_prediction_scores``."""
    return (
        f"WITH e AS MATERIALIZED ({edges_sql}), "
        "deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x), "
        "d AS MATERIALIZED (SELECT CASE WHEN (du.deg < dv.deg) OR "
        "(du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v END AS src, "
        "CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v) "
        "THEN e.v ELSE e.u END AS dst "
        "FROM e JOIN deg du ON du.v = e.u JOIN deg dv ON dv.v = e.v), "
        "cand AS MATERIALIZED (SELECT DISTINCT least(n1.dst, n2.dst) AS a, "
        "greatest(n1.dst, n2.dst) AS b "
        "FROM d n1 JOIN d n2 ON n2.src = n1.src AND n1.dst <> n2.dst "
        "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = least(n1.dst, n2.dst) "
        "AND e.v = greatest(n1.dst, n2.dst))), "
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v AS src, u AS dst FROM e), "
        "sc AS MATERIALIZED (SELECT c.a, c.b, "
        "CAST(count(*) AS BIGINT) AS common, "
        "sum(1.0 / ln(dw.deg)) AS aa_raw "
        "FROM cand c JOIN sym na ON na.src = c.a "
        "JOIN sym nb ON nb.src = c.b AND nb.dst = na.dst "
        "JOIN deg dw ON dw.v = na.dst "
        f"GROUP BY c.a, c.b HAVING count(*) >= {min_common}) "
        "SELECT s.a, s.b, s.common, "
        "round(CAST(s.common AS DOUBLE) / (da.deg + db.deg - s.common), 6) AS jaccard, "
        "round(s.aa_raw, 6) AS adamic_adar "
        "FROM sc s JOIN deg da ON da.v = s.a JOIN deg db ON db.v = s.b"
    )


def common_neighbor_pairs_sql(edges_sql: str, min_common: int = 2) -> str:
    """DuckDB twin: identical DODG candidate generation + exact re-score."""
    return (
        f"WITH e AS MATERIALIZED ({edges_sql}), "
        "deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x), "
        "d AS MATERIALIZED (SELECT CASE WHEN (du.deg < dv.deg) OR "
        "(du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v END AS src, "
        "CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v) "
        "THEN e.v ELSE e.u END AS dst "
        "FROM e JOIN deg du ON du.v = e.u JOIN deg dv ON dv.v = e.v), "
        "cand AS MATERIALIZED (SELECT DISTINCT least(n1.dst, n2.dst) AS a, "
        "greatest(n1.dst, n2.dst) AS b "
        "FROM d n1 JOIN d n2 ON n2.src = n1.src AND n1.dst <> n2.dst "
        "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = least(n1.dst, n2.dst) "
        "AND e.v = greatest(n1.dst, n2.dst))), "
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v AS src, u AS dst FROM e) "
        "SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS common "
        "FROM cand c JOIN sym na ON na.src = c.a "
        "JOIN sym nb ON nb.src = c.b AND nb.dst = na.dst "
        f"GROUP BY c.a, c.b HAVING count(*) >= {min_common}"
    )


def cocitation(directed: DataFrame, min_common: int = 2) -> DataFrame:
    """Co-citation strength (Small 1973, the classic link-based relatedness
    signal): pairs of pages cited TOGETHER — ``common`` = number of shared
    in-neighbors — for every pair with ``common ≥ min_common``. Output
    ``(a, b, common)`` with a < b.

    Scale: pair volume is Σ_w outdeg(w)² over citing pages, so mega-hub
    CITERS (link farms, navigation boilerplate) dominate; the standard
    production mitigation is dropping stop-pages (outdeg above a cap — the
    same hub-cap move as ANN's bucket salt) before pairing. The aggregate
    itself is a map-side-combined count keyed on the pair.
    """
    a = directed.select(F.col("src").alias("w"), F.col("dst").alias("a"))
    b = directed.select(F.col("src").alias("w"), F.col("dst").alias("b"))
    return (
        a.join(b, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= min_common)
    )


def cocitation_sql(directed_ctes: str, rel: str = "de", min_common: int = 2) -> str:
    """DuckDB twin of ``cocitation`` over a directed-edge CTE block."""
    return (
        f"WITH {directed_ctes} "
        f"SELECT x.dst AS a, y.dst AS b, CAST(count(*) AS BIGINT) AS common "
        f"FROM {rel} x JOIN {rel} y ON y.src = x.src AND x.dst < y.dst "
        f"GROUP BY x.dst, y.dst HAVING count(*) >= {min_common}"
    )


def bibliographic_coupling(directed: DataFrame, min_common: int = 2) -> DataFrame:
    """Bibliographic coupling (Kessler 1963) — the outlink mirror of
    co-citation: pairs of pages CITING the same targets, ``common`` =
    shared out-neighbors, a < b, filtered at ``min_common``. Same shape and
    the same hub caveat as ``cocitation`` with in/out roles swapped
    (volume Σ_w indeg(w)² over cited pages)."""
    a = directed.select(F.col("dst").alias("w"), F.col("src").alias("a"))
    b = directed.select(F.col("dst").alias("w"), F.col("src").alias("b"))
    return (
        a.join(b, "w")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("common"))
        .where(F.col("common") >= min_common)
    )


def bibliographic_coupling_sql(directed_ctes: str, rel: str = "de",
                               min_common: int = 2) -> str:
    """DuckDB twin of ``bibliographic_coupling``."""
    return (
        f"WITH {directed_ctes} "
        f"SELECT x.src AS a, y.src AS b, CAST(count(*) AS BIGINT) AS common "
        f"FROM {rel} x JOIN {rel} y ON y.dst = x.dst AND x.src < y.src "
        f"GROUP BY x.src, y.src HAVING count(*) >= {min_common}"
    )


def simrank(directed_edges: DataFrame, iterations: int = 3, c: float = 0.8,
            state_digits: int = 9, out_digits: int = 6) -> DataFrame:
    """SimRank (Jeh & Widom, KDD 2002) — "two pages are similar if they are
    linked-to by similar pages": the in-link recursive companion of
    co-citation (which is exactly SimRank's first iteration, unnormalized).

        s(a,a) = 1
        s(a,b) = c / (|I(a)|·|I(b)|) · Σ_{i∈I(a), j∈I(b)} s(i, j)

    Fixed ``iterations`` rounds from s₀ = identity, as in the paper; pairs
    with no common ancestry stay absent (sparse pair-state, never the dense
    n² matrix). Output: ``(a, b, score)`` for a ≠ b with score > 0, both
    orientations (the definitional symmetric relation), floats at
    ``out_digits``.

    Engine-parity contract: the pair state is ROUNDED to ``state_digits``
    every round in BOTH engines (here and :func:`simrank_unrolled_sql`), so
    each round starts from identical doubles and float-summation order can
    only perturb ~1e-16·|I| per round — never near a 6dp output boundary.

    Scale: each round is two src-keyed equi-joins of the pair state against
    the (deduplicated) edge table plus one (a, b)-keyed aggregate — the
    state is the classic SimRank quadratic cost, which is why web-scale
    deployments truncate (top-k per vertex / threshold pruning); this exact
    form is meant for bounded similarity subgraphs (the sampled reciprocated
    web sample in the contract row), and the joins themselves are plain
    shuffles AQE handles. Per-round checkpoint keeps lineage flat.
    """
    from trianglecounting_spark.plans.cache import IterationScope

    with IterationScope(directed_edges.sparkSession) as it:
        # held, not kept: every round's state reads them again
        e = it.hold(directed_edges.select("src", "dst").distinct().localCheckpoint(eager=True))
        verts = it.hold(
            e.select(F.col("src").alias("v"))
            .unionAll(e.select(F.col("dst").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("ind"))
        diag = verts.select(
            F.col("v").alias("a"), F.col("v").alias("b"), F.lit(1.0).alias("s")
        )
        state = diag
        for _ in range(int(iterations)):
            t = (
                state.join(e.select(F.col("src").alias("a"),
                                    F.col("dst").alias("na")), "a")
                .join(e.select(F.col("src").alias("b"),
                               F.col("dst").alias("nb")), "b")
                .groupBy(F.col("na").alias("a"), F.col("nb").alias("b"))
                .agg(F.sum("s").alias("t"))
            )
            scored = (
                t.where(F.col("a") != F.col("b"))
                .join(indeg.select(F.col("dst").alias("a"),
                                   F.col("ind").alias("ia")), "a")
                .join(indeg.select(F.col("dst").alias("b"),
                                   F.col("ind").alias("ib")), "b")
                .select(
                    "a", "b",
                    F.round(
                        F.lit(float(c)) * F.col("t") / (F.col("ia") * F.col("ib")),
                        int(state_digits),
                    ).alias("s"),
                )
            )
            new_state = it.keep(scored.unionAll(diag))
            it.release(state)
            state = new_state
        return it.result(state.where(
            (F.col("a") != F.col("b")) & (F.col("s") > 0)
        ).select("a", "b", F.round("s", int(out_digits)).alias("score")))


def simrank_unrolled_sql(edges_sql: str, iterations: int = 3, c: float = 0.8,
                         state_digits: int = 9, out_digits: int = 6) -> str:
    """DuckDB oracle for :func:`simrank` — the identical rounds unrolled,
    with the same per-round ``state_digits`` rounding."""
    parts = [
        f"WITH sre AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "srverts AS MATERIALIZED (SELECT DISTINCT v FROM "
        "(SELECT src AS v FROM sre UNION ALL SELECT dst FROM sre))",
        "srind AS MATERIALIZED (SELECT dst, count(*) AS ind FROM sre GROUP BY dst)",
        "srs0 AS MATERIALIZED (SELECT v AS a, v AS b, 1.0 AS s FROM srverts)",
    ]
    for k in range(1, int(iterations) + 1):
        parts.append(
            f"srt{k} AS MATERIALIZED (SELECT e1.dst AS a, e2.dst AS b, "
            f"sum(p.s) AS t FROM srs{k-1} p "
            f"JOIN sre e1 ON e1.src = p.a JOIN sre e2 ON e2.src = p.b "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            f"srs{k} AS MATERIALIZED (SELECT t.a, t.b, "
            f"round({float(c)!r} * t.t / (ia.ind * ib.ind), {int(state_digits)}) AS s "
            f"FROM srt{k} t JOIN srind ia ON ia.dst = t.a "
            f"JOIN srind ib ON ib.dst = t.b WHERE t.a <> t.b "
            "UNION ALL SELECT v, v, 1.0 FROM srverts)"
        )
    return (
        ", ".join(parts)
        + f" SELECT a, b, round(s, {int(out_digits)}) AS score "
        f"FROM srs{iterations} WHERE a <> b AND s > 0"
    )

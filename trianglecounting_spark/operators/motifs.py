"""Higher-order motif counts beyond triangles: 4-cliques and 4-cycles.

The reference stops at triangles (its kernel IS the k=3 clique counter);
these two lanes extend the same degree-ordered machinery to the next motif
sizes, the way the kClist family (Danisch et al., WWW'18) extends
degree-ordered triangle enumeration:

* ``four_clique_count`` — k=4 cliques via DODG triangle enumeration + one
  extension join per remaining edge. On the DODG every clique {a<b<c<x} (rank
  order) is generated exactly once from its rank-ordered triangle (a,b,c) by
  extending from the HIGHEST-ranked corner c: x must lie in N⁺(c) (the
  smallest of the three out-lists — degree-ordering keeps |N⁺| = O(√m),
  `pre_processing_dodg.h:6-9`) and be confirmed in N⁺(a) ∩ N⁺(b) by two
  equi-joins. The triangle list comes from the Arrow intersection kernel
  (`triangles.triangle_enumerate_from_dodg`); the extension is three
  shuffle joins Catalyst plans (AQE skew-splits a hot c).

* ``square_count`` — global 4-cycle count via the degree-ordered wedge-pair
  identity (the ESCAPE scheme, Pinar/Seshadhri/Vishal WWW'17 §4): with ≺ the
  DODG total order (degree, then id), classify each 4-cycle by the rank of
  the vertex OPPOSITE the cycle minimum, and every case is covered by pairs
  of wedges from just the two CHEAP directed families —

      oo(x,y) = |{m : m→x ∧ m→y}|      (center ranked below both endpoints)
      p2(x,y) = |{m : x→m→y}|          (center ranked between the endpoints)

      C4 = Σ_{x≺y} [ C(oo,2) + oo·p2 + C(p2,2) ]

  The expensive family — centers ranked ABOVE both endpoints, the
  C(indeg,2) hub blowup — never appears: a cycle whose second wedge has a
  top-ranked center is counted from its other diagonal, where that same
  wedge is a directed 2-path. Enumeration volume is Σ C(outdeg,2) +
  Σ indeg·outdeg — the triangle kernel's own probe-volume class (O(α·m)),
  versus Σ deg² for naive codegree. ``square_count_codeg`` keeps the naive
  co-degree identity (C4 = ½ Σ C(codeg,2)) as the declarative twin: it IS
  the DuckDB oracle's shape and the pytest differential partner.

  Measured (local[32], identical counts asserted): on the near-regular
  sf0.1 copart graph (avg deg 120, no hubs) the two are even (~15 s both —
  fixed shuffle costs dominate); on heavy-tailed R-MAT ef=16 the ordered
  form wins 5.2× at scale 16 (27 s vs 140 s; max deg 9.7 k, 620 M naive
  wedges) and 17.9× at scale 17 (20 s vs 357 s; max deg 15.6 k, 1.72 G
  naive wedges) — the gap grows with skew because naive wedge volume is
  quadratic in hub degree while the ordered families stay bounded.

Scale notes: the 4-clique extension joins carry one row per (triangle ×
out-neighbor of its top corner) — Σ_tri outdeg(c) ≤ triangles · O(√m), the
same bound kClist proves; no broadcast of the big side, all three joins are
plain shuffles on (c), (b,x), (a,x). The square lane's two wedge joins key
on the center m (out-degree capped by degree ordering ⇒ bounded fan-out even
at hub centers) and aggregate on the unordered endpoint pair — map-side
combined, mild reducer skew. All-integer arithmetic → exact,
partitioning-invariant counts; both return 1-row exact LongType DataFrames.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from trianglecounting_spark.operators.normalize import orient_dodg, undirect
from trianglecounting_spark.operators.triangles import triangle_enumerate_from_dodg
from trianglecounting_spark.plans.tuning import maybe_broadcast


def four_clique_count(
    edges: DataFrame, num_partitions: int | None = None, hub_k: int | None = None
) -> DataFrame:
    """Exact global 4-clique count. Output: one row ``(four_cliques: long)``.

    Plan: DODG (built once, shared by the enumerate kernel and the three
    extension joins) → kernel triangle list (a,b,c) in rank order → extend
    with x ∈ N⁺(c), keep iff (b,x) and (a,x) are DODG edges.

    Round 6: when the DODG fits ``tuning.BROADCAST_ROWS`` (size-aware — the same
    budget class as the kernel's hub CSR), the three extension joins
    BROADCAST the edge table, so the large quads intermediate
    (Σ_tri outdeg(c) rows) is never exchanged — the extension fuses into
    one narrow stage downstream of the enumerate kernel. At web scale the
    joins fall back to the plain shuffles (AQE skew-splits a hot c).
    """
    d = orient_dodg(edges).localCheckpoint(eager=False)
    n_d = d.count()
    tri = triangle_enumerate_from_dodg(d, num_partitions, hub_k)
    dc, db, da = (
        maybe_broadcast(d.select(F.col("src").alias(c), F.col("dst").alias("x")), n_d)
        for c in "cba"
    )
    quads = tri.join(dc, "c").join(db, ["b", "x"]).join(da, ["a", "x"])
    return quads.agg(F.count(F.lit(1)).cast("long").alias("four_cliques"))


def four_clique_sql(edges_sql: str) -> str:
    """DuckDB twin of ``four_clique_count``: identical DODG + triangle CTEs,
    identical extension joins."""
    return (
        f"WITH e AS MATERIALIZED ({edges_sql}), "
        "deg AS MATERIALIZED (SELECT x AS v, count(*) AS deg FROM "
        "(SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) GROUP BY x), "
        "d AS MATERIALIZED (SELECT "
        "CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v) "
        "THEN e.u ELSE e.v END AS src, "
        "CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND e.u < e.v) "
        "THEN e.v ELSE e.u END AS dst "
        "FROM e JOIN deg du ON du.v = e.u JOIN deg dv ON dv.v = e.v), "
        "tri AS MATERIALIZED (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c "
        "FROM d e1 JOIN d e2 ON e2.src = e1.dst "
        "JOIN d e3 ON e3.src = e1.src AND e3.dst = e2.dst) "
        "SELECT CAST(count(*) AS BIGINT) AS four_cliques FROM tri "
        "JOIN d dc ON dc.src = tri.c "
        "JOIN d db ON db.src = tri.b AND db.dst = dc.dst "
        "JOIN d da ON da.src = tri.a AND da.dst = dc.dst"
    )


def square_count(edges: DataFrame) -> DataFrame:
    """Exact global 4-cycle (square) count, degree-ordered (see module
    docstring for the identity and why no C(indeg,2) family is needed).
    Output: one row ``(squares: long)``.

    The two wedge families are canonicalized to the SAME unordered endpoint
    key: p2 pairs are (src≺dst) by construction (x ≺ m ≺ y transits); oo
    pairs order the two out-neighbors by the DODG's (degree, id) rank, read
    from the degree table the DODG build already computed.

    One-pass aggregation (round 6): both families join on the SAME key m
    (the wedge center) and aggregate on the SAME canonical (x, y) pair, so
    the two left sides are unioned with a family tag and the whole identity
    is ONE join + ONE conditional-count groupBy — replacing two joins, two
    groupBys and a full_outer merge of the pair tables (3 pair-keyed
    exchanges + a join → 1 exchange; identical integer counts per pair, so
    identical squares).
    """
    from trianglecounting_spark.operators.normalize import degrees

    deg = degrees(edges).localCheckpoint(eager=False)
    d = orient_dodg(edges, deg).localCheckpoint(eager=False)
    dd = d.join(
        deg.select(F.col("v").alias("dst"), F.col("deg").alias("deg_dst")), "dst"
    ).localCheckpoint(eager=False)
    out_side = dd.select(
        F.col("src").alias("m"), F.col("dst").alias("x"),
        F.col("deg_dst").alias("dx"), F.lit(0).alias("fam"),
    )
    in_side = d.select(
        F.col("dst").alias("m"), F.col("src").alias("x"),
        F.lit(None).cast("long").alias("dx"), F.lit(1).alias("fam"),
    )
    right = dd.select(
        F.col("src").alias("m"), F.col("dst").alias("y"), F.col("deg_dst").alias("dy")
    )
    keep = (F.col("fam") == 1) | (
        (F.col("dx") < F.col("dy"))
        | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    )
    pairs = (
        out_side.unionAll(in_side)
        .join(right, "m")
        .where(keep)
        .groupBy("x", "y")
        .agg(
            F.count(F.when(F.col("fam") == 0, 1)).alias("o"),
            F.count(F.when(F.col("fam") == 1, 1)).alias("p"),
        )
    )
    return pairs.agg(
        F.sum(F.expr("o * (o - 1) div 2 + o * p + p * (p - 1) div 2"))
        .cast("long")
        .alias("squares")
    )


def square_count_codeg(edges: DataFrame) -> DataFrame:
    """Naive co-degree twin of ``square_count`` (the DuckDB oracle's shape):
    C4 = ½ Σ_{u<w} C(codeg(u,w), 2) — every 4-cycle counted once per
    diagonal. Full Σ deg² wedge volume; kept as the differential partner.
    The final ÷2 is exact (Σ C(codeg,2) is provably even), so everything
    stays in int64 (``div``, never float division).
    """
    sym = undirect(edges).localCheckpoint(eager=False)
    n1 = sym.select(F.col("src").alias("ctr"), F.col("dst").alias("u"))
    n2 = sym.select(F.col("src").alias("ctr"), F.col("dst").alias("w"))
    codeg = (
        n1.join(n2, "ctr")
        .where(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("cd"))
    )
    pair_pairs = F.sum(F.expr("cd * (cd - 1) div 2"))
    return codeg.agg(pair_pairs.alias("_pp")).select(
        F.expr("_pp div 2").cast("long").alias("squares")
    )


def square_count_sql(edges_sql: str) -> str:
    """DuckDB twin of ``square_count`` — same codeg identity, integer ÷."""
    return (
        f"WITH e AS MATERIALIZED ({edges_sql}), "
        "sym AS MATERIALIZED (SELECT u AS src, v AS dst FROM e "
        "UNION ALL SELECT v, u FROM e), "
        "codeg AS (SELECT n1.dst AS u, n2.dst AS w, count(*) AS cd "
        "FROM sym n1 JOIN sym n2 ON n1.src = n2.src AND n1.dst < n2.dst "
        "GROUP BY n1.dst, n2.dst) "
        "SELECT CAST(sum(cd * (cd - 1) // 2) // 2 AS BIGINT) AS squares "
        "FROM codeg"
    )


def directed_triangle_census(dedges: DataFrame) -> DataFrame:
    """Cyclic vs transitive directed-triangle census over a directed edge
    table ``(src, dst)`` — the directed companion of the undirected kernel
    and the classic closed-triad split of the Holland–Leinhardt census
    (every orientation of a closed triple is either a 3-cycle or contains a
    source→middle→sink transitive pattern; web graphs skew heavily
    transitive, citation-style).

    Spark-first plan: do NOT 3-way-join the directed table (its hubs carry
    both directions — Σ deg² wedge volume). Instead (1) reduce to the
    UNDIRECTED support and enumerate its triangles once on the degree-ordered
    DODG via the Arrow intersection kernel — the O(α·m) path every other
    motif lane rides; (2) annotate each of a triangle's 3 canonical pairs
    with its direction flags (fwd/rev ∈ {0,1}, at-least-one by construction)
    through three broadcast-or-shuffle equi-joins against the per-pair flag
    table; (3) count orientation assignments per triangle in closed form —

        total assignments  = Π_pairs (fwd + rev)
        cyclic             = [x→y][y→z][z→x] + [y→x][z→y][x→z]
        transitive         = total − cyclic

    (a tournament on 3 vertices is cyclic or transitive, nothing else), and
    sum. Counting instances this way matches the naive ordered-triple SQL
    census exactly while touching each undirected triangle once.

    Output: one row ``(cyclic_triangles, transitive_triangles)`` —
    integer-exact, partitioning-invariant.
    """
    pairs = (
        dedges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            (F.col("src") < F.col("dst")).cast("long").alias("is_fwd"),
        )
        .groupBy("u", "v")
        .agg(
            F.max("is_fwd").alias("fwd"),
            F.max(1 - F.col("is_fwd")).alias("rev"),
        )
    )
    # pairs IS the canonical simple undirected support (u < v, distinct, no
    # self-loops — normalize_edges' output contract, built inline above)
    tri = triangle_enumerate_from_dodg(orient_dodg(pairs.select("u", "v")))
    # canonical ascending corners (x < y < z) -> canonical pairs
    sorted_tri = tri.select(
        F.array_sort(F.array("a", "b", "c")).alias("s")
    ).select(
        F.col("s")[0].alias("x"), F.col("s")[1].alias("y"), F.col("s")[2].alias("z")
    )
    j = (
        sorted_tri.join(
            pairs.select(
                F.col("u").alias("x"), F.col("v").alias("y"),
                F.col("fwd").alias("f_xy"), F.col("rev").alias("r_xy"),
            ),
            ["x", "y"],
        )
        .join(
            pairs.select(
                F.col("u").alias("y"), F.col("v").alias("z"),
                F.col("fwd").alias("f_yz"), F.col("rev").alias("r_yz"),
            ),
            ["y", "z"],
        )
        .join(
            pairs.select(
                F.col("u").alias("x"), F.col("v").alias("z"),
                F.col("fwd").alias("f_xz"), F.col("rev").alias("r_xz"),
            ),
            ["x", "z"],
        )
    )
    total = (
        (F.col("f_xy") + F.col("r_xy"))
        * (F.col("f_yz") + F.col("r_yz"))
        * (F.col("f_xz") + F.col("r_xz"))
    )
    cyc = (
        F.col("f_xy") * F.col("f_yz") * F.col("r_xz")
        + F.col("r_xy") * F.col("r_yz") * F.col("f_xz")
    )
    return j.agg(
        F.coalesce(F.sum(cyc), F.lit(0)).cast("long").alias("cyclic_triangles"),
        F.coalesce(F.sum(total - cyc), F.lit(0)).cast("long").alias(
            "transitive_triangles"
        ),
    )


def directed_triangle_census_sql(directed_ctes: str, rel: str = "de") -> str:
    """DuckDB oracle over a directed-edge CTE block: the naive ordered-triple
    census. Cyclic triples are quotiented by starting the cycle at the
    minimum vertex; transitive (source→middle→sink) triples are
    role-distinct so each instance appears exactly once in the join."""
    return (
        f"WITH {directed_ctes}, "
        f"cde AS MATERIALIZED (SELECT DISTINCT src, dst FROM {rel} "
        "WHERE src <> dst) "
        "SELECT "
        "(SELECT count(*) FROM cde e1 JOIN cde e2 ON e2.src = e1.dst "
        "JOIN cde e3 ON e3.src = e2.dst AND e3.dst = e1.src "
        "WHERE e1.src < e1.dst AND e1.src < e2.dst) AS cyclic_triangles, "
        "(SELECT count(*) FROM cde e1 JOIN cde e2 ON e2.src = e1.dst "
        "JOIN cde e3 ON e3.src = e1.src AND e3.dst = e2.dst "
        "WHERE e1.src <> e2.dst) AS transitive_triangles"
    )

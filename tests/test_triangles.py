"""Triangle counting: closed-form fixtures (FIXTURES.md §3), plan agreement
(SQL three-way join vs Arrow kernel — the reference's own differential-test
methodology, SURVEY.md §5), and per-edge support."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trianglecounting_spark.operators.triangles import (
    clustering_coefficients,
    triangle_count_kernel,
    triangle_count_per_directed_edge_kernel,
    triangle_count_sql,
    triangle_per_edge_support,
    wedge_count,
)
from trianglecounting_spark.operators.normalize import normalize_edges
from trianglecounting_spark.sources import generators as g


CASES = [
    ("k10", lambda s: g.complete_graph(s, 10), 120),
    ("cycle100", lambda s: g.cycle_graph(s, 100), 0),
    ("star100", lambda s: g.star_graph(s, 100), 0),
    ("two_cliques", lambda s: g.two_cliques_bridge(s), 40),
    ("disjoint33", lambda s: g.disjoint_triangles(s, 33), 33),
]


@pytest.mark.parametrize("name,builder,expected", CASES)
def test_closed_form_counts_sql(spark, name, builder, expected):
    assert triangle_count_sql(builder(spark)).collect()[0].triangles == expected


@pytest.mark.parametrize("name,builder,expected", CASES)
def test_closed_form_counts_kernel(spark, name, builder, expected):
    assert triangle_count_kernel(builder(spark)).collect()[0].triangles == expected


def test_plans_agree_on_rmat(spark):
    """Differential test on a power-law graph: the declarative plan and the
    vectorized kernel must agree exactly (reference methodology: two engines
    must agree, SURVEY.md §5)."""
    e = normalize_edges(g.rmat_graph(spark, scale=9, edge_factor=8))
    a = triangle_count_sql(e).collect()[0].triangles
    b = triangle_count_kernel(e).collect()[0].triangles
    assert a == b > 0


def test_per_edge_support_k10(spark):
    sup = triangle_per_edge_support(g.complete_graph(spark, 10)).collect()
    assert len(sup) == 45
    assert all(r.support == 8 for r in sup)


def test_per_edge_support_sums_to_3x_triangles(spark):
    e = normalize_edges(g.rmat_graph(spark, scale=8, edge_factor=8))
    total = triangle_per_edge_support(e).agg(F.sum("support")).collect()[0][0]
    tri = triangle_count_sql(e).collect()[0].triangles
    assert total == 3 * tri


def test_per_directed_edge_kernel_matches_global(spark):
    e = g.two_cliques_bridge(spark)
    per_edge = triangle_count_per_directed_edge_kernel(e)
    assert per_edge.agg(F.sum("cnt")).collect()[0][0] == 40


def test_wedges_and_clustering(spark):
    # K4: 4 vertices deg 3 → wedges = 4*3 = 12; triangles = 4; each vertex in 3
    e = g.complete_graph(spark, 4)
    assert wedge_count(e).collect()[0].wedges == 12
    cc = clustering_coefficients(e).collect()
    assert all(r.tri == 3 and r.wedges_v == 3 for r in cc)


def test_per_edge_support_matches_common_neighbor_join(spark):
    """Regression: triangle corners come out in RANK order (deg,id), not id
    order — support must still attach to the id-canonical edge. Independent
    formula: |N(u) ∩ N(v)| via the symmetric adjacency two-join."""
    from trianglecounting_spark.operators.normalize import undirect

    e = normalize_edges(g.rmat_graph(spark, scale=7, edge_factor=6)).localCheckpoint(True)
    sym = undirect(e)
    a = sym.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    b = sym.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    expected = {
        (r.u, r.v): r.s
        for r in e.join(a, "u").join(b, ["v", "w"]).groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("s")).collect()
    }
    got = {(r.u, r.v): r.support for r in triangle_per_edge_support(e).collect()}
    for k, v in got.items():
        assert expected.get(k, 0) == v, k


def test_kernel_partitioning_invariance(spark):
    """Exact count must not depend on the partition count (north_rule)."""
    e = normalize_edges(g.rmat_graph(spark, scale=8, edge_factor=8))
    counts = {
        triangle_count_kernel(e.repartition(n), num_partitions=n).collect()[0].triangles
        for n in (1, 3, 16)
    }
    assert len(counts) == 1


def test_kernel_probe_instrumentation(spark):
    """Instrumented intersection work (A8): on K_n every probe is a hit, and
    probes = Σ_v indeg(v)·outdeg(v) = Σ_v v·(n-1-v) — counted in-kernel via
    df.observe, not derived from wall time."""
    from pyspark.sql import Observation

    from trianglecounting_spark.operators.triangles import triangle_count_kernel

    n = 6
    e = g.complete_graph(spark, n)
    obs = Observation("kernel_metrics")
    tri = triangle_count_kernel(e, observation=obs).collect()[0].triangles
    assert tri == 20  # C(6,3)
    m = obs.get
    expected_probes = sum(v * (n - 1 - v) for v in range(n))
    assert m["probes"] == expected_probes == 20
    assert m["hits"] == 20


def test_hub_csr_budget_fallback(spark, monkeypatch):
    """When the flat hub CSR would exceed the byte budget, the kernel must
    fall back to the hub-less join path (same exact count) instead of
    collecting an unbounded CSR onto the driver."""
    import trianglecounting_spark.operators.triangles as T

    e = normalize_edges(g.rmat_graph(spark, scale=9, edge_factor=8))
    expected = triangle_count_kernel(e).collect()[0].triangles
    monkeypatch.setattr(T, "HUB_BUDGET_BYTES", 64)  # a few rows at most
    d = T.orient_dodg(e).localCheckpoint(eager=False)
    hubs, flat = T._select_hub_csr(d, hub_k=65536)
    assert hubs is None and flat is None  # the guard tripped
    assert T.triangle_count_kernel(e).collect()[0].triangles == expected


def test_triangle_count_delta_matches_recount(spark):
    """Incremental maintenance is exact: Δ(G, B) == tri(G ∪ B) − tri(G) on a
    random split, covers triangles with 1, 2, and 3 new edges, ignores
    re-delivered edges, and is empty-batch safe."""
    from trianglecounting_spark.operators.triangles import triangle_count_delta

    e = normalize_edges(g.rmat_graph(spark, scale=8, edge_factor=10))
    batch = e.where((F.col("u") + F.col("v")) % 3 == 0)
    existing = e.subtract(batch)
    t_union = triangle_count_kernel(e).collect()[0].triangles
    t_old = triangle_count_kernel(existing).collect()[0].triangles
    delta = triangle_count_delta(existing, batch).collect()[0].new_triangles
    assert delta == t_union - t_old
    assert delta > 0  # the split actually creates mixed-edge triangles
    # re-delivering already-ingested edges adds nothing
    assert triangle_count_delta(e, batch).collect()[0].new_triangles == 0
    # a batch that is a pure triangle over fresh vertices: T3 path
    tri_b = spark.createDataFrame(
        [(100001, 100002), (100001, 100003), (100002, 100003)], "u long, v long"
    )
    assert triangle_count_delta(e, tri_b).collect()[0].new_triangles == 1


def test_triangle_count_delta_star_batch(spark):
    """Adversarial batch shape (VERDICT r3 #4): one micro-batch that is a
    10^4-spoke star (a crawl frontier hitting one hub page). The round-3 S2
    built every B-edge pair sharing a vertex — 10^8 rows for this batch —
    before filtering by closure; the closing-edge-first S2 keeps the
    intermediate wedge-bounded, so this completes in seconds AND stays exact
    (the star closes triangles only through existing edges)."""
    from trianglecounting_spark.operators.triangles import triangle_count_delta

    hub, n_spokes = 0, 10_000
    batch = spark.range(1, n_spokes + 1).select(
        F.lit(hub).cast("long").alias("u"), F.col("id").alias("v")
    )
    # existing graph: a chain among the first 2000 spokes — each chain edge
    # (i, i+1) forms a triangle with the two new star edges (0,i), (0,i+1)
    existing = spark.range(1, 2000).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    delta = triangle_count_delta(existing, batch).collect()[0].new_triangles
    assert delta == 1999  # one triangle per chain edge, all via 2 new edges
    # and the pure-recount identity still holds on this shape
    u_all = existing.unionAll(batch)
    t_union = triangle_count_kernel(u_all).collect()[0].triangles
    t_old = triangle_count_kernel(existing).collect()[0].triangles
    assert delta == t_union - t_old


def test_hub_k_zero_and_env_tunables(spark):
    """hub_k=0 disables the hub split entirely (pure join path) with the
    identical exact count; hub_k=None resolves to the module default, a
    constant. The byte budget and full-CSR row cap stay env-tunable
    (SPARK_GRAFT_HUB_BUDGET_BYTES / SPARK_GRAFT_FULL_CSR_ROWS, read at import
    for large-graph runs)."""
    import trianglecounting_spark.operators.triangles as T

    e = normalize_edges(g.rmat_graph(spark, scale=9, edge_factor=8))
    default = T.triangle_count_kernel(e).collect()[0].triangles
    hubless = T.triangle_count_kernel(e, hub_k=0).collect()[0].triangles
    assert hubless == default > 0
    assert T.HUB_K_DEFAULT == 65536


def test_clustering_by_degree_closed_form(spark):
    """K4 plus a pendant on vertex 0: K4 vertices each sit in 3 of the 4
    triangles. deg=3 row: n_k=3, sum_tri=9, c_k = 9/(3*3) = 1.0;
    deg=4 row (the hub): n_k=1, sum_tri=3, c_k = 3/6 = 0.5; the
    degree-1 pendant is excluded (no wedges)."""
    from trianglecounting_spark.operators.triangles import clustering_by_degree

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    g_ = spark.createDataFrame(k4 + [(0, 9)], "u long, v long")
    rows = {r.deg: r for r in clustering_by_degree(g_).collect()}
    assert set(rows) == {3, 4}
    assert (rows[3].n_k, rows[3].sum_tri, rows[3].c_k) == (3, 9, 1.0)
    assert (rows[4].n_k, rows[4].sum_tri, rows[4].c_k) == (1, 3, 0.5)
    rows2 = {r.deg: r for r in clustering_by_degree(g_.repartition(5)).collect()}
    assert rows == rows2


def test_knn_by_degree_closed_form(spark):
    """Star K1,4: hub deg 4 with four deg-1 neighbors -> knn(4) = 4/(1*4)=1.0;
    leaves deg 1, each neighbor (the hub) has deg 4 -> knn(1) = 16/(4*1)=4.0
    — the textbook disassortative spectrum."""
    from trianglecounting_spark.operators.triangles import knn_by_degree

    star = spark.createDataFrame([(0, i) for i in range(1, 5)], "u long, v long")
    rows = {r.deg: r for r in knn_by_degree(star).collect()}
    assert (rows[4].n_k, rows[4].sum_nbr_deg, rows[4].knn) == (1, 4, 1.0)
    assert (rows[1].n_k, rows[1].sum_nbr_deg, rows[1].knn) == (4, 16, 4.0)
    rows2 = {r.deg: r for r in knn_by_degree(star.repartition(3)).collect()}
    assert rows == rows2


def test_edge_jaccard_closed_form(spark):
    """Triangle 0-1-2 plus pendant 2-9. Edge (0,1): support 1, degs 2,2 ->
    jaccard = 1/(2+2-2-1) = 1.0. Edge (0,2): support 1, degs 2,3 ->
    1/(2+3-2-1) = 0.5. Pendant (2,9): support 0, degs 3,1 ->
    0/(3+1-2-0) = 0.0. Isolated edge -> NULL (empty union)."""
    from trianglecounting_spark.operators.triangles import edge_jaccard

    g_ = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 9), (100, 101)], "u long, v long"
    )
    rows = {(r.u, r.v): r for r in edge_jaccard(g_).collect()}
    assert (rows[(0, 1)].support, rows[(0, 1)].jaccard) == (1, 1.0)
    assert (rows[(0, 2)].support, rows[(0, 2)].jaccard) == (1, 0.5)
    assert (rows[(2, 9)].support, rows[(2, 9)].jaccard) == (0, 0.0)
    assert rows[(100, 101)].jaccard is None


@pytest.mark.parametrize(
    "name,builder",
    [
        ("k6", lambda s: g.complete_graph(s, 6)),
        ("rmat9", lambda s: normalize_edges(g.rmat_graph(s, scale=9, edge_factor=8))),
    ],
)
def test_kernel_variants_identical_across_layout_regimes(spark, monkeypatch, name, builder):
    """Every kernel variant (count with its probe/hit counters, per-directed-
    edge counts, enumeration, partial support) gives identical rows in all
    three layout regimes: full broadcast CSR (the default on small graphs),
    the hub split (full CSR disabled) and the plain dst join (``hub_k=0``).
    The hub split and plain join are the only regimes that probe joined
    adjacency slices, so small graphs reach them only through this test.
    Each regime runs twice: on the graph's own ids, where every partition
    tests membership through the id bitmap, and on ids shifted by 2^40,
    where the bitmap would outgrow the partition and the groups
    binary-search instead."""
    from pyspark.sql import Observation

    import trianglecounting_spark.operators.triangles as T

    shift = 1 << 40
    e = builder(spark).localCheckpoint(eager=True)
    e_far = e.select((F.col("u") + shift).alias("u"), (F.col("v") + shift).alias("v"))
    n = 3

    def views(edges):
        rows = T.orient_dodg(edges).toArrow().to_batches()
        return T._partition_views(rows, None)

    assert T._membership_bitmap(views(e), None) is not None
    assert T._membership_bitmap(views(e_far), None) is None

    def run(edges, hub_k, off):
        d = T.orient_dodg(edges).localCheckpoint(eager=True)
        obs = Observation(f"regime_{name}_{hub_k}_{off}")
        tri = T.triangle_count_kernel(edges, n, hub_k, observation=obs).collect()[0].triangles

        def back(rows, ids):
            return sorted(
                tuple(x - off if k in ids else x for k, x in r.asDict().items()) for r in rows
            )

        return {
            "count": (tri, obs.get["probes"], obs.get["hits"]),
            "per_edge": back(
                T.triangle_count_per_directed_edge_kernel(edges, n, hub_k).collect(),
                ("src", "dst"),
            ),
            "enumerate": back(
                T.triangle_enumerate_kernel(edges, n, hub_k).collect(), ("a", "b", "c")
            ),
            "support": back(
                T.triangle_support_counts_oriented(d, n, hub_k).collect(), ("src", "dst")
            ),
        }

    def regimes():
        out = [run(e, None, 0), run(e, 0, 0), run(e_far, None, shift), run(e_far, 0, shift)]
        with monkeypatch.context() as m:
            m.setattr(T, "FULL_CSR_MAX_ROWS", 0)
            out += [run(e, None, 0), run(e_far, None, shift)]
        return out

    full_csr, *others = regimes()
    tri, probes, hits = full_csr["count"]
    assert tri == hits == len(full_csr["enumerate"]) > 0
    assert sum(r[2] for r in full_csr["per_edge"]) == tri
    assert sum(r[2] for r in full_csr["support"]) == 3 * tri
    assert probes >= hits
    for other in others:
        assert other == full_csr

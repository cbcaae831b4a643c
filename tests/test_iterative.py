"""Iterative algorithms: PageRank, connected components, label propagation,
k-truss — closed-form fixtures + checkpoint/resume."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from trianglecounting_spark.operators.components import connected_components
from trianglecounting_spark.operators.ktruss import ktruss, ktruss_rounds
from trianglecounting_spark.operators.labelprop import label_propagation
from trianglecounting_spark.operators.pagerank import pagerank
from trianglecounting_spark.plans.checkpoint import IterationCheckpointer
from trianglecounting_spark.sources import generators as g

from tests.conftest import SF_SMALL


def test_pagerank_uniform_on_regular_graph(spark):
    """On a vertex-transitive graph (cycle), PageRank is exactly uniform."""
    pr = pagerank(g.cycle_graph(spark, 50), iterations=5).collect()
    assert len(pr) == 50
    for r in pr:
        assert math.isclose(r.score, 1 / 50, rel_tol=1e-9)


def test_pagerank_sums_to_one(spark):
    e = g.two_cliques_bridge(spark)
    total = pagerank(e, iterations=10).agg(F.sum("score")).collect()[0][0]
    assert math.isclose(total, 1.0, rel_tol=1e-9)


def test_pagerank_star_hub_dominates(spark):
    pr = {r.v: r.score for r in pagerank(g.star_graph(spark, 20), iterations=20).collect()}
    assert pr[0] > 10 * pr[1]


def test_cc_fixtures(spark):
    comp = {r.v: r.component for r in connected_components(g.two_cliques_bridge(spark)).collect()}
    assert set(comp.values()) == {0}
    comp = {r.v: r.component for r in connected_components(g.disjoint_triangles(spark, 10)).collect()}
    assert set(comp.values()) == {3 * k for k in range(10)}
    for v, c in comp.items():
        assert c == (v // 3) * 3


def test_cc_long_path(spark):
    """Path graph stresses the O(log n) round convergence of star contraction."""
    n = 200
    path = spark.range(n - 1).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    comp = connected_components(path).select("component").distinct().collect()
    assert [r.component for r in comp] == [0]


def test_label_propagation_cliques(spark):
    """Two cliques + bridge: after a few rounds each clique converges to its
    minimum label (deterministic min-tie-break)."""
    labels = {r.v: r.label for r in label_propagation(g.two_cliques_bridge(spark), rounds=4).collect()}
    assert set(labels[v] for v in range(6)) == {0}
    assert set(labels[v] for v in range(10, 16)) == {10}


def test_ktruss_two_cliques(spark):
    """4-truss of K6+K6+bridge: every K6 edge has support ≥ 4 ≥ k-2=2; the
    bridge has support 0 and is peeled. 6-truss: K6 edges have support 4 = k-2;
    7-truss empty (need support 5 > max 4)."""
    e = g.two_cliques_bridge(spark)
    t4 = ktruss(e, k=4)
    assert t4.count() == 30  # two K6s, bridge gone
    t6 = ktruss(e, k=6)
    assert t6.count() == 30
    t7 = ktruss(e, k=7)
    assert t7.count() == 0


def test_ktruss_resumes_from_canonical_snapshot(spark, tmp_path):
    """A snapshot in the canonical ``(u, v)`` form (as written before the
    peel ran on oriented ``(src, dst)`` rows) is re-oriented on restore and
    peels to the closed-form 4-truss; a snapshot of any other schema is
    rejected with the offending columns named."""
    e = g.two_cliques_bridge(spark)
    ck = IterationCheckpointer(spark, str(tmp_path / "uv"), every=1)
    ck.save(1, e.select("u", "v"))
    got = {(r.u, r.v) for r in ktruss(e, k=4, checkpointer=ck).collect()}
    cliques = (range(0, 6), range(10, 16))
    assert got == {(a, b) for c in cliques for a in c for b in c if a < b}

    bad = IterationCheckpointer(spark, str(tmp_path / "ab"), every=1)
    bad.save(1, e.select(F.col("u").alias("a"), F.col("v").alias("b")))
    with pytest.raises(ValueError, match="'a', 'b'"):
        ktruss(e, k=4, checkpointer=bad)


def test_ktruss_rounds_converges_to_fixpoint(spark):
    e = g.two_cliques_bridge(spark)
    r1 = sorted((r.u, r.v) for r in ktruss_rounds(e, 4, 1).collect())
    r3 = sorted((r.u, r.v) for r in ktruss_rounds(e, 4, 3).collect())
    fix = sorted((r.u, r.v) for r in ktruss(e, 4).collect())
    assert r1 == r3 == fix  # converges in one peel here; extra rounds idempotent


def test_checkpoint_resume(spark, tmp_path):
    """Kill-and-resume: restoring from iteration k yields the same final ranks
    as an uninterrupted run (north_rule resumability)."""
    e = g.two_cliques_bridge(spark)
    full = {r.v: r.score for r in pagerank(e, iterations=8).collect()}

    ck_dir = str(tmp_path / "ck")
    ck = IterationCheckpointer(spark, ck_dir, every=2)
    # run only to iteration 4 by asking for 4 iterations with checkpointing
    pagerank(e, iterations=4, checkpointer=ck)
    assert ck.latest() == 4
    # resume: a fresh call for 8 iterations restores iter 4 and continues
    resumed = {r.v: r.score for r in pagerank(e, iterations=8, checkpointer=ck).collect()}
    for v in full:
        assert math.isclose(full[v], resumed[v], rel_tol=1e-12), v


def test_checkpoint_metrics_written(spark, tmp_path):
    import json
    import os

    ck = IterationCheckpointer(spark, str(tmp_path / "ck2"), every=1)
    pagerank(g.cycle_graph(spark, 30), iterations=2, checkpointer=ck)
    m = json.load(open(os.path.join(str(tmp_path / "ck2"), "iter=2", "metrics.json")))
    assert m["rows"] == 30
    assert sum(p["rows"] for p in m["partitions"]) == 30


def test_kcore_closed_forms(spark):
    from trianglecounting_spark.operators.kcore import kcore, kcore_rounds

    e = g.two_cliques_bridge(spark)
    # every vertex has degree >= 5 (bridge endpoints have 6) → 5-core = G
    assert kcore(e, k=5).count() == e.count()
    # 6-core: K6 vertices lose the bridge endpoints' neighbors first and the
    # whole graph unravels
    assert kcore(e, k=6).count() == 0
    # star: every leaf has degree 1 → 2-core empty
    assert kcore(g.star_graph(spark, 50), k=2).count() == 0
    # cycle: 2-regular → 2-core is the whole cycle
    assert kcore(g.cycle_graph(spark, 12), k=2).count() == 12
    # fixed-round form converges to the fixpoint
    got = sorted((r.u, r.v) for r in kcore_rounds(e, k=5, rounds=3).collect())
    want = sorted((r.u, r.v) for r in kcore(e, k=5).collect())
    assert got == want


def test_pagerank_convergence_mode(spark):
    """tol mode stops early once the L1 delta is below tol and agrees with a
    long fixed run to the oracle precision (north_star: 'at convergence')."""
    e = g.two_cliques_bridge(spark)
    conv = {r.v: r.score for r in pagerank(e, iterations=60, tol=1e-8).collect()}
    fixed = {r.v: r.score for r in pagerank(e, iterations=60).collect()}
    assert abs(sum(conv.values()) - 1.0) < 1e-9
    assert all(abs(conv[v] - fixed[v]) < 1e-6 for v in fixed)


def test_pagerank_directed_dangling_mass(spark):
    """Directed PR with dangling redistribution: closed-form one-step check on
    a -> b (b dangling), and mass conservation (sum == 1) on a random DAG."""
    from trianglecounting_spark.operators.pagerank import pagerank_directed

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {r.v: r.score for r in pagerank_directed(e, iterations=1).collect()}
    # r0 = (.5, .5); D = .5; r1(a) = .15/2 + .85*(0 + .25); r1(b) adds a's .5
    assert abs(got[1] - (0.075 + 0.85 * 0.25)) < 1e-12
    assert abs(got[2] - (0.075 + 0.85 * (0.5 + 0.25))) < 1e-12

    import random

    random.seed(11)
    rows = list({(random.randrange(40), random.randrange(40)) for _ in range(120)})
    rows = [(a, b) for a, b in rows if a != b]
    dag = spark.createDataFrame(rows, "src long, dst long")
    scores = pagerank_directed(dag, iterations=8).agg(F.sum("score")).collect()[0][0]
    assert abs(scores - 1.0) < 1e-9


def test_common_neighbor_pairs_closed_form(spark):
    """C4 cycle a-b-c-d-a (ids 1..4, all degree 2, rank = id): the only
    admissible wedge center is vertex 1, generating candidate (2, 4) with an
    exact full common-neighbor count of 2; pair (1, 3) has no common neighbor
    ranked below both endpoints and is skipped by the stated contract."""
    from trianglecounting_spark.operators.linkpred import common_neighbor_pairs

    c4 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "u long, v long"
    )
    got = {(r.a, r.b): r.common for r in common_neighbor_pairs(c4, min_common=1).collect()}
    assert got == {(2, 4): 2}


def test_common_neighbor_pairs_contract_on_random_graph(spark):
    """Generated set == pairs whose minimum-rank common neighbor ranks below
    both endpoints; every reported count == the exact |N(a) ∩ N(b)|."""
    from trianglecounting_spark.operators.linkpred import common_neighbor_pairs
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.sources import generators as g

    e = normalize_edges(g.rmat_graph(spark, scale=7, edge_factor=4))
    rows = [(r.u, r.v) for r in e.collect()]
    nbrs: dict[int, set[int]] = {}
    deg: dict[int, int] = {}
    for u, v in rows:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    for x, s in nbrs.items():
        deg[x] = len(s)
    rank = lambda x: (deg[x], x)
    edge_set = set(rows)
    expected = {}
    for a in nbrs:
        for b in nbrs:
            if a >= b or (a, b) in edge_set:
                continue
            common = nbrs[a] & nbrs[b]
            if common and any(
                rank(w) < rank(a) and rank(w) < rank(b) for w in common
            ):
                if len(common) >= 2:
                    expected[(a, b)] = len(common)
    got = {
        (r.a, r.b): r.common
        for r in common_neighbor_pairs(e, min_common=2).collect()
    }
    assert got == expected


def test_bfs_distances_path_and_parity(spark):
    """Closed form on a path graph, then parity with a python BFS on a random
    graph (incl. an unreachable component, which must be absent)."""
    from collections import deque

    from trianglecounting_spark.operators.bfs import bfs_distances
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.sources import generators as g

    path = spark.createDataFrame([(i, i + 1) for i in range(5)], "u long, v long")
    got = {r.v: r.dist for r in bfs_distances(path).collect()}
    assert got == {i: i for i in range(6)}

    e = normalize_edges(g.rmat_graph(spark, scale=7, edge_factor=2))
    iso = spark.createDataFrame([(900001, 900002)], "u long, v long")
    e = e.unionAll(iso)
    rows = [(r.u, r.v) for r in e.collect()]
    adj: dict[int, set[int]] = {}
    for u, v in rows:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    src = min(adj)
    expected, dq = {src: 0}, deque([src])
    while dq:
        x = dq.popleft()
        for y in adj[x]:
            if y not in expected:
                expected[y] = expected[x] + 1
                dq.append(y)
    got = {r.v: r.dist for r in bfs_distances(e).collect()}
    assert got == expected
    assert 900001 not in got  # unreachable component absent, not infinite


def test_personalized_pagerank_seed_mass(spark):
    """PPR over a -> b -> c with seed {a}: mass conserved, concentrated on
    the seed side, zero on vertices unreachable from the seeds."""
    from trianglecounting_spark.operators.pagerank import personalized_pagerank

    e = spark.createDataFrame([(1, 2), (2, 3), (9, 1)], "src long, dst long")
    got = {r.v: r.score for r in personalized_pagerank(e, seeds=[1], iterations=12).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[1] > got[2] > got[3] > 0
    assert got[9] == 0.0  # 9 only links IN; the walk never reaches it


def test_hits_closed_form(spark):
    """Star of links into one authority: 1 -> 3, 2 -> 3. At any iteration,
    authority concentrates entirely on 3 and hub mass splits evenly over
    1 and 2; all scores L1-normalized."""
    from trianglecounting_spark.operators.pagerank import hits

    e = spark.createDataFrame([(1, 3), (2, 3)], "src long, dst long")
    got = {r.v: (r.hub, r.authority) for r in hits(e, iterations=3).collect()}
    assert got[3] == (0.0, 1.0)
    assert abs(got[1][0] - 0.5) < 1e-12 and got[1][1] == 0.0
    assert abs(got[2][0] - 0.5) < 1e-12


def test_double_sweep_diameter_exact_on_path(spark):
    """On a path 0-1-...-5 the double sweep is exact: first BFS from 0
    reaches 5 at distance 5; the second sweep from 5 reports 5."""
    from trianglecounting_spark.operators.bfs import double_sweep_diameter

    path = spark.createDataFrame([(i, i + 1) for i in range(5)], "u long, v long")
    r = double_sweep_diameter(path).collect()[0]
    assert (r.source, r.far_vertex, r.diameter_lb) == (0, 5, 5)


def test_pagerank_weighted_reduces_to_unweighted(spark):
    """All-equal weights must reproduce the unweighted scores exactly, and
    mass is conserved under skewed weights."""
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.operators.pagerank import pagerank, pagerank_weighted
    from trianglecounting_spark.sources import generators as g

    e = normalize_edges(g.rmat_graph(spark, scale=6, edge_factor=4))
    w1 = e.select("u", "v", F.lit(7).alias("w"))  # equal weights cancel
    a = {r.v: round(r.score, 9) for r in pagerank(e, iterations=6).collect()}
    b = {r.v: round(r.score, 9) for r in pagerank_weighted(w1, iterations=6).collect()}
    assert a == b
    skew = e.select("u", "v", (F.pmod(F.col("u") + F.col("v"), F.lit(5)) + 1).alias("w"))
    total = pagerank_weighted(skew, iterations=6).agg(F.sum("score")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


def test_scc_hand_graph(spark):
    """Closed-form SCC shapes: a 3-cycle, a 2-cycle reached from it, a DAG
    tail, and an isolated-by-direction vertex — labels are SCC minima."""
    from trianglecounting_spark.operators.scc import scc

    edges = [(0, 1), (1, 2), (2, 0),      # SCC {0,1,2}
             (2, 3), (3, 4), (4, 3),      # SCC {3,4} fed by the cycle
             (4, 5),                       # singleton 5 (sink)
             (6, 0)]                       # singleton 6 (source)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.v: r.label for r in scc(df).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6}


def test_scc_pure_dag_all_singletons(spark):
    from trianglecounting_spark.operators.scc import scc

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(10)] + [(0, 5), (3, 9)], "src long, dst long"
    )
    got = {r.v: r.label for r in scc(df).collect()}
    assert got == {i: i for i in range(11)}


def _tarjan(edges):
    """Reference SCC (iterative Tarjan) for the differential test."""
    fwd = {}
    verts = set()
    for a, b in edges:
        if a != b:
            fwd.setdefault(a, set()).add(b)
            verts.update((a, b))
    index, low, onstk, stk, out = {}, {}, {}, [], {}
    cnt = [0]
    for s in sorted(verts):
        if s in index:
            continue
        work = [(s, iter(sorted(fwd.get(s, ()))))]
        index[s] = low[s] = cnt[0]
        cnt[0] += 1
        stk.append(s)
        onstk[s] = True
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = cnt[0]
                    cnt[0] += 1
                    stk.append(w)
                    onstk[w] = True
                    work.append((w, iter(sorted(fwd.get(w, ())))))
                    advanced = True
                    break
                elif onstk.get(w):
                    low[v] = min(low[v], index[w])
            if not advanced:
                work.pop()
                if work:
                    low[work[-1][0]] = min(low[work[-1][0]], low[v])
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stk.pop()
                        onstk[w] = False
                        comp.append(w)
                        if w == v:
                            break
                    m = min(comp)
                    for w in comp:
                        out[w] = m
    return out


def test_scc_differential_vs_tarjan(spark):
    """Engine SCC == textbook Tarjan on a reciprocated R-MAT directed graph
    (power-law, one giant SCC + periphery — the web shape the operator is
    for)."""
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.operators.scc import scc

    e = normalize_edges(g.rmat_graph(spark, scale=8, edge_factor=4))
    directed = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.where((F.col("u") * 31 + F.col("v")) % 3 == 0).select(
            F.col("v").alias("src"), F.col("u").alias("dst")
        )
    )
    rows = [(r.src, r.dst) for r in directed.collect()]
    expected = _tarjan(rows)
    got = {r.v: r.label for r in scc(directed).collect()}
    assert got == expected


def test_bowtie_hand_graph(spark):
    """Known full-taxonomy bowtie: core = the largest SCC, 'in' feeds it,
    'out' drains it, a 'tube' bypasses IN->OUT, 'tendril's hang off one
    side only, the rest is 'disconnected'."""
    from trianglecounting_spark.operators.scc import bowtie_classes

    edges = [(0, 1), (1, 2), (2, 0),      # giant SCC {0,1,2} = core
             (2, 3), (3, 4), (4, 3),      # SCC {3,4} downstream -> out
             (4, 5),                       # 5 downstream -> out
             (6, 0),                       # 6 reaches core -> in
             (6, 7), (7, 3),               # 7: IN->OUT bypass -> tube
             (6, 8),                       # 8 hangs off IN -> tendril
             (9, 5),                       # 9 feeds OUT only -> tendril
             (10, 11)]                     # disconnected pair
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.v: r.cls for r in bowtie_classes(df).collect()}
    assert got == {0: "core", 1: "core", 2: "core", 3: "out", 4: "out",
                   5: "out", 6: "in", 7: "tube", 8: "tendril", 9: "tendril",
                   10: "disconnected", 11: "disconnected"}


def test_directed_graph_stats_hand_values(spark):
    from trianglecounting_spark.operators.scc import directed_graph_stats

    edges = [(0, 1), (1, 0),              # reciprocal pair (2 edges)
             (1, 2), (2, 3), (3, 3),      # self-loop dropped
             (0, 2), (0, 2)]              # duplicate dropped
    df = spark.createDataFrame(edges, "src long, dst long")
    r = directed_graph_stats(df).collect()[0]
    assert (r.n_vertices, r.n_edges, r.n_reciprocal) == (4, 5, 2)
    assert r.reciprocity == 0.4
    assert (r.max_out_deg, r.max_in_deg) == (2, 2)


def test_scc_self_loop_only_vertex_kept(spark):
    """A vertex whose only edge is a self-loop is a singleton SCC and must
    appear in the output (the vertex universe is taken before the self-loop
    filter — parity with the definitional oracle)."""
    from trianglecounting_spark.operators.scc import scc

    df = spark.createDataFrame(
        [(0, 1), (1, 0), (5, 5)], "src long, dst long"
    )
    got = {r.v: r.label for r in scc(df).collect()}
    assert got == {0: 0, 1: 0, 5: 5}


def test_scc_long_cycle_diameter_bound(spark):
    """A 60-cycle is one SCC with diameter 59 — the floods are
    diameter-bound (the standard distributed-SCC contract; pointer jumping
    was measured and rejected, see scc.py), so this exercises ~120 flood
    rounds incl. the reliable-checkpoint lineage barriers, and must still
    label the whole ring with its minimum at a flat per-round cost."""
    from trianglecounting_spark.operators.scc import scc

    n = 60
    ring = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    got = scc(ring, max_inner=150).groupBy("label").count().collect()
    assert len(got) == 1 and got[0].label == 0 and got[0]["count"] == n


def test_scc_and_bowtie_empty_input(spark):
    from trianglecounting_spark.operators.scc import bowtie_classes, scc

    empty = spark.createDataFrame([], "src long, dst long")
    assert scc(empty).count() == 0
    assert bowtie_classes(empty).count() == 0


def test_ktruss_incremental_matches_bulk_hand_graphs(spark):
    """Delta-support peel == bulk-recount peel on hand graphs covering:
    one-round removal (bridge), whole-triangle loss in a single batch (all 3
    edges under-supported at once — the exactly-once distinct path), and a
    multi-round cascading peel (triangle strip, where each round's removals
    decrement the next interior edges)."""
    from trianglecounting_spark.operators.ktruss import ktruss_incremental

    inf = float("inf")  # forces PURE delta maintenance from round 1
    e = g.two_cliques_bridge(spark)
    for k in (4, 6, 7):
        bulk = sorted((r.u, r.v) for r in ktruss(e, k).collect())
        for frac in (0.05, inf):
            incr = sorted(
                (r.u, r.v)
                for r in ktruss_incremental(e, k, delta_frac=frac).collect()
            )
            assert incr == bulk, f"k={k} frac={frac}"

    # triangle strip 0-1-2, 1-2-3, ..., edges (i,i+1) and (i,i+2): ends have
    # support 1, interiors 2 — k=4 peels from both ends inward, many rounds
    # of SMALL batches (the delta form's cascading-decrement regime)
    n = 12
    strip = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(i, i + 2) for i in range(n - 2)],
        "u long, v long",
    )
    bulk = sorted((r.u, r.v) for r in ktruss(strip, 4).collect())
    incr = sorted(
        (r.u, r.v) for r in ktruss_incremental(strip, 4, delta_frac=inf).collect()
    )
    assert incr == bulk == []  # the whole strip cascades away

    # single triangle, k=4: all 3 edges removed in ONE batch — the lost
    # triangle must be counted once, not three times
    tri = spark.createDataFrame([(0, 1), (1, 2), (0, 2)], "u long, v long")
    assert ktruss_incremental(tri, 4, delta_frac=inf).count() == 0
    assert sorted(
        (r.u, r.v) for r in ktruss_incremental(tri, 3, delta_frac=inf).collect()
    ) == [(0, 1), (0, 2), (1, 2)]


def test_ktruss_incremental_matches_bulk_real_graph(spark):
    """Differential on the sf0.001 sampled subgraph at the contract k."""
    import __spark_entry__ as entry
    from trianglecounting_spark.operators.ktruss import ktruss_incremental

    e = entry._sampled_edges(spark, SF_SMALL)
    for k, frac in ((4, float("inf")), (5, 0.05)):
        # k=4 forces pure delta maintenance end-to-end; k=5 runs the
        # production adaptive switch (bulk while batches are big, delta tail)
        bulk = sorted((r.u, r.v) for r in ktruss(e, k, max_iterations=30).collect())
        incr = sorted(
            (r.u, r.v)
            for r in ktruss_incremental(
                e, k, max_iterations=30, delta_frac=frac
            ).collect()
        )
        assert incr == bulk, f"k={k}"
        assert len(bulk) > 0


def test_kcore_incremental_matches_bulk(spark):
    """Delta degree-maintenance peel == bulk recount peel: hand graphs (incl.
    a path, the pure cascade regime where each round removes only the two
    ends), and the sf0.001 sampled subgraph at the contract k."""
    import __spark_entry__ as entry
    from trianglecounting_spark.operators.kcore import kcore, kcore_incremental

    e = g.two_cliques_bridge(spark)
    for k in (2, 3, 6, 7):
        bulk = sorted((r.u, r.v) for r in kcore(e, k).collect())
        incr = sorted((r.u, r.v) for r in kcore_incremental(e, k).collect())
        assert incr == bulk, f"k={k}"

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "u long, v long"
    )
    assert kcore_incremental(path, 2, max_iterations=30).count() == 0
    bulk = sorted((r.u, r.v) for r in kcore(path, 1).collect())
    incr = sorted((r.u, r.v) for r in kcore_incremental(path, 1).collect())
    assert incr == bulk  # k=1 keeps the whole path

    se = entry._sampled_edges(spark, SF_SMALL)
    bulk = sorted((r.u, r.v) for r in kcore(se, 8, max_iterations=30).collect())
    incr = sorted(
        (r.u, r.v) for r in kcore_incremental(se, 8, max_iterations=30).collect()
    )
    assert incr == bulk
    assert len(bulk) > 0


def test_incremental_peels_survive_deep_cascades(spark):
    """Regression for the deep-cascade driver blowup: localCheckpoint leaves
    the RDD DAG chained, and the driver's per-job lineage-path walk is
    O(refs^depth) — before the _BARRIER_EVERY reliable-checkpoint barrier, a
    ~20-round k-core cascade at sf0.1 pinned the driver single-core in
    BigInteger stats arithmetic for >25 min (bulk form: 23 s). These cascades
    run 2.5×+ past the barrier cadence (12), so a reintroduced unbounded walk
    would blow the wall bound long before finishing."""
    import time

    from trianglecounting_spark.operators.kcore import kcore_incremental
    from trianglecounting_spark.operators.ktruss import ktruss_incremental

    # 61-vertex path, k=2: peels exactly the two endpoints per round →
    # ~30 rounds, crossing the 12-round barrier twice
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "u long, v long"
    )
    t0 = time.time()
    assert kcore_incremental(path, 2, max_iterations=60).count() == 0
    kcore_wall = time.time() - t0

    # triangle strip, k=4, pure delta from round 1: ends peel inward two
    # triangles per round → ~17 delta rounds, crossing the barrier once
    n = 36
    strip = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(i, i + 2) for i in range(n - 2)],
        "u long, v long",
    )
    t0 = time.time()
    assert ktruss_incremental(strip, 4, delta_frac=float("inf")).count() == 0
    ktruss_wall = time.time() - t0

    # generous for hypervisor noise; the unbarriered walk measured 4×/round
    # growth past depth ~11, i.e. hours at these depths
    assert kcore_wall < 300, kcore_wall
    assert ktruss_wall < 300, ktruss_wall


def test_coreness_closed_forms_and_kcore_membership(spark):
    """Per-vertex core numbers from the h-index fixpoint == the k-core
    membership hierarchy: coreness(v) >= k  iff  v survives in kcore(G, k)."""
    from trianglecounting_spark.operators.kcore import coreness, kcore

    e = g.two_cliques_bridge(spark)
    cn = {r.v: r.coreness for r in coreness(e).collect()}
    # every vertex sits in the 5-core; nobody in the 6-core (see
    # test_kcore_closed_forms) -> coreness is exactly 5 everywhere
    assert set(cn.values()) == {5}

    # star: hub and leaves all unravel at k=2 -> coreness 1 everywhere
    star = {r.v: r.coreness for r in coreness(g.star_graph(spark, 20)).collect()}
    assert set(star.values()) == {1}

    # sampled sf0.001 subgraph: cross-check the full decomposition against
    # independent kcore peels at several k
    import __spark_entry__ as entry

    se = entry._sampled_edges(spark, SF_SMALL)
    cn = {r.v: r.coreness for r in coreness(se).collect()}
    for k in (2, 4, 8):
        members = set()
        for r in kcore(se, k, max_iterations=50).collect():
            members.add(r.u)
            members.add(r.v)
        assert members == {v for v, c in cn.items() if c >= k}, f"k={k}"


def _greedy_mis_by_priority(edge_list):
    """Sequential greedy MIS in (h(v), v) priority order — the LFMIS the
    fixed-priority parallel peel must equal exactly (Blelloch et al.)."""
    from trianglecounting_spark.operators.mis import _A, _M, _SEED

    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    order = sorted(adj, key=lambda v: ((v % _M) * _A + _SEED) % _M * 2**32 + v)
    mis, blocked = set(), set()
    for v in order:
        if v not in blocked:
            mis.add(v)
            blocked |= adj[v] | {v}
    return mis


def test_mis_independence_maximality_and_greedy_equality(spark):
    from trianglecounting_spark.operators.mis import maximal_independent_set
    from trianglecounting_spark.sources import generators as gg

    from trianglecounting_spark.operators.normalize import normalize_edges

    edges = normalize_edges(gg.rmat_graph(spark, scale=9, edge_factor=4, seed=5))
    edge_list = [(r.u, r.v) for r in edges.collect()]
    got = {r.v: r.in_mis for r in maximal_independent_set(edges).collect()}
    mis = {v for v, f in got.items() if f}
    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    # labeled every vertex
    assert set(got) == set(adj)
    # independence: no edge inside the MIS
    assert not any(u in mis and v in mis for u, v in edge_list)
    # maximality: every non-MIS vertex has an MIS neighbor
    assert all(adj[v] & mis for v in adj if v not in mis)
    # determinism + exact LFMIS equality with the sequential greedy
    assert mis == _greedy_mis_by_priority(edge_list)
    again = {
        r.v: r.in_mis
        for r in maximal_independent_set(edges.repartition(7)).collect()
    }
    assert again == got
    # the shuffle-join fallback (undecided set over the broadcast budget)
    # picks the same winners
    shuffled = {
        r.v: r.in_mis
        for r in maximal_independent_set(edges, broadcast_rows=0).collect()
    }
    assert shuffled == got


def test_mis_matches_unrolled_sql_oracle(spark):
    """Engine vs the unrolled DuckDB oracle on the sampled sf0.001 graph —
    the extras-lane gate in miniature, and pins the oracle's round depth."""
    import duckdb

    from trianglecounting_spark.operators.mis import (
        maximal_independent_set,
        mis_unrolled_sql,
    )
    from trianglecounting_spark.sources import generators as gg

    from trianglecounting_spark.operators.normalize import normalize_edges

    edges = normalize_edges(gg.rmat_graph(spark, scale=8, edge_factor=3, seed=11))
    rows = [(r.u, r.v) for r in edges.collect()]
    got = sorted(
        (r.v, r.in_mis) for r in maximal_independent_set(edges).collect()
    )
    con = duckdb.connect()
    values = ", ".join(f"({u}, {v})" for u, v in rows)
    sql = mis_unrolled_sql(f"SELECT * FROM (VALUES {values}) AS t(u, v)", rounds=20)
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert got == want


def test_trussness_matches_per_k_peels(spark):
    """Full decomposition vs independent per-k peels: {e : trussness >= k}
    must equal ktruss(k)'s surviving edge set for every k — on hand graphs
    (two bridged cliques) and an R-MAT graph."""
    from trianglecounting_spark.operators.ktruss import ktruss, trussness
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.sources import generators as gg

    k5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    k4 = [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
    bridge = [(0, 10)]
    hand = spark.createDataFrame(k5 + k4 + bridge, "u long, v long")
    rmat = normalize_edges(gg.rmat_graph(spark, scale=8, edge_factor=4, seed=3))
    for edges in (hand, rmat):
        tn = {(r.u, r.v): r.trussness for r in trussness(edges).collect()}
        assert set(tn) == {(r.u, r.v) for r in edges.collect()}
        kmax = max(tn.values())
        for k in range(3, kmax + 2):
            want = {(r.u, r.v) for r in ktruss(edges, k=k).collect()}
            got = {e for e, t in tn.items() if t >= k}
            assert got == want, f"k={k}"
    # closed forms on the hand graph: K5 edges are 5-truss, K4 are 4-truss,
    # the bridge is in no triangle -> trussness 2
    tn = {(r.u, r.v): r.trussness for r in trussness(hand).collect()}
    assert all(tn[e] == 5 for e in k5)
    assert all(tn[e] == 4 for e in k4)
    assert tn[(0, 10)] == 2


def test_trussness_matches_unrolled_sql(spark):
    import duckdb

    from trianglecounting_spark.operators.ktruss import trussness, trussness_unrolled_sql
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.sources import generators as gg

    edges = normalize_edges(gg.rmat_graph(spark, scale=8, edge_factor=5, seed=9))
    rows = [(r.u, r.v) for r in edges.collect()]
    got = sorted((r.u, r.v, r.trussness) for r in trussness(edges).collect())
    con = duckdb.connect()
    values = ", ".join(f"({u}, {v})" for u, v in rows)
    sql = trussness_unrolled_sql(
        f"SELECT * FROM (VALUES {values}) AS t(u, v)", rounds=25
    )
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert got == want


def _greedy_coloring_by_priority(edge_list):
    """Sequential greedy coloring in (h(v), v) order — what fixed-priority
    Jones-Plassmann must equal exactly."""
    from trianglecounting_spark.operators.mis import _A, _M, _SEED

    adj: dict[int, set[int]] = {}
    for u, v in edge_list:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    order = sorted(adj, key=lambda v: ((v % _M) * _A + _SEED) % _M * 2**32 + v)
    color: dict[int, int] = {}
    for v in order:
        used = {color[u] for u in adj[v] if u in color}
        c = 0
        while c in used:
            c += 1
        color[v] = c
    return color


def test_coloring_proper_and_greedy_equality(spark):
    from trianglecounting_spark.operators.coloring import greedy_coloring
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.sources import generators as gg

    edges = normalize_edges(gg.rmat_graph(spark, scale=9, edge_factor=4, seed=5))
    edge_list = [(r.u, r.v) for r in edges.collect()]
    got = {r.v: r.color for r in greedy_coloring(edges).collect()}
    # proper: no monochromatic edge
    assert all(got[u] != got[v] for u, v in edge_list)
    # exact equality with the sequential greedy in priority order
    assert got == _greedy_coloring_by_priority(edge_list)
    # partitioning determinism
    again = {r.v: r.color for r in greedy_coloring(edges.repartition(7)).collect()}
    assert again == got


def test_coloring_matches_unrolled_sql(spark):
    import duckdb

    from trianglecounting_spark.operators.coloring import (
        greedy_coloring,
        greedy_coloring_unrolled_sql,
    )
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.sources import generators as gg

    edges = normalize_edges(gg.rmat_graph(spark, scale=8, edge_factor=3, seed=11))
    rows = [(r.u, r.v) for r in edges.collect()]
    got = sorted((r.v, r.color) for r in greedy_coloring(edges).collect())
    con = duckdb.connect()
    values = ", ".join(f"({u}, {v})" for u, v in rows)
    sql = greedy_coloring_unrolled_sql(
        f"SELECT * FROM (VALUES {values}) AS t(u, v)", rounds=30
    )
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    assert got == want


def test_modularity_closed_forms(spark):
    """Two disjoint triangles with the component id as the label:
    m=6, intra=6, sum_c d_c^2 = 2*(3*2)^2 = 72 -> Q = 1 - 72/144 = 0.5.
    All vertices in ONE community -> Q = 1 - (2m)^2/(4m^2) = 0 exactly."""
    from trianglecounting_spark.operators.labelprop import modularity

    tri = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(tri, "u long, v long")
    labels = spark.createDataFrame(
        [(v, v // 10) for v in (0, 1, 2, 10, 11, 12)], "v long, label long"
    )
    r = modularity(edges, labels).collect()[0]
    assert (r.m, r.intra_edges, r.q) == (6, 6, 0.5)
    one = labels.select("v", F.lit(0).cast("long").alias("label"))
    r1 = modularity(edges, one).collect()[0]
    assert (r1.m, r1.intra_edges, r1.q) == (6, 6, 0.0)
    # partitioning determinism of the decimal/int sums
    r2 = modularity(edges.repartition(7), labels.repartition(3)).collect()[0]
    assert (r2.m, r2.intra_edges, r2.q) == (6, 6, 0.5)


def test_cocitation_and_coupling_closed_form(spark):
    """Directed graph 1->3, 2->3, 1->4, 2->4, 5->3: pages 3,4 are cited by
    both 1 and 2 -> coupling(1,2) = 2; citers 1,2 share targets {3,4} ->
    cocitation(3,4) = 2; (3,4) vs 5 shares only one target -> filtered at
    min_common=2."""
    from trianglecounting_spark.operators.linkpred import (
        bibliographic_coupling,
        cocitation,
    )

    de = spark.createDataFrame(
        [(1, 3), (2, 3), (1, 4), (2, 4), (5, 3)], "src long, dst long"
    )
    co = {(r.a, r.b): r.common for r in cocitation(de, min_common=2).collect()}
    assert co == {(3, 4): 2}
    bc = {(r.a, r.b): r.common
          for r in bibliographic_coupling(de, min_common=2).collect()}
    assert bc == {(1, 2): 2}


def test_component_size_dist_closed_form(spark):
    """Two triangles + one isolated edge: sizes {3: 2 components, 2: 1}."""
    from trianglecounting_spark.operators.components import component_size_dist

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (20, 21)],
        "u long, v long",
    )
    got = {r.size: r.n_components for r in component_size_dist(e).collect()}
    assert got == {3: 2, 2: 1}


def test_sssp_weighted_hand_case_and_fixpoint(spark):
    from trianglecounting_spark.operators.bfs import sssp_weighted

    # path 0-1-2 (w 1+1) beats direct 0-2 (w 5); vertex 3 reachable only
    # through 2; vertex 9 isolated from the source component -> absent
    ew = spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (0, 2, 5), (2, 3, 2), (8, 9, 1)],
        "u long, v long, w long",
    )
    got = {r.v: r.dist for r in sssp_weighted(ew, source=0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 4}


def test_sssp_weighted_matches_duckdb_oracle(spark):
    import duckdb

    from trianglecounting_spark.operators.bfs import (
        hash_weights,
        sssp_weighted,
        sssp_weighted_unrolled_sql,
    )

    arcs = [
        (a, b)
        for a in range(60)
        for b in range(60)
        if a < b and ((a * 2654435761 + b * 40503) % 211) < 7
    ]
    con = duckdb.connect()
    edges_sql = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in arcs)
        + ") t(u, v)"
    )
    oracle = dict(
        con.execute(sssp_weighted_unrolled_sql(edges_sql, rounds=30)).fetchall()
    )
    con.close()
    e = spark.createDataFrame(arcs, "u long, v long")
    got = {r.v: r.dist for r in sssp_weighted(hash_weights(e)).collect()}
    assert got == oracle


def test_eigenvector_centrality_star_hand_case(spark):
    from trianglecounting_spark.operators.pagerank import eigenvector_centrality

    # star S4: after 3 iterations center has 16 walks, leaves 4 each
    e = spark.createDataFrame([(0, i) for i in range(1, 5)], "u long, v long")
    got = {r.v: r.score for r in eigenvector_centrality(e, iterations=3).collect()}
    assert got == {0: 1.0, 1: 0.25, 2: 0.25, 3: 0.25, 4: 0.25}


def test_eigenvector_centrality_matches_duckdb(spark):
    import duckdb

    from trianglecounting_spark.operators.pagerank import (
        eigenvector_centrality,
        eigenvector_centrality_unrolled_sql,
    )

    arcs = [
        (a, b)
        for a in range(50)
        for b in range(50)
        if a < b and ((a * 2654435761 + b * 40503) % 97) < 9
    ]
    edges_sql = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in arcs)
        + ") t(u, v)"
    )
    con = duckdb.connect()
    oracle = dict(
        con.execute(eigenvector_centrality_unrolled_sql(edges_sql)).fetchall()
    )
    con.close()
    e = spark.createDataFrame(arcs, "u long, v long")
    got = {r.v: r.score for r in eigenvector_centrality(e).collect()}
    assert got == oracle


def test_condensation_levels_chain_hand_case(spark):
    from trianglecounting_spark.operators.scc import condensation_levels

    # SCC {0,1} -> SCC {2,3} -> singleton 4; plus isolated SCC {5,6}
    arcs = [(0, 1), (1, 0), (2, 3), (3, 2), (1, 2), (3, 4), (5, 6), (6, 5)]
    de = spark.createDataFrame(arcs, "src long, dst long")
    got = {
        r.level: (r.n_components, r.n_vertices)
        for r in condensation_levels(de).collect()
    }
    # level 0: SCC{0,1} + SCC{5,6}; level 1: SCC{2,3}; level 2: {4}
    assert got == {0: (2, 4), 1: (1, 2), 2: (1, 1)}


def test_condensation_levels_matches_duckdb(spark):
    import duckdb

    from trianglecounting_spark.operators.scc import (
        condensation_levels,
        condensation_levels_sql,
    )

    arcs = [
        (a, b)
        for a in range(40)
        for b in range(40)
        if a != b and ((a * 2654435761 + b * 40503) % 101) < 7
    ]
    con = duckdb.connect()
    ctes = (
        "de AS MATERIALIZED (SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in arcs)
        + ") t(src, dst))"
    )
    oracle = con.execute(condensation_levels_sql(ctes)).fetchall()
    con.close()
    de = spark.createDataFrame(arcs, "src long, dst long")
    got = [
        (r.level, r.n_components, r.n_vertices)
        for r in condensation_levels(de).collect()
    ]
    assert got == oracle


def test_resolve_redirects_hand_shapes(spark):
    from trianglecounting_spark.operators.redirects import resolve_redirects

    # chain, 2-loop, rho (tail into a loop), exact-cap chain, over-cap chain
    red = (
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 10), (20, 21), (21, 22), (22, 21)]
        + [(100 + i, 100 + i + 1) for i in range(32)]
        + [(200 + i, 200 + i + 1) for i in range(33)]
    )
    rd = spark.createDataFrame(red, "src long, dst long")
    got = {r.src: (r.final, r.hops, r.resolved)
           for r in resolve_redirects(rd).collect()}
    assert got[0] == (3, 3, True)          # plain chain
    assert got[10] == (10, 32, False)      # 2-loop: back home after cap hops
    assert got[20] == (22, 32, False)      # rho: parked inside the loop
    assert got[100] == (132, 32, True)     # terminal at exactly cap hops
    assert got[200] == (232, 32, False)    # one past cap -> unresolved


def test_resolve_redirects_matches_duckdb(spark):
    import duckdb

    from trianglecounting_spark.operators.redirects import (
        resolve_redirects,
        resolve_redirects_sql,
    )

    # deterministic functional map with mixed chains/loops
    red = [(i, (i * 2654435761 + 11) % 80) for i in range(80)
           if (i * 40503 + 3) % 5 != 0]
    ctes = (
        "red AS MATERIALIZED (SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in red)
        + ") t(src, dst))"
    )
    con = duckdb.connect()
    oracle = {r[0]: r[1:] for r in
              con.execute(resolve_redirects_sql(ctes)).fetchall()}
    con.close()
    rd = spark.createDataFrame(red, "src long, dst long")
    got = {r.src: (r.final, r.hops, r.resolved)
           for r in resolve_redirects(rd).collect()}
    assert got == oracle


def test_attack_tolerance_hand_case(spark):
    from trianglecounting_spark.operators.components import attack_tolerance

    # hub-and-spoke (0 joins everything) + a separate triangle: removing the
    # single top hub (f large enough for k=1) shatters the star
    e = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(20, 21), (21, 22), (20, 22)],
        "u long, v long",
    )
    # n = 12 vertices; f=0.05 -> k=1 (vertex 0, degree 8)
    rows = {r.frac: r for r in attack_tolerance(e, fracs=(0.05,)).collect()}
    r = rows[0.05]
    assert r.removed == 1 and r.n_survivors == 11
    # survivors: 8 isolated spokes + the intact triangle -> giant = 3
    assert r.giant_size == 3
    assert r.giant_frac == round(3 / 11, 6)


def test_attack_tolerance_matches_duckdb(spark):
    import duckdb

    from trianglecounting_spark.operators.components import (
        attack_tolerance,
        attack_tolerance_sql,
    )

    arcs = [
        (a, b)
        for a in range(60)
        for b in range(60)
        if a < b and ((a * 2654435761 + b * 40503) % 211) < 9
    ]
    edges_sql = (
        "SELECT * FROM (VALUES "
        + ",".join(f"({a},{b})" for a, b in arcs)
        + ") t(u, v)"
    )
    con = duckdb.connect()
    oracle = {
        r[0]: r[1:]
        for r in con.execute(attack_tolerance_sql(edges_sql)).fetchall()
    }
    con.close()
    e = spark.createDataFrame(arcs, "u long, v long")
    got = {
        r.frac: (r.removed, r.n_survivors, r.giant_size, r.giant_frac)
        for r in attack_tolerance(e).collect()
    }
    assert got == oracle


def test_connected_components_incremental_matches_full(spark):
    from trianglecounting_spark.operators.components import (
        connected_components,
        connected_components_incremental,
    )

    arcs = [
        (a, b)
        for a in range(70)
        for b in range(70)
        if a < b and ((a * 2654435761 + b * 40503) % 241) < 6
    ]
    # deterministic 85/15 split; the batch introduces brand-new vertices too
    batch = [e for i, e in enumerate(arcs) if i % 7 == 0] + [(100, 101), (101, 5)]
    base = [e for i, e in enumerate(arcs) if i % 7 != 0]
    be = spark.createDataFrame(base, "u long, v long")
    ne = spark.createDataFrame(batch, "u long, v long")
    labels = connected_components(be)
    got = {
        r.v: r.component
        for r in connected_components_incremental(labels, ne).collect()
    }
    full = spark.createDataFrame(sorted(set(base + batch)), "u long, v long")
    expect = {r.v: r.component for r in connected_components(full).collect()}
    assert got == expect


def test_connected_components_incremental_noop_batch(spark):
    from trianglecounting_spark.operators.components import (
        connected_components,
        connected_components_incremental,
    )

    # batch entirely inside existing components -> labels unchanged
    e = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "u long, v long")
    labels = connected_components(e)
    ne = spark.createDataFrame([(0, 2)], "u long, v long")
    got = {r.v: r.component
           for r in connected_components_incremental(labels, ne).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 6: 5}


def test_salsa_stationary_limit_is_degree_proportional(spark):
    """SALSA's authority chain is a random walk whose stationary weight on a
    connected support graph is indeg(j)/m (Lempel & Moran 2001, Prop. 2) —
    run long enough, the iterate must approach it; hub side mirrors with
    outdeg(i)/m. Mass is conserved exactly at every length (stochastic
    steps, no renormalization)."""
    from trianglecounting_spark.operators.pagerank import salsa

    # strongly-mixing directed graph: 3-cycle + chords (m = 6 edges)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (2, 1), (3, 2)],
        "src long, dst long",
    )
    got = {r.v: (r.hub, r.authority) for r in salsa(e, iterations=20).collect()}
    m = 6
    indeg = {1: 2, 2: 2, 3: 2}
    outdeg = {1: 2, 2: 2, 3: 2}
    for v in (1, 2, 3):
        assert abs(got[v][1] - indeg[v] / m) < 1e-9
        assert abs(got[v][0] - outdeg[v] / m) < 1e-9
    assert abs(sum(a for _h, a in got.values()) - 1.0) < 1e-9
    assert abs(sum(h for h, _a in got.values()) - 1.0) < 1e-9


def test_salsa_degree_normalization_beats_hits_on_dense_site(spark):
    """The defining SALSA property: a 'link farm' (one hub spraying many
    links) cannot buy authority the way it can under HITS — each of its
    targets receives only 1/outdeg of its mass. Two communities: hub 1
    points at {10, 11} (2 links), hub 2 points ONLY at 20. Under SALSA,
    authority(20) = authority(10) + authority(11) side (per-community mass
    = hub count), and within community A each target gets half. Also:
    vertices with no in-links have authority exactly 0."""
    from trianglecounting_spark.operators.pagerank import salsa

    e = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "src long, dst long"
    )
    got = {r.v: (r.hub, r.authority) for r in salsa(e, iterations=7).collect()}
    assert abs(got[10][1] - 0.25) < 1e-12
    assert abs(got[11][1] - 0.25) < 1e-12
    assert abs(got[20][1] - 0.5) < 1e-12
    assert got[1][1] == 0.0 and got[2][1] == 0.0  # never linked-to
    assert got[10][0] == 0.0  # sinks are not hubs


def test_katz_closed_form_on_path(spark):
    """Path 1-2-3 with alpha=0.1, K=2: walk counts are hand-computable —
    w1 = degree; w2(v) = Σ_{u∈N(v)} deg(u). katz = 0.1·w1 + 0.01·w2."""
    from trianglecounting_spark.operators.pagerank import katz_centrality

    e = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    got = {r.v: r.katz for r in katz_centrality(e, alpha=0.1, iterations=2).collect()}
    # w1: deg(1)=1 deg(2)=2 deg(3)=1; w2: v1<-2:2, v2<-1+3:2, v3<-2:2
    assert abs(got[1] - (0.1 * 1 + 0.1**2 * 2)) < 1e-12
    assert abs(got[2] - (0.1 * 2 + 0.1**2 * 2)) < 1e-12
    assert abs(got[3] - (0.1 * 1 + 0.1**2 * 2)) < 1e-12
    # attenuation: the center outranks the leaves
    assert got[2] > got[1] == got[3]


def test_katz_partitioning_invariant(spark):
    """Integer walk counts commute exactly: any repartitioning yields the
    identical 6dp result."""
    from trianglecounting_spark.operators.normalize import normalize_edges
    from trianglecounting_spark.operators.pagerank import katz_centrality
    from trianglecounting_spark.sources import generators as g

    e = normalize_edges(g.rmat_graph(spark, scale=7, edge_factor=4))
    a = sorted(map(tuple, katz_centrality(e, iterations=3).collect()))
    b = sorted(
        map(tuple, katz_centrality(e.repartition(13), iterations=3).collect())
    )
    assert a == b


def test_conductance_closed_form_two_cliques_bridge(spark):
    """Two triangles joined by one bridge edge, labels = the two sides:
    each side has cut 1 and vol 7 (2m = 14, min(7, 7) = 7) → φ = 1/7.
    The whole-graph community reports φ = 0.0 (denominator guard)."""
    from trianglecounting_spark.operators.labelprop import conductance

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)],
        "u long, v long",
    )
    labels = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)],
        "v long, label long",
    )
    got = {r.label: r for r in conductance(e, labels).collect()}
    for lab in (10, 20):
        assert got[lab].n_vertices == 3
        assert got[lab].cut == 1
        assert got[lab].vol == 7
        assert abs(got[lab].phi - 1 / 7) < 1e-6
    one = spark.createDataFrame([(v, 99) for v in range(1, 7)], "v long, label long")
    (r,) = conductance(e, one).collect()
    assert (r.cut, r.phi) == (0, 0.0)

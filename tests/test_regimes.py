"""Regime forcing: scc, connected_components, coreness and pagerank hold
|V|-row state on the driver when |V| fits ``BROADCAST_ROWS`` and run
DataFrame shuffle rounds above it. No test graph is big enough to cross the
budget, so each case runs at the default budget, with ``broadcast_rows=0``,
and at the default budget with the grouped adjacency split into many
id-range partitions (so partition-local fixpoints meet remote neighbors);
all runs must agree exactly (and with the closed form) — pagerank's
float scores to 1e-12 relative, since summation order differs. ktruss peels
in one task up to ``ENTRIES_PER_PARTITION`` edges and in checkpointed rounds
above it (forced by setting the bound to -1); both return the same edges."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from trianglecounting_spark.operators.components import connected_components
from trianglecounting_spark.operators import ktruss as ktruss_mod
from trianglecounting_spark.operators.kcore import coreness
from trianglecounting_spark.operators.normalize import normalize_edges
from trianglecounting_spark.operators.pagerank import pagerank
from trianglecounting_spark.operators.scc import scc
from trianglecounting_spark.plans import vertex_state
from trianglecounting_spark.plans.cache import persistent_rdd_ids, release_all_cached
from trianglecounting_spark.plans.checkpoint import IterationCheckpointer
from trianglecounting_spark.plans.tuning import BROADCAST_ROWS
from trianglecounting_spark.sources import generators as g

REGIMES = (BROADCAST_ROWS, 0)  # driver-held state, shuffle rounds

RING = [(i, (i + 1) % 60) for i in range(60)]


def _both(run, same=lambda a, b: a == b, per_part=16):
    """run(broadcast_rows) -> result; asserts both regimes agree, the
    driver-held one also with its grouped adjacency split into many
    partitions (``per_part`` list entries each)."""
    driver, shuffle = (run(b) for b in REGIMES)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(vertex_state, "ENTRIES_PER_PARTITION", per_part)
        split = run(BROADCAST_ROWS)
    assert same(driver, split) and same(driver, shuffle)
    return driver


def _scc_labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return _both(
        lambda b: {r.v: r.label for r in scc(df, broadcast_rows=b, **kw).collect()}
    )


def test_scc_regimes_agree_on_hand_graphs(spark):
    hand = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (4, 5), (6, 0)]
    assert _scc_labels(spark, hand) == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6}
    dag = [(i, i + 1) for i in range(10)] + [(0, 5), (3, 9)]
    assert _scc_labels(spark, dag) == {i: i for i in range(11)}
    bowtie = hand + [(6, 7), (7, 3), (6, 8), (9, 5), (10, 11)]
    assert _scc_labels(spark, bowtie) == {
        0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7, 8: 8, 9: 9, 10: 10, 11: 11,
    }
    # a vertex whose only edge is a self-loop is its own SCC; empty input
    assert _scc_labels(spark, [(0, 1), (1, 0), (5, 5)]) == {0: 0, 1: 0, 5: 5}
    assert _scc_labels(spark, []) == {}


def test_scc_regimes_agree_on_long_ring(spark):
    """A 60-cycle is one SCC of diameter 59; its backward containment flood
    travels against the id order."""
    assert _scc_labels(spark, RING, max_inner=150) == {i: 0 for i in range(60)}


def test_scc_driver_regime_long_ring_over_three_partitions(spark, monkeypatch):
    """A 150-cycle whose ids are scrambled along it, its grouped adjacency
    split into three id ranges, so two of three neighbors sit in another
    partition: it converges under the default caps (one trim, 20 coloring
    and 5 containment passes)."""
    monkeypatch.setattr(vertex_state, "ENTRIES_PER_PARTITION", 100)
    n = 150
    order = [(i * 37) % n for i in range(n)]
    ring = spark.createDataFrame(
        [(a, order[(k + 1) % n]) for k, a in enumerate(order)], "src long, dst long"
    )
    got = {r.v: r.label for r in scc(ring).collect()}
    assert got == {i: 0 for i in range(n)}


def test_scc_driver_regime_allows_two_passes_per_round(spark, monkeypatch):
    """The 60-ring split into 15 id ranges of four vertices needs 15
    containment passes: the flood runs against the id order, where label
    composition cannot help, and crosses one partition per pass. A
    broadcast shuffle round moves it two hops, so ``max_inner=10`` allows
    20 passes and the ring converges (``max_inner=5`` raises, below)."""
    monkeypatch.setattr(vertex_state, "ENTRIES_PER_PARTITION", 8)
    ring = spark.createDataFrame(RING, "src long, dst long")
    got = {r.v: r.label for r in scc(ring, max_inner=10).collect()}
    assert got == {i: 0 for i in range(60)}


@pytest.mark.parametrize("budget", REGIMES, ids=["driver", "shuffle"])
def test_scc_caps_raise_and_release(spark, monkeypatch, budget):
    """Both scc caps raise, and every exit leaves the persistent-RDD set as
    it found it: a containment flood that exhausts ``max_inner`` (a ring's
    flood runs against the id order: one hop per shuffle round, and in the
    driver-held regime one partition crossing per pass, so the ring is
    split into 15 grouped partitions of four vertices) and an outer loop
    that exhausts ``max_rounds`` ({2, 3} is not in its color root's SCC, so
    it needs a second round)."""
    monkeypatch.setattr(vertex_state, "ENTRIES_PER_PARTITION", 8)
    ring = spark.createDataFrame(RING, "src long, dst long")
    nested = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 3), (3, 2)], "src long, dst long"
    )
    release_all_cached(spark)
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        scc(ring, max_inner=5, broadcast_rows=budget)
    assert persistent_rdd_ids(spark) == before
    with pytest.raises(RuntimeError, match="outer rounds"):
        scc(nested, max_rounds=1, broadcast_rows=budget)
    assert persistent_rdd_ids(spark) == before


def test_connected_components_regimes_agree(spark):
    def comps(e):
        return _both(
            lambda b: {
                r.v: r.component
                for r in connected_components(e, broadcast_rows=b).collect()
            }
        )

    assert set(comps(g.two_cliques_bridge(spark)).values()) == {0}
    tri = comps(g.disjoint_triangles(spark, 5))
    assert tri == {v: v // 3 * 3 for v in range(15)}
    # a path whose ids are scrambled along it: the minimum label travels
    # against the id order most of the way
    order = [(i * 37) % 61 for i in range(61)]
    path = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in zip(order, order[1:])], "u long, v long"
    )
    assert set(comps(path).values()) == {0}


def test_coreness_regimes_agree(spark):
    def cores(e, **kw):
        return _both(
            lambda b: {
                r.v: r.coreness
                for r in coreness(e, broadcast_rows=b, **kw).collect()
            }
        )

    assert set(cores(g.two_cliques_bridge(spark)).values()) == {5}
    assert set(cores(g.star_graph(spark, 20)).values()) == {1}
    rmat = normalize_edges(g.rmat_graph(spark, scale=6, edge_factor=4))
    full = cores(rmat)
    assert max(full.values()) >= 2
    # a capped run stops both regimes after the same synchronous rounds
    capped = cores(rmat, max_iterations=1)
    deg = {
        r.v: r.d
        for r in rmat.select(F.explode(F.array("u", "v")).alias("v"))
        .groupBy("v").agg(F.count(F.lit(1)).alias("d")).collect()
    }
    assert all(full[v] <= capped[v] <= deg[v] for v in deg)


def _close(a, b):
    return a.keys() == b.keys() and all(
        math.isclose(a[v], b[v], rel_tol=1e-12) for v in a
    )


def _ranks(e, **kw):
    return {r.v: r.score for r in pagerank(e, **kw).collect()}


def test_pagerank_regimes_agree(spark):
    def ranks(e, per_part=16):
        return _both(
            lambda b: _ranks(e, iterations=10, broadcast_rows=b), _close, per_part
        )

    tcb = ranks(g.two_cliques_bridge(spark))
    assert len(tcb) == 12 and math.isclose(sum(tcb.values()), 1.0, rel_tol=1e-12)
    # ~3.5k list entries: four partitions, not the ~220 tasks per pass that
    # 16 entries each would cost
    rmat = ranks(normalize_edges(g.rmat_graph(spark, scale=9, edge_factor=4)), 1024)
    assert math.isclose(sum(rmat.values()), 1.0, rel_tol=1e-12)
    assert ranks(spark.createDataFrame([], "u long, v long")) == {}


def test_pagerank_tol_mode_regimes_agree(spark):
    """In every regime a huge tol stops after the first step, a vanishing
    one never binds, and tol=1e-8 stops at the same step."""
    e = g.two_cliques_bridge(spark)

    def check(b):
        assert _close(_ranks(e, iterations=6, tol=1e9, broadcast_rows=b),
                      _ranks(e, iterations=1, broadcast_rows=b))
        assert _close(_ranks(e, iterations=4, tol=1e-300, broadcast_rows=b),
                      _ranks(e, iterations=4, broadcast_rows=b))
        return _ranks(e, iterations=60, tol=1e-8, broadcast_rows=b)

    _both(check, _close)


def test_pagerank_passes_per_regime(spark, monkeypatch):
    """One grouped partition owns every vertex, so one pass runs all the
    steps; a split adjacency runs one pass per step."""
    passes = []
    run_pass = vertex_state.VertexState.run_pass

    def counted(self, *a, **kw):
        passes.append(self.n_part)
        return run_pass(self, *a, **kw)

    monkeypatch.setattr(vertex_state.VertexState, "run_pass", counted)
    e = g.two_cliques_bridge(spark)
    whole = _ranks(e, iterations=7)
    assert passes == [1]
    passes.clear()
    monkeypatch.setattr(vertex_state, "ENTRIES_PER_PARTITION", 16)
    split = _ranks(e, iterations=7)
    assert len(passes) == 7 and passes[0] > 1
    assert _close(whole, split)


def _truss(e, k, **kw):
    return {(r.u, r.v) for r in ktruss_mod.ktruss(e, k, **kw).collect()}


def _k6_and_tail(spark):
    """K_6 on 0..5 plus a triangle strip 5-6-7-8-9 hanging off vertex 5
    (edges (i, i+1) and (i, i+2)): at k=4 the first round keeps only the
    strip's two edges in two triangles, the second round drops them too."""
    k6 = [(a, b) for a in range(6) for b in range(a + 1, 6)]
    strip = [(i, i + 1) for i in range(5, 9)] + [(i, i + 2) for i in range(5, 8)]
    return spark.createDataFrame(k6 + strip, "u long, v long")


@pytest.mark.parametrize("graph", ["k6_tail", "rmat9", "empty"])
def test_ktruss_regimes_agree(spark, monkeypatch, graph):
    if graph == "k6_tail":
        e = _k6_and_tail(spark)
    elif graph == "rmat9":
        e = normalize_edges(g.rmat_graph(spark, scale=9, edge_factor=4))
    else:
        e = spark.createDataFrame([], "u long, v long")
    e = e.localCheckpoint(eager=True)
    got = {}
    for k in (2, 3, 4, 6):
        for cap in (1, 2, 100):  # 100: the default cap
            got[k, cap] = _truss(e, k, max_iterations=cap)
            with monkeypatch.context() as mp:
                # -1: even the empty table takes the round loop
                mp.setattr(vertex_state, "ENTRIES_PER_PARTITION", -1)
                assert _truss(e, k, max_iterations=cap) == got[k, cap], (k, cap)
    assert got[2, 100] == {(r.u, r.v) for r in e.collect()}
    if graph == "k6_tail":
        k6 = {(a, b) for a in range(6) for b in range(a + 1, 6)}
        assert len(got[3, 100]) == 15 + 7
        assert got[4, 1] == k6 | {(6, 7), (7, 8)}
        assert got[4, 2] == got[4, 100] == got[6, 1] == got[6, 100] == k6


def test_ktruss_checkpointer_takes_round_loop(spark, monkeypatch, tmp_path):
    """With a checkpointer the round loop runs (its snapshots are the resume
    point), under the one-task bound too, and returns the same edges."""
    e = _k6_and_tail(spark)
    one_task = _truss(e, 4)
    calls = []
    peel = ktruss_mod._peel_in_one_task
    monkeypatch.setattr(
        ktruss_mod, "_peel_in_one_task", lambda *a: calls.append(a) or peel(*a)
    )
    ck = IterationCheckpointer(spark, str(tmp_path / "ck"), every=1)
    assert _truss(e, 4, checkpointer=ck) == one_task
    assert calls == [] and ck.latest() is not None
    assert _truss(e, 4) == one_task and calls == [(4, 100)]

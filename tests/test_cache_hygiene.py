"""Cache hygiene: operators must not leak persisted/checkpointed blocks.

Round-1 regression class: `pagerank` persisted `sym_deg` but unpersisted a
different DataFrame, `connected_components` never unpersisted `vertices`, and
every iterative loop's localCheckpoint blocks lingered until an unrelated JVM
GC. The contract now: after an operator returns and its result is consumed,
the ONLY persistent blocks left are the result's own materialization (≤1 RDD),
and `release_all_cached` sweeps those once the caller is done — no System.gc()
workarounds anywhere. An operator that raises mid-loop leaves none at all
(``plans/cache.IterationScope`` frees everything it made on every exit).
"""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from trianglecounting_spark.functions.textstats import bpe_train
from trianglecounting_spark.operators import (
    bfs,
    centrality,
    coloring,
    hyperball,
    kcore,
    linkpred,
    mis,
    redirects,
)
from trianglecounting_spark.operators import ktruss as ktruss_mod
from trianglecounting_spark.operators import pagerank as pr
from trianglecounting_spark.operators import scc as scc_mod
from trianglecounting_spark.operators import triangles as t
from trianglecounting_spark.operators.components import (
    attack_tolerance,
    connected_components,
    connected_components_incremental,
)
from trianglecounting_spark.operators.kcore import coreness
from trianglecounting_spark.operators.ktruss import ktruss, ktruss_rounds
from trianglecounting_spark.operators.labelprop import label_propagation
from trianglecounting_spark.operators.pagerank import pagerank
from trianglecounting_spark.operators.scc import scc
from trianglecounting_spark.plans import vertex_state
from trianglecounting_spark.plans.cache import (
    persistent_rdd_ids,
    release_all_cached,
    tracked_checkpoint,
)
from trianglecounting_spark.sources import generators as g


def _graph(spark):
    return g.two_cliques_bridge(spark)


def _assert_clean(spark, run):
    """run(edges) -> consumed result; at most the result's own blocks remain."""
    release_all_cached(spark)
    assert persistent_rdd_ids(spark) == set()
    run(_graph(spark))
    leftover = persistent_rdd_ids(spark)
    assert len(leftover) <= 1, f"operator leaked {len(leftover)} persistent RDDs"
    release_all_cached(spark)
    assert persistent_rdd_ids(spark) == set()


def test_pagerank_no_cache_leak(spark):
    _assert_clean(spark, lambda e: pagerank(e, iterations=7).agg(F.sum("score")).collect())


def test_connected_components_no_cache_leak(spark):
    _assert_clean(
        spark,
        lambda e: connected_components(e).agg(F.countDistinct("component")).collect(),
    )


def test_scc_no_cache_leak(spark):
    _assert_clean(
        spark,
        lambda e: scc(
            e.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        ).agg(F.countDistinct("label")).collect(),
    )


def test_coreness_no_cache_leak(spark):
    _assert_clean(
        spark, lambda e: coreness(e).agg(F.countDistinct("coreness")).collect()
    )


def test_label_propagation_no_cache_leak(spark):
    _assert_clean(
        spark, lambda e: label_propagation(e, rounds=3).agg(F.countDistinct("label")).collect()
    )


def test_ktruss_rounds_no_cache_leak(spark):
    _assert_clean(spark, lambda e: ktruss_rounds(e, k=4, rounds=2).count())


def test_ktruss_no_cache_leak(spark):
    """The one-task peel leaves only its result's block."""
    _assert_clean(spark, lambda e: ktruss(e, k=4).count())


def test_tracked_checkpoint_releases_intermediates(spark):
    """tracked_checkpoint must free lazy upstream checkpoints created while
    constructing the plan (the triangle kernel's internal DODG/adjacency
    materializations), keeping only the result's own block."""
    release_all_cached(spark)
    before = persistent_rdd_ids(spark)
    per_edge = t.triangle_per_edge_support(_graph(spark))  # registers lazy ckpts
    out, own = tracked_checkpoint(per_edge, before=before)
    assert persistent_rdd_ids(spark) - before == own
    assert out.agg(F.sum("support")).collect()[0][0] == 120  # 40 triangles × 3
    release_all_cached(spark)
    assert persistent_rdd_ids(spark) == set()


def test_results_correct_after_release(spark):
    """Releasing caches must not have changed any answer (blocks released only
    once no live plan references them)."""
    release_all_cached(spark)
    e = _graph(spark)
    assert t.triangle_count_kernel(e).collect()[0].triangles == 40
    ranks = pagerank(e, iterations=5)
    total = ranks.agg(F.round(F.sum("score"), 6).alias("s")).collect()[0].s
    assert abs(total - 1.0) < 1e-6
    release_all_cached(spark)


def test_tracked_checkpoint_spares_sql_caches(spark):
    """A DataFrame.persist() cache whose buffers first materialize INSIDE a
    tracked_checkpoint job must survive the sweep (ADVICE r2: pagerank's
    pre-partitioned edge table was built during the first checkpoint and then
    permanently unpersisted — every later iteration re-shuffled the edges).
    Only locally-checkpointed scratch may be released."""
    release_all_cached(spark)
    before = persistent_rdd_ids(spark)
    base = spark.range(1000).select(
        F.col("id").alias("v"), (F.col("id") % 7).alias("x")
    ).persist()  # lazy: no action yet, buffers not built
    derived = base.groupBy("x").agg(F.count(F.lit(1)).alias("n"))
    out, own = tracked_checkpoint(derived, before=before)
    surviving_caches = persistent_rdd_ids(spark) - before - own
    assert surviving_caches, "the SQL cache buffer was swept by tracked_checkpoint"
    # and the cache is still SERVING: re-derivation runs against cached buffers
    assert base.count() == 1000
    assert out.agg(F.sum("n")).collect()[0][0] == 1000
    base.unpersist()
    release_all_cached(spark)
    assert persistent_rdd_ids(spark) == set()


def _directed(e):
    """Directed edges with some reciprocated pairs (non-trivial SCCs)."""
    return e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.where(F.col("u") % 3 == 0).select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )


def _ktruss_round_loop(e):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(vertex_state, "ENTRIES_PER_PARTITION", -1)
        return ktruss(e, k=4).count()


def _redirects(e):
    m = e.sparkSession.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 5)], "src long, dst long"
    )
    return redirects.resolve_redirects(m, cap=4).count()


def _bpe(e):
    docs = e.sparkSession.createDataFrame(
        [("the cat sat on the mat",), ("that hat",)], "text string"
    )
    return bpe_train(docs, n_merges=3).count()


def _cc_incremental(e):
    # driver-regime labels: an input that holds no block of its own
    labels = connected_components(e.where(F.col("u") < 10))
    return connected_components_incremental(labels, e.where(F.col("u") >= 10)).count()


# Every operator whose rounds run in an IterationScope and that the named
# tests above do not cover; both regimes where an operator has two
# (``broadcast_rows=0`` forces the shuffle one).
LEAK_CASES = {
    "hyperball_balls": lambda e: hyperball.hyperball_balls(e, 3).count(),
    "neighborhood_function": lambda e: hyperball.neighborhood_function(e, 3),
    "harmonic_centrality": lambda e: hyperball.harmonic_centrality_approx(e, 3).count(),
    "trussness": lambda e: ktruss_mod.trussness(e).count(),
    "ktruss_round_loop": _ktruss_round_loop,
    "ktruss_incremental": lambda e: ktruss_mod.ktruss_incremental(
        e, 5, delta_frac=float("inf")
    ).count(),
    "kcore": lambda e: kcore.kcore(e, 4).count(),
    "kcore_incremental": lambda e: kcore.kcore_incremental(e, 5).count(),
    "coreness_shuffle": lambda e: coreness(e, broadcast_rows=0).count(),
    "bfs_distances": lambda e: bfs.bfs_distances(e).count(),
    "sssp_weighted": lambda e: bfs.sssp_weighted(bfs.hash_weights(e)).count(),
    "pagerank_shuffle": lambda e: pagerank(e, iterations=7, broadcast_rows=0).count(),
    "pagerank_directed": lambda e: pr.pagerank_directed(_directed(e), iterations=2).count(),
    "personalized_pagerank": lambda e: pr.personalized_pagerank(
        _directed(e), [1, 2], iterations=2
    ).count(),
    "pagerank_weighted": lambda e: pr.pagerank_weighted(
        bfs.hash_weights(e), iterations=6
    ).count(),
    "hits": lambda e: pr.hits(_directed(e), iterations=2).count(),
    "salsa": lambda e: pr.salsa(_directed(e), iterations=2).count(),
    "eigenvector_centrality": lambda e: pr.eigenvector_centrality(e, 2).count(),
    "katz_centrality": lambda e: pr.katz_centrality(e, iterations=2).count(),
    "connected_components_shuffle": lambda e: connected_components(
        e, broadcast_rows=0
    ).count(),
    "connected_components_incremental": _cc_incremental,
    "attack_tolerance": lambda e: attack_tolerance(e, (0.1,)).count(),
    "mis": lambda e: mis.maximal_independent_set(e).count(),
    "mis_shuffle": lambda e: mis.maximal_independent_set(e, broadcast_rows=0).count(),
    "greedy_coloring": lambda e: coloring.greedy_coloring(e).count(),
    "scc_shuffle": lambda e: scc(_directed(e), broadcast_rows=0).count(),
    "bowtie_classes": lambda e: scc_mod.bowtie_classes(_directed(e)).count(),
    "condensation_levels": lambda e: scc_mod.condensation_levels(_directed(e)).count(),
    "betweenness_pivots": lambda e: centrality.betweenness_pivots(e, n_pivots=4).count(),
    "resolve_redirects": _redirects,
    "simrank": lambda e: linkpred.simrank(_directed(e), iterations=2).count(),
    "bpe_train": _bpe,
}


@pytest.mark.parametrize("name", sorted(LEAK_CASES))
def test_iterative_operator_no_cache_leak(spark, name):
    _assert_clean(spark, LEAK_CASES[name])


class _Injected(Exception):
    pass


# (operator, n): the n-th DataFrame.localCheckpoint call of the run raises —
# a mid-loop round of each operator's shuffle loop
ERROR_CASES = {
    "bfs_distances": (lambda e: bfs.bfs_distances(e).count(), 3),
    "trussness": (lambda e: ktruss_mod.trussness(e).count(), 4),
    # tol mode: every step kept, the old state released after the delta probe
    "pagerank_shuffle_tol": (
        lambda e: pagerank(e, iterations=7, tol=1e-12, broadcast_rows=0).count(), 3
    ),
    "connected_components_shuffle": (
        lambda e: connected_components(e, broadcast_rows=0).count(), 3
    ),
    "mis_shuffle": (
        lambda e: mis.maximal_independent_set(e, broadcast_rows=0).count(), 3
    ),
    "greedy_coloring": (lambda e: coloring.greedy_coloring(e).count(), 3),
    "label_propagation": (lambda e: label_propagation(e, rounds=3).count(), 2),
    "hyperball_balls": (lambda e: hyperball.hyperball_balls(e, 3).count(), 3),
}


@pytest.mark.parametrize("name", sorted(ERROR_CASES))
def test_iterative_operator_releases_on_error(spark, monkeypatch, name):
    """A failure mid-loop (here: the n-th checkpoint) must leave the session's
    persistent blocks exactly as they were before the call."""
    run, n = ERROR_CASES[name]
    release_all_cached(spark)
    e = _graph(spark)
    before = persistent_rdd_ids(spark)
    calls = itertools.count(1)
    local_checkpoint = ClassicDataFrame.localCheckpoint

    def failing(self, eager=True):
        if next(calls) == n:
            raise _Injected(name)
        return local_checkpoint(self, eager)

    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", failing)
    with pytest.raises(_Injected):
        run(e)
    monkeypatch.undo()
    assert persistent_rdd_ids(spark) == before
    release_all_cached(spark)

"""Cache hygiene: operators must not leak persisted/checkpointed blocks.

Round-1 regression class: `pagerank` persisted `sym_deg` but unpersisted a
different DataFrame, `connected_components` never unpersisted `vertices`, and
every iterative loop's localCheckpoint blocks lingered until an unrelated JVM
GC. The contract now: after an operator returns and its result is consumed,
the ONLY persistent blocks left are the result's own materialization (≤1 RDD),
and `release_all_cached` sweeps those once the caller is done — no System.gc()
workarounds anywhere.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from trianglecounting_spark.operators import triangles as t
from trianglecounting_spark.operators.components import connected_components
from trianglecounting_spark.operators.kcore import coreness
from trianglecounting_spark.operators.ktruss import ktruss, ktruss_rounds
from trianglecounting_spark.operators.labelprop import label_propagation
from trianglecounting_spark.operators.pagerank import pagerank
from trianglecounting_spark.operators.scc import scc
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

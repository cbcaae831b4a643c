"""Bucketed physical layout: exchange-free kernel join + result parity."""

from __future__ import annotations

import json

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from trianglecounting_spark.operators import triangles as t
from trianglecounting_spark.operators.normalize import normalize_edges
from trianglecounting_spark.plans.layout import (
    assert_bucketed_scans,
    count_shuffle_exchanges,
    write_graph_layout,
)
from trianglecounting_spark.sources import generators as g


def test_bucketed_layout_exchange_free_and_exact(spark, tmp_path):
    edges = normalize_edges(g.rmat_graph(spark, 10, 8)).localCheckpoint(eager=True)
    e_tbl, a_tbl, h_tbl = write_graph_layout(
        edges, str(tmp_path), buckets=8, prefix="tl1"
    )
    # Iceberg-style snapshot manifest written atomically alongside the tables
    import json

    manifest = json.loads((tmp_path / "_LAYOUT_MANIFEST.json").read_text())
    assert manifest["buckets"] == 8
    assert manifest["rows"][e_tbl] == edges.count()

    # force the join to actually use co-located buckets (a broadcast join
    # would also be exchange-free but wouldn't prove the layout)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        laid_out, _hub = t.bucketed_kernel_layout(spark, e_tbl, a_tbl)
        # exactly ONE shuffle: the final src CSR grouping. The dst join reads
        # both bucketed tables in place.
        assert count_shuffle_exchanges(laid_out) == 1, laid_out._jdf.queryExecution().executedPlan().toString()

        tri_bucketed = (
            t.triangle_count_kernel_bucketed(spark, e_tbl, a_tbl).collect()[0].triangles
        )
        # materialized hub CSR path: same count, zero hub-selection jobs
        tri_hub_tbl = (
            t.triangle_count_kernel_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
            .collect()[0]
            .triangles
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    tri = t.triangle_count_kernel(edges).collect()[0].triangles
    assert tri_bucketed == tri
    assert tri_hub_tbl == tri

    sup_b = (
        t.triangle_per_edge_support_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
        .agg(F.sum("support").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    sup = (
        t.triangle_per_edge_support(edges)
        .agg(F.sum("support").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()[0]
    )
    assert (sup_b.s, sup_b.n) == (sup.s, sup.n)
    assert sup_b.s == 3 * tri


def test_bucketed_layout_no_hubs_edge_case(spark, tmp_path):
    """Graph with no hub candidates (all in-degrees 1): empty hub CSR table,
    counts still exact via the join path."""
    edges = g.cycle_graph(spark, 40).localCheckpoint(eager=True)
    e_tbl, a_tbl, h_tbl = write_graph_layout(
        edges, str(tmp_path), buckets=4, prefix="tl2"
    )
    assert spark.table(h_tbl).count() == 0
    tri = (
        t.triangle_count_kernel_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
        .collect()[0]
        .triangles
    )
    assert tri == 0


# ---------------------------------------------------------------------------
# The probe table: the steady-state query reads the kernel input as written
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def probe_layout(spark, tmp_path_factory):
    """An R-MAT scale-10 graph, its exact count, a layout with 8 buckets,
    its manifest and the probe table the manifest names."""
    edges = normalize_edges(g.rmat_graph(spark, 10, 8, seed=7)).localCheckpoint(eager=True)
    base = tmp_path_factory.mktemp("probe_layout")
    tables = write_graph_layout(edges, str(base), buckets=8, prefix="tl3")
    tri = t.triangle_count_kernel(edges).collect()[0].triangles
    manifest = json.loads((base / "_LAYOUT_MANIFEST.json").read_text())
    return edges, tables, tri, manifest, _probe_table(manifest)


def _probe_table(manifest):
    return next(k for k, v in manifest["tables"].items() if v == "probe")


def test_probe_table_manifest(spark, probe_layout):
    """The manifest records the probe table with its row count and bucket
    key; the adjacency view holds one row per source."""
    edges, (e_tbl, a_tbl, h_tbl), _, manifest, p_tbl = probe_layout
    assert manifest["bucket_keys"][p_tbl] == "src"
    assert manifest["rows"][p_tbl] == manifest["rows"][e_tbl] == edges.count()
    assert manifest["rows"][h_tbl] == spark.table(h_tbl).count() > 0
    assert manifest["rows"][a_tbl] == spark.table(a_tbl).count()
    assert spark.catalog.getTable(a_tbl).tableType == "VIEW"


def test_hub_table_count_reads_probe_buckets_without_shuffle(spark, probe_layout):
    """The steady-state count plans no hash, range or round-robin exchange,
    reads the probe table through a bucketed scan, runs at most 3 Spark jobs
    (hub-CSR collect, scan+kernel stage, final sum) and is exact."""
    _, (e_tbl, a_tbl, h_tbl), tri, _, p_tbl = probe_layout
    sc = spark.sparkContext
    sc.setJobGroup("tl3_steady_count", "steady-state bucketed count")
    try:
        df = t.triangle_count_kernel_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert count_shuffle_exchanges(df) == 0, plan
        assert f".{p_tbl}[" in plan and "Bucketed: true" in plan, plan
        assert df.collect()[0].triangles == tri
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("tl3_steady_count")) <= 3


def test_round_robin_exchange_is_counted(spark):
    """A round-robin shuffle must not pass a zero-exchange assertion."""
    assert count_shuffle_exchanges(spark.range(10).repartition(3)) == 1
    assert count_shuffle_exchanges(spark.range(10).coalesce(1)) == 0


def test_probe_read_coalesces_whole_buckets(spark, probe_layout, monkeypatch):
    """8 buckets on fewer slots: the read merges whole buckets into fewer
    kernel partitions and the count stays exact; sized by bytes instead, it
    never exceeds the bucket count."""
    _, (e_tbl, a_tbl, h_tbl), tri, _, p_tbl = probe_layout

    def kernel_partitions():
        laid_out, hub_bc = t.bucketed_kernel_layout(spark, e_tbl, a_tbl, hub_table=h_tbl)
        # one partial row per kernel partition, empty ones included
        partials = t._apply(laid_out, hub_bc, t._count_reducer, "tri_cnt long, probes long")
        out = assert_bucketed_scans(
            partials.agg(F.count(F.lit(1)).alias("parts"), F.sum("tri_cnt").alias("tri")),
            p_tbl,
        ).collect()[0]
        return out.parts, out.tri

    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda self: 2))
    assert kernel_partitions() == (2, tri)
    saved = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
        assert kernel_partitions() == (8, tri)
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", saved)


def test_support_bucketed_equals_support(spark, probe_layout):
    edges, (e_tbl, a_tbl, h_tbl), *_ = probe_layout
    got = t.triangle_per_edge_support_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
    assert sorted(got.collect()) == sorted(t.triangle_per_edge_support(edges).collect())


def test_layout_over_hub_budget_writes_every_list(spark, tmp_path, monkeypatch):
    """Past ``HUB_BUDGET_BYTES`` the hub table is empty and the probe rows
    carry every list: nbrs is null exactly at the sinks."""
    edges = normalize_edges(g.rmat_graph(spark, 9, 8)).localCheckpoint(eager=True)
    tri = t.triangle_count_kernel(edges).collect()[0].triangles
    monkeypatch.setattr(t, "HUB_BUDGET_BYTES", 64)
    e_tbl, a_tbl, h_tbl = write_graph_layout(edges, str(tmp_path), buckets=4, prefix="tl4")
    manifest = json.loads((tmp_path / "_LAYOUT_MANIFEST.json").read_text())
    p_tbl = _probe_table(manifest)
    assert spark.table(h_tbl).count() == manifest["rows"][h_tbl] == 0
    probe = spark.table(p_tbl)
    srcs = probe.select(F.col("src").alias("dst")).distinct()
    null_rows = probe.where(F.col("nbrs").isNull())
    assert null_rows.count() == null_rows.join(srcs, "dst", "left_anti").count() > 0
    assert null_rows.count() < probe.count()
    got = t.triangle_count_kernel_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
    assert got.collect()[0].triangles == tri


def test_rewrite_same_prefix_over_table_or_view(spark, tmp_path):
    """A layout rewrites its prefix whether ``<prefix>_adjacency`` is a table
    (a layout from before the adjacency view) or already the view."""
    edges = g.disjoint_triangles(spark, 12).localCheckpoint(eager=True)
    spark.range(3).withColumnRenamed("id", "src").write.mode("overwrite").option(
        "path", str(tmp_path / "old_adjacency")
    ).saveAsTable("tl5_adjacency")
    for run in ("over_table", "over_view"):
        e_tbl, a_tbl, h_tbl = write_graph_layout(
            edges, str(tmp_path / run), buckets=4, prefix="tl5"
        )
        assert spark.catalog.getTable(a_tbl).tableType == "VIEW"
        got = t.triangle_count_kernel_bucketed(spark, e_tbl, a_tbl, hub_table=h_tbl)
        assert got.collect()[0].triangles == 12

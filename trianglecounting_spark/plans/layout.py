"""Bucketed physical layout for the kernel path (SURVEY §4, the strong half).

Round 1 re-did the kernel's co-location per query with ``repartition(src)`` /
a shuffle join on dst. At 100 TB the right design pays that once: write the
canonical DODG edge table bucketed by ``dst`` and the adjacency table bucketed
by ``src`` (Iceberg-style bucket partitioning; this sandbox has no Iceberg
jars, so the identical contract runs on Spark's native bucketed parquet
tables). Every subsequent kernel run then reads co-located buckets — the
edges ⋈ dst-adjacency join plans with ZERO shuffle exchanges; only the final
src CSR grouping shuffles. ``sortBy`` in the bucket spec additionally lets
single-file buckets skip the join sort.

The reference's analogue: its preprocessing emits the degree-ordered CSR to
disk once (`yche/yche_serialization.h:62-81`) and every counting run mmaps it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from trianglecounting_spark.operators.normalize import adjacency, orient_dodg
from trianglecounting_spark.plans.cache import persistent_rdd_ids, release_ids


def write_graph_layout(
    edges: DataFrame,
    base_dir: str,
    buckets: int = 64,
    prefix: str = "linkgraph",
    hub_k: int = 65536,
) -> tuple[str, str, str]:
    """Write the kernel's physical layout from a canonical (u<v) edge table.

    Creates three catalog-registered parquet tables under ``base_dir``:
      * ``<prefix>_edges_dodg`` — the DODG (src, dst), bucketed+sorted by dst
        (the kernel join key);
      * ``<prefix>_adjacency``  — (src, nbrs sorted), bucketed+sorted by src
        (which IS the join key after the dst alias);
      * ``<prefix>_hub_csr``    — the selected hub set's flat adjacency
        (src, nbr): the broadcast side of the J2/J3 hub split, materialized
        once so steady-state queries skip the in-degree agg + threshold +
        quantile selection jobs entirely.

    ``buckets`` plays the role of the cluster's parallelism unit; both bucketed
    tables must share it for the exchange-free join. Returns the table names
    (edges, adjacency, hub_csr).
    """
    from trianglecounting_spark.operators.triangles import _select_hub_csr

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark = edges.sparkSession
    before = persistent_rdd_ids(spark)
    # share the DODG computation between the writes
    d = orient_dodg(edges).localCheckpoint(eager=False)
    adj = adjacency(d).localCheckpoint(eager=False)
    e_tbl, a_tbl = f"{prefix}_edges_dodg", f"{prefix}_adjacency"
    h_tbl = f"{prefix}_hub_csr"
    for tbl in (e_tbl, a_tbl, h_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # the manifest's row counts ride the write jobs via observe() — round 3
    # re-counted both freshly written tables (two avoidable full-scan jobs,
    # half the build_layout regression in BENCH_r03)
    obs_e, obs_a = Observation("layout_edges"), Observation("layout_adjacency")
    (
        d.observe(obs_e, F.count(F.lit(1)).alias("rows"))
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, "dst")
        .sortBy("dst")
        .option("path", os.path.join(base_dir, e_tbl))
        .saveAsTable(e_tbl)
    )
    (
        adj.observe(obs_a, F.count(F.lit(1)).alias("rows"))
        .write.format("parquet")
        .mode("overwrite")
        .bucketBy(buckets, "src")
        .sortBy("src")
        .option("path", os.path.join(base_dir, a_tbl))
        .saveAsTable(a_tbl)
    )
    _hubs, flat_pdf = _select_hub_csr(d, hub_k)
    # over-budget hub CSR (triangles.HUB_BUDGET_BYTES) → write an empty table:
    # steady-state readers then run hub-less, the same fallback the per-query
    # path takes
    hub_df = (
        spark.createDataFrame(flat_pdf, schema="src long, nbr long")
        if flat_pdf is not None and len(flat_pdf)
        else spark.createDataFrame([], "src long, nbr long")
    )
    (
        hub_df.write.format("parquet")
        .mode("overwrite")
        .option("path", os.path.join(base_dir, h_tbl))
        .saveAsTable(h_tbl)
    )
    # the shared DODG/adjacency checkpoints served all writes — release now
    release_ids(spark, persistent_rdd_ids(spark) - before)
    # Iceberg-style snapshot manifest: the layout is only usable if its two
    # tables are from the SAME source snapshot; the manifest records the
    # counts + bucket spec + write time so a reader (or a resume) can verify
    # consistency before trusting the exchange-free plan. (With real Iceberg
    # this is the table snapshot metadata; parquet tables need it written
    # explicitly.)
    import json
    import time

    manifest = {
        "tables": {e_tbl: "edges_dodg", a_tbl: "adjacency", h_tbl: "hub_csr"},
        "buckets": buckets,
        "bucket_keys": {e_tbl: "dst", a_tbl: "src"},
        "hub_k": hub_k,
        "rows": {
            e_tbl: int(obs_e.get["rows"]),
            a_tbl: int(obs_a.get["rows"]),
            h_tbl: int(len(flat_pdf)) if flat_pdf is not None else 0,
        },
        "written_at": time.time(),
    }
    tmp = os.path.join(base_dir, "_LAYOUT_MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(base_dir, "_LAYOUT_MANIFEST.json"))
    return e_tbl, a_tbl, h_tbl


def count_shuffle_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the (pre-AQE) physical plan —
    the assertion hook for exchange-free bucketed reads (broadcast exchanges
    excluded: the hub split broadcasts by design)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )

"""Bucketed physical layout for the kernel path (SURVEY §4, the strong half).

Round 1 re-did the kernel's co-location per query with ``repartition(src)`` /
a shuffle join on dst. At 100 TB the right design pays that once: the layout
writes the kernel's input itself (Iceberg-style bucket partitioning; this
sandbox has no Iceberg jars, so the identical contract runs on Spark's native
bucketed parquet tables). The probe table holds every DODG row ``(src, dst)``
with N⁺(dst) attached unless dst is a hub or a sink, bucketed and sorted by
src, one file per bucket; the hub table holds the hubs' flat CSR and names
the probe table in its catalog entry. A steady-state query then collects the
hub CSR, reads the probe table with a bucketed scan, coalesces whole buckets
and sorts within partitions: one scan+kernel stage and the final sum, ZERO
shuffle exchanges. Which destinations are hubs is a write-time decision; no
query replicates adjacency through a join.

The DODG edge table (bucketed by dst) and the adjacency view (the probe
table grouped by src, so its buckets are src-co-located) serve the
fresh-selection path, whose dst join is exchange-free on the shared
bucketing: only the final src grouping shuffles there.

The reference's analogue: its preprocessing emits the degree-ordered CSR to
disk once (`yche/yche_serialization.h:62-81`) and every counting run mmaps it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from trianglecounting_spark.operators.normalize import adjacency, orient_dodg
from trianglecounting_spark.plans.cache import persistent_rdd_ids, release_ids

# The hub table's catalog property naming its probe table.
PROBE_TABLE_PROPERTY = "linkgraph.probe_table"


def write_graph_layout(
    edges: DataFrame,
    base_dir: str,
    buckets: int = 64,
    prefix: str = "linkgraph",
    hub_k: int = 65536,
) -> tuple[str, str, str]:
    """Write the kernel's physical layout from a canonical (u<v) edge table.

    Creates catalog-registered parquet tables under ``base_dir``:
      * ``<prefix>_edges_dodg`` — the DODG (src, dst), bucketed+sorted by dst;
      * ``<prefix>_hub_csr``    — the selected hub set's flat adjacency
        (src, nbr), one file, written from the executors: the broadcast side
        of the J2/J3 hub split, so queries skip the in-degree agg + threshold
        + quantile selection jobs. Empty when it exceeds
        ``triangles.HUB_BUDGET_BYTES``;
      * ``<prefix>_probe``      — the DODG (src, dst, nbrs) with N⁺(dst)
        attached where dst is neither a hub nor a sink (null there),
        bucketed+sorted by src, one file per bucket;
    and the view ``<prefix>_adjacency`` — (src, nbrs sorted), the probe
    table grouped by src.

    ``buckets`` plays the role of the cluster's parallelism unit; the edge
    table and the probe table share it for the exchange-free join of the
    fresh-selection path. Returns the names (edges, adjacency, hub_csr).
    """
    from trianglecounting_spark.operators import triangles as T

    spark = edges.sparkSession
    before = persistent_rdd_ids(spark)
    # share the DODG computation between the writes
    d = orient_dodg(edges).localCheckpoint(eager=False)
    e_tbl, a_tbl, h_tbl, p_tbl = (
        f"{prefix}_{name}" for name in ("edges_dodg", "adjacency", "hub_csr", "probe")
    )
    for tbl in (e_tbl, a_tbl, h_tbl, p_tbl):
        _drop(spark, tbl)
    # every manifest row count rides a write job via observe() — round 3
    # re-counted the freshly written tables (two avoidable full-scan jobs,
    # half the build_layout regression in BENCH_r03)
    obs = {tbl: Observation(f"layout_{tbl}") for tbl in (e_tbl, a_tbl, h_tbl, p_tbl)}

    def counted(df: DataFrame, tbl: str) -> DataFrame:
        return df.observe(obs[tbl], F.count(F.lit(1)).alias("rows"))

    def save(df: DataFrame, tbl: str, bucket_key: str | None = None) -> None:
        writer = df.write.format("parquet").mode("overwrite")
        if bucket_key is not None:
            writer = writer.bucketBy(buckets, bucket_key).sortBy(bucket_key)
        writer.option("path", os.path.join(base_dir, tbl)).saveAsTable(tbl)

    save(counted(d, e_tbl), e_tbl, "dst")
    # one file: the query's budget-probe collect then reads one partition
    # and needs no shuffle
    hubs, flat = T._select_hubs(d, hub_k)
    save(counted(flat, h_tbl).coalesce(1), h_tbl)
    hub_rows = int(obs[h_tbl].get["rows"])
    if hub_rows > T._hub_budget_rows():
        # over budget: an empty hub table and hub-less probe rows — the same
        # fallback the per-query path takes
        hubs, hub_rows = None, 0
        save(spark.createDataFrame([], "src long, nbr long"), h_tbl)
    adj_dst = counted(adjacency(d), a_tbl).select(F.col("src").alias("dst"), "nbrs")
    if hubs is not None:
        adj_dst = adj_dst.join(F.broadcast(hubs), "dst", "left_anti")
    probe = d.join(adj_dst, "dst", "left").select("src", "dst", "nbrs")
    # hash-partitioned like the buckets: each task writes one bucket file
    save(counted(probe, p_tbl).repartition(buckets, "src"), p_tbl, "src")
    spark.sql(
        f"CREATE VIEW {a_tbl} AS SELECT src, sort_array(collect_list(dst)) AS nbrs "
        f"FROM {p_tbl} GROUP BY src"
    )
    spark.sql(f"ALTER TABLE {h_tbl} SET TBLPROPERTIES ('{PROBE_TABLE_PROPERTY}' = '{p_tbl}')")
    # the shared DODG checkpoint and the hub selection served all writes —
    # release now
    release_ids(spark, persistent_rdd_ids(spark) - before)
    # Iceberg-style snapshot manifest: the layout is only usable if its
    # tables are from the SAME source snapshot; the manifest records the
    # counts + bucket spec + write time so a reader (or a resume) can verify
    # consistency before trusting the exchange-free plan. (With real Iceberg
    # this is the table snapshot metadata; parquet tables need it written
    # explicitly.)
    manifest = {
        "tables": {e_tbl: "edges_dodg", a_tbl: "adjacency (view of the probe table)",
                   h_tbl: "hub_csr", p_tbl: "probe"},
        "buckets": buckets,
        "bucket_keys": {e_tbl: "dst", p_tbl: "src"},
        "hub_k": hub_k,
        "rows": {
            e_tbl: int(obs[e_tbl].get["rows"]),
            a_tbl: int(obs[a_tbl].get["rows"]),
            h_tbl: hub_rows,
            p_tbl: int(obs[p_tbl].get["rows"]),
        },
        "written_at": time.time(),
    }
    tmp = os.path.join(base_dir, "_LAYOUT_MANIFEST.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(base_dir, "_LAYOUT_MANIFEST.json"))
    return e_tbl, a_tbl, h_tbl


def _drop(spark: SparkSession, name: str) -> None:
    """Drop the catalog table or view ``name`` if it exists (``DROP TABLE``
    refuses a view and ``DROP VIEW`` a table)."""
    if spark.catalog.tableExists(name):
        kind = "VIEW" if spark.catalog.getTable(name).tableType == "VIEW" else "TABLE"
        spark.sql(f"DROP {kind} {name}")


def read_probe_table(spark: SparkSession, hub_table: str):
    """The kernel layout read from the probe table that ``hub_table``'s
    catalog entry names: ``(laid_out, probe_table)``, or None when it names
    none. Runs no Spark job.

    A bucketed scan keeps every src group inside one bucket; ``coalesce``
    merges whole buckets into min(buckets, max(defaultParallelism,
    ⌈probe bytes / advisoryPartitionSizeInBytes⌉)) partitions — the sizing
    AQE gives the shuffle this read replaces — and a sort within each makes
    its src groups contiguous. A split-file scan would cut groups apart and
    miscount without an error: ``assert_bucketed_scans`` checks the plan."""
    props = dict(spark.sql(f"SHOW TBLPROPERTIES {hub_table}").collect())
    name = props.get(PROBE_TABLE_PROPERTY)
    if name is None:
        return None
    probe = spark.table(name)
    relation = probe._jdf.queryExecution().optimizedPlan()
    buckets = relation.relation().bucketSpec().get().numBuckets()
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    parts = min(
        buckets,
        max(spark.sparkContext.defaultParallelism, -(-relation.stats().sizeInBytes() // advisory)),
    )
    return probe.coalesce(parts).sortWithinPartitions("src"), name


def assert_bucketed_scans(df: DataFrame, table: str | None) -> DataFrame:
    """``df``, after checking that its physical plan reads ``table`` only
    through bucketed scans (no check when ``table`` is None)."""
    if table is not None:
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [line for line in plan.splitlines() if "FileScan" in line and f".{table}[" in line]
        if not scans or any("Bucketed: true" not in line for line in scans):
            raise RuntimeError(f"{table} must be read through bucketed scans:\n{plan}")
    return df


def count_shuffle_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchange operators in the (pre-AQE) physical plan —
    the assertion hook for exchange-free bucketed reads: hash, range and
    round-robin repartitioning (broadcast exchanges excluded: the hub split
    broadcasts by design; so is the SinglePartition gather of a final
    aggregate)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        plan.count(f"Exchange {kind}")
        for kind in ("hashpartitioning", "rangepartitioning", "RoundRobinPartitioning")
    )

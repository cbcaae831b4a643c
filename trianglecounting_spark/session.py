"""SparkSession factory with scale-oriented defaults.

The reference engine configures its parallelism once at startup
(``triangle-counting/triangle_counting_main.cpp:39-41`` — ``omp_set_num_threads``);
our analogue is the Spark master / shuffle-partition configuration, plus the
optimizer features a 100 TB deployment needs on by default: AQE (runtime
re-planning + skew-join splitting), Arrow transfer for the vectorized kernels,
and partial aggregation pushdown (on by default in Spark).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trianglecounting-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a real
    cluster the same code runs unchanged via ``spark-submit --master yarn/k8s``;
    only the master URL differs — every plan in this package is written for
    multi-executor execution (explicit repartitioning, broadcast hints, skew
    salting) and merely *tested* on local[N].
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 32)
    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the master (yarn/k8s/standalone) comes from the
    # submit command — setting it here would override the cluster manager.
    # SPARK_GRAFT_INHERIT_MASTER=1 (set by tools/submit_main.py) defers to it;
    # the default stays self-contained local[N] for tests/bench.
    if not os.environ.get("SPARK_GRAFT_INHERIT_MASTER"):
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting — the table-level analogue
        # of the reference's dynamic load balancing (schedule(dynamic,100),
        # triangle-counting/triangle_counting.h:69).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere Python touches data — the input_hint forbids
        # per-row Python; all kernels are pandas/Arrow vectorized.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Keep driver results bounded; engine code never collects large frames.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Reliable-checkpoint dir for the deep-iteration lineage BARRIER
    # (plans/cache.IterationScope.keep(..., barrier=True)): localCheckpoint
    # leaves the underlying RDD DAG chained, and a driver-side per-job
    # traversal walks PATHS, not nodes — with ≥2 references per iteration
    # the walk is O(k^depth), which measurably explodes past ~12 chained
    # rounds. A reliable checkpoint (files) is the only true truncation. On
    # a cluster this would be a shared HDFS/object-store path.
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        import atexit
        import shutil
        import tempfile

        ckpt_dir = tempfile.mkdtemp(prefix="spark_graft_ckpt_")
        spark.sparkContext.setCheckpointDir(ckpt_dir)
        # barrier checkpoint files are never GC'd by Spark by default
        # (spark.cleaner.referenceTracking.cleanCheckpoints=false), so a
        # long-running session with deep floods would accumulate them
        # unboundedly — reap the whole session dir on interpreter exit. On a
        # cluster the shared checkpoint path gets the same treatment from the
        # job scheduler's workspace reaper.
        atexit.register(shutil.rmtree, ckpt_dir, ignore_errors=True)
    return spark

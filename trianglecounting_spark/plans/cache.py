"""Deterministic cache/checkpoint block release.

The iterative operators truncate lineage with ``localCheckpoint(eager=True)``
each round. Spark frees those blocks only when the JVM's ContextCleaner sees
the RDD get garbage-collected — which, driven from Python, happens at some
unrelated future GC. On a long-running session (or a 1000-executor cluster
where executor storage memory is the scarce resource) that is a leak: every
round's state stays resident until both Python and JVM GCs happen to run.

These helpers make the release deterministic:

  * ``tracked_checkpoint(df)`` — eager localCheckpoint that also reports which
    persistent-RDD ids the materialization created, so the caller can release
    exactly the previous iteration's blocks once the new state is durable.
  * ``release_ids(spark, ids)`` — unpersist those blocks NOW (the iteration
    contract: state k is released as soon as state k+1 is materialized and
    any fixpoint probe that reads state k has run).
  * ``release_all_cached(spark)`` — session-level sweep used between benchmark
    queries and in tests; replaces the round-1 ``System.gc()`` workaround.

On a real cluster the same calls work unchanged: unpersist is a driver→executor
RPC, not a local-mode trick.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _reset_degenerate_stats(df: DataFrame) -> DataFrame:
    """Strip DEGENERATE origin statistics from a freshly checkpointed frame.

    Spark's ``Dataset.checkpoint``/``localCheckpoint`` snapshot the origin
    plan's *estimated* ``Statistics`` into the new ``LogicalRDD`` leaf
    (``LogicalRDD.fromDataset`` → ``computeStats``). The size-only estimator
    multiplies children across joins, so an iterative loop whose round plan
    references its checkpointed state k≥2 times compounds the estimate
    GEOMETRICALLY round over round: measured here (kcore delta peel, path
    cascade), sizeInBytes went 57 → 13,726 decimal digits in six rounds, and
    at sf0.1 the ~15th round pinned the driver >25 min inside
    ``BigInteger.multiply`` under ``InjectRuntimeFilter``'s stats probe while
    executors sat idle. RDD-level barriers cannot help — the poison rides the
    logical-plan stats snapshot, not lineage.

    Fix: when the snapshotted estimate is wider than 64 bits (i.e. past any
    physically possible byte count — 16 EB), rebuild the leaf via the public
    ``LogicalRDD`` constructor with ``originStats = None`` over the SAME
    checkpointed RDD. The leaf then reports ``spark.sql.defaultSizeInBytes``
    (Long.MaxValue), which is what every stats consumer already concluded
    ("too big to broadcast"), so join strategy selection is unchanged —
    only the BigInt magnitude stops compounding. Realistic estimates
    (≤ 2^64) are kept verbatim. Best-effort: any internals mismatch falls
    back to the frame Spark produced."""
    try:
        spark = df.sparkSession
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return df
        try:
            # scala BigInt extends java.lang.Number, so py4j converts the
            # return to a Python int via its decimal string — which itself
            # raises ValueError past the 4300-digit CPython guard. That
            # failure mode IS the degenerate case.
            size = plan.computeStats().sizeInBytes()
            if int(size).bit_length() <= 64:
                return df
        except ValueError:
            pass  # >4300-digit estimate: degenerate a fortiori
        jvm = spark._jvm
        none = jvm.scala.Option.empty()
        new_plan = jvm.org.apache.spark.sql.execution.LogicalRDD(
            plan.output(),
            plan.rdd(),
            plan.outputPartitioning(),
            plan.outputOrdering(),
            plan.isStreaming(),
            plan.stream(),
            spark._jsparkSession,
            none,
            none,
        )
        jnew = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, new_plan
        )
        return DataFrame(jnew, spark)
    except Exception:
        return df


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every currently persisted RDD (cache() / persist() /
    localCheckpoint() blocks all register here)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def release_ids(spark: SparkSession, ids: set[int], blocking: bool = False) -> int:
    """Unpersist the given RDD ids (best-effort; missing ids are skipped).
    Returns the number actually released."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    released = 0
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(blocking)
            released += 1
    return released


@contextmanager
def released_on_error(spark: SparkSession):
    """Release every block persisted inside the ``with`` body if it raises:
    an operator that fails (a non-converging loop, a cancelled job) has no
    result, so everything it materialized is scratch. Normal exits keep
    their own explicit release."""
    before = persistent_rdd_ids(spark)
    try:
        yield
    except BaseException:
        release_ids(spark, persistent_rdd_ids(spark) - before)
        raise


def release_all_cached(
    spark: SparkSession, blocking: bool = False, keep: set[int] | None = None
) -> int:
    """Unpersist EVERY persistent RDD in the session except ``keep``. Only
    call at a quiescent point (results consumed): localCheckpoint blocks are
    not recomputable."""
    ids = persistent_rdd_ids(spark) - (keep or set())
    return release_ids(spark, ids, blocking)


def locally_checkpointed_ids(spark: SparkSession, ids: set[int]) -> set[int]:
    """Subset of ``ids`` whose RDD is marked for LOCAL CHECKPOINT (the mark is
    set at ``localCheckpoint()`` call time, before materialization). SQL-cache
    buffer RDDs (``DataFrame.persist``, owned by the CacheManager) are never
    locally checkpointed, so this distinguishes "iteration scratch this helper
    owns" from "a cache some caller still relies on"."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    out: set[int] = set()
    for rid in ids:
        jrdd = jmap.get(rid)
        try:
            if jrdd is not None and jrdd.rdd().isLocallyCheckpointed():
                out.add(rid)
        except Exception:
            # introspection failure → leave the block alone (release here is
            # best-effort hygiene; wrongly unpersisting a live cache is worse)
            continue
    return out


def tracked_checkpoint(
    df: DataFrame, before: set[int] | None = None
) -> tuple[DataFrame, set[int]]:
    """Eager localCheckpoint that returns ``(materialized_df, its_block_ids)``
    and releases every OTHER *locally-checkpointed* block the step created.

    ``before`` — pass a ``persistent_rdd_ids`` snapshot taken before the input
    plan was *constructed* when that construction itself registers lazy
    localCheckpoints (e.g. the triangle kernel's internal DODG/adjacency
    materializations): those intermediates are only needed while this
    checkpoint materializes, so they are released here, deterministically,
    instead of waiting for a JVM GC. The checkpointed result's own block id is
    read off its LogicalRDD, so the release can never hit the result itself.

    The release sweeps ONLY locally-checkpointed RDDs: a ``DataFrame.persist``
    cache whose buffers first materialize *inside* this checkpoint's job
    (e.g. pagerank's pre-partitioned edge table on its first iteration) also
    shows up in the created-set, but unpersisting it would silently disable
    the cache for every later iteration — the CacheManager's plan entry stays
    while the direct RDD unpersist never re-persists the buffers.
    """
    spark = df.sparkSession
    if before is None:
        before = persistent_rdd_ids(spark)
    out = _reset_degenerate_stats(df.localCheckpoint(eager=True))
    created = persistent_rdd_ids(spark) - before
    own = {int(out._jdf.queryExecution().analyzed().rdd().id())}
    release_ids(spark, locally_checkpointed_ids(spark, created - own))
    return out, own


def barrier_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """TRUE lineage barrier: reliable ``checkpoint()`` to the context's
    checkpoint directory (files), which replaces the RDD's dependencies with
    a CheckpointRDD — unlike ``localCheckpoint``, whose underlying RDD DAG
    stays chained across rounds. Needed by deep iteration loops: a
    driver-side per-job traversal walks lineage PATHS, and with k≥2
    references per round the walk is O(k^depth) — measured as a flat
    ~0.5 s/round until depth ~11 and then 4× per round (operators/scc.py's
    flood, 4 refs/round). Dropping a barrier every few rounds caps the
    walkable depth. Returns ``(df, ids)`` like ``tracked_checkpoint`` (the
    ids are the file-backed checkpoint's persistent blocks, if any — usually
    empty; safe to pass to release_ids)."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    out = _reset_degenerate_stats(df.checkpoint(eager=True))
    return out, persistent_rdd_ids(spark) - before

"""Deterministic cache/checkpoint block release.

The iterative operators truncate lineage with ``localCheckpoint(eager=True)``
each round. Spark frees those blocks only when the JVM's ContextCleaner sees
the RDD get garbage-collected — which, driven from Python, happens at some
unrelated future GC. On a long-running session (or a 1000-executor cluster
where executor storage memory is the scarce resource) that is a leak: every
round's state stays resident until both Python and JVM GCs happen to run.

``IterationScope`` makes the release deterministic, once for every
iterative operator: a call's scope keeps each round's state
(``localCheckpoint``, with a file barrier every ``BARRIER_EVERY`` rounds
in the deep loops and the ``IterationCheckpointer`` snapshot and resume
where one is passed), frees state k as soon as state k+1 is materialized
and any fixpoint probe that reads state k has run, and on every exit path,
normal or raising, frees everything the call made except the blocks its
result reads — SQL caches through ``DataFrame.unpersist``, checkpoint
blocks by id. The building blocks stay public for callers outside the
operators:

  * ``tracked_checkpoint(df, before)`` — eager localCheckpoint that also
    sweeps the scratch blocks registered since ``before``;
  * ``persistent_rdd_ids`` / ``release_ids`` — snapshot and free blocks by id;
  * ``release_all_cached(spark)`` — session-level sweep used between benchmark
    queries and in tests; replaces the round-1 ``System.gc()`` workaround.

On a real cluster the same calls work unchanged: unpersist is a driver→executor
RPC, not a local-mode trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel


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
    out, own, _ = _checkpoint(df, before)
    return out, own


def _checkpoint(
    df: DataFrame, before: set[int] | None, reliable: bool = False
) -> tuple[DataFrame, set[int], set[int]]:
    """``tracked_checkpoint``'s body → ``(out, own block ids, persistent ids
    after the sweep)``. ``reliable``: a file checkpoint instead — a TRUE
    lineage barrier (see ``IterationScope``); it owns no block."""
    spark = df.sparkSession
    if before is None:
        before = persistent_rdd_ids(spark)
    out = _reset_degenerate_stats(
        df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)
    )
    now = persistent_rdd_ids(spark)
    own = _leaf_rdd_ids(out) & now
    swept = locally_checkpointed_ids(spark, now - before - own)
    release_ids(spark, swept)
    return out, own, now - swept


def _leaf_rdd_ids(df: DataFrame) -> set[int]:
    """Ids of the RDDs under ``df``'s ``LogicalRDD`` leaves — the checkpoint
    blocks its plan reads (a derived frame reads those of its sources)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    out = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            out.add(int(leaf.rdd().id()))
    return out


# Reliable-checkpoint cadence of the deep loops (``keep(..., barrier=True)``).
# localCheckpoint does NOT cut the underlying RDD DAG, and a driver-side
# per-job traversal walks lineage PATHS — O(refs^depth): measured as a flat
# ~0.5 s/round until depth ~11, then 4× per round (scc's flood, 4 refs per
# round), and a ~20-round k-core chain cascade at sf0.1 pinned the driver for
# >25 min. A file barrier every 12 rounds caps the walkable depth.
BARRIER_EVERY = 12


class IterationScope:
    """The blocks of one iterative operator call, from entry to exit.

    ``with IterationScope(spark, checkpointer) as it:`` — the operator hands
    DataFrames in and gets DataFrames back; the scope does the bookkeeping:

      * ``keep(df, k)`` — materialize a round's state (eager localCheckpoint)
        and sweep the scratch blocks registered since the previous keep
        (lazy localCheckpoints made while the plan was built, e.g. inside
        the triangle kernel). With ``k`` and a checkpointer the state is
        also snapshotted (``IterationCheckpointer.maybe_save``); with
        ``barrier=True`` every ``BARRIER_EVERY``-th round is a file
        checkpoint instead;
      * ``release(*dfs)`` — free the kept blocks those frames (``None``
        skipped) read, NOW: the loop calls it once the successor state is
        kept and any fixpoint probe that reads the old state has run;
      * ``cache(df)`` — a SQL cache (``persist``) for the whole call, dropped
        through ``DataFrame.unpersist`` at exit, never by raw RDD id (see
        ``tracked_checkpoint``);
      * ``hold(df)`` — keep ``df``'s blocks (a lazy localCheckpoint, a nested
        operator's result) out of the keep sweeps until exit;
      * ``restore(initial)`` — ``(first round, state)``: the checkpointer's
        latest snapshot, or ``(0, initial)``;
      * ``result(df)`` — the operator's return value: at exit, normal or
        raising, everything the scope made is freed except the blocks a
        normal return's ``result`` reads.
    """

    def __init__(self, spark: SparkSession, checkpointer=None):
        self.spark = spark
        self.checkpointer = checkpointer

    def __enter__(self) -> "IterationScope":
        self._before = persistent_rdd_ids(self.spark)
        self._mark = self._before  # blocks the next keep does not sweep
        self._kept: set[int] = set()
        self._held: set[int] = set()
        self._caches: list[DataFrame] = []
        self._result: set[int] = set()
        return self

    def __exit__(self, exc_type, *_) -> None:
        for df in self._caches:
            df.unpersist()
        keep = set() if exc_type else self._result
        created = persistent_rdd_ids(self.spark) - self._before - keep
        owned = created & (self._kept | self._held)
        release_ids(
            self.spark,
            owned | locally_checkpointed_ids(self.spark, created - owned),
        )

    def keep(self, df: DataFrame, k: int | None = None, barrier: bool = False) -> DataFrame:
        deep = barrier and k is not None and k % BARRIER_EVERY == 0
        out, own, self._mark = _checkpoint(df, self._mark, reliable=deep)
        self._kept |= own
        if self.checkpointer is not None and k is not None:
            saved = self.checkpointer.maybe_save(k, out)
            if saved is not out:  # the re-read snapshot replaces the block
                self.release(out)
                out = saved
        return out

    def release(self, *dfs: DataFrame | None) -> None:
        ids = set().union(*(_leaf_rdd_ids(df) for df in dfs if df is not None))
        ids &= self._kept
        release_ids(self.spark, ids)
        self._kept -= ids

    def cache(self, df: DataFrame) -> DataFrame:
        self._caches.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    def hold(self, df: DataFrame) -> DataFrame:
        ids = _leaf_rdd_ids(df) - self._before
        self._held |= ids
        self._mark = self._mark | ids
        return df

    def restore(self, initial: DataFrame) -> tuple[int, DataFrame]:
        snap = self.checkpointer.restore() if self.checkpointer is not None else None
        return snap if snap is not None else (0, initial)

    def result(self, df: DataFrame) -> DataFrame:
        self._result = _leaf_rdd_ids(df)
        return df

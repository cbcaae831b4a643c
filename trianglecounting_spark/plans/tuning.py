"""Per-loop shuffle sizing for the iterative operators.

The session-wide ``spark.sql.shuffle.partitions`` is sized for full-edge-volume
shuffles (dedup, adjacency build). Iteration steps move only |V|-row rank /
label / pointer tables; running ten of them at suite-scale partition counts
pays task-scheduling latency for mostly-empty partitions — measured as the
dominant cost of PageRank/CC/LP at sf0.1 in round 1. These helpers size the
loop's shuffles to the loop's data and restore the session conf afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# The one broadcast budget, in rows, for every size-aware fast path: a
# |V|-row iteration state (or an edge table, where an operator broadcasts
# edges) is broadcast into the loop's joins, or held on the driver by
# ``plans/vertex_state``, only while it has at most this many rows; past it
# the operators take their shuffle paths. 8 M rows is ~64 MB per int64
# column — the same driver-byte class as the triangle kernel's hub CSR.
BROADCAST_ROWS = 8_000_000


def maybe_broadcast(df: DataFrame, rows: int, budget: int = BROADCAST_ROWS) -> DataFrame:
    """``df`` hinted for broadcast when ``rows`` — a bound on its row count —
    fits ``budget``; otherwise ``df`` as it is, joined by shuffle."""
    return F.broadcast(df) if rows <= budget else df


def iteration_partitions(
    spark: SparkSession, state_rows: int, rows_per_partition: int = 250_000
) -> int:
    """Shuffle-partition count sized to the iteration state, not the suite.

    Floor at ``defaultParallelism`` so every core still gets a task; grow
    linearly with state size so a 10^10-row state still spreads across a
    1000-executor cluster (north_rule: partitioning handled explicitly).
    """
    floor = spark.sparkContext.defaultParallelism
    return max(floor, -(-int(state_rows) // rows_per_partition))


class scoped_shuffle_partitions:
    """Temporarily pin ``spark.sql.shuffle.partitions`` for an iteration loop.

    The driver is single-threaded through our loops, so a scoped conf set is
    race-free; the previous value is restored even on error.
    """

    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)

"""Driver-held vertex state with partition-local fixpoints.

The iterative vertex programs whose state is one value per vertex (SCC's
trim and min-color floods, CC's min-label flood, coreness' h-index,
PageRank's ranks) keep that state on the DRIVER as numpy arrays whenever
|V| fits the broadcast budget (``tuning.BROADCAST_ROWS``) — the flat
per-vertex arrays the reference engines iterate over, with one Spark job
per pass instead of one checkpointed DataFrame plan per round:

  * the adjacency is grouped ONCE into ``(v, <list columns>)`` rows,
    range-partitioned by vertex id, and cached by the same job that
    collects the sorted vertex ids, so every vertex has a global index (its
    position in id order);
  * each partition is then mapped ONCE into index space (neighbor indices,
    the local row of every neighbor the partition owns, segment offsets)
    and cached as ONE pickled ``Partition`` per partition — a binary row
    Spark moves to Python without touching its elements;
  * a pass broadcasts the state arrays, runs ONE ``mapInArrow`` over the
    cached partitions, and collects only the rows whose state changed — no
    joins, no exchanges, no per-round checkpoints, no changed-count probes;
    global convergence is an array comparison;
  * inside a partition the monotone update runs to a LOCAL fixpoint: owned
    vertices are updated in place, remote vertices are read from the
    broadcast (the partition-centric model of Giraph++, VLDB'13). Chaotic
    iteration of a monotone update reaches the same fixpoint as the
    synchronous one, so answers are partitioning-invariant. A pass whose
    changed rows have no neighbor in another partition leaves every
    partition at its fixpoint, so it ends the loop without a confirming
    pass;
  * a fixed-step program (PageRank: ``iterations`` synchronous steps, not
    a monotone update, so chaotic iteration would change its answer) runs
    ONE synchronous step per pass from the broadcast state — or every step
    in one pass when one partition owns every vertex (``n_part == 1``),
    since no step then reads a value another partition holds.

Passes: a pass moves a flood at least one hop, like a synchronous round,
and a whole path segment at once where the segment lies in one partition.
On a graph that fits one partition a phase is one pass. Across partitions
the gain depends on how much of the graph's locality the id order carries
(id ranges keep a crawl's URL order or an id-ordered chain together);
with none, a label travelling against the id order — where the
driver-side label composition cannot help — crosses about P/(P-1) hops
per pass over P partitions.

Bound: the broadcast state and the per-pass collect are O(|V|) ≤ the
budget; one partition (about ``ENTRIES_PER_PARTITION`` list entries, more
for a hub whose list alone is longer) is held in one Python worker, and
its pickled index arrays (~25 bytes per entry and list) must stay under
Arrow's 2 GB binary value. Cost model measured on a 4-vCPU host (Spark
local[2]): a JVM-only action 0.1-0.2 s, a py4j round trip ~1.6 ms, a
pass 0.25-0.35 s on a graph of 800 vertices and 0.35-0.7 s on R-MAT
graphs of 1-2 M entries in one to three partitions, most of it Spark and
Python-worker latency (a pass whose step does nothing costs ~0.4 s on
956k entries); one pass replaces several checkpointed DataFrame rounds,
each of which paid a checkpoint job, a changed-count probe and dozens of
py4j calls.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from trianglecounting_spark.plans.tuning import BROADCAST_ROWS

# Grouped-adjacency sizing: one partition per this many list entries, at
# least one. Every partition boundary a label has to cross costs a pass (a
# graph that fits one partition converges each phase in a single pass), and
# every partition costs a task: measured on a 4-vCPU host (Spark local[2])
# a task of a pass costs ~140 ms before its numpy work, which runs at
# 0.05-0.2 µs per entry — so a partition of fewer entries is bound by task
# latency, and four partitions of an R-MAT graph's 956k entries made a
# pass slower than one.
ENTRIES_PER_PARTITION = 1_000_000


def fits_driver(
    edges: DataFrame, vertex_cols: tuple[str, str], broadcast_rows: int = BROADCAST_ROWS
) -> tuple[bool, int]:
    """``(|V| ≤ broadcast_rows, edge rows)`` for an edge table whose vertices
    are its two ``vertex_cols``. One count job decides it whenever
    2·rows ≤ budget (|V| ≤ 2·rows); only past that is |V| counted."""
    rows = edges.count()
    if 2 * rows <= broadcast_rows:
        return True, rows
    a, b = vertex_cols
    n_v = (
        edges.select(F.col(a).alias("v"))
        .unionAll(edges.select(F.col(b).alias("v")))
        .distinct()
        .count()
    )
    return n_v <= broadcast_rows, rows


def _build_partitions(ids_bc, lists: tuple[str, ...]):
    """mapInArrow body: one partition of grouped ``(v, <lists>)`` rows →
    ONE row holding its pickled ``Partition`` (index arrays built once)."""

    def run(batches):
        import pickle

        import pyarrow as pa

        rbs = [rb for rb in batches if rb.num_rows > 0]
        if rbs:
            part = Partition(pa.Table.from_batches(rbs), ids_bc.value, lists)
            blob = pickle.dumps(part, protocol=pickle.HIGHEST_PROTOCOL)
            yield pa.RecordBatch.from_pydict({"part": pa.array([blob], pa.binary())})

    return run


class Partition:
    """One partition of the grouped adjacency in global vertex-index space
    (worker side). Row ``r`` owns vertex ``own[r]``; for every list column
    ``c`` the flat entries ``nbr(c)`` are global indices and ``row(c)`` the
    owning row of each entry."""

    def __init__(self, tbl, ids: np.ndarray, lists: tuple[str, ...]):
        v = tbl.column("v").to_numpy().astype(np.int64, copy=False)
        self.own = np.searchsorted(ids, v)
        self.n = len(v)
        order = np.argsort(self.own)
        so = self.own[order]
        self._c = {}
        for c in lists:
            arr = tbl.column(c).combine_chunks()
            offs = np.asarray(arr.offsets).astype(np.int64, copy=False)
            # a sliced ListArray's offsets need not start at 0
            vals = arr.values.to_numpy(zero_copy_only=False)[offs[0] : offs[-1]]
            offs = offs - offs[0]
            nbr = np.searchsorted(ids, vals)
            pos = np.minimum(np.searchsorted(so, nbr), self.n - 1)
            # entries whose neighbor this partition owns, and its row here
            local = so[pos] == nbr
            lens = np.diff(offs)
            nz = lens > 0
            row = np.repeat(np.arange(self.n, dtype=np.int64), lens)
            self._c[c] = (nbr, local, order[pos[local]], row, offs[:-1][nz], nz)

    def nbr(self, c: str) -> np.ndarray:
        return self._c[c][0]

    def row(self, c: str) -> np.ndarray:
        return self._c[c][3]

    def gather(self, c: str, own_vals: np.ndarray, all_vals: np.ndarray) -> np.ndarray:
        """Each entry's neighbor value: the in-place value when this
        partition owns the neighbor, the broadcast value otherwise."""
        nbr, local, local_row = self._c[c][:3]
        out = all_vals[nbr]
        out[local] = own_vals[local_row]
        return out

    def _seg(self, ufunc, c: str, vals: np.ndarray, empty) -> np.ndarray:
        starts, nz = self._c[c][4:]
        out = np.full(self.n, empty, dtype=vals.dtype)
        if len(starts):
            out[nz] = ufunc.reduceat(vals, starts)
        return out

    def seg_min(self, c: str, vals: np.ndarray, empty) -> np.ndarray:
        """Per-row minimum of the entry values; ``empty`` for empty rows."""
        return self._seg(np.minimum, c, vals, empty)

    def seg_sum(self, c: str, vals: np.ndarray) -> np.ndarray:
        """Per-row sum of the entry values (0 for empty rows)."""
        return self._seg(np.add, c, vals, 0)

    def seg_any(self, c: str, flags: np.ndarray) -> np.ndarray:
        """Per-row OR of boolean entry values (False for empty rows)."""
        return self._seg(np.logical_or, c, flags, False)

    def remote(self, c: str) -> np.ndarray:
        """Rows with a ``c``-neighbor owned by another partition."""
        return self.seg_any(c, ~self._c[c][1])

    def min_flood(
        self, c: str, lab: np.ndarray, all_lab: np.ndarray, ok: np.ndarray | None = None
    ) -> np.ndarray:
        """Iterate ``lab(r) ← min(lab(r), lab of r's c-neighbors [where ok])``
        to the partition-local fixpoint; remote labels come from
        ``all_lab``."""
        big = np.iinfo(np.int64).max
        while True:
            nl = self.gather(c, lab, all_lab)
            if ok is not None:
                nl[~ok] = big
            new = np.minimum(lab, self.seg_min(c, nl, big))
            if np.array_equal(new, lab):
                return lab
            lab = new

    def changes(self, changed: np.ndarray, x: np.ndarray, remote: np.ndarray) -> dict:
        """The pass output: global index, new value and remote flag of every
        changed row."""
        return {"i": self.own[changed], "x": x[changed], "remote": remote[changed]}


class VertexState:
    """A cached grouped adjacency ``(v, <lists>)`` plus its sorted vertex ids
    on the driver. Use as a context manager: the cached rows and the id
    broadcast are released on every exit path.

    ``entries``: one row per adjacency entry, ``(v, <one column per list>)``
    — null entry values are dropped by the grouping, so a row of nulls only
    registers ``v``. ``n_entries`` (an upper bound) sizes the grouped table
    at one partition per ``ENTRIES_PER_PARTITION`` entries; the partitions
    are ranges of vertex ids, so whatever locality the id order has (URL
    order on a crawl, an id-ordered ring) stays inside a partition, where
    the local fixpoint crosses it without a pass. ``attrs``: extra
    per-vertex columns over the grouped row, collected with the ids
    (aligned to the sorted ids in ``self.attrs``). ``n_part``: the number of
    id-range partitions; when it is 1, a pass's one partition owns every
    vertex."""

    def __init__(
        self, entries: DataFrame, lists: tuple[str, ...], n_entries: int,
        attrs: dict[str, Column] | None = None,
    ):
        self.spark = entries.sparkSession
        self.n_part = max(1, -(-n_entries // ENTRIES_PER_PARTITION))
        # SQL cache, not a checkpoint: the id collect below is the action
        # that materializes it, so caching costs no job of its own (range
        # partitioning adds one sampling job when n_part > 1)
        self._grouped = (
            entries.repartitionByRange(self.n_part, "v")
            .groupBy("v")
            .agg(*(F.collect_list(c).alias(c) for c in lists))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        self._df = None
        self._ids_bc = None
        try:
            attrs = attrs or {}
            pdf = self._grouped.select(
                "v", *(col.alias(k) for k, col in attrs.items())
            ).toPandas()
            ids = pdf["v"].to_numpy(dtype=np.int64)
            order = np.argsort(ids)
            self.ids = ids[order]
            self.attrs = {k: pdf[k].to_numpy(dtype=np.int64)[order] for k in attrs}
            self.n = len(self.ids)
            self._ids_bc = self.spark.sparkContext.broadcast(self.ids)
            # every partition's index arrays, built ONCE and cached as one
            # pickled row per partition: the first pass materializes this
            # cache from the grouped one, which it then drops
            self._df = self._grouped.mapInArrow(
                _build_partitions(self._ids_bc, lists), "part binary"
            ).persist(StorageLevel.MEMORY_AND_DISK)
        except BaseException:
            self.close()
            raise

    def __enter__(self) -> "VertexState":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        for df in (self._grouped, self._df):
            if df is not None:
                df.unpersist()
        self._grouped = self._df = None
        if self._ids_bc is not None:
            self._ids_bc.destroy()
            self._ids_bc = None

    def run_pass(self, step, state: dict[str, np.ndarray], key: str):
        """ONE pass: ``step(partition, state) -> Partition.changes(...)`` over
        every partition; returns the changed rows' ``(i, x, remote)`` arrays
        (``x`` typed like ``state[key]``)."""
        sc = self.spark.sparkContext
        state_bc = sc.broadcast(state)
        x_type = {"b": "boolean", "f": "double"}.get(state[key].dtype.kind, "long")

        def run(batches):
            import pickle

            import pyarrow as pa

            for rb in batches:
                for blob in rb.column("part").to_pylist():
                    out = step(pickle.loads(blob), state_bc.value)
                    if len(out["i"]):
                        yield pa.RecordBatch.from_pydict(out)

        try:
            pdf = self._df.mapInArrow(run, f"i long, x {x_type}, remote boolean").toPandas()
        finally:
            state_bc.destroy()
        if self._grouped is not None:
            self._grouped.unpersist()
            self._grouped = None
        return (
            pdf["i"].to_numpy(dtype=np.int64),
            pdf["x"].to_numpy(),
            pdf["remote"].to_numpy(dtype=bool),
        )

    def converge(
        self, step, state: dict[str, np.ndarray], key: str, max_passes: int,
        what: str | None = None, compose: bool = False, hook: bool = False,
    ) -> np.ndarray:
        """Run passes until ``state[key]`` reaches the global fixpoint and
        return it. After ``max_passes`` passes without settling, raise
        RuntimeError naming ``what`` — or, when ``what`` is None, return the
        state as it stands.

        A pass settles the loop when it changed nothing, or when none of its
        changed rows has a neighbor in another partition (every partition is
        then at its local fixpoint) and the driver-side steps below changed
        nothing more. ``compose``: labels are vertex indices whose own label
        is valid for the vertex too (min-reach floods) — ``lab ← lab[lab]``
        to fixpoint. ``hook`` (undirected min-label): in addition, each
        changed vertex's old label adopts its new one."""
        arr = state[key]
        if not len(arr):
            return arr
        for _ in range(max_passes):
            i, x, remote = self.run_pass(step, {**state, key: arr}, key)
            if not len(i):
                return arr
            new = arr.copy()
            new[i] = x
            base = new
            if hook:
                new = new.copy()
                np.minimum.at(new, arr[i], x)
            if compose or hook:
                while True:
                    jumped = new[new]
                    if np.array_equal(jumped, new):
                        break
                    new = jumped
            settled = not remote.any() and np.array_equal(new, base)
            arr = new
            if settled:
                return arr
        if what is None:
            return arr
        raise RuntimeError(
            f"{what} did not converge in {max_passes} passes — "
            "raise the cap for this graph"
        )

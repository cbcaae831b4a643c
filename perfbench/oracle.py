"""Expected results, computed without Spark and without the program's code.

Run as its own process (``python3 perfbench/oracle.py <kind> <input>``), so
DuckDB's and networkx's memory never counts toward the Spark driver's peak
RSS. Prints one JSON object.

* ``triangles <raw.parquet>``: canonical edge count and exact triangle count
  of the raw multigraph, in DuckDB.
* ``copart <lineitem.parquet>``: the co-part edge count, and for the
  iterate workload the component count, PageRank sum and max after 10
  steps, the SCC count of the reciprocated 1/8 sample, and the 6-truss edge
  count, in DuckDB, numpy and networkx.
"""

from __future__ import annotations

import json
import sys
import tempfile

import numpy as np

PAGERANK_STEPS = 10
PAGERANK_DAMPING = 0.85
KTRUSS_K = 6

# The hash-sampled, partly reciprocated directed graph scc runs on: keep an
# edge when h(u, v, 42) % 8 == 0, and add its reverse when h(u, v, 7) % 3 == 0,
# with h(u, v, s) = ((u mod M)·A + (v mod M)·B + s) mod M.
SAMPLE_M, SAMPLE_A, SAMPLE_B = 1_000_000_007, 2_654_435_761, 40_503
SAMPLE_KEEP, SAMPLE_KEEP_SEED = 8, 42
SAMPLE_BACK, SAMPLE_BACK_SEED = 3, 7


def sample_hash(u: np.ndarray, v: np.ndarray, seed: int) -> np.ndarray:
    return ((u % SAMPLE_M) * SAMPLE_A + (v % SAMPLE_M) * SAMPLE_B + seed) % SAMPLE_M


def reciprocated_sample(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    keep = sample_hash(u, v, SAMPLE_KEEP_SEED) % SAMPLE_KEEP == 0
    su, sv = u[keep], v[keep]
    back = sample_hash(su, sv, SAMPLE_BACK_SEED) % SAMPLE_BACK == 0
    return np.concatenate([su, sv[back]]), np.concatenate([sv, su[back]])


def _duckdb():
    import duckdb

    return duckdb.connect(config={"temp_directory": tempfile.gettempdir()})


def triangles(raw_path: str) -> dict:
    con = _duckdb()
    con.execute(
        "CREATE TABLE e AS SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v "
        f"FROM read_parquet('{raw_path}') WHERE src <> dst"
    )
    edges = con.execute("SELECT count(*) FROM e").fetchone()[0]
    tri = con.execute(
        "SELECT count(*) FROM e AS ab JOIN e AS bc ON ab.v = bc.u "
        "JOIN e AS ac ON ac.u = ab.u AND ac.v = bc.v"
    ).fetchone()[0]
    return {"edges": int(edges), "triangles": int(tri)}


def pagerank_sum_max(u: np.ndarray, v: np.ndarray) -> tuple[float, float]:
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u):]
    n = len(ids)
    deg = np.bincount(np.concatenate([a, b]), minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_STEPS):
        share = rank / deg
        mass = np.bincount(b, weights=share[a], minlength=n) + np.bincount(
            a, weights=share[b], minlength=n
        )
        rank = (1.0 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * mass
    return float(rank.sum()), float(rank.max())


def copart(lineitem_path: str) -> dict:
    import networkx as nx

    con = _duckdb()
    uv = con.execute(
        "SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v "
        f"FROM read_parquet('{lineitem_path}') AS a "
        f"JOIN read_parquet('{lineitem_path}') AS b "
        "ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"
    ).fetchnumpy()
    u, v = uv["u"].astype(np.int64), uv["v"].astype(np.int64)
    g = nx.Graph()
    g.add_edges_from(zip(u.tolist(), v.tolist()))
    pr_sum, pr_max = pagerank_sum_max(u, v)
    su, sv = reciprocated_sample(u, v)
    dg = nx.DiGraph()
    dg.add_edges_from(zip(su.tolist(), sv.tolist()))
    return {
        "edges": int(len(u)),
        "components": nx.number_connected_components(g),
        "pagerank_sum": pr_sum,
        "pagerank_max": pr_max,
        "scc_labels": nx.number_strongly_connected_components(dg),
        "ktruss_edges": nx.k_truss(g, KTRUSS_K).number_of_edges(),
    }


def main(argv: list[str]) -> int:
    kind, path = argv
    result = {"triangles": triangles, "copart": copart}[kind](path)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

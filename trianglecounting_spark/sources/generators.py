"""Deterministic graph fixtures and parquet-derived edge tables.

Two needs:
  1. Unit-test fixtures with closed-form answers (FIXTURES.md §3): complete
     graphs, cycles, stars, bridged cliques, disjoint triangles, R-MAT.
  2. Driver-verifiable graphs derived from the shared parquet tables so both
     Spark (`queries()`) and DuckDB (`oracle_sql()`) construct the *same* edge
     set from the same bytes — the lineitem co-occurrence graph ("parts linked
     when they appear in the same order") plays the role of the web link graph
     at test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


# ---------------------------------------------------------------------------
# Closed-form fixtures (tests)
# ---------------------------------------------------------------------------

def complete_graph(spark: SparkSession, n: int) -> DataFrame:
    """K_n: C(n,3) triangles, every edge support n-2."""
    v = spark.range(n).select(F.col("id").alias("u"))
    return (
        v.crossJoin(spark.range(n).select(F.col("id").alias("v")))
        .where(F.col("u") < F.col("v"))
    )


def cycle_graph(spark: SparkSession, n: int) -> DataFrame:
    """C_n: 0 triangles (n>3), one component."""
    return spark.range(n).select(
        F.least(F.col("id"), (F.col("id") + 1) % n).alias("u"),
        F.greatest(F.col("id"), (F.col("id") + 1) % n).alias("v"),
    )


def star_graph(spark: SparkSession, n: int) -> DataFrame:
    """Hub 0 connected to 1..n-1 — the skew fixture (deg(0) = n-1)."""
    return spark.range(1, n).select(F.lit(0).cast("long").alias("u"), F.col("id").alias("v"))


def two_cliques_bridge(spark: SparkSession) -> DataFrame:
    """K6 on {0..5} ∪ K6 on {10..15} ∪ bridge (5,10): 40 triangles, 1 component."""
    k1 = complete_graph(spark, 6)
    k2 = complete_graph(spark, 6).select((F.col("u") + 10).alias("u"), (F.col("v") + 10).alias("v"))
    bridge = spark.createDataFrame([(5, 10)], "u long, v long")
    return k1.unionAll(k2).unionAll(bridge)


def disjoint_triangles(spark: SparkSession, k: int = 33) -> DataFrame:
    """k disjoint triangles: k triangles, k components."""
    base = spark.range(k)
    rows = []
    for off in ((0, 1), (1, 2), (0, 2)):
        rows.append(
            base.select(
                (F.col("id") * 3 + off[0]).alias("u"), (F.col("id") * 3 + off[1]).alias("v")
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def rmat_graph(spark: SparkSession, scale: int, edge_factor: int = 8, seed: int = 42) -> DataFrame:
    """Deterministic R-MAT-style power-law multigraph (FIXTURES.md `rmat_small`).

    Distributed generation: one row per raw edge, endpoints built bit-by-bit
    from a hash-derived pseudo-random stream (xxhash64 of (seed, edge, bit)) —
    no driver-side loop, no numpy RNG, reproducible across partitionings.
    Emits a dirty multigraph (dups/self-loops possible) — callers normalize.
    """
    n_edges = edge_factor * (1 << scale)
    e = spark.range(n_edges)
    u = F.lit(0).cast("long")
    v = F.lit(0).cast("long")
    # R-MAT (a,b,c,d) = (0.57, 0.19, 0.19, 0.05): per bit choose a quadrant.
    # One xxhash64 yields four 16-bit draws — 4 levels per hash call.
    for bit in range(scale):
        h = F.xxhash64(F.lit(seed), F.col("id"), F.lit(bit // 4))
        r = F.shiftright(h, 16 * (bit % 4)).bitwiseAND(F.lit(0xFFFF)) / F.lit(65536.0)
        in_a = r < 0.57
        in_b = (r >= 0.57) & (r < 0.76)
        in_c = (r >= 0.76) & (r < 0.95)
        u_bit = F.when(in_a | in_b, F.lit(0)).otherwise(F.lit(1))
        v_bit = F.when(in_a | in_c, F.lit(0)).otherwise(F.lit(1))
        u = u + (u_bit.cast("long") * F.lit(1 << bit))
        v = v + (v_bit.cast("long") * F.lit(1 << bit))
    return e.select(u.alias("src"), v.alias("dst"))


# ---------------------------------------------------------------------------
# Parquet-derived graphs (shared with the DuckDB oracle)
# ---------------------------------------------------------------------------

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def lineitem_raw_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirty raw edge list straight off lineitem: (l_partkey, l_suppkey·7919+3).

    Key ranges overlap after the affine transform, so self-loops and duplicate
    rows occur naturally — the normalization operators have real work to do,
    mirroring the reference's raw .bin contract (multi-graph with dups/loops).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_partkey").cast("long").alias("src"),
        (F.pmod(F.col("l_suppkey") * 7919 + 3, F.lit(1 << 20))).cast("long").alias("dst"),
    )

LINEITEM_RAW_EDGES_SQL = (
    "SELECT CAST(l_partkey AS BIGINT) AS src, "
    "CAST((l_suppkey * 7919 + 3) % (1 << 20) AS BIGINT) AS dst FROM lineitem"
)


def copart_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical test link graph: parts co-occurring in the same order.

    Clean edge table (u < v, distinct, no loops). This is the DataFrame the
    graph `queries()` run on; `COPART_EDGES_SQL` is the byte-identical DuckDB
    derivation the oracles use. Produces a heavy-tailed co-occurrence graph
    with plenty of triangles.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    return (
        a.join(b, "o")
        .where(F.col("p1") < F.col("p2"))
        .select(F.col("p1").cast("long").alias("u"), F.col("p2").cast("long").alias("v"))
        .distinct()
    )

COPART_EDGES_SQL = (
    "SELECT DISTINCT CAST(a.l_partkey AS BIGINT) AS u, CAST(b.l_partkey AS BIGINT) AS v "
    "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
    "AND a.l_partkey < b.l_partkey"
)


def copart_graph_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted twin of ``copart_graph``: edge weight = number of orders the
    pair co-occurs in (the natural link-strength column a crawl derives from
    repeated hyperlinks). Output ``(u, v, w: long)`` with u < v."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p2"))
    return (
        a.join(b, "o")
        .where(F.col("p1") < F.col("p2"))
        .groupBy(
            F.col("p1").cast("long").alias("u"),
            F.col("p2").cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )


COPART_EDGES_WEIGHTED_SQL = (
    "SELECT CAST(a.l_partkey AS BIGINT) AS u, CAST(b.l_partkey AS BIGINT) AS v, "
    "count(*) AS w "
    "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey "
    "AND a.l_partkey < b.l_partkey GROUP BY 1, 2"
)


def synth_corpus(spark: SparkSession, n_docs: int, seed: int = 42) -> DataFrame:
    """Deterministic synthetic web-text corpus for SCALE benching of the
    text/dedup lanes — ``(doc_id, text)`` with web-corpus structure planted
    by construction:

    * Zipf-skewed vocabulary: per-position word index = quadratically-skewed
      hash (idx = (h%1000)²·V // 10⁶), so low ids ("the", "of", …) dominate
      like natural text; the 10 real stop words keep the Gopher stop-word
      rule meaningful. Non-stop vocabulary entries are CHARACTER-DIVERSE
      hash-derived pseudo-words (3–7 lowercase letters) — a shared literal
      prefix like ``word{k}`` would give any two docs a near-identical
      character-5-shingle set and make MinHash/LSH degenerate into an
      all-pairs clique (observed: 18 M candidate pairs from 200 k docs).
    * Planted EXACT duplicates: every doc with id % 100 == 7 reuses the seed
      of id−7 — byte-identical to its original.
    * Planted NEAR duplicates: id % 100 == 8 reuses seed id−8 plus one
      unique trailing token — MinHash/containment fodder.
    * Lengths 30–199 words, hash-drawn.

    Entirely narrow Column expressions over ``spark.range`` (xxhash64
    streams, no Python, no RNG) — reproducible across partitionings and
    generable at any size without driver memory.
    """
    stops = ["the", "of", "and", "to", "in", "is", "was", "for", "on", "that"]
    vocab_n = 20_000

    def _pseudo_word(k: int) -> str:
        # Knuth multiplicative hash -> 3-7 lowercase letters; deterministic,
        # no shared prefix/suffix across the vocabulary.
        h = (k * 2654435761 + 0x9E3779B9) & 0xFFFFFFFFFFFF
        n = 3 + (h % 5)
        out = []
        for _ in range(n):
            h, c = divmod(h, 26)
            out.append(chr(97 + c))
            h = (h * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFF
        return "".join(out)

    vocab = F.array(
        *[F.lit(w) for w in stops],
        *[F.lit(_pseudo_word(k)) for k in range(vocab_n - len(stops))],
    )
    d = spark.range(n_docs)
    doc_id = F.col("id")
    # duplicate planting: content derives from `src_seed`, not doc_id
    src_seed = (
        F.when(doc_id % 100 == 7, doc_id - 7)
        .when(doc_id % 100 == 8, doc_id - 8)
        .otherwise(doc_id)
    )
    length = (F.pmod(F.xxhash64(F.lit(seed), src_seed), F.lit(170)) + 30).cast("int")
    # per-position word index: r = h%1000 uniform -> idx = 2000*(r/1000)^2,
    # density ~ 1/sqrt(idx) — Zipf-flavored skew toward the low ids
    words = F.transform(
        F.sequence(F.lit(1), length),
        lambda i: F.element_at(vocab, (
            F.pmod(F.xxhash64(F.lit(seed + 1), src_seed, i), F.lit(1000))
            * F.pmod(F.xxhash64(F.lit(seed + 1), src_seed, i), F.lit(1000))
            * F.lit(vocab_n) / F.lit(1_000_000)
        ).cast("int") + 1),
    )
    text = F.concat_ws(" ", words)
    text = F.when(
        doc_id % 100 == 8,
        F.concat(text, F.lit(" unique"), doc_id.cast("string")),
    ).otherwise(text)
    return d.select(doc_id.alias("doc_id"), text.alias("text"))

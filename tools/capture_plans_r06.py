"""Capture `.explain("formatted")` plans for the round-6 optimization evidence.

Usage:
    python tools/capture_plans_r06.py <label> <out_dir> [sf_dir]

Writes ``<out_dir>/<query>_<label>.txt`` for every lane round 6 touched.
Run once with label=before from a worktree at the round-start commit and once
with label=after from the optimized tree; iterative operators are captured as
their representative PER-ROUND plan (the loop body), built exactly the way
the operator builds it — the file shows the Exchange/join/aggregate structure
the round pays, which is what changed this round.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    label = sys.argv[1]
    out_dir = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.001"
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from trianglecounting_spark.session import get_spark
    from trianglecounting_spark.sources import generators as g
    from trianglecounting_spark.operators import triangles as t
    from trianglecounting_spark.operators.normalize import orient_dodg
    from trianglecounting_spark.plans.cache import tracked_checkpoint

    spark = get_spark(app_name="capture-plans-r06", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    edges = g.copart_graph(spark, sf_dir).localCheckpoint(eager=True)
    edges.count()

    def dump(name, df):
        path = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(path, "w") as f:
            f.write(_explain_str(df))
        print("wrote", path)

    # --- one-shot lanes: the full query plan ---
    dump("triangle_count_kernel", t.triangle_count_kernel(edges))
    dump("triangle_per_edge", t.triangle_per_edge_support(edges))
    from trianglecounting_spark.operators.motifs import (
        four_clique_count,
        square_count,
    )

    dump("square_count", square_count(edges))
    dump("four_clique_count", four_clique_count(edges))

    # --- iterative lanes: one representative round plan ---
    # ktruss peel round (the loop body of ktruss/ktruss_rounds)
    import trianglecounting_spark.operators.ktruss as KT

    if hasattr(KT, "_peel_once_oriented"):
        cur, _ = tracked_checkpoint(orient_dodg(edges))
        dump("ktruss_round", KT._peel_once_oriented(cur, 6))
    else:
        cur, _ = tracked_checkpoint(edges.select("u", "v"))
        dump("ktruss_round", KT._peel_once(cur, 6))

    # coreness round
    import trianglecounting_spark.operators.kcore as KC

    adj, _ = tracked_checkpoint(
        edges.select("u", "v").unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    h, _ = tracked_checkpoint(
        adj.groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("h"))
        .select(F.col("u").alias("v"), "h")
    )
    if hasattr(KC, "_h_index_agg"):
        # the optimized small regime runs one narrow mapInArrow pass per
        # round (driver-held state); the captured plan is that pass, built
        # the way coreness builds it
        grouped, _ = tracked_checkpoint(
            adj.groupBy(F.col("u").alias("src")).agg(
                F.collect_list("v").alias("nbrs")
            )
        )

        def _ident(bs):
            import pyarrow as pa

            for rb in bs:
                yield pa.RecordBatch.from_pydict(
                    {
                        "v": rb.column("src"),
                        "h": rb.column("src"),
                    }
                )

        dump("coreness_round", grouped.mapInArrow(_ident, "v long, h long"))
    else:
        from pyspark.sql import Window

        hn_cols = [F.col("v").alias("__nbr"), F.col("h").alias("__nh")]
        w = Window.partitionBy("u").orderBy(F.col("__nh").desc(), F.col("v").asc())
        dump(
            "coreness_round",
            adj.join(h.select(*hn_cols), F.col("v") == F.col("__nbr"))
            .withColumn("__rnk", F.row_number().over(w).cast("long"))
            .groupBy("u")
            .agg(F.max(F.least(F.col("__rnk"), F.col("__nh"))).alias("h"))
            .select(F.col("u").alias("v"), "h"),
        )

    # mis round: the win-set plan (the round's heavy pass)
    from trianglecounting_spark.operators.mis import _h as mis_h
    from trianglecounting_spark.operators.normalize import undirect
    import trianglecounting_spark.operators.mis as MIS_MOD

    sym = undirect(edges).repartition(8, "src").persist()
    sym.count()
    und, _ = tracked_checkpoint(sym.select(F.col("src").alias("v")).distinct())
    new_style = "broadcast_rows" in MIS_MOD.maximal_independent_set.__code__.co_varnames

    def _b(df):
        return F.broadcast(df) if new_style else df

    act = (
        sym.join(_b(und.withColumnRenamed("v", "src")), "src")
        .join(_b(und.withColumnRenamed("v", "dst")), "dst")
        .select("src", "dst")
    )
    nbr_min = act.groupBy(F.col("src").alias("v")).agg(
        F.min(F.struct(mis_h(F.col("dst")).alias("h"), F.col("dst").alias("v"))).alias("mn")
    )
    win = (
        und.join(nbr_min, "v", "left")
        .where(
            F.col("mn").isNull()
            | (F.struct(mis_h(F.col("v")).alias("h"), F.col("v").alias("v")) < F.col("mn"))
        )
        .select("v")
    )
    dump("mis_round", win)

    # scc flood round (the loop body of _minlabel_flood)
    ea, _ = tracked_checkpoint(
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    )
    color, _ = tracked_checkpoint(
        ea.select(F.col("src").alias("v")).distinct().select(
            "v", F.col("v").alias("label")
        )
    )
    import trianglecounting_spark.operators.scc as SCC_MOD

    flood_small = "small" in SCC_MOD._minlabel_flood.__code__.co_varnames

    def _fb(df):
        return F.broadcast(df) if flood_small else df

    col_in = color.select(F.col("v").alias("src"), "label")
    incoming = (
        ea.join(_fb(col_in), "src")
        .groupBy(F.col("dst").alias("v"))
        .agg(F.min("label").alias("in_min"))
    )
    dump(
        "scc_flood_round",
        color.join(_fb(incoming), "v", "left").select(
            "v",
            F.least("label", F.coalesce("in_min", F.col("label"))).alias("label"),
        ),
    )

    # connected-components round (large-star + small-star)
    import trianglecounting_spark.operators.components as CC_MOD

    cur, _ = tracked_checkpoint(undirect(edges).distinct())
    symcc = cur.unionAll(
        cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    after_large = CC_MOD._large_star(symcc)
    dump("connected_components_round", CC_MOD._small_star(after_large))

    spark.stop()


if __name__ == "__main__":
    main()

"""Shortest-path EDGE-GROWTH probe (r10 final session): shuffle-byte
envelope for the min-plus Bellman-Ford frontier loop under a 10x
blow-up of the weighted trade graph — the q_bfs_hops probe's regimes,
one loop heavier because min-plus keeps improving through longer-than-
diameter paths:

- ``disjoint``: 10 node-shifted copies (seed set replicated per copy) —
  frontiers grow 10x, per-round bytes should track ~10x, fixpoint depth
  stays put (each copy is the base graph).
- ``rotated``: 10 weight-rotated copies over the SAME node set —
  densification: more parallel edges between the same nodes collapse in
  the weight agg, so bytes are bounded by the live node set.

Usage: python tools/sp_growth_probe.py [sf_dir] [k1,k2,...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import (
        settled_snapshot,
        shuffle_delta,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.operators import graph as G
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spark = get_spark(
        "sp-growth-probe",
        cpus="32",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        G.trade_edges_weighted(spark, sf_dir)
        .selectExpr("src", "dst", f"{G._SP_COST.replace('//', ' DIV ')} AS cost")
        .localCheckpoint(eager=True)
    )
    mx = base.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0]
    off = mx + 2 + (mx % 2)  # even shift keeps the 2k/2k+1 node parity per copy

    def disjoint(k: int):
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                (F.col("src") + F.col("id") * off).alias("src"),
                (F.col("dst") + F.col("id") * off).alias("dst"),
                "cost",
            )
        )

    def rotated(k: int):
        # k weight-rotated copies over the SAME node set: cost' =
        # ((cost - 1 + id*9973) % 1e6) + 1 stays positive and distinct
        # per copy, producing k parallel edges between every endpoint
        # pair.  The loop's per-round groupBy(node).min(cand) collapses
        # them map-side, so per-round shuffle bytes should stay bounded
        # by the LIVE NODE set, not grow k-fold with the edge count.
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                "src",
                "dst",
                (((F.col("cost") - 1 + F.col("id") * 9973) % 1000000) + 1).alias("cost"),
            )
        )

    ks = [int(x) for x in (sys.argv[2].split(",") if len(sys.argv) > 2 else ["10"])]
    graphs = [("base 1x", base)]
    for k in ks:
        graphs.append((f"disjoint {k}x", disjoint(k)))
    for k in ks:
        graphs.append((f"rotated {k}x", rotated(k)))

    print(f"### q_shortest_path loop ({G._SP_ROUNDS} fixed rounds, min-plus frontier form)")
    print("| graph | edges m | seeds | reached | shuffle write (MB) | wall (s) |")
    print("|---|---|---|---|---|---|")
    for label, edges in graphs:
        e = edges.localCheckpoint(eager=True)
        m = e.count()
        seeds = (
            e.select(F.col("src").alias("node"))
            .unionAll(e.select(F.col("dst").alias("node")))
            .where(F.pmod(F.col("node"), F.lit(off)) % 20 == 0)
            .distinct()
            .localCheckpoint(eager=True)
        )
        ns = seeds.count()
        snap0 = settled_snapshot(spark)
        t0 = time.perf_counter()
        reached = G.relax(e.withColumnRenamed("cost", "w"), seeds, "min_plus", G._SP_ROUNDS).count()
        wall = time.perf_counter() - t0
        d = shuffle_delta(snap0, settled_snapshot(spark))
        mb = d["shuffle_write_bytes"] / 1048576
        print(f"| {label} | {m:,} | {ns:,} | {reached:,} | {mb:.2f} | {wall:.2f} |", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

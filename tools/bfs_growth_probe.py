"""BFS EDGE-GROWTH probe (r10): shuffle-byte envelope for the frontier
BFS under a 10x blow-up of the trade graph, the same two regimes as the
other graph probes:

- ``disjoint``: 10 node-shifted copies (seed set replicated per copy) —
  frontiers grow 10x, so per-round bytes should track ~10x and round
  count stays put.
- ``rotated``: 10 edge-rotated copies over the SAME node set —
  densification; the frontier saturates FASTER (reachable set fills in
  fewer hops), so bytes are bounded by the visited set, not by |E|.

Usage: python tools/bfs_growth_probe.py [sf_dir]
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
        "bfs-growth-probe",
        cpus="32",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = G.trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    mx = base.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0]
    off = mx + 2 + (mx % 2)  # even shift keeps the 2k/2k+1 node parity per copy

    def disjoint(k: int):
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                (F.col("src") + F.col("id") * off).alias("src"),
                (F.col("dst") + F.col("id") * off).alias("dst"),
            )
        )

    def rotated(k: int):
        step = max(2, (off // (k + 1)) & ~1)  # even step keeps parity
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                F.pmod(F.col("src") + F.col("id") * step, F.lit(off)).alias("src"),
                F.pmod(F.col("dst") + F.col("id") * step, F.lit(off)).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    import os

    ks = [int(x) for x in (sys.argv[2].split(",") if len(sys.argv) > 2 else ["10"])]
    graphs = [("base 1x", base)]
    for k in ks:
        graphs.append((f"disjoint {k}x", disjoint(k)))
    if ks == [10]:
        graphs.append(("rotated 10x", rotated(10)))
    del os

    print("### q_bfs_hops loop (6 fixed rounds, frontier form)")
    print("| graph | edges m | seeds | reached | shuffle write (MB) | wall (s) |")
    print("|---|---|---|---|---|---|")
    for label, edges in graphs:
        e = edges.localCheckpoint(eager=True)
        m = e.count()
        # seed rule per copy: supplier nodes (even) whose in-copy key % 10 == 0
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
        reached = G.relax(e, seeds, "hops", G._BFS_ROUNDS).count()
        wall = time.perf_counter() - t0
        d = shuffle_delta(snap0, settled_snapshot(spark))
        mb = d["shuffle_write_bytes"] / 1048576
        print(f"| {label} | {m:,} | {ns:,} | {reached:,} | {mb:.2f} | {wall:.2f} |", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""HITS + landmark-closeness EDGE-GROWTH probe: byte-growth rows for
the two r12 centrality additions, mirroring graph_growth_probe.py's
arms over the DIRECTED trade graph (src=supplier, dst=customer):

- ``disjoint 10x``: 10 node-shifted copies — |V|, |E| and the landmark
  set all grow 10x with per-component structure unchanged.  HITS
  exchanges O(|V|) score vectors per round → ~10x shuffle; closeness
  level-set state is per-component (landmarks only reach their own
  copy) → ~10x state words, ~10x shuffle.
- ``dense 10x``: 10 shifted edge overlays on the SAME node set — |V|
  and landmarks fixed, |E| ~10x.  HITS per-round exchange stays
  O(|V|) (the whole point: edges never move); closeness frontiers
  touch more edges per round but the state is bounded by |V|·⌈|L|/64⌉
  words regardless of density.

Usage: python tools/centrality_growth_probe.py [sf_dir]
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
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.closeness import (
        landmark_harmonic,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.hits import hits
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spark = get_spark(
        "centrality-growth-probe",
        cpus="32",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = G.trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    off = base.agg(F.greatest(F.max("src"), F.max("dst"))).first()[0] + 1
    # keep the shifted copies' node parity AND the %20 landmark rule
    # intact: shift by a multiple of 20
    off += (20 - off % 20) % 20

    def disjoint(k: int):
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                (F.col("src") + F.col("id") * off).alias("src"),
                (F.col("dst") + F.col("id") * off).alias("dst"),
            )
        )

    def dense(k: int):
        # k shifted supplier->customer overlays on the same node set:
        # rotate the CUSTOMER side only (parity preserved), dedup pairs
        n_cust = base.select(F.max("dst")).first()[0] + 1
        return (
            spark.range(k)
            .crossJoin(base)
            .select(
                F.col("src"),
                (F.pmod(F.col("dst") + F.col("id") * 2 * 37, F.lit(n_cust + 1))).alias("d0"),
            )
            .select("src", (F.col("d0") - F.pmod("d0", F.lit(2)) + 1).alias("dst"))
            .distinct()
        )

    graphs = [
        ("base 1x", base),
        ("disjoint 10x", disjoint(10)),
        ("dense 10x", dense(10)),
    ]

    for op_label, run in (
        (
            "q_hits loop",
            lambda e: hits(e).agg(F.round(F.sum("hub"), 3).alias("s")).first()[0],
        ),
        (
            # the growth arms run the COPARTITION arm: a broadcast
            # frontier outgrows the build side at disjoint-10x, which is
            # why the arm exists; base-1x broadcast numbers come from the
            # registered query's own bench row
            "harmonic level-set BFS (copartition arm)",
            lambda e: landmark_harmonic(e, join_strategy="copartition").count(),
        ),
    ):
        print(f"\n### {op_label}")
        print("| graph | edges m | result | shuffle write (MB) | wall (s) |")
        print("|---|---|---|---|---|")
        for label, edges in graphs:
            e = edges.localCheckpoint(eager=True)
            m = e.count()
            snap0 = settled_snapshot(spark)
            t0 = time.perf_counter()
            result = run(e)
            wall = time.perf_counter() - t0
            d = shuffle_delta(snap0, settled_snapshot(spark))
            mb = d["shuffle_write_bytes"] / 1048576
            print(
                f"| {label} | {m:,} | {result:,} | {mb:.2f} | {wall:.2f} |",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

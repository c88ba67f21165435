"""CLI — the reference's entry points re-expressed on Spark.

``run`` mirrors `Stage 2/Python Implementation/mm_opt.py:113-135`
(`python mm_opt.py --algo blocked 256 --block 64 -r 3`) and the Stage 3
parallel harness (`Stage 3/Python Implementation/mm_opt_par.py:43-86`):
benchmark the multiply kernel at given sizes/algo, write a results CSV in
the harness schema (FIXTURES.md §3).

``analyze`` mirrors the visualizer pipeline
(`Stage */Visualization/mm_perf*_visualizer.py`): scan a results CSV
corpus, derive per-(lang,algo,size) means and speedup/efficiency — with
the reference's broken cross-process speedup fixed by computing T1 with a
window over the whole table (SURVEY.md §2.1).

Usage:
  python -m matrix_multiplication_bigdata_ind_assignments_spark run 256 512 --algo blocked --block 64 -r 3
  python -m matrix_multiplication_bigdata_ind_assignments_spark analyze 'results_*.csv' --out report_dir
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import time

ALGOS = ("basic", "transposed", "blocked", "sparse", "broadcast", "auto")


def _cmd_run(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .functions.metrics import executor_peak_mb, measure
    from .operators import matrix as M
    from .session import get_spark

    # UI on: the REST metrics endpoint is how Spark exposes per-executor
    # peak memory — the per-node resource reporting the Stage-4 PDF spec
    # asks for and the reference tracks per process (VERDICT r11 item 8)
    spark = get_spark(
        "mmbd-cli",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    threads = spark.sparkContext.defaultParallelism

    def build(n: int, shift: int):
        l = spark.read.parquet(f"{args.sf_dir}/lineitem.parquet")
        m = (
            l.select(
                ((F.col("l_orderkey") + shift) % n).alias("i"),
                ((F.col("l_partkey") + 3 * shift) % n).alias("j"),
                F.col("l_quantity").alias("v"),
            )
            .groupBy("i", "j")
            .agg(F.sum("v").alias("v"))
        )
        if args.algo == "sparse":
            m = m.where(f"(i * {n} + j) % {max(int(1 / args.density), 1)} = 0")
        return m.cache()

    rows = []
    for n in args.sizes:
        A, B = build(n, 0), build(n, 7)
        A.count(), B.count()
        # algo → multiply strategy: 'basic' is the COO join; 'transposed'
        # is the same logical op (layout is engine-managed, SURVEY.md §4) —
        # exposed for bench parity with the reference's kernel list.
        strategy = {
            "basic": "join",
            "transposed": "join",
            "sparse": "join",
            "blocked": "blocked",
            "broadcast": "broadcast",
            "auto": "auto",
        }[args.algo]
        left = M.transpose(M.transpose(A)) if args.algo == "transposed" else A
        times = []

        def reps():
            for _ in range(args.repeats):
                t0 = time.perf_counter()
                M.multiply(left, B, strategy=strategy, block_size=args.block).write.format(
                    "noop"
                ).mode("overwrite").save()
                times.append((time.perf_counter() - t0) * 1000)

        # per-node resources for this size's reps: shuffle bytes from one
        # measurement window (deterministic plan signal), executor peak
        # memory from the REST metrics API (monotonic since JVM start —
        # the peak-so-far AFTER this size attributes a jump to it)
        d = measure(spark, reps)
        peak = executor_peak_mb(spark)
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        extra = json.dumps({"block": args.block, "density": args.density, "sf_dir": args.sf_dir})
        rows.append(
            (
                "pyspark",
                args.algo,
                n,
                threads,
                args.repeats,
                round(statistics.mean(times), 3),
                round(rss_mb, 1),
                "" if peak is None else peak,
                round(d["shuffle_read_bytes"] / 1048576, 2),
                round(d["shuffle_write_bytes"] / 1048576, 2),
                extra,
            )
        )
        A.unpersist(), B.unpersist()

    header = (
        "lang,algo,size,threads,repeats,avg_time_ms,rss_mb,"
        "exec_peak_mb,shuffle_read_mb,shuffle_write_mb,extra"
    )
    with open(args.out, "w") as f:
        f.write(header + "\n")
        for r in rows:
            f.write(",".join(f'"{x}"' if isinstance(x, str) and "," in x else str(x) for x in r) + "\n")
    print(f"wrote {args.out}: {len(rows)} rows")
    for r in rows:
        print(f"  {r[1]} n={r[2]} threads={r[3]} avg={r[5]} ms")
    return 0


def _cmd_analyze(args: argparse.Namespace) -> int:
    from pyspark.sql import functions as F

    from .operators.bench_results import derive_metrics, read_results_corpus
    from .session import get_spark

    spark = get_spark("mmbd-analyze")
    spark.sparkContext.setLogLevel("ERROR")
    derived = derive_metrics(read_results_corpus(spark, args.glob))
    os.makedirs(args.out, exist_ok=True)
    derived.orderBy("lang", "algo", "size", "threads").coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).csv(f"{args.out}/derived_metrics")
    series = (
        derived.groupBy("lang", "algo")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("avg_time_ms"), 3).alias("mean_ms"),
            F.round(F.min("avg_time_ms"), 3).alias("best_ms"),
        )
        .orderBy("lang", "algo")
    )
    series.coalesce(1).write.mode("overwrite").option("header", True).csv(
        f"{args.out}/series_by_group"
    )
    for r in series.collect():
        print(f"  {r['lang']}/{r['algo']}: n={r['n_points']} mean={r['mean_ms']} ms best={r['best_ms']} ms")
    print(f"wrote {args.out}/{{derived_metrics,series_by_group}}")
    _maybe_plot(derived, args.out)
    return 0


def _maybe_plot(derived, out_dir: str) -> None:
    """PNG plots matching the reference visualizer set
    (`Stage 1/Visualization/mm_perf_visualizer.py:51-102`,
    `Stage 3/Visualization/mm_perf_parallel_visualizer.py:77-148`),
    rendered by the engine's dependency-free rasterizer (plots.py — the
    container has no matplotlib)."""
    from .plots import render_report

    pdf = derived.toPandas()  # tiny: one row per (lang, algo, size, threads)
    for path in render_report(pdf, out_dir):
        print(f"wrote {path}")


def main() -> int:
    p = argparse.ArgumentParser(prog="matrix_multiplication_bigdata_ind_assignments_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pr = sub.add_parser("run", help="benchmark multiply kernels, write results CSV")
    pr.add_argument("sizes", nargs="+", type=int)
    pr.add_argument("--algo", choices=ALGOS, default="basic")
    pr.add_argument("-r", "--repeats", type=int, default=3)
    # None → the planner sizes tiles from (n, panel budget); an explicit
    # value is honored verbatim (r6: a 512 default silently bypassed the
    # planner for every CLI run)
    pr.add_argument("--block", type=int, default=None)
    pr.add_argument("--density", type=float, default=0.05)
    pr.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    pr.add_argument("--out", default="results_pyspark.csv")
    pr.set_defaults(fn=_cmd_run)

    pa = sub.add_parser("analyze", help="derive metrics from a results CSV corpus")
    pa.add_argument("glob", help="results CSV path/glob")
    pa.add_argument("--out", default="mmbd_report")
    pa.set_defaults(fn=_cmd_analyze)

    args = p.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())

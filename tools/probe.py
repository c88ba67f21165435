#!/usr/bin/env python
"""Scale probe: run registered queries on table-level blow-ups of a
fixture sf dir (tools/blowup.py) and print one SCALING.md row per run.

Each row runs the whole query (building the frame, which runs the eager
loops' jobs, plus a noop-sink write) once, after one untimed warm-up run
of the same query on ``--sf``: output rows (an Observation on the write,
no extra job), and Spark jobs, shuffle-write MB and wall seconds from
one ``functions/metrics.measure`` window.  ``bytes ×``
is the row's shuffle write over the query's row at the first k.

``--cores`` is the strong-scaling sweep instead: one fresh child process
(one JVM at local[p]) per core count on the blown-up dir, BLAS pinned to
one thread per worker, min of 2 timed runs after 1 warm-up, a GEMM noise
sentinel and loadavg pair per child.  Speedup and efficiency come from
the engine's own ``speedup_efficiency`` operator, checked against a
plain T1/Tp recompute; the record (BENCH_scaling.json's schema) goes to
stdout, progress and the markdown table to stderr.

Usage:
  python tools/probe.py --query q_a,q_b --sf DIR [--arm disjoint|rotated|skew] [--k 1,10]
  python tools/probe.py --query q_pagerank --sf DIR --cores 1,2,4 [--arm …] [--k 1]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the package too: the JVM hands them its
# environment, so ROOT goes on PYTHONPATH before any session starts
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

import blowup  # noqa: E402

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_row(spark, name: str, sf_dir: str) -> dict:
    """One measured run of registered query ``name`` on ``sf_dir``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from matrix_multiplication_bigdata_ind_assignments_spark import registry
    from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import measure

    query = registry.queries()[name]
    obs = Observation(f"probe_{name}")
    m = measure(
        spark, lambda: _noop(query(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows")))
    )
    return {
        "rows": obs.get["rows"],
        "jobs": m["jobs"],
        "shuffle_mb": m["shuffle_write_bytes"] / 1048576,
        "wall_s": m["wall_s"],
    }


def _sweep(args, names: list[str], ks: list[int]) -> None:
    from matrix_multiplication_bigdata_ind_assignments_spark import registry
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    # every stage retained so no eviction lands inside a measurement window
    spark = get_spark(
        "mmbd-probe",
        extra_conf={
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        _noop(registry.queries()[name](spark, args.sf))
    print("| query | arm | k | rows | jobs | shuffle write (MB) | bytes × | wall (s) |")
    print("|---|---|---|---|---|---|---|---|")
    first: dict[str, float] = {}
    for k in ks:
        with tempfile.TemporaryDirectory(prefix=f"probe-k{k}-") as tmp:
            sf_k = blowup.write(spark, args.sf, tmp, args.arm, k)
            for name in names:
                r = probe_row(spark, name, sf_k)
                base = first.setdefault(name, r["shuffle_mb"])
                ratio = f"{r['shuffle_mb'] / base:.1f}×" if base else "—"
                print(
                    f"| {name} | {args.arm} | {k} | {r['rows']:,} | {r['jobs']} |"
                    f" {r['shuffle_mb']:.2f} | {ratio} | {r['wall_s']:.2f} |",
                    flush=True,
                )


def _child(p: int, names: list[str], sf_dir: str) -> None:
    """Time ``names`` at local[p]; print one SCALING_CHILD JSON line."""
    os.environ["MMBD_SHUFFLE_PARTITIONS"] = str(2 * p)
    from bench import gemm_sentinel
    from matrix_multiplication_bigdata_ind_assignments_spark import registry
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spark = get_spark("mmbd-scaling", cpus=p)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    sentinel_start, load_start = gemm_sentinel(), os.getloadavg()[0]
    timings = {}
    for name in names:
        _noop(qs[name](spark, sf_dir))  # warm-up: codegen + worker pool
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            _noop(qs[name](spark, sf_dir))
            times.append(time.perf_counter() - t0)
        timings[name] = round(min(times), 3)
    out = {
        "p": p,
        "queries": timings,
        "sentinel": [sentinel_start, gemm_sentinel()],
        "loadavg": [round(load_start, 1), round(os.getloadavg()[0], 1)],
    }
    print("SCALING_CHILD " + json.dumps(out, separators=(",", ":")))


def _scaling(args, names: list[str], cores: list[int], k: int) -> None:
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.aggregates import (
        speedup_efficiency,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spark = get_spark("mmbd-scaling-derive")
    spark.sparkContext.setLogLevel("ERROR")
    results = {}
    with tempfile.TemporaryDirectory(prefix=f"probe-k{k}-") as tmp:
        sf_k = blowup.write(spark, args.sf, tmp, args.arm, k)
        env = dict(os.environ, OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1")
        for p in cores:
            print(f"== local[{p}] ==", file=sys.stderr, flush=True)
            cmd = [sys.executable, os.path.abspath(__file__), "--child", str(p),
                   "--query", ",".join(names), "--sf", sf_k]
            r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, env=env)
            line = next((x for x in r.stdout.splitlines() if x.startswith("SCALING_CHILD ")), None)
            if line is None:
                print(r.stdout[-2000:], r.stderr[-4000:], sep="\n", file=sys.stderr)
                raise RuntimeError(f"child local[{p}] produced no record")
            results[p] = json.loads(line[len("SCALING_CHILD "):])
            print(f"   {json.dumps(results[p]['queries'])}", file=sys.stderr, flush=True)

    rows = [(q, p, results[p]["queries"][q]) for p in cores for q in names]
    per_run = spark.createDataFrame(rows, "query string, p int, t double")
    derived = [
        r.asDict()
        for r in speedup_efficiency(per_run, "query", "p", "t").orderBy("query", "p").collect()
    ]
    # The operator's columns must equal a plain T1/Tp recompute from the
    # raw child records, to the 6-dp rounding grain: Spark rounds
    # HALF_UP where Python rounds half-even, so exact equality with
    # round() would fail on a half-ulp.
    t1 = {q: results[cores[0]]["queries"][q] for q in names}
    for d in derived:
        want = t1[d["query"]] / d["t"]
        if abs(d["speedup"] - want) > 5.1e-7 or abs(d["efficiency"] - want / d["p"]) > 5.1e-7:
            raise RuntimeError(f"speedup_efficiency disagrees with T1/Tp: {d}")
    record = {
        "metric": "strong_scaling",
        "unit": "sec",
        "sf": float(args.sf.rstrip("/").rsplit("sf", 1)[1]),
        "cores": cores,
        "method": "min_over_2_repeats_after_1_warmup; fresh JVM per core count;"
        f" shuffle_partitions=2p; tools/probe.py blow-up arm={args.arm} k={k};"
        " derived table computed by operators/aggregates.py speedup_efficiency"
        " (q_speedup_efficiency's engine) and asserted equal to a plain T1/Tp"
        " recompute",
        "queries": {q: {str(p): results[p]["queries"][q] for p in cores} for q in names},
        "derived": derived,
        "provenance": {
            str(p): {"sentinel": results[p]["sentinel"], "loadavg": results[p]["loadavg"]}
            for p in cores
        },
    }
    print(json.dumps(record, indent=2))
    pmax = cores[-1]
    table = [
        "| query | " + " | ".join(f"p={p}" for p in cores) + f" | S({pmax}) | E({pmax}) |",
        "|" + "---|" * (len(cores) + 3),
    ]
    for q in names:
        last = next(d for d in derived if d["query"] == q and d["p"] == pmax)
        cells = " | ".join(f"{results[p]['queries'][q]:.2f}" for p in cores)
        table.append(f"| {q} | {cells} | {last['speedup']:.2f}× | {last['efficiency']:.2f} |")
    print("\n".join(table), file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--query", required=True, help="comma-separated registered query names")
    ap.add_argument("--sf", required=True, help="fixture sf dir to blow up")
    ap.add_argument("--arm", default="disjoint", choices=blowup.ARMS)
    ap.add_argument("--k", help="comma-separated copy counts (default 1,10; 1 with --cores)")
    ap.add_argument("--cores", help="comma-separated local[p] core counts (strong scaling)")
    ap.add_argument("--child", type=int, help=argparse.SUPPRESS)
    args = ap.parse_args()
    names = args.query.split(",")
    if args.child:
        _child(args.child, names, args.sf)
        return 0
    from matrix_multiplication_bigdata_ind_assignments_spark import registry

    unknown = sorted(set(names) - set(registry.queries()))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    ks = [int(k) for k in (args.k or ("1" if args.cores else "1,10")).split(",")]
    if args.cores:
        if len(ks) != 1:
            ap.error("--cores takes a single --k")
        _scaling(args, names, [int(p) for p in args.cores.split(",")], ks[0])
    else:
        _sweep(args, names, ks)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

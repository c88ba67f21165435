#!/usr/bin/env python
"""Targeted per-query timer for optimization iterations: same
methodology as bench.py (tuned session, noop sink, 1 warmup + min/mean
of N repeats, mini-GEMM contention sentinel per query) but over an
explicit query list, so a single change can be measured in ~a minute
instead of a full bench pass.

Usage: python tools/time_queries.py [--sf DIR] [--repeats N] q_a q_b ...
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
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    repeats = 3
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--sf":
            sf_dir = args[i + 1]
            i += 2
        elif args[i] == "--repeats":
            repeats = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("MMBD_SHUFFLE_PARTITIONS", str(2 * int(cpus)))

    from bench import gemm_sentinel
    from matrix_multiplication_bigdata_ind_assignments_spark import registry
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spark = get_spark("mmbd-timeq", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    def run(name):
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    for name in names:
        spark.sparkContext.setJobDescription(f"time: {name}")
        run(name)  # warmup
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            run(name)
            times.append(time.perf_counter() - t0)
        s = gemm_sentinel(best=True)
        print(
            f"{min(times):8.3f}s min  {sum(times)/len(times):8.3f}s mean  "
            f"sentinel {s:.4f}s  {name}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

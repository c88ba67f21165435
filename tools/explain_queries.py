#!/usr/bin/env python
"""Print or capture .explain("formatted") + executed job/shuffle
evidence for registered queries.  With ``--tag`` each query goes to
plans/<tag>/<query>_<suffix>.txt (the optimization-round plan audit
files); without it the same text goes to stdout.  With no query names
it lists the registered queries.

For the eager iterative operators (graph loops, Lloyd trainers) the
RETURNED frame explains as a bare ExistingRDD scan — the interesting
work happens in jobs launched while BUILDING it — so alongside the plan
this records: number of Spark jobs launched and shuffle read/write and
spill MB around one full execution (noop sink), which is where a
job-count optimization (skipped certificate, early-stopped round) shows.

Usage: python tools/explain_queries.py [--tag T [--suffix before]] [--sf DIR] q_a q_b ...
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the package too: the JVM hands them its
# environment, so ROOT goes on PYTHONPATH before any session starts
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def classic_context(spark):
    """The session's SparkContext, or SystemExit with a clear message.

    Job groups and formatted plans are read through the JVM, which only a
    classic py4j session exposes: under Spark Connect there is no
    client-side SparkContext (and a stopped one has ``_jsc`` None), so
    stop up front instead of an AttributeError mid-run."""
    try:
        sc = spark.sparkContext
    except Exception:  # Spark Connect: PySparkNotImplementedError
        sc = None
    if getattr(sc, "_jsc", None) is None:
        raise SystemExit(
            "explain_queries needs a classic (py4j) SparkSession with a live "
            "JVM SparkContext; Spark Connect sessions are not supported"
        )
    return sc


def main() -> int:
    args = sys.argv[1:]
    tag, suffix, sf_dir = "r12", "before", "/root/testdata/sf0.1"
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--tag":
            tag = args[i + 1]; i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]; i += 2
        elif args[i] == "--sf":
            sf_dir = args[i + 1]; i += 2
        else:
            names.append(args[i]); i += 1

    if "--tag" not in args:
        tag = None  # print to stdout
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("MMBD_SHUFFLE_PARTITIONS", str(2 * int(cpus)))

    from matrix_multiplication_bigdata_ind_assignments_spark import registry

    qs = registry.queries()
    if not names:
        print("queries:", ", ".join(sorted(qs)))
        return 0
    from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import measure
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spark = get_spark(
        "mmbd-explain",
        cpus=cpus,
        extra_conf={
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    sc = classic_context(spark)
    sc.setLogLevel("ERROR")
    if tag:
        outdir = os.path.join(ROOT, "plans", tag)
        os.makedirs(outdir, exist_ok=True)

    for name in names:
        plan = []

        def run(name=name):
            df = qs[name](spark, sf_dir)  # building may itself run jobs (eager loops)
            plan.append(
                df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
            )
            df.write.format("noop").mode("overwrite").save()

        d = measure(spark, run)
        text = (
            f"# {name} — .explain('formatted') at sf_dir={sf_dir}\n"
            f"# executed evidence (one full run incl. building the frame):\n"
            f"#   spark jobs launched: {d['jobs']}\n"
            f"#   shuffle read MB: {d['shuffle_read_bytes'] / 1048576:.2f}"
            f"  write MB: {d['shuffle_write_bytes'] / 1048576:.2f}\n"
            f"#   spill mem MB: {d['spill_memory_bytes'] / 1048576:.2f}"
            f"  disk MB: {d['spill_disk_bytes'] / 1048576:.2f}\n"
            f"{plan[0]}\n"
        )
        if not tag:
            print(text, flush=True)
            continue
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} (jobs={d['jobs']}, "
              f"shuffle_w={d['shuffle_write_bytes']/1048576:.1f}MB)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

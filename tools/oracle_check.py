"""Local replica of the driver's correctness gate: run every registered
query in Spark AND its DuckDB oracle on the same parquet tables, compare
row count + schema-insensitive sorted values.

Usage: python tools/oracle_check.py [--vanilla] [sf_dir] [query ...]

--vanilla runs on a bare SparkSession (no engine confs: default shuffle
partitions, default broadcast threshold, stock ANSI setting) — the
configuration the real driver uses, so conf-dependent regressions
surface here instead of in the round gate.
"""

from __future__ import annotations

import gc
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the package too: the JVM hands them its
# environment, so ROOT goes on PYTHONPATH before any session starts
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def normalize(rows, colnames):
    """Sort columns by name, stringify values with float normalization."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(f"{v + 0.0:.9g}")  # +0.0 folds -0.0
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def main() -> int:
    import duckdb

    from matrix_multiplication_bigdata_ind_assignments_spark import registry
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark
    from matrix_multiplication_bigdata_ind_assignments_spark.sources.io import TABLES

    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[*]")
            .appName("oracle-check-vanilla")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = registry.queries()
    if only:
        qs = {n: f for n, f in qs.items() if n in only}
    oracles = registry.oracles(sf_dir)
    failures = []
    for i, (name, fn) in enumerate(sorted(qs.items())):
        if i and i % 10 == 0:
            # A 151-query sweep accumulates dead weight the 1 GB vanilla
            # driver heap can't absorb at sf0.1: collected row lists,
            # py4j-dangling DataFrames whose localCheckpoint blocks the
            # ContextCleaner can only drop after their Python refs die.
            # (Measured: the sweep OOMed at q_dedup_simhash_c6's 1.57M-row
            # collect when run after 180 prior queries, while the same
            # query passes in isolation.)  GC both sides periodically.
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_rows = [tuple(r) for r in df.collect()]
            spark_cols = df.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        # semantic invariant (registry post_check): catches the
        # wrong-together failure mode of fixed-unroll iterative queries,
        # where Spark and the identically-unrolled oracle would both stop
        # short of fixpoint and still hash-match (ADVICE r9, q_kcore)
        pc = registry.REGISTRY[name].post_check
        if pc is not None:
            # 2-arg checks are pure row invariants; 3-arg checks also get
            # the fixture dir (the unroll-stability certificates re-run
            # the query's own oracle with one extra round in DuckDB)
            narg = getattr(pc, "__code__", None)
            if narg is not None and narg.co_argcount >= 3:
                msg = pc(spark_rows, list(spark_cols), sf_dir)
            else:
                msg = pc(spark_rows, list(spark_cols))
            if msg:
                print(f"FAIL  {name}: post_check: {msg}")
                failures.append(name)
                continue
        if name not in oracles:
            print(f"rows  {name}: {len(spark_rows)} rows (rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {str(e)[:300]}")
            failures.append(name)
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL  {name}: columns {sorted(spark_cols)} vs {sorted(duck_cols)}")
            failures.append(name)
            continue
        a = normalize(spark_rows, list(spark_cols))
        b = normalize(duck_rows, duck_cols)
        if len(a) != len(b):
            print(f"FAIL  {name}: rowcount {len(a)} vs {len(b)}")
            failures.append(name)
        elif a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            print(f"FAIL  {name}: value mismatch, e.g. {diff}")
            failures.append(name)
        else:
            print(f"OK    {name}: {len(a)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} queries OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

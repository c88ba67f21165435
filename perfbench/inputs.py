"""Seeded inputs.

The committed tables under ``perfbench/data/sf0.01`` are the repository's
deterministic sf0.01 test tables (seed 42, see TESTDATA.md). A benchmark seed picks one
bijective relabeling of every entity key, applied consistently to all
tables in a private copy the run owns; seed 0 is the identity, so it
reproduces the fixtures as committed. A relabeling keeps every join and
graph structure intact, so work per op stays comparable across seeds while
keys, partition placement and tie-breaks change.

The matmul workload reads the committed lineitem and takes its seed as the
operand shift instead (see ``matmul_shift``).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# key domain -> the columns holding it; every domain is a dense 0..n-1 range
KEY_DOMAINS = {
    "cust": (("customer", "c_custkey"), ("orders", "o_custkey")),
    "order": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "part": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "supp": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "user": (("events", "user_id"),),
    "doc": (("documents", "doc_id"),),
    "vec": (("embeddings", "vec_id"),),
}


def relabeling(seed: int, domain_sizes: dict[str, int]) -> dict[str, np.ndarray]:
    """domain -> permutation of range(size); identity for seed 0."""
    rng = np.random.default_rng(seed)
    out = {}
    for name in sorted(domain_sizes):
        n = domain_sizes[name]
        out[name] = np.arange(n) if seed == 0 else rng.permutation(n)
    return out


def build_seeded_copy(seed: int, dest: str) -> None:
    """Write the relabeled tables to ``dest``."""
    tables = {t: pq.read_table(os.path.join(DATA_DIR, f"{t}.parquet")) for t in TABLES}
    sizes = {}
    for dom, cols in KEY_DOMAINS.items():
        sizes[dom] = 1 + max(int(pc.max(tables[t][c]).as_py()) for t, c in cols)
    perms = relabeling(seed, sizes)
    for dom, cols in KEY_DOMAINS.items():
        perm = perms[dom]
        for t, c in cols:
            tb = tables[t]
            idx = tb.column_names.index(c)
            col = tb[c].to_numpy()
            tables[t] = tb.set_column(idx, tb.schema.field(idx), pa.array(perm[col], tb.schema.field(idx).type))
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    for t, tb in tables.items():
        pq.write_table(tb, os.path.join(dest, f"{t}.parquet"))


def matmul_shift(seed: int) -> int:
    """Operand shift for the matmul workload; seed 0 is bench.py's 0/7 pair.
    Non-negative, because Spark's % keeps the sign of a negative key."""
    return seed % (1 << 20)


def mat_from_lineitem(spark, sf_dir: str, n: int, shift: int = 0):
    """Deterministic n×n COO matrix from lineitem: i = orderkey + shift,
    j = partkey + 3·shift (both mod n), v = quantity summed over collisions
    (the construction of bench.py:mat_from_lineitem)."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(
            ((F.col("l_orderkey") + shift) % n).alias("i"),
            ((F.col("l_partkey") + 3 * shift) % n).alias("j"),
            F.col("l_quantity").alias("v"),
        )
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v"))
    )

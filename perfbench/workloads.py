"""The workloads and their ops.

An op is one call into a public operator or a registry query function.
``call(ctx)`` returns the DataFrame; the benchmark forces it with a noop
sink in timed passes, and with a collect (queries) or a checksum
aggregate (matmul) in the warm-up pass, whose results the correctness
check reads.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

PKG = "matrix_multiplication_bigdata_ind_assignments_spark"


@dataclass(frozen=True)
class Op:
    name: str
    call: Callable  # ctx -> DataFrame
    kind: str  # "query" | "matmul"
    query: str | None = None  # registry name for "query" ops
    operands: tuple[str, str] | None = None  # matmul operand names
    before: Callable | None = None  # ctx -> None, run before the op clock


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[Op, ...]
    why: str


def _query(name, label=None, before=None):
    def call(ctx):
        return ctx.registry.REGISTRY[name].fn(ctx.spark, ctx.sf_dir)

    return Op(label or name, call, "query", query=name, before=before)


def _clear_ivf_memos(ctx):
    import importlib

    sim = importlib.import_module(f"{PKG}.operators.similarity")
    sim._IVF_CENTS.clear()
    sim._IVF_INDEX.clear()
    sim._PQ_BOOKS.clear()


def _mm(name, a, b, **kw):
    def call(ctx):
        import importlib

        M = importlib.import_module(f"{PKG}.operators.matrix")
        return M.multiply(ctx.operands[a], ctx.operands[b], **kw)

    return Op(name, call, "matmul", operands=(a, b))


# operand name -> (n, shift offset, mod): bench.py's shapes. A ``mod``
# operand keeps the cells of the same-shift n-operand with
# (i·n + j) % mod == 0, filtering the cached one.
OPERANDS = {
    "A256": (256, 0, None),
    "B256": (256, 7, None),
    "A1024": (1024, 0, None),
    "B1024": (1024, 7, None),
    "A2048": (2048, 0, None),
    "B2048": (2048, 7, None),
    "A2048s": (2048, 0, 20),
    "A4096": (4096, 0, None),
    "B4096": (4096, 7, None),
}

MATMUL = Workload(
    "matmul",
    (
        _mm("mm_join_n256", "A256", "B256", strategy="join"),
        _mm("mm_broadcast_n256", "A256", "B256", strategy="broadcast"),
        _mm("mm_blocked_n1024", "A1024", "B1024", strategy="blocked", block_size=512),
        _mm("mm_spmm_n2048_d05", "A2048s", "B2048", strategy="join"),
        _mm("mm_auto_n2048", "A2048", "B2048", strategy="auto"),
        _mm("mm_auto_n4096", "A4096", "B4096", strategy="auto"),
    ),
    "GEMM kernel, Python bridge, planner and partial-product shuffles; few jobs, no loops",
)

LOOPS = Workload(
    "loops",
    (
        _query("q_pagerank"),
        _query("q_closeness_landmarks"),
        _query("q_stream_dedup_near"),
    ),
    "graph loops and an availableNow stream inside the operator call; bound by the driver and scheduling, no Python workers",
)

CURATION = Workload(
    "curation",
    (
        _query("q_dedup_minhash"),
        _query("q_ann_ivf", "q_ann_ivf_cold", before=_clear_ivf_memos),
        _query("q_ann_ivf"),
        _query("q_stream_dedup_near"),
        _query("q_ship_priority"),
    ),
    "pandas UDFs, the memo write and read paths, a stateful stream and a JVM-only join",
)

# curation runs by hand only: three workloads do not fit the run budget
# of BENCHMARK.json (see README.md)
WORKLOADS = {w.name: w for w in (MATMUL, LOOPS, CURATION)}

"""Distributed matrix algebra over COO DataFrames.

The reference implements dense/transposed/blocked/sparse matmul kernels in
three languages (ref: `Stage 2/Python Implementation/mm_opt.py:30-89`,
`Stage 2/C Implementation/mm_opt.c:39-120`,
`Stage 2/Java Implementation/MMOpt.java:31-128`) and a row-partitioned
parallel variant with a manually broadcast B
(ref: `Stage 3/Python Implementation/mm_opt_par.py:12-41`).  Here all of
those collapse to ONE logical operator — ``multiply(A, B)`` over a COO
relation ``(i: long, j: long, v: double)`` — with physical strategies as
knobs (SURVEY.md §7 design stance):

- ``join``       : shuffle hash/sort-merge join on the inner dimension +
                   partial/final hash aggregation.  The all-purpose path.
- ``broadcast``  : B broadcast to every task, A hash-partitioned on its
                   rows — the Spark-native form of Stage 3's row panels
                   with "pickle B to every worker".  The broadcast join
                   keeps A's row partitioning, so each task owns whole
                   rows of C and no partial sum crosses the shuffle.
- ``blocked``    : block-id repartitioning + per-block-pair numpy GEMM in a
                   cogrouped ``applyInPandas`` — the scale path for dense×
                   dense (shuffle volume O(n²·n/BS) instead of O(n³) rows,
                   Arrow-batched, BLAS inner loop).  2-D panels when a
                   bs×k strip fits the panel budget (final values, no
                   second shuffle); otherwise the 3-D decomposition whose
                   partial sums travel as DENSE per-tile arrays (one Arrow
                   row per tile, numpy-summed per output block — the
                   BlockMatrix representation).  Mirrors the reference's
                   cache tiling (ref: `Stage 2/Python Implementation/mm_opt.py:57-73`).

Matrices are never materialized on the driver; identity/fixtures derive
from the ``embeddings`` parquet table (FIXTURES.md §2) so the DuckDB oracle
sees byte-identical inputs.  Fp-order safety: every aggregated value is
``round(x, 6)`` in both engines.

At 100 TB the COO join strategy shuffles |A| + |B| rows keyed on the inner
dimension and |A·B| partial products into the aggregation; the blocked
strategy instead shuffles each block O(n/BS) times with dense Arrow
payloads, which is the plan you want for big dense operands.  Sparse
operands keep the join strategy (only nnz rows flow).  The broadcast
strategy's invariant is row panels: its one exchange moves nnz(A) rows
keyed on i, and the aggregate above the join needs none.  That exchange
is its one cost — it is paid even when B is hypersparse and few partials
would have flowed.  Its caveat is skew: a dense row i lands in one task,
as in Stage 3's static row split.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load

COO_COLS = ("i", "j", "v")


# ---------------------------------------------------------------------------
# COO constructors (fixtures — FIXTURES.md §2)
# ---------------------------------------------------------------------------

def from_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mat_E: 500×64 COO from the embeddings table (row=vec_id, col=pos)."""
    E = load(spark, sf_dir, "embeddings")
    return E.select(
        F.col("vec_id").cast("long").alias("i"),
        F.posexplode("embedding").alias("j", "v"),
    ).select("i", F.col("j").cast("long").alias("j"), F.col("v").cast("double").alias("v"))


def mat_A(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64×64 square slice: embedding rows 0..63."""
    return from_embeddings(spark, sf_dir).where(F.col("i") < 64)


def mat_B(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64×64 square slice: embedding rows 64..127, reindexed to 0..63."""
    return (
        from_embeddings(spark, sf_dir)
        .where((F.col("i") >= 64) & (F.col("i") < 128))
        .select((F.col("i") - 64).alias("i"), "j", "v")
    )


def identity(spark: SparkSession, n: int) -> DataFrame:
    return spark.range(n).select(
        F.col("id").alias("i"), F.col("id").alias("j"), F.lit(1.0).alias("v")
    )


def sparsify(M: DataFrame, threshold: float = 0.05) -> DataFrame:
    """CSR analogue: keep only 'nonzeros' (|v| > threshold).

    Relationally CSR is just the nnz set (ref CSR structs:
    `Stage 2/C Implementation/mm_opt.c:81`,
    `Stage 2/Java Implementation/MMOpt.java:85-90`); the predicate is pushed
    to the parquet scan by Catalyst.
    """
    return M.where(F.abs(F.col("v")) > threshold)


def transpose(M: DataFrame) -> DataFrame:
    """Bᵀ — a pure projection, no shuffle (ref in-kernel transpose:
    `Stage 2/Python Implementation/mm_opt.py:42-55`)."""
    return M.select(F.col("j").alias("i"), F.col("i").alias("j"), "v")


# ---------------------------------------------------------------------------
# multiply — one logical op, physical strategies as knobs
# ---------------------------------------------------------------------------

def _validate_coo(M: DataFrame, name: str) -> None:
    missing = [c for c in COO_COLS if c not in M.columns]
    if missing:
        raise ValueError(
            f"{name} is not a COO matrix: missing column(s) {missing}; expected schema (i, j, v)"
        )


# plan-identity → (nnz, extent) memo so repeated strategy="auto" calls over
# the same logical operand (the common case: a query re-invoked per round)
# launch ZERO extra stat jobs — see functions.memo.plan_memo for the
# shared discipline (collision buckets, stale-session guard, bound) and
# its immutable-data caveat.
_COO_STATS: dict[int, list] = {}


def _coo_stats(M: DataFrame) -> tuple[int, int]:
    """(nnz, square extent) of a COO frame — one combined agg job on first
    sight of a plan, memoized thereafter (see functions.memo)."""
    from ..functions.memo import plan_memo

    def compute() -> tuple[int, int]:
        s = M.agg(
            F.count(F.lit(1)).alias("nnz"),
            F.max(F.greatest("i", "j")).alias("hi"),
        ).first()
        return (s["nnz"], (s["hi"] or 0) + 1)

    return plan_memo(_COO_STATS, M, None, compute)


def multiply(
    A: DataFrame,
    B: DataFrame,
    strategy: str = "join",
    block_size: int | None = None,
    panel_bytes: int | None = None,
) -> DataFrame:
    """C(i,j) = round(Σ_k A(i,k)·B(k,j), 6) as COO.

    Same contraction as the reference's i-k-j loops
    (`Stage 1/Python Implementation/mm_baseline.py:17-28`); the loop order /
    layout concerns (transposed, tiled) are physical strategies here.
    ``strategy="auto"`` consults the engine's planner
    (plans/strategy.py) with operand statistics — the Spark-side analogue
    of the reference's CLI algo dispatch
    (`Stage 2/Python Implementation/mm_opt.py:96-111`).

    ``block_size=None`` (the default) lets the planner size the tile
    grid from the operand extent and the panel-byte budget
    (plans.choose_block_size) whenever the blocked kernel runs; an
    explicit value is honored verbatim.  ``panel_bytes`` overrides the
    per-task panel budget that decides the blocked kernel's 2-D → 3-D
    decomposition switch (default: _PANEL_BYTES_LIMIT — model it on the
    executor memory a tile task may hold).
    """
    _validate_coo(A, "A")
    _validate_coo(B, "B")
    if strategy == "auto":
        from ..plans import choose_multiply_strategy

        left_nnz, n_a = _coo_stats(A)
        right_nnz, n_b = _coo_stats(B)
        n = max(n_a, n_b)
        density = min(left_nnz, right_nnz) / max(n * n, 1)
        strategy = choose_multiply_strategy(left_nnz, right_nnz, n, density)
    if strategy == "blocked" and block_size is None:
        from ..plans import choose_block_size

        _, n_a = _coo_stats(A)
        _, n_b = _coo_stats(B)
        block_size = choose_block_size(max(n_a, n_b))
    if strategy in ("join", "broadcast"):
        left, right = A, B
        if strategy == "broadcast":
            # Row panels: a broadcast hash join keeps the stream side's
            # partitioning, and HashPartitioning(a.i) already satisfies the
            # aggregate's clustering on (a.i, b.j) — so every partial sum
            # for a cell of C stays inside the task that made it.  The
            # count must be explicit: a column-only repartition is AQE-
            # coalescable and collapsed n=2048 into ONE partition.
            n = int(A.sparkSession.conf.get("spark.sql.shuffle.partitions"))
            left, right = A.repartition(n, "i"), F.broadcast(B)
        return (
            left.alias("a")
            .join(right.alias("b"), F.col("a.j") == F.col("b.i"))
            .groupBy(F.col("a.i").alias("i"), F.col("b.j").alias("j"))
            .agg(F.round(F.sum(F.col("a.v") * F.col("b.v")), 6).alias("v"))
        )
    if strategy == "blocked":
        return _multiply_blocked(A, B, block_size, panel_bytes)
    # "blockmatrix" (mllib BlockMatrix) was dropped from the strategy set:
    # CoordinateMatrix construction forces a per-row Python→JVM MatrixEntry
    # bridge — row-at-a-time Python in the hot path, with no DataFrame-side
    # way to build the JVM blocks.  The cogrouped-Arrow "blocked" strategy
    # IS the tiled-GEMM path (SURVEY.md §1.5 tiling mapping) without that
    # bridge.
    raise ValueError(f"unknown strategy {strategy!r}")


def _touched_from_coo(shape, a_ix, b_ix):
    """Boolean mask of STRUCTURALLY-touched cells of a block product:
    cells the COO join strategy (and the oracle) would emit a row for —
    including exact-0.0 cancellations and stored-zero products a value-
    nonzero filter would drop (r6 review finding).

    Two regimes, dispatched on the exact partial-product count (computed
    from the per-k group sizes, O(nnz log nnz)):

    - SPARSE (partials ≪ cells): sort by the inner dimension, slice the
      per-k row/col groups, OR the per-k outer products — O(partials)
      boolean writes.
    - DENSE (partials ≫ cells — the mask would saturate and the
      scattered writes degenerate to O(m·k·n) stores at worse-than-BLAS
      rates, measured ~20× slower than a GEMM on a dense 1024³ tile):
      one presence-matrix GEMM on 0/1 operands at BLAS speed.

    The crossover (partials > 4 × cells) keeps each bench shape on its
    measured-faster side; scipy.sparse would express the structural
    product directly but is not in the container."""
    import numpy as np

    m, n = shape
    ra, ka = np.asarray(a_ix[0]), np.asarray(a_ix[1])
    kb, cb = np.asarray(b_ix[0]), np.asarray(b_ix[1])
    oa = np.argsort(ka)
    ka, ra = ka[oa], ra[oa]
    ob = np.argsort(kb)
    kb, cb = kb[ob], cb[ob]
    ks = np.intersect1d(ka, kb)
    a_lo = np.searchsorted(ka, ks, side="left")
    a_hi = np.searchsorted(ka, ks, side="right")
    b_lo = np.searchsorted(kb, ks, side="left")
    b_hi = np.searchsorted(kb, ks, side="right")
    partials = int(((a_hi - a_lo) * (b_hi - b_lo)).sum())

    if partials > 4 * m * n:  # dense regime: BLAS presence GEMM
        k_hi = int(max(ka[-1], kb[-1])) + 1 if len(ka) and len(kb) else 0
        a_pres = np.zeros((m, k_hi))
        b_pres = np.zeros((k_hi, n))
        a_pres[ra, ka] = 1.0
        b_pres[kb, cb] = 1.0
        return (a_pres @ b_pres) > 0

    touched = np.zeros(shape, dtype=bool)
    for x in range(len(ks)):
        touched[np.ix_(ra[a_lo[x] : a_hi[x]], cb[b_lo[x] : b_hi[x]])] = True
    return touched


def _gemm_cogroup(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
    """Densify the cogrouped A/B cells and numpy-GEMM them.  Shared by the
    2-D panel and 3-D block decompositions below.

    Cells are emitted by STRUCTURAL touch, not by nonzero VALUE: the
    join strategy — and therefore the oracle — emits a row for every
    (i,j) whose key ranges met, including values that cancel to exact
    0.0 and products of stored-zero cells (see _touched_from_coo)."""
    import numpy as np

    if a_pdf.empty or b_pdf.empty:
        return pd.DataFrame({"i": [], "j": [], "v": []})
    a_rows = np.sort(a_pdf["a_i"].unique())
    b_cols = np.sort(b_pdf["b_j"].unique())
    k_lo = int(min(a_pdf["a_j"].min(), b_pdf["b_i"].min()))
    k_hi = int(max(a_pdf["a_j"].max(), b_pdf["b_i"].max()))
    a_blk = np.zeros((len(a_rows), k_hi - k_lo + 1))
    b_blk = np.zeros((k_hi - k_lo + 1, len(b_cols)))
    ai = {r: x for x, r in enumerate(a_rows)}
    bj_ix = {c: x for x, c in enumerate(b_cols)}
    a_ix = (a_pdf["a_i"].map(ai).to_numpy(), a_pdf["a_j"].to_numpy() - k_lo)
    b_ix = (b_pdf["b_i"].to_numpy() - k_lo, b_pdf["b_j"].map(bj_ix).to_numpy())
    a_blk[a_ix] = a_pdf["a_v"].to_numpy()
    b_blk[b_ix] = b_pdf["b_v"].to_numpy()
    c_blk = a_blk @ b_blk
    ii, jj = np.nonzero(_touched_from_coo(c_blk.shape, a_ix, b_ix))
    return pd.DataFrame(
        {
            "i": a_rows[ii],
            "j": b_cols[jj],
            "v": c_blk[ii, jj],
        }
    )


# Per-task panel budget for the 2-D decomposition: a (bi,bj) panel task
# holds BOTH the A row-panel and the B column-panel — 2 · bs · k_extent
# doubles (the same 2-panel model plans.choose_block_size budgets with;
# r6 unified the two, the kernel previously charged only one panel).
# Above the budget fall back to the 3-D (bi,bk,bj) decomposition whose
# tiles are bs × bs regardless of k.
from ..plans.strategy import PANEL_BYTES_BUDGET as _PANEL_BYTES_LIMIT  # noqa: E402


def _multiply_blocked(A: DataFrame, B: DataFrame, bs: int, panel_bytes: int | None = None) -> DataFrame:
    """Tiled multiply: group cells into blocks, numpy-GEMM each cogrouped
    pair in applyInPandas.

    Spark-first reading of the reference's (ii,kk,jj) tiling
    (`Stage 2/Python Implementation/mm_opt.py:57-73`): the block grid is the
    partitioning, the cache-resident tile kernel is Arrow-batched numpy.

    Two decompositions, chosen by panel memory:

    - **2-D panels** (k extent small enough that a bs×k strip fits the
      budget): cogroup on (bi,bj) only — each group holds A's full row
      panel and B's full column panel, so the GEMM result is FINAL and no
      partial-sum shuffle runs afterwards.  Measured at n=1024 BS=512
      sf0.1: 4.2s → 1.4s vs the 3-D form.
    - **3-D blocks** (huge inner dimension): cogroup on (bi,bk,bj) with
      bs×bs tiles and a groupBy(i,j) partial-sum pass — per-group memory
      stays O(bs²) no matter how large k grows.  The 100 TB-safe path.

    Both replicate each cell O(n/bs) times — the tiled-multiply shuffle
    cost model — and share one GEMM kernel.
    """
    # Fully distinct column names on each side: A and B often share scan
    # lineage (e.g. both sliced from the embeddings table), and shared
    # names across the block joins below would trip Spark's ambiguous
    # self-join detection.
    Ab = A.select(
        (F.col("i") / bs).cast("long").alias("a_bi"),
        (F.col("j") / bs).cast("long").alias("a_bk"),
        F.col("i").alias("a_i"), F.col("j").alias("a_j"), F.col("v").alias("a_v"),
    )
    Bb = B.select(
        (F.col("i") / bs).cast("long").alias("b_bk"),
        (F.col("j") / bs).cast("long").alias("b_bj"),
        F.col("i").alias("b_i"), F.col("j").alias("b_j"), F.col("v").alias("b_v"),
    )

    # one cheap column scan decides the decomposition (min/max only)
    k_hi = (
        A.select(F.max("j").alias("m"))
        .unionAll(B.select(F.max("i").alias("m")))
        .agg(F.max("m").alias("m"))
        .first()[0]
    )
    need_bytes = 2 * bs * (int(k_hi) + 1) * 8 if k_hi is not None else 0
    budget = _PANEL_BYTES_LIMIT if panel_bytes is None else panel_bytes

    if need_bytes <= budget:
        # 2-D: replicate A's cells across B's column blocks and vice versa;
        # group (bi,bj) sees the whole inner dimension → final values.
        a_keys = Ab.select("a_bi").distinct()
        b_keys = Bb.select("b_bj").distinct()
        a_cells = Ab.crossJoin(F.broadcast(b_keys)).select(
            F.col("a_bi").alias("bi"), F.col("b_bj").alias("bj"), "a_i", "a_j", "a_v"
        )
        b_cells = Bb.crossJoin(F.broadcast(a_keys)).select(
            F.col("a_bi").alias("bi"), F.col("b_bj").alias("bj"), "b_i", "b_j", "b_v"
        )
        final = a_cells.groupBy("bi", "bj").cogroup(
            b_cells.groupBy("bi", "bj")
        ).applyInPandas(_gemm_cogroup, schema="i long, j long, v double")
        return final.select("i", "j", F.round("v", 6).alias("v"))

    # 3-D: cogroup on (bi, bk, bj) — every A block (bi,bk) meets every B
    # block (bk,bj).  Attach the partner-side block ids with a tiny distinct
    # projection of the OTHER operand (1 row per block → broadcast).
    a_keys = Ab.select("a_bi", "a_bk").distinct()
    b_keys = Bb.select("b_bk", "b_bj").distinct()

    a_cells = (
        Ab.join(F.broadcast(b_keys), Ab.a_bk == b_keys.b_bk)
        .select(
            F.col("a_bi").alias("bi"), F.col("a_bk").alias("bk"), F.col("b_bj").alias("bj"),
            "a_i", "a_j", "a_v",
        )
    )
    b_cells = (
        Bb.join(F.broadcast(a_keys), Bb.b_bk == a_keys.a_bk)
        .select(
            F.col("a_bi").alias("bi"), F.col("b_bk").alias("bk"), F.col("b_bj").alias("bj"),
            "b_i", "b_j", "b_v",
        )
    )

    # Partial sums travel as DENSE bs×bs tile arrays, ONE row per
    # (bi,bk,bj) tile (the mllib BlockMatrix representation), not as COO
    # scalar rows: per-cell partials have distinct (i,j) keys within a
    # tile, so a COO partial shuffle gets zero map-side combine and pays
    # per-row overhead on n²·(n/bs) rows — measured at n=4096 bs=2048:
    # 33M partial rows, 16.8 s end-to-end vs 7.9 s with dense tiles (the
    # same bytes in 8 Arrow rows; verified cell-identical to the 2-D
    # path at that size).  The reduce side numpy-sums the ≤
    # n/bs arrays per (bi,bj) and explodes the final block to COO once.
    import numpy as np

    def gemm_tile_dense(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"bi": [], "bj": [], "data": [], "touched": []}).astype(
            {"bi": "int64", "bj": "int64", "data": "object", "touched": "object"}
        )
        if a_pdf.empty or b_pdf.empty:
            return empty
        bi = int(key[0])
        bj = int(key[2])
        k_lo = int(min(a_pdf["a_j"].min(), b_pdf["b_i"].min()))
        k_hi_l = int(max(a_pdf["a_j"].max(), b_pdf["b_i"].max()))
        a_blk = np.zeros((bs, k_hi_l - k_lo + 1))
        b_blk = np.zeros((k_hi_l - k_lo + 1, bs))
        a_ix = (a_pdf["a_i"].to_numpy() - bi * bs, a_pdf["a_j"].to_numpy() - k_lo)
        b_ix = (b_pdf["b_i"].to_numpy() - k_lo, b_pdf["b_j"].to_numpy() - bj * bs)
        a_blk[a_ix] = a_pdf["a_v"].to_numpy()
        b_blk[b_ix] = b_pdf["b_v"].to_numpy()
        c = a_blk @ b_blk  # (bs, bs) dense partial tile
        # structural-touch mask rides along (+1 bool per cell, ~12% of the
        # tile bytes) so the reduce side can emit exact-0.0 cells the join
        # strategy / oracle also emit — see _touched_from_coo
        t = _touched_from_coo(c.shape, a_ix, b_ix)
        return pd.DataFrame(
            {"bi": [bi], "bj": [bj], "data": [c.ravel()], "touched": [t.ravel()]}
        )

    def sum_blocks(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(key[0]), int(key[1])
        acc = np.zeros(bs * bs)
        acc_t = np.zeros(bs * bs, dtype=bool)
        for arr, tarr in zip(pdf["data"], pdf["touched"]):
            acc += np.asarray(arr)
            acc_t |= np.asarray(tarr)
        c = acc.reshape(bs, bs)
        ii, jj = np.nonzero(acc_t.reshape(bs, bs))  # structurally touched
        # emit UNROUNDED sums; the final select rounds via F.round (HALF_UP)
        # so all three strategies share one rounding convention — np.round
        # is banker's half-to-even and a sum landing exactly on a 6-dp
        # midpoint would differ from the join path and the oracle
        return pd.DataFrame({"i": bi * bs + ii, "j": bj * bs + jj, "v": c[ii, jj]})

    partial_blocks = a_cells.groupBy("bi", "bk", "bj").cogroup(
        b_cells.groupBy("bi", "bk", "bj")
    ).applyInPandas(
        gemm_tile_dense, schema="bi long, bj long, data array<double>, touched array<boolean>"
    )

    return (
        partial_blocks.groupBy("bi", "bj")
        .applyInPandas(sum_blocks, schema="i long, j long, v double")
        .select("i", "j", F.round("v", 6).alias("v"))
    )


def add(A: DataFrame, B: DataFrame) -> DataFrame:
    """A + B: full-outer union-aggregate (missing cells are zero)."""
    _validate_coo(A, "A")
    _validate_coo(B, "B")
    return (
        A.unionByName(B)
        .groupBy("i", "j")
        .agg(F.round(F.sum("v"), 6).alias("v"))
    )


def scale(M: DataFrame, alpha: float) -> DataFrame:
    """α·A — pure projection, no shuffle."""
    _validate_coo(M, "M")
    return M.select("i", "j", F.round(F.col("v") * alpha, 6).alias("v"))


def power(M: DataFrame, k: int, strategy: str = "join") -> DataFrame:
    """Mᵏ by repeated multiply (k ≥ 1).  Each step is one join+agg stage;
    at scale, persist intermediates between steps."""
    if k < 1:
        raise ValueError("k must be >= 1")
    out = M
    for _ in range(k - 1):
        out = multiply(out, M, strategy=strategy)
    return out


def frobenius(M: DataFrame) -> DataFrame:
    """‖M‖²_F (rounded) — the matrix reduction the reference never computed
    but correctness needs (SURVEY.md §2.2 q_frobenius)."""
    return M.agg(F.round(F.sum(F.col("v") * F.col("v")), 6).alias("frob_sq"))


# ---------------------------------------------------------------------------
# Registered queries + DuckDB oracles (FIXTURES.md §2 conventions)
# ---------------------------------------------------------------------------

# Shared oracle CTEs: COO view of embeddings, square slices A and B.
_ORACLE_COO = """
WITH E AS (
  SELECT vec_id AS i, t.j AS j, CAST(embedding[t.j + 1] AS DOUBLE) AS v
  FROM embeddings, range(64) t(j)
),
A AS (SELECT i, j, v FROM E WHERE i < 64),
B AS (SELECT i - 64 AS i, j, v FROM E WHERE i >= 64 AND i < 128)
"""

_ORACLE_MATMUL_DENSE = _ORACLE_COO + """
SELECT a.i AS i, b.j AS j, round(sum(a.v * b.v), 6) AS v
FROM A a JOIN B b ON a.j = b.i
GROUP BY a.i, b.j
"""


@register("q_matmul_dense", oracle=_ORACLE_MATMUL_DENSE)
def q_matmul_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C = A·B dense (ref kernels `Stage 1/Python Implementation/mm_baseline.py:17-28` et al.)."""
    return multiply(mat_A(spark, sf_dir), mat_B(spark, sf_dir), strategy="join")


@register("q_matmul_broadcast", oracle=_ORACLE_MATMUL_DENSE)
def q_matmul_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same product via row panels of A against a broadcast B — Spark-native
    form of Stage 3's row split with a manual B-broadcast
    (`Stage 3/Python Implementation/mm_opt_par.py:12-41`)."""
    return multiply(mat_A(spark, sf_dir), mat_B(spark, sf_dir), strategy="broadcast")


@register("q_matmul_blocked", oracle=_ORACLE_MATMUL_DENSE)
def q_matmul_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiled multiply, same result (ref `Stage 2/Python Implementation/mm_opt.py:57-73`)."""
    return multiply(mat_A(spark, sf_dir), mat_B(spark, sf_dir), strategy="blocked", block_size=32)


@register("q_matmul_auto", oracle=_ORACLE_MATMUL_DENSE)
def q_matmul_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planner-chosen strategy (plans/strategy.py): operand statistics →
    broadcast/blocked/join, the Spark-side analogue of the reference's CLI
    algo dispatch (`Stage 2/Python Implementation/mm_opt.py:96-111`) —
    registered so the strategy chooser itself sits inside the correctness
    gate (the 64×64 fixtures resolve to the broadcast path)."""
    return multiply(mat_A(spark, sf_dir), mat_B(spark, sf_dir), strategy="auto")


@register(
    "q_matmul_transposed",
    oracle=_ORACLE_COO + """
SELECT a1.j AS i, a2.j AS j, round(sum(a1.v * a2.v), 6) AS v
FROM A a1 JOIN A a2 ON a1.i = a2.i
GROUP BY a1.j, a2.j
""",
)
def q_matmul_transposed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram matrix AᵀA via key-swapped self-join (ref transpose-then-multiply
    `Stage 2/Python Implementation/mm_opt.py:42-55`)."""
    A = mat_A(spark, sf_dir)
    return multiply(transpose(A), A, strategy="join")


@register(
    "q_matmul_sparse",
    oracle=_ORACLE_COO + """
SELECT a.i AS i, b.j AS j, round(sum(a.v * b.v), 6) AS v
FROM (SELECT * FROM A WHERE abs(v) > 0.05) a
JOIN B b ON a.j = b.i
GROUP BY a.i, b.j
""",
)
def q_matmul_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sparse(A)·B — CSR semantics = nnz-only left side (ref spmm
    `Stage 2/Python Implementation/mm_opt.py:75-89`)."""
    return multiply(sparsify(mat_A(spark, sf_dir), 0.05), mat_B(spark, sf_dir), strategy="join")


@register(
    "q_transpose",
    oracle=_ORACLE_COO + "SELECT j AS i, i AS j, v FROM A",
)
def q_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aᵀ (ref `Stage 2/C Implementation/mm_opt.c:49-61`)."""
    return transpose(mat_A(spark, sf_dir))


@register(
    "q_matrix_gen",
    oracle=_ORACLE_COO + "SELECT i, j, v FROM E",
)
def q_matrix_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic matrix materialization from parquet (replaces the
    reference's seeded RNG generators, SURVEY.md §1.4)."""
    return from_embeddings(spark, sf_dir)


@register(
    "q_matrix_power",
    oracle=_ORACLE_COO + """
, P1 AS (
  SELECT a.i AS i, b.j AS j, round(sum(a.v * b.v), 6) AS v
  FROM A a JOIN A b ON a.j = b.i
  GROUP BY a.i, b.j
)
SELECT p.i AS i, a.j AS j, round(sum(p.v * a.v), 6) AS v
FROM P1 p JOIN A a ON p.j = a.i
GROUP BY p.i, a.j
""",
)
def q_matrix_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A³ via chained multiplies — multi-stage shuffle composition; the
    intermediate is rounded in both engines so the stages stay comparable."""
    return power(mat_A(spark, sf_dir), 3)


@register(
    "q_matrix_add_scale",
    oracle=_ORACLE_COO + """
SELECT i, j, round(sum(v), 6) AS v FROM (
  SELECT i, j, v FROM A
  UNION ALL
  SELECT i, j, round(v * 2.5, 6) AS v FROM B
) GROUP BY i, j
""",
)
def q_matrix_add_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A + 2.5·B — elementwise algebra over COO (union-aggregate form)."""
    return add(mat_A(spark, sf_dir), scale(mat_B(spark, sf_dir), 2.5))


@register(
    "q_frobenius",
    oracle=_ORACLE_COO + "SELECT round(sum(v * v), 6) AS frob_sq FROM A",
)
def q_frobenius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """‖A‖²_F reduction."""
    return frobenius(mat_A(spark, sf_dir))

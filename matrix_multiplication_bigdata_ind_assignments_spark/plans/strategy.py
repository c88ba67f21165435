"""The engine's only hand-written planner (SURVEY.md §4 conclusion):
physical-strategy and block-size choice for `multiply`.  Everything else
— pushdown, pruning, join reordering, partial aggregation, AQE — is
Catalyst's job.

Mirrors the reference's CLI algo dispatch
(ref: `Stage 2/Python Implementation/mm_opt.py:96-111`) but chooses from
statistics instead of a flag.
"""

from __future__ import annotations

BROADCAST_NNZ_LIMIT = 2_000_000  # ~48 MB of COO rows — safe to broadcast
BLOCKED_MIN_DIM = 512  # below this the plain join wins (blocking overhead)

# Estimated COO partial products (left_nnz·right_nnz/n under uniform
# spread) beyond which the join/broadcast hash-agg loses to tiled GEMM:
# every partial is one row through the aggregate (~tens of M rows/s),
# while the blocked kernel turns the same work into numpy GEMM flops
# (~GFlop/s/core).  Measured at n=2048, nnz 559k (152M est. partials):
# broadcast 10.0s vs blocked 1.8s — the crossover sits well below that;
# at n=256 (16.8M partials) broadcast 1.1s still wins on overhead.
PARTIALS_LIMIT = 50_000_000

# Density (of the sparser operand) above which densifying tiles pays:
# blocked does n³ GEMM flops where the join processes d²·n³ partial
# rows; with GEMM throughput ≈50× the hash-agg row rate the crossover is
# d ≈ sqrt(1/50) ≈ 0.14.  0.1 with the partials guard above matches the
# n=2048 measurement (d=0.13 → blocked 5-10× faster).
GEMM_DENSITY_CROSSOVER = 0.1

# Per-task panel memory budget for the blocked kernel: a 2-D (bi,bj)
# panel holds 2 · bs · k doubles (A row-panel + B column-panel).  Sized
# so a tile task stays ≪ executor memory at 100 TB; also the 2-D → 3-D
# decomposition switch point in operators/matrix.py.
PANEL_BYTES_BUDGET = 64 << 20


def choose_multiply_strategy(
    left_nnz: int,
    right_nnz: int,
    n: int,
    density: float = 1.0,
) -> str:
    """Pick a physical strategy for C = A·B.

    - Small right operand AND modest partial-product volume →
      ``broadcast`` (Stage 3's row panels with a manual B-broadcast, done
      the Spark way: the big side is shuffled once, on its rows, and no
      partial sum crosses the network).  A small-but-dense right side can
      still explode the join's partial-product count — the r6 planner
      gates broadcast on BOTH stats (measured: n=2048 at 559k nnz per
      side is 152M partials, broadcast 10.0s vs blocked 1.8s).
    - Dense-enough operands at size → ``blocked`` (block-grid + per-pair
      numpy GEMM: the n³ work runs at GEMM rate instead of hash-agg row
      rate; crossover density ≈0.1, see GEMM_DENSITY_CROSSOVER).
    - Everything else (sparse operands, modest sizes) → ``join``: the COO
      equi-join + hash agg that Catalyst/AQE handles natively; with nnz ≪
      n² only nonzeros flow, which is exactly the reference's CSR point.

    ``density`` is the density of the SPARSER operand (product work
    scales with d_A·d_B, so the thin side bounds the win from
    densifying).
    """
    est_partials = left_nnz * right_nnz / max(n, 1)
    if right_nnz <= BROADCAST_NNZ_LIMIT and est_partials <= PARTIALS_LIMIT:
        return "broadcast"
    if n >= BLOCKED_MIN_DIM and density >= GEMM_DENSITY_CROSSOVER:
        return "blocked"
    # Partials-heavy but too sparse/small for the blocked kernel: broadcast
    # (if the right side fits) still strictly dominates the plain shuffle
    # join — its partial sums are aggregated inside the row-panel task
    # that made them and never cross the shuffle, while the join shuffles
    # both operands AND the partial-product agg volume.  The partials gate
    # only demotes broadcast when the blocked branch actually fires.
    if right_nnz <= BROADCAST_NNZ_LIMIT:
        return "broadcast"
    return "join"


def choose_block_size(n: int, panel_bytes: int = PANEL_BYTES_BUDGET) -> int:
    """Block size for the tiled kernel, from the operand extent and the
    panel-byte budget (VERDICT r5 item 4 — "auto" previously ran the
    caller's fixed 32, paying 128× more tiles than the measured optimum
    at n=1024).

    Two forces: per-tile Arrow/Python overhead dominates below ~4 tiles'
    worth of work (measured n=1024 sweep: bs 128 → 16.3s, 256 → 10.4s,
    512 → 4.9s — bigger is better until memory), while a 2-D panel
    (2·bs·n doubles) must fit the per-task byte budget.  So: bs = n/2
    (≥4 tiles for parallelism), capped by the panel budget, floored at
    64, rounded down to a power of two (aligned tile edges).  Check
    against measurement: n=1024 → 512 (the measured optimum), n=2048 →
    1024 (measured 1.79s vs 1.96s at 512), n=4096 → 1024 via the memory
    cap (keeps the 2-D no-partial-sum decomposition: measured 3.3s vs
    5.4s for 3-D at bs=2048).

    When the 2-D panel cap drives bs below 64 (n > panel_bytes/(16·64) ≈
    65k at the default budget), NO 2-D panel fits the budget at a usable
    block size — the kernel will take the 3-D decomposition, whose
    per-task memory is 3·bs² doubles independent of n.  Size bs for THAT
    regime instead: the largest power of two with 24·bs² ≤ panel_bytes
    (1024 at the 64 MB default), so the huge-n path gets a sane
    (n/1024)³ tile grid rather than the (n/64)³ one the old floor
    produced."""
    if n <= 1:
        return 64
    mem_cap = panel_bytes // (16 * n)  # 2 panels of bs×n doubles
    if mem_cap < 64:
        # 3-D regime: budget 3 bs×bs tiles (A, B, C) per task
        bs3 = max(64, int((panel_bytes // 24) ** 0.5))
        return 1 << (bs3.bit_length() - 1)
    bs = max(64, min(n // 2, mem_cap) if n >= 128 else n)
    return 1 << (bs.bit_length() - 1)


# Fraction of (sampled) fact rows owned by the single hottest join key
# above which the planner salts the join.  Rationale: with P reducers a
# key owning share s pins one reducer at s of the total work — at s=0.2
# and 32+ reducers that is a 6×+ straggler; the measured mega-key case
# (s=0.9, SCALING.md "Skewed hot-key join") shows 16-way salting 1.7×
# faster than AQE's skew-split even on local[32], and the gap widens
# with executor count.  Below the threshold salting only pays the
# n_salts× dim explosion for nothing.
SKEW_TOP_SHARE_THRESHOLD = 0.2


def choose_join_salting(top_key_share: float, threshold: float = SKEW_TOP_SHARE_THRESHOLD) -> bool:
    """True ⇒ salt the shuffle join (explode the dim side n_salts×, salt
    the fact side) — the decision rule behind
    operators.relational.salted_join_auto."""
    return top_key_share >= threshold

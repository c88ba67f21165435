"""Similarity search over the embedding column (SURVEY.md §2.3 north-star):
brute-force cosine top-k as the exact baseline, plus an LSH-bucketed
approximate variant as the 100 TB scale path.

Per-pair dot products stay JVM-side (`zip_with` + `aggregate`); the
all-rows × all-planes LSH projection is a vectorized pandas_udf (one
numpy GEMM per Arrow batch — 16 inline higher-order-function lambdas
cost more in Catalyst analysis than the whole query's execution).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..sources import load

_TOPK = 5
_N_QUERIES = 10  # query set: vec_id < 10


def _empty_topk(spark: SparkSession) -> DataFrame:
    """Empty result with the shared top-k schema — the zero-query
    short-circuit for the ANN paths whose driver-side query collect would
    otherwise feed numpy a 0-row reshape."""
    return spark.createDataFrame([], "query_id long, neighbor_id long, cos double, rk long")


def _normed(e):
    emb = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        emb.alias("emb"),
        F.sqrt(F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x)).alias("nrm"),
    )


@register(
    "q_cosine_topk",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm) AS cos
  FROM n q JOIN n c ON q.vec_id < {_N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, rk FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {_TOPK}
""",
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for the query set (vec_id < 10):
    broadcast the (small) query side against the full corpus, per-query
    row_number with deterministic (cos DESC, neighbor_id) tie-break.
    At 100 TB the corpus side stays partitioned; only queries broadcast."""
    n = _normed(load(spark, sf_dir, "embeddings"))
    q = n.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"), F.col("nrm").alias("qn")
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("ce"), F.col("nrm").alias("cn")
    )
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", (dot / (F.col("qn") * F.col("cn"))).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk")
    )


# LSH operating point (recall/candidate-volume knob).  The r5 point
# (16 tables × 8 bits, full Hamming-1 probe) measured 0.88/0.82 recall@5
# (sf0.1/sf0.01) at a 44% candidate scan fraction — recall-rich but
# scan-poor (VERDICT r5 item 3), and below the 0.85 bar at sf0.01.  The
# r6 sweep (tools/ann_recall.py --sweep; margin-ranked probe subsets per
# Lv et al. measured POORLY here — the fixture's true neighbors sit at
# cos 0.35-0.5, far enough that sign flips are spread uniformly over the
# bits, so the |margin| signal carries little information and the full
# ball is the right probe set):
#   (T, bits, probes)   recall sf0.1/sf0.01   scan fraction (sf0.1)
#   16×8b  H1-full          0.88 / 0.82          44%   (r5 point)
#   16×8b  H1-margin-3      0.62 / 0.64          ~20%
#   24×10b H1-full          0.72 / 0.74          25%
#   32×10b H1-full          0.82 / 0.80          32%
#   40×10b H1-full          0.90 / 0.88          37%   ← chosen
#   48×10b H1-full          0.96 / 0.96          43%
#   24×12b H1-full          0.38 / 0.46           9%
# Wider signatures cut per-bucket occupancy (scan fraction) faster than
# they cut per-table recall; more tables buy the recall back.  The index
# grows to 40 entries/vector — the standard LSH trade (index size vs
# probe volume), still far below the corpus payload.
_N_TABLES = 40  # LSH tables (independent signatures, union of candidates)
_BITS_PER_TABLE = 10  # 2^10 = 1024 buckets per table
_LSH_PROBES = 10  # margin-ranked Hamming-1 flips probed per table
#   (= _BITS_PER_TABLE → the full Hamming-1 ball; fewer = Lv-style subset)


@register("q_ann_lsh", oracle=None)  # approximate by construction → rows-only
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via multi-table random-hyperplane LSH: _N_TABLES
    (40) independent _BITS_PER_TABLE (10)-bit signatures (sign of dot
    with md5-derived deterministic hyperplanes); a candidate is any
    vector sharing a PROBED bucket with
    the query in any table.  Each query probes its own bucket plus the
    _LSH_PROBES Hamming-1 flips per table, margin-ranked (Lv et al.,
    "Multi-Probe LSH", VLDB 2007) — at probes = bits that is the full
    Hamming-1 ball, the measured-right set for this fixture's diffuse
    neighbors (operating-point comment above).  The probe fan-out is on the 10-row
    query side only — the index keeps one bucket per vector per table,
    and the candidate join stays an equi-join on (table, bucket) —
    O(candidates), never O(n) per query — which is the 100 TB path.
    Deterministic (no RNG, SURVEY.md §1.4) but approximate → rows-only;
    recall vs the exact baseline is asserted in
    tests/test_similarity.py."""
    n = _normed(load(spark, sf_dir, "embeddings"))
    qv = n.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qe"), F.col("nrm").alias("qn")
    )
    payload = n.select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("ce"), F.col("nrm").alias("cn")
    )
    cands = _lsh_candidates(n).join(F.broadcast(qv), "query_id").join(payload, "cand_id")
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    scored = cands.select(
        "query_id",
        F.col("cand_id").alias("neighbor_id"),
        (dot / (F.col("qn") * F.col("cn"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk")
    )


# (plan semanticHash ^ config) → cached driver-side probe rows for
# _lsh_candidates (functions.memo.plan_memo)
_LSH_QPROBES: dict[int, list] = {}


def _lsh_candidates(n: DataFrame) -> DataFrame:
    """(query_id, cand_id) candidate pairs from the multi-table LSH index
    over a `_normed` frame — the stage whose row count IS the scan
    fraction (tools/ann_recall.py measures it directly).  Kept
    payload-free: the union-of-tables distinct dedupes 2 longs per row,
    not 64-double embedding arrays (r5 carried the query vector through
    the distinct — hashing and shuffling 512-byte arrays per candidate
    row; the payload joins now run AFTER the distinct, on the deduped
    set)."""
    import hashlib

    import numpy as np

    # hyperplane h[plane][d] in [-0.5, 0.5): md5-derived, deterministic, no
    # RNG (SURVEY.md §1.4).  Built ONCE driver-side into a (planes × dims)
    # numpy matrix captured by a vectorized pandas_udf: all projections
    # for an Arrow batch are one GEMM.  (An inline higher-order-function
    # form costs more in Catalyst analysis than the whole query's
    # execution — measured ~2s at 2000 rows; the UDF form ~0.7s.)
    planes = np.array(
        [
            [
                int(hashlib.md5(f"plane:{p}:{d}".encode()).hexdigest()[:8], 16) / float(2**32)
                - 0.5
                for d in range(64)
            ]
            for p in range(_N_TABLES * _BITS_PER_TABLE)
        ]
    )
    weights = 1 << np.arange(_BITS_PER_TABLE)
    n_probes = _LSH_PROBES

    @F.pandas_udf("array<bigint>")
    def table_buckets(emb_s: pd.Series) -> pd.Series:
        M = np.stack(emb_s.to_numpy())  # (batch, 64)
        bits = (M @ planes.T > 0).astype(np.int64)  # (batch, tables*bits)
        buckets = [
            bits[:, t * _BITS_PER_TABLE : (t + 1) * _BITS_PER_TABLE] @ weights
            for t in range(_N_TABLES)
        ]
        return pd.Series(list(np.stack(buckets, axis=1)))

    # query-side multi-probe, built DRIVER-side from the explicitly
    # bounded query set (an O(queries)=10-row collect, the q_ann_pq/ivf
    # pattern — one fewer pandas-UDF stage than projecting the queries in
    # a worker; measured ~0.3s off the candidate stage): each query
    # probes its own bucket plus the _LSH_PROBES Hamming-1 flips per
    # table, lowest |projection margin| first (probes = bits ⇒ the full
    # Hamming-1 ball, ranking moot).  The fan-out is (1+probes)× keys on
    # the query side only; the index keeps ONE bucket per vector per
    # table.
    spark = n.sparkSession
    # probe rows are a pure function of (fixture, index config): memoize
    # per logical plan (functions.memo.plan_memo) so repeated calls skip
    # the query-collect job entirely (query-many over a fixed index, the
    # serving shape)
    from ..functions.memo import plan_memo

    def compute_probe_rows() -> list:
        qrows = n.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "emb").collect()
        rows: list = []
        if qrows:
            Q = np.stack([r["emb"] for r in qrows])  # (n_q, 64)
            proj = Q @ planes.T  # (n_q, tables*bits)
            qbits = (proj > 0).astype(np.int64)
            for r, row in enumerate(qrows):
                for t in range(_N_TABLES):
                    sl = slice(t * _BITS_PER_TABLE, (t + 1) * _BITS_PER_TABLE)
                    b = int(qbits[r, sl] @ weights)
                    flips = np.argsort(np.abs(proj[r, sl]), kind="stable")[:n_probes]
                    for bucket in [b] + [b ^ (1 << int(i)) for i in flips]:
                        rows.append((int(row["vec_id"]), t, bucket))
        return rows

    probe_rows = plan_memo(
        _LSH_QPROBES, n, (_N_TABLES, _BITS_PER_TABLE, n_probes), compute_probe_rows, max_entries=64
    )
    if not probe_rows:  # no query vectors in range → empty candidate set
        return spark.createDataFrame([], "query_id long, cand_id long")
    q = spark.createDataFrame(probe_rows, "query_id long, q_tbl int, q_bucket long")

    index = n.select(
        F.col("vec_id").alias("cand_id"),
        F.posexplode(table_buckets("emb")).alias("c_tbl", "c_bucket"),
    )
    return (
        index.join(
            F.broadcast(q),
            (F.col("q_tbl") == F.col("c_tbl")) & (F.col("q_bucket") == F.col("c_bucket")),
        )
        .where(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
        .distinct()  # union of tables: 2 longs per row
    )


_KNN_K = 5

# sf_dir → embeddings row count: the block-grid planner stat (same memo
# pattern as relational._RANGE_STATS — fixtures are immutable parquet, so
# the count can never go stale within a session)
_EMB_COUNTS: dict[str, int] = {}


@register(
    "q_knn_graph",
    oracle=f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) AS cos
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
)
SELECT vec_id, neighbor_id, round(cos, 6) AS cos, rk FROM (
  SELECT vec_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY vec_id
              ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rk
  FROM scored
) WHERE rk <= {_KNN_K}
""",
)
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph over ALL vectors (every vector gets its 5 nearest
    neighbors) — the semantic-clustering / near-dup-graph primitive.

    Unlike q_cosine_topk (10 broadcast queries), every row is a query, so
    the scale shape is the 2-D tiled block join from q_dedup_embedding
    with a two-stage top-k merge:

    1. rows hash into k row-blocks; the FULL k×k tile grid (every block
       needs every other block as candidate neighbors) is a tiny
       broadcast; each tile is one cogrouped-Arrow numpy GEMM emitting
       only the LOCAL top-k per center row — tile output is |block|·k
       rows, never |block|² ;
    2. a window over (vec_id) merges the per-tile top-k lists into the
       global top-k — input to the shuffle is n·k·n_blocks rows, linear
       in n for fixed grid depth.

    Work is O(n²·d) GEMM flops (exact kNN is all-pairs by definition);
    the approximate scale-out path is q_ann_lsh/q_ann_ivf."""
    import math
    import os

    if sf_dir not in _EMB_COUNTS:  # grid-sizing stat, memoized per fixture
        _EMB_COUNTS[sf_dir] = load(spark, sf_dir, "embeddings").count()
    n_rows = _EMB_COUNTS[sf_dir]
    block_rows = int(os.environ.get("MMBD_EMB_BLOCK_ROWS", "4096"))
    kblk = max(1, math.ceil(n_rows / block_rows))

    def side(join_key: str):
        base = load(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
            F.pmod(F.hash("vec_id"), F.lit(kblk)).alias("blk"),
        )
        grid = spark.range(kblk * kblk).select(
            (F.col("id") / kblk).cast("long").alias("bi"), F.pmod("id", F.lit(kblk)).alias("bj")
        )
        return base.join(F.broadcast(grid), base.blk == grid[join_key]).select(
            "bi", "bj", "vec_id", "emb"
        )

    def tile(key, centers: pd.DataFrame, cands: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"vec_id": [], "neighbor_id": [], "cos": []}).astype(
            {"vec_id": "int64", "neighbor_id": "int64", "cos": "float64"}
        )
        if centers.empty or cands.empty:
            return empty
        import numpy as np

        A = np.stack(centers["emb"].to_numpy())
        B = np.stack(cands["emb"].to_numpy())
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        G = A @ B.T
        ca = centers["vec_id"].to_numpy()
        cb = cands["vec_id"].to_numpy()
        G[ca[:, None] == cb[None, :]] = -np.inf  # mask self on diagonal tiles
        k = min(_KNN_K, G.shape[1])
        top = np.argpartition(-G, k - 1, axis=1)[:, :k]  # local top-k per center
        rows = np.repeat(np.arange(G.shape[0]), k)
        cols = top.ravel()
        keep = np.isfinite(G[rows, cols])
        return pd.DataFrame(
            {
                "vec_id": ca[rows[keep]],
                "neighbor_id": cb[cols[keep]],
                "cos": G[rows[keep], cols[keep]],
            }
        )

    local_topk = (
        side("bi")
        .groupBy("bi", "bj")
        .cogroup(side("bj").groupBy("bi", "bj"))
        .applyInPandas(tile, schema="vec_id long, neighbor_id long, cos double")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        local_topk.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _KNN_K)
        .select("vec_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk")
    )


# IVF geometry (VERDICT r6 item 2 — "10 label-cells / 7 probes is not an
# index").  Cells scale as _IVF_CELL_MULT·√N (FAISS's recommended
# 4-16·√N band — probe work ≈ probes·N/cells stays sublinear in N),
# trained as a real k-means over the corpus (driver-side on the bounded
# deterministic sample, the FAISS coarse-quantizer pattern) instead of
# label means; probes are a fixed fraction of the cells
# (cells//_IVF_PROBE_DIV).
#
# Operating point, chosen from a measured containment-ceiling sweep
# (ANN_RECALL.md "fixture geometry" section): this fixture's true
# neighbors sit at cos 0.27-0.40 in 64-d while random pairs sit at
# 0±0.12 — ANY partition index tops out at ~0.82/0.76 containment at a
# 20% candidate fraction (swept cells ∈ {1,4,6,8}·√N × replication
# {1,2,4}).  With the train-consistent L2 assignment (r7 review fix —
# serve-time argmax-dot had disagreed with Lloyd's argmin-L2 at the
# variable-norm centroids) the probe sweep measured:
#   probe_div 3 → recall 0.94/0.94 @ 37%/44% scan (sf0.1/sf0.01)
#   probe_div 4 → recall 0.88/0.94 @ 29%/33%   ← chosen (Pareto knee)
#   probe_div 5 → recall 0.86/0.88 @ 23%/26%
# The chosen point beats the LSH operating point (0.90/0.88 @ 37%) on
# scan at comparable recall, with a 40× smaller index (1 cell id/vector
# vs 40 bucket entries).  On real corpora with clustered neighbors the
# same architecture runs at 1-5% fractions; the fraction here is
# geometry-bound, not design-bound.
_IVF_CELL_MULT = 6
_IVF_PROBE_DIV = 4  # probe cells/4 (see measured sweep above)
# ADC shortlist per query that pays exact re-ranking (same knob as
# _PQ_SHORTLIST; constant per query, independent of corpus size).
# Measured: 200 → 0.86/0.86 (ADC-loss-bound at sf0.1), 300 → 0.90/0.86
# (= the containment ceiling at the probe fraction — nothing left for a
# larger shortlist to recover, 400 measures identical).
_IVF_SHORTLIST = 300


def _ivf_cells(n_rows: int) -> int:
    """_IVF_CELL_MULT·√N coarse cells (capped at N/2 so every cell can
    hold ≥2 members, and at 64k — past which the training collect below
    would outgrow a driver and a hierarchical/distributed quantizer is
    the right tool), floored so tiny fixtures keep a real grid."""
    return max(8, min(n_rows // 2, 65_536, int(round(_IVF_CELL_MULT * n_rows**0.5))))


# (sf_dir, cells) → (cells × 64) coarse-centroid matrix rows — trained
# once per fixture (same memo discipline as _PQ_BOOKS)
_IVF_CENTS: dict[tuple[str, int], list] = {}
# plan_memo store for the materialized (vec_id, cell, codes) index table
# — built once per (fixture, geometry), served many times
_IVF_INDEX: dict[int, list] = {}


def _kmeans_fit(X, k: int, rounds: int | None = None):
    """Deterministic Lloyd over rows of ``X``: first-k distinct rows (in
    np.unique order) as init, empty cells re-seeded to DISTINCT-VALUED
    worst-covered points measured against only the freshly-updated
    NON-EMPTY centroids (r7 ADVICE + r8 review: the old forms either
    reseeded all empties to the same argmax of a STALE d2, or picked
    distinct row INDICES whose values could still coincide, and measured
    coverage against a matrix that still contained the stale empty
    centroids — all three let duplicate centroids tie on argmin and stay
    empty forever, silently shrinking the effective cell count) — no RNG
    anywhere.  With fewer than k distinct input vectors duplicates are
    inherent (np.resize init pads); that degenerate case is the caller's
    geometry, not a trainer bug.  Distances via the BLAS identity
    ‖x−c‖² = ‖x‖²+‖c‖²−2x·c, O(n·k) memory.  Shared by the driver-side
    coarse training, the per-subspace PQ codebook training, AND the
    per-cell level-2 training that runs INSIDE an applyInPandas task
    (q_ann_ivf2), so all three are bit-reproducible from one code path."""
    import numpy as np

    if rounds is None:
        rounds = _PQ_ROUNDS
    C = X[np.unique(X.round(9), axis=0, return_index=True)[1][:k]].copy()
    if len(C) < k:  # degenerate input (< k distinct vectors)
        C = np.resize(C, (k, X.shape[1]))

    def d2_to(cents):
        # ‖x‖² omitted: constant per row, argmin-invariant
        return (cents**2).sum(axis=1)[None, :] - 2.0 * (X @ cents.T)

    for _ in range(rounds):
        assign = d2_to(C).argmin(axis=1)
        empty = []
        for c in range(k):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
            else:
                empty.append(c)
        if empty and len(empty) < k:
            live = C[[c for c in range(k) if c not in empty]]
            order = np.argsort(-d2_to(live).min(axis=1))
            seen = {tuple(row) for row in live.round(9)}
            fills = iter(empty)
            for idx in order:
                key = tuple(X[idx].round(9))
                if key in seen:
                    continue
                seen.add(key)
                c = next(fills, None)
                if c is None:
                    break
                C[c] = X[idx]
            # any cells left unfilled: < k distinct points remain — leave
            # them at their previous value (inherently degenerate input)
    return C


# past this many coarse cells the training sample (8·cells rows) and the
# O(n·k·d) per-round Lloyd work stop being a sensible single-process job
# — the distributed loop takes over (see _ivf_train_centroids)
_IVF_DIST_TRAIN_MIN_CELLS = 4096


def _ivf_train_centroids(
    unit: DataFrame,
    cells: int,
    n_rows: int | None = None,
    sample_out: list | None = None,
) -> list[list[float]]:
    """Coarse k-means over unit vectors: Lloyd on a bounded md5-ordered
    deterministic sample (the coarse quantizer is ALWAYS sample-trained
    in practice — FAISS trains IVF lists on ~cells·39..256 points).  The
    sample is sized WITH the cell count (≥8·cells, floor _PQ_TRAIN) so a
    big corpus can't request more centroids than training points (the r7
    review caught np.resize silently padding duplicates past
    N ≈ (2048/6)² ≈ 116k).

    r12 (guide §1.2 step 1): ``n_rows`` lets a caller that already knows
    the corpus count (the _EMB_COUNTS memo) skip the sample builder's
    count job; ``sample_out`` (a list to append to) hands the collected
    driver-path sample rows back so _pq_train_codebook can reuse the
    PREFIX instead of collecting its own — the two samples share the
    (h, vec_id) order, so the codebook's first-_PQ_TRAIN rows are
    bit-identical to what its own collect would return whenever the
    threshold filter keeps ≥ _PQ_TRAIN rows (always, at gate scales the
    filter never even fires: every fixture corpus < 4·_PQ_TRAIN).

    The trainer has TWO equivalent paths gated on geometry (VERDICT r8
    item 3; the tokenizer-precedent bounded switch):

    - cells ≤ _IVF_DIST_TRAIN_MIN_CELLS: in-process _kmeans_fit on the
      collected sample — numpy-GEMM Lloyd, milliseconds, the right tool
      while the sample trivially fits one process;
    - past the bound (or MMBD_IVF_DIST_TRAIN=1): the DISTRIBUTED Lloyd
      loop (clustering.kmeans_centroids_frame) over the SAME sample
      kept as a DataFrame — iterations are dataflow, nothing
      driver-side until the final k×64 centroid collect, so the
      trainer no longer assumes the sample fits one process and the
      sample bound becomes purely a statistical choice (FAISS-style),
      not a memory ceiling.  MMBD_IVF_DIST_TRAIN=0 forces the driver
      path at any size.

    Equivalence is MEASURED, not asserted: from the shared
    lexicographic-first-k-distinct init the two loops converge to
    IDENTICAL centroids on the fixtures (max element diff 5e-13 — the
    distributed loop's 12-dp rounding quantum; asserted at sf0.001 in
    tests/test_clustering.py), and the full recall table re-run with
    the distributed trainer forced reproduces ANN_RECALL.md exactly
    (ivf 0.940 @33%, ivf2 0.940 @34% at sf0.01 — Δrecall = 0.00,
    bar ±0.02).  The distributed loop's cold cost at local scale is
    ~2 s/round of interpreted higher-order-function evals (n·k·d
    lambdas) — why the numpy path keeps the small-cells default."""
    import os

    import numpy as np

    n_sample = max(_PQ_TRAIN, 8 * cells)
    dist = os.environ.get("MMBD_IVF_DIST_TRAIN", "auto")
    if dist == "1" or (dist == "auto" and cells > _IVF_DIST_TRAIN_MIN_CELLS):
        from .clustering import kmeans_centroids_frame

        sample = _pq_train_sample_df(unit, n_sample, n_rows=n_rows).select(
            F.col("u").alias("v")
        )
        rows = kmeans_centroids_frame(sample, cells, _PQ_ROUNDS).orderBy("cl").collect()
        if not rows:
            # empty training sample: cents[...] below would IndexError
            # (ADVICE r9) — surface the degenerate input as the same
            # clear contract error the numpy path's np.unique-of-empty
            # would eventually raise, instead of a modulo crash
            raise ValueError(
                "IVF centroid training got an EMPTY sample (no embedding rows) — "
                "cannot train a coarse quantizer; check the embeddings input"
            )
        cents = [[float(x) for x in r["cv"]] for r in rows]
        # < cells distinct training vectors → pad cyclically (the
        # degenerate-input contract _kmeans_fit implements via np.resize)
        while len(cents) < cells:
            cents.append(cents[len(cents) % len(rows)])
        return cents
    rows = _pq_train_sample(unit, n_sample, n_rows=n_rows)
    if sample_out is not None:
        sample_out.extend(rows)
    X = np.array([r["u"] for r in rows])
    return [[float(x) for x in row] for row in _kmeans_fit(X, cells)]


def _query_rows(unit: DataFrame) -> list:
    """The bounded deterministic query set (vec_id < _N_QUERIES) as
    driver rows sorted by vec_id — the collect every ANN variant starts
    from.  Bounded by construction: _N_QUERIES rows, never corpus-sized."""
    return sorted(
        unit.where(F.col("vec_id") < _N_QUERIES).select("vec_id", "u").collect(),
        key=lambda r: r["vec_id"],
    )


def _adc_query_side(spark: SparkSession, qrows: list, C):
    """(Qm, qtab_df, adist) — the ADC query-side construction shared by
    the flat (q_ann_ivf) and hierarchical (q_ann_ivf2) indexes: the
    query matrix, the per-query (subspace × centroid) distance-table
    frame (broadcast-sized: n_q rows), and the JVM-side scan expression
    (8 table lookups per candidate via zip_with/element_at/aggregate —
    no per-pair vector math).  One definition (r8 review: previously
    duplicated per index, so a layout or tie-break change in one copy
    would silently diverge the variants ANN_RECALL.md compares)."""
    import numpy as np

    Qm = np.array([r["u"] for r in qrows])  # (n_q, 64)
    Q = Qm.reshape(len(qrows), _PQ_M, -1)
    qtab = ((Q[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)  # (n_q, M, K)
    qtab_df = spark.createDataFrame(
        [
            (int(r["vec_id"]), [[float(x) for x in row] for row in qtab[i]])
            for i, r in enumerate(qrows)
        ],
        "query_id long, tab array<array<double>>",
    )
    adist = F.aggregate(
        F.zip_with("codes", "tab", lambda c, t: F.element_at(t, c + F.lit(1))),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return Qm, qtab_df, adist


def _ivf_candidates(spark: SparkSession, sf_dir: str):
    """(candidates DataFrame with (query_id, neighbor_id, adist), unit
    frame) — the IVF-PQ probe + ADC-scan stage, shared by q_ann_ivf
    (which re-ranks over the SAME unit frame the index was built from)
    and the recall tool (whose candidate count over 10·|corpus| IS the
    measured scan fraction)."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    emb = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda a, x: a + x * x))
    unit = e.select("vec_id", F.transform(emb, lambda x: x / nrm).alias("u"))

    if sf_dir not in _EMB_COUNTS:  # corpus-size stat, memoized per fixture
        _EMB_COUNTS[sf_dir] = e.count()
    n_rows = _EMB_COUNTS[sf_dir]
    cells = _ivf_cells(n_rows)
    ckey = (sf_dir, cells)
    # r12: one cold build used to pay FOUR sample jobs (count + collect,
    # twice) — the memoized corpus count skips both counts, and the
    # codebook reuses the prefix of the centroid trainer's sample
    shared_sample: list = []
    if ckey not in _IVF_CENTS:
        _IVF_CENTS[ckey] = _ivf_train_centroids(
            unit, cells, n_rows=n_rows, sample_out=shared_sample
        )
    CC = np.array(_IVF_CENTS[ckey])  # (cells, 64)

    # PQ half: memoized codebook (shared with q_ann_pq) + one Arrow
    # encode-and-assign kernel over the corpus — this IS the index build;
    # at serving scale codes+cell ids are written once, scanned many times
    bkey = (sf_dir, _PQ_K)
    if bkey not in _PQ_BOOKS:
        _PQ_BOOKS[bkey] = _pq_train_codebook(
            unit, sample_rows=shared_sample or None, n_rows=n_rows
        )
    C = np.zeros((_PQ_M, _PQ_K, 64 // _PQ_M))
    for s, k, cw in _PQ_BOOKS[bkey]:
        C[s, k] = cw

    # k-means centroids are MEANS of unit vectors, so their norms differ
    # — argmax(x·c) is NOT argmin‖x−c‖² for them (r7 review).  Serve-time
    # assignment must use the same metric Lloyd trained with:
    # argmin(‖c‖² − 2x·c), one precomputed norm vector + a batch GEMM.
    CC_n2 = (CC**2).sum(axis=1)  # (cells,)

    @F.pandas_udf("struct<cell: int, codes: array<int>>")
    def assign_and_encode(u: pd.Series) -> pd.DataFrame:
        """One Arrow pass: nearest coarse cell (train-consistent L2 via
        the GEMM identity) + PQ codes."""
        M = np.stack(u.values)  # (batch, 64)
        cell = (CC_n2[None, :] - 2.0 * (M @ CC.T)).argmin(axis=1).astype("int32")
        X = M.reshape(len(u), _PQ_M, -1)
        codes = ((X[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3).argmin(axis=2)
        return pd.DataFrame({"cell": cell, "codes": list(codes.astype("int32"))})

    # The index build (one Arrow assign+encode pass over the corpus) is
    # the expensive half of every call, and its output is a pure function
    # of the immutable fixture — build ONCE per (fixture, geometry) and
    # serve the materialized (cell, codes) table thereafter, exactly the
    # write-once/scan-many split a real deployment makes by persisting
    # the index to parquet (measured steady-state: 3.0 s → ~1 s per
    # query at sf0.1).  The checkpointed blocks are deliberately held by
    # the bounded memo for the session: an ANN index is long-lived state,
    # unlike the GC-scoped intermediates elsewhere in the engine.
    from ..functions.memo import plan_memo

    def build_index() -> DataFrame:
        return (
            unit.select("vec_id", assign_and_encode("u").alias("ac"))
            .select("vec_id", F.col("ac.cell").alias("cell"), F.col("ac.codes").alias("codes"))
            .localCheckpoint(eager=True)
        )

    assigned = plan_memo(_IVF_INDEX, unit, (cells, _PQ_K, "ivf-index"), build_index, max_entries=8)

    # query side, all driver-built from the bounded query set: probe list
    # (top cells/_IVF_PROBE_DIV centroids per query) + the shared ADC
    # query-side construction (_adc_query_side)
    qrows = _query_rows(unit)
    if not qrows:
        return None, unit
    n_probes = max(1, cells // _IVF_PROBE_DIV)
    Qm, qtab_df, adist = _adc_query_side(spark, qrows, C)
    # probe order by the same train-consistent L2 metric as assignment
    top_cells = np.argsort(CC_n2[None, :] - 2.0 * (Qm @ CC.T), axis=1, kind="stable")[
        :, :n_probes
    ]
    probes = spark.createDataFrame(
        [
            (int(r["vec_id"]), int(c))
            for i, r in enumerate(qrows)
            for c in top_cells[i]
        ],
        "query_id long, cell int",
    )

    # ADC scan of the probed cells: equi-join on cell id, then 8 table
    # lookups per candidate — all JVM-side, no per-pair vector math
    candidates = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qtab_df), "query_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adist.alias("adist"))
    )
    return candidates, unit


@register("q_ann_ivf", oracle=None)  # approximate by construction → rows-only
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ architecture): _IVF_CELL_MULT·√N (=6√N)
    k-means coarse cells (trained driver-side on a deterministic sample
    of ≥8 points/cell — the FAISS coarse-quantizer pattern, no RNG)
    partition the corpus; every vector carries its cell id plus an
    8-byte PQ code (reusing q_ann_pq's memoized codebook), both computed
    in ONE Arrow pass with the SAME L2 metric Lloyd trained with.  A
    query probes its nearest cells/_IVF_PROBE_DIV (=cells/4) cells —
    ~30% of the corpus by volume on this fixture, the measured Pareto
    knee of its geometry (see the operating-point comment above) —
    scores ONLY those cells' members by asymmetric distance — 8
    JVM-side table lookups per candidate
    (zip_with/element_at/aggregate), no vector math — then exact-
    re-ranks the _IVF_SHORTLIST best.

    Scale shape: cells ∝ √N keeps probe work ≈ probes·N/cells sublinear;
    the probe is an equi-join on cell id against a broadcast query list;
    the re-rank is constant per query.  This is the architecture that
    serves billion-vector corpora.  Deterministic but approximate →
    rows-only; recall AND candidate fraction measured in ANN_RECALL.md,
    floors asserted in tests/test_similarity.py."""
    candidates, unit = _ivf_candidates(spark, sf_dir)
    if candidates is None:  # no query vectors in range
        return _empty_topk(spark)
    return _adc_shortlist_rerank(candidates, unit)


def _adc_shortlist_rerank(
    candidates: DataFrame, unit: DataFrame, shortlist_n: int = _IVF_SHORTLIST
) -> DataFrame:
    """ADC-shortlist → exact re-rank → top-k, shared by the flat
    (q_ann_ivf) and hierarchical (q_ann_ivf2) indexes: keep the
    ``shortlist_n`` best candidates per query by asymmetric distance,
    exact-re-rank ONLY those (constant queries × shortlist work), emit
    the top _TOPK."""
    w_short = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    shortlist = (
        candidates.withColumn("srk", F.row_number().over(w_short))
        .where(F.col("srk") <= shortlist_n)
        .select("query_id", "neighbor_id")
    )

    # exact re-rank: constant (queries × shortlist) work
    qv = unit.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    cv = unit.select(F.col("vec_id").alias("neighbor_id"), F.col("u").alias("cu"))
    cos = F.aggregate(F.zip_with("qu", "cu", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    rescored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk")
    )


# Two-level geometry (VERDICT r7 item 7): the flat coarse quantizer
# trains ALL cells driver-side, which hits a wall at the 64k-cell
# ceiling (6√N cells crosses it near N ≈ 1.1e8 vectors — real at
# 100 TB).  The hierarchical form trains only √total level-1 cells on
# the driver; level-2 k-means runs WITHIN each l1 cell as an
# applyInPandas task, so the driver-side work is O(√total) while the
# total cell count (and therefore probe-fraction geometry) matches the
# flat index.  Probe = (l1, l2) pair, ranked fully in-plan.
# l1 probe breadth: which l1 cells feed the (l1, l2) pair ranking.  On
# this fixture's angularly-diffuse geometry true neighbors straddle l1
# boundaries, so the pair ranking must see ALL l1 cells (measured at
# sf0.01: div=1 → recall 0.94 = flat; div=2 → 0.86; div=3 → 0.64 — the
# PAIR budget, not l1 pruning, is what bounds the scan here, 34% vs
# flat's 33%).  The div knob stays for clustered real corpora, where
# top-l1/div pruning cuts the pair-ranking join without recall loss.
_IVF2_L1_DIV = 1
# (sf_dir, l1) → level-1 centroid rows (same memo discipline as _IVF_CENTS)
_IVF2_CENTS: dict[tuple[str, int], list] = {}
# plan_memo store for the materialized two-level index (members + l2 cents)
_IVF2_INDEX: dict[int, list] = {}


def _ivf2_geometry(n_rows: int) -> tuple[int, int]:
    """(l1, l2) with l1·l2 ≥ the flat cell count and l1 ≈ √total: the
    driver trains l1 centroids, every applyInPandas task trains one
    cell's l2 — no level outgrows its host."""
    total = _ivf_cells(n_rows)
    l1 = max(4, int(round(total**0.5)))
    l2 = max(1, -(-total // l1))  # ceil
    return l1, l2


def _ivf2_candidates(spark: SparkSession, sf_dir: str):
    """(candidates, unit) for the hierarchical IVF-PQ — the same contract
    as _ivf_candidates so recall/scan-fraction tooling and the re-rank
    tail are shared.

    Index build (memoized per fixture+geometry, like the flat index):

    1. level-1 assign: one Arrow pass, train-consistent L2 against the
       driver-trained l1 centroids;
    2. level-2 train+assign+encode: ONE applyInPandas over l1 groups —
       each task runs the shared deterministic Lloyd (_kmeans_fit) on a
       bounded md5-ordered slice of its cell's members (≥8·l2, so task
       memory is O(cap·d) not O(|cell|·d) for training; assignment
       covers every member), assigns members to l2, PQ-encodes them
       against the global memoized codebook, and emits member rows PLUS
       its l2 centroid rows (kind-tagged union, split after one
       materialization).

    Query side is fully in-plan: the driver ranks only the tiny l1 list
    per query; (l1, l2) pair ranking joins the l2-centroid table
    (broadcast probe/query sides, d2 via zip_with/aggregate JVM-side)
    and keeps the same total probe budget as the flat index
    (total_cells/_IVF_PROBE_DIV pairs), so the scan-fraction geometry
    is comparable by construction."""
    import hashlib

    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    emb = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda a, x: a + x * x))
    unit = e.select("vec_id", F.transform(emb, lambda x: x / nrm).alias("u"))

    if sf_dir not in _EMB_COUNTS:  # corpus-size stat, memoized per fixture
        _EMB_COUNTS[sf_dir] = e.count()
    n_rows = _EMB_COUNTS[sf_dir]
    l1, l2 = _ivf2_geometry(n_rows)
    ckey = (sf_dir, l1)
    # r12: same cold-build sample sharing as _ivf_candidates — skip the
    # count jobs via the memoized corpus count, reuse the centroid
    # trainer's sample prefix for the codebook
    shared_sample: list = []
    if ckey not in _IVF2_CENTS:
        _IVF2_CENTS[ckey] = _ivf_train_centroids(
            unit, l1, n_rows=n_rows, sample_out=shared_sample
        )
    CC = np.array(_IVF2_CENTS[ckey])  # (l1, 64)
    CC_n2 = (CC**2).sum(axis=1)

    bkey = (sf_dir, _PQ_K)
    if bkey not in _PQ_BOOKS:
        _PQ_BOOKS[bkey] = _pq_train_codebook(
            unit, sample_rows=shared_sample or None, n_rows=n_rows
        )
    C = np.zeros((_PQ_M, _PQ_K, 64 // _PQ_M))
    for s, k, cw in _PQ_BOOKS[bkey]:
        C[s, k] = cw

    @F.pandas_udf("int")
    def assign_l1(u: pd.Series) -> pd.Series:
        M = np.stack(u.values)
        return pd.Series((CC_n2[None, :] - 2.0 * (M @ CC.T)).argmin(axis=1).astype("int32"))

    train_cap = max(_PQ_TRAIN, 8 * l2)

    def train_cell(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cell_l1 = int(key[0])
        M = np.stack(pdf["u"].to_numpy())  # (|cell|, 64)
        # bounded deterministic training slice: md5 order is unbiased and
        # partition-order-independent (members arrive unordered)
        order = np.argsort(
            [hashlib.md5(str(v).encode()).hexdigest() for v in pdf["vec_id"]]
        )
        C2 = _kmeans_fit(M[order[:train_cap]], l2)
        assign = ((C2**2).sum(axis=1)[None, :] - 2.0 * (M @ C2.T)).argmin(axis=1)
        X = M.reshape(len(pdf), _PQ_M, -1)
        codes = ((X[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3).argmin(axis=2)
        members = pd.DataFrame(
            {
                "kind": 0,
                "vec_id": pdf["vec_id"].to_numpy(),
                "l1": cell_l1,
                "l2": assign.astype("int32"),
                "codes": list(codes.astype("int32")),
                "cent": None,
            }
        )
        cents = pd.DataFrame(
            {
                "kind": 1,
                "vec_id": -1,
                "l1": cell_l1,
                "l2": np.arange(l2, dtype="int32"),
                "codes": None,
                "cent": list(C2),
            }
        )
        return pd.concat([members, cents], ignore_index=True)

    def index_plan() -> DataFrame:
        return unit.withColumn("l1", assign_l1("u")).groupBy("l1").applyInPandas(
            train_cell,
            schema="kind int, vec_id long, l1 int, l2 int, "
            "codes array<int>, cent array<double>",
        )

    def build_index() -> DataFrame:
        return index_plan().localCheckpoint(eager=True)

    # test hook: the UN-checkpointed construction, so the plan guard can
    # pin "level-2 training is a FlatMapGroupsInPandas node" on the real
    # code path — the memoized/checkpointed frame always explains as
    # ExistingRDD, which made the old guard vacuous (r8 review)
    _ivf2_candidates.last_index_plan = index_plan

    from ..functions.memo import plan_memo

    raw = plan_memo(
        _IVF2_INDEX, unit, (l1, l2, _PQ_K, "ivf2-index"), build_index, max_entries=8
    )
    members = raw.where(F.col("kind") == 0).select("vec_id", "l1", "l2", "codes")
    cents2 = raw.where(F.col("kind") == 1).select("l1", "l2", "cent")

    qrows = _query_rows(unit)
    if not qrows:
        return None, unit
    Qm, qtab_df, adist = _adc_query_side(spark, qrows, C)
    # level-1 probe list: driver ranks the TINY l1 set (√total rows)
    n_l1 = max(1, -(-l1 // _IVF2_L1_DIV))
    top_l1 = np.argsort(CC_n2[None, :] - 2.0 * (Qm @ CC.T), axis=1, kind="stable")[:, :n_l1]
    probes_l1 = spark.createDataFrame(
        [(int(r["vec_id"]), int(c)) for i, r in enumerate(qrows) for c in top_l1[i]],
        "query_id long, l1 int",
    )
    qdf = spark.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["u"]]) for r in qrows],
        "query_id long, qu array<double>",
    )
    # (l1, l2) pair ranking, fully in-plan: d2 = ‖c‖² − 2 q·c per probed
    # pair, window-top the flat index's probe budget per query
    pair_budget = max(1, (l1 * l2) // _IVF_PROBE_DIV)
    d2 = F.aggregate(
        F.zip_with("cent", "qu", lambda c, q: c * c - 2 * c * q),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    w_pair = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("l1"), F.asc("l2"))
    probes = (
        cents2.join(F.broadcast(probes_l1), "l1")
        .join(F.broadcast(qdf), "query_id")
        .select("query_id", "l1", "l2", d2.alias("d2"))
        .withColumn("prk", F.row_number().over(w_pair))
        .where(F.col("prk") <= pair_budget)
        .select("query_id", "l1", "l2")
    )

    candidates = (
        F.broadcast(probes)
        .join(members, ["l1", "l2"])
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qtab_df), "query_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"), adist.alias("adist"))
    )
    return candidates, unit


@register("q_ann_ivf2", oracle=None)  # approximate by construction → rows-only
def q_ann_ivf2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (two-level) IVF-PQ ANN — q_ann_ivf past the 64k-cell
    driver ceiling (VERDICT r7 item 7): level-1 trains √total cells
    driver-side on a bounded sample; level-2 k-means runs WITHIN each l1
    cell as one applyInPandas task (the shared deterministic Lloyd on a
    bounded md5-ordered member slice), emitting cell ids + PQ codes +
    the l2 centroid table in one pass.  A query probes (l1, l2) PAIRS:
    the driver ranks only the tiny l1 list; pair ranking joins the l2
    centroid table in-plan (JVM-side d2) and keeps the SAME total probe
    budget as the flat index (total/_IVF_PROBE_DIV pairs), so its scan
    fraction is comparable by construction; then the shared ADC
    shortlist → exact re-rank tail.

    Scale shape: driver memory O(√total·d) instead of O(total·d) —
    at 6√N cells the flat ceiling (64k cells ≈ N = 1.1e8) becomes
    l1 = 256 rows, fine to N ≈ 10¹⁶; index build work is one Arrow
    assign pass + one cogrouped train pass, both corpus-distributed.
    Deterministic but approximate → rows-only; recall measured within
    0.02 of flat IVF at both SFs (ANN_RECALL.md)."""
    candidates, unit = _ivf2_candidates(spark, sf_dir)
    if candidates is None:
        return _empty_topk(spark)
    return _adc_shortlist_rerank(candidates, unit)


_PQ_M = 8  # subspaces (64-d → 8 × 8-d)
_PQ_K = 32  # centroids per subspace → 5-bit codes, 8 per vector
_PQ_TRAIN = 2048  # codebook training sample bound (driver-side k-means)
_PQ_ROUNDS = 10  # Lloyd iterations
# ADC candidates per query that get exact re-ranking — the recall/cost
# knob (a constant per query, independent of corpus size).  Measured at
# sf0.1: shortlist 100 → recall@5 0.76, 200 → 0.88 (ANN_RECALL.md).
_PQ_SHORTLIST = 200


# (sf_dir, K) → trained codebook rows: training is deterministic per
# fixture, so repeated q_ann_pq calls reuse it (train-once/query-many is
# the real serving shape; same memo pattern as _EMB_COUNTS)
_PQ_BOOKS: dict[tuple[str, int], list] = {}


def _pq_train_sample_df(
    unit: DataFrame, n_sample: int = _PQ_TRAIN, n_rows: int | None = None
) -> DataFrame:
    """Bounded deterministic training sample (≤ ``n_sample`` unit-vector
    rows, md5-hash order — unbiased, RNG-free, O(1) in corpus size) as a
    DATAFRAME: the candidate set is first cut by a hash-THRESHOLD
    filter (pushdown-friendly, no shuffle) sized from the corpus count
    so only ~4×n_sample rows reach the global sort — a bare
    orderBy().limit() would full-sort the corpus at 100 TB.  Shared by
    the PQ codebook (default _PQ_TRAIN, collected — see
    _pq_train_sample) and the IVF coarse-quantizer training (≥8 points
    per requested centroid, consumed as a frame by the distributed
    trainer)."""
    hashed = unit.select("vec_id", "u", F.md5(F.col("vec_id").cast("string")).alias("h"))
    if n_rows is None:  # r12: callers that already know the corpus count
        n_rows = hashed.count()  # (the _EMB_COUNTS memo) skip this job
    if n_rows > 4 * n_sample:
        # keep hashes below the fraction that yields ~4×n_sample rows in
        # expectation (md5 hex is uniform); 2-hex-digit granularity keeps
        # the cutoff a cheap prefix compare
        frac = min(255, max(1, (4 * n_sample * 256) // n_rows))
        hashed = hashed.where(F.col("h") < F.lit(f"{frac:02x}"))
    return hashed.orderBy("h", "vec_id").limit(n_sample)


def _pq_train_sample(
    unit: DataFrame, n_sample: int = _PQ_TRAIN, n_rows: int | None = None
) -> list:
    """_pq_train_sample_df, collected (the PQ codebook path — bounded at
    _PQ_TRAIN rows, so the collect is O(1) in corpus size)."""
    return _pq_train_sample_df(unit, n_sample, n_rows=n_rows).collect()


def _pq_train_codebook(
    unit: DataFrame,
    sample_rows: list | None = None,
    n_rows: int | None = None,
) -> list[tuple[int, int, list[float]]]:
    """Per-subspace k-means codebooks, trained on a bounded deterministic
    sample: (sub, code, codeword) rows.

    This is the FAISS training pattern — codebooks are ALWAYS fit on a
    driver-side sample (k·39..k·256 points suffice per subspace), never
    distributed: the sample here is hard-capped at _PQ_TRAIN (2048) vectors
    chosen by md5-hash order (deterministic, unbiased), so the collect is
    O(1) in corpus size.  The candidate set is first cut down by a hash-
    THRESHOLD filter (pushdown-friendly, no shuffle) sized from the
    corpus count so only ~4×_PQ_TRAIN rows reach the global sort — a
    bare orderBy().limit() would full-sort the corpus at 100 TB.  Lloyd
    iterations are the shared deterministic trainer (_kmeans_fit —
    first-K distinct-subvector init, distinct-point empty-cluster
    re-seeding; the r8 review found this function still carried its own
    pre-fix loop with the stale-d2 reseed) — no RNG anywhere, so codes
    and recall are reproducible.

    r12: ``sample_rows`` reuses an already-collected (h, vec_id)-ordered
    sample from the SAME unit frame (its first _PQ_TRAIN rows are what
    this function's own collect would return — see _ivf_train_centroids);
    ``n_rows`` skips the sample builder's count job when known.  A
    reused sample without ``n_rows`` costs one count job, so the prefix
    guard below always runs."""
    import numpy as np

    if sample_rows is not None and n_rows is None:
        # the prefix guard below needs the corpus count: one job, paid only
        # on a cold codebook build that was handed a sample without it
        n_rows = unit.count()
    if sample_rows is not None and len(sample_rows) >= min(_PQ_TRAIN, n_rows):
        rows = sample_rows[:_PQ_TRAIN]
        # ADVICE r12: VERIFY the prefix-validity condition instead of
        # documenting it.  The reused prefix equals the standalone path's
        # own sample iff every reused row would survive the standalone
        # hash-threshold filter (sized for _PQ_TRAIN from n_rows): the
        # rows are (h, vec_id)-sorted, so checking the LAST one suffices.
        # If the probabilistic filter would underflow (never at gate
        # scales — the filter keeps ~4×_PQ_TRAIN rows in expectation),
        # fall back to the standalone sample so _PQ_BOOKS content never
        # depends on which query trained first.
        if n_rows > 4 * _PQ_TRAIN and len(rows) == _PQ_TRAIN:
            frac = min(255, max(1, (4 * _PQ_TRAIN * 256) // n_rows))
            if rows[-1]["h"] >= f"{frac:02x}":
                rows = _pq_train_sample(unit, n_rows=n_rows)
    else:
        rows = _pq_train_sample(unit, n_rows=n_rows)
    X = np.array([r["u"] for r in rows])  # (n, 64)
    sub_dim = X.shape[1] // _PQ_M
    book: list[tuple[int, int, list[float]]] = []
    for s in range(_PQ_M):
        C = _kmeans_fit(X[:, s * sub_dim : (s + 1) * sub_dim], _PQ_K)
        book.extend((s, k, [float(x) for x in C[k]]) for k in range(_PQ_K))
    return book


@register("q_ann_pq", oracle=None)  # approximate by construction → rows-only
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (IVF-PQ's compression half): unit-normalize,
    split each vector into 8 subvectors, assign each to its nearest of
    _PQ_K (32) per-subspace k-means centroids (trained on a bounded deterministic
    sample — see _pq_train_codebook), answer queries by asymmetric
    distance (query precomputes a (subspace × centroid) distance table;
    a candidate's distance is a SUM of 8 table lookups joined on
    (subspace, code)), then exact-re-rank the per-query ADC shortlist.

    Scale shape: codes are 8 small ints per vector (32× compression of a
    64-d float32 vector); encoding and the ADC scan are one vectorized
    Arrow kernel each, with the tiny codebook / per-query distance tables
    baked into the closure (same rationale as the LSH projection kernel:
    M·K higher-order-function evaluations per row cost ~2× the numpy
    gather — measured 2.8 s → 1.4 s at sf0.1) — no per-pair vector math
    over the corpus, which is the property that lets PQ scan billions of
    codes.  Only the _PQ_SHORTLIST-candidate (200) shortlist per query pays
    exact cosine math (the standard FAISS re-rank stage).  Deterministic
    (no RNG) → rows-only; recall vs the exact baseline asserted in tests
    and recorded in ANN_RECALL.md."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings")
    emb = F.transform("embedding", lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(emb, F.lit(0.0), lambda a, x: a + x * x))
    unit = e.select(
        "vec_id", F.transform(emb, lambda x: x / nrm).alias("u")
    )

    bkey = (sf_dir, _PQ_K)
    if bkey not in _PQ_BOOKS:
        _PQ_BOOKS[bkey] = _pq_train_codebook(
            unit, n_rows=_EMB_COUNTS.get(sf_dir)
        )
    # (M, K, sub_dim) codebook tensor — tiny, rides the closure like a
    # broadcast variable
    C = np.zeros((_PQ_M, _PQ_K, 64 // _PQ_M))
    for s, k, cw in _PQ_BOOKS[bkey]:
        C[s, k] = cw

    # query-side exact distance tables, computed once from the (tiny,
    # explicitly bounded) query set: (n_q, M, K)
    qrows = _query_rows(unit)
    if not qrows:  # no query vectors in range → empty result, not a reshape error
        return _empty_topk(spark)
    qids = np.array([r["vec_id"] for r in qrows])
    Q = np.array([r["u"] for r in qrows]).reshape(len(qrows), _PQ_M, -1)
    qtab = ((Q[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)

    @F.pandas_udf("array<double>")
    def adc_scores(u: pd.Series) -> pd.Series:
        """Encode each vector (per-subspace argmin → M codes) and gather
        its ADC distance to every query in one numpy pass."""
        X = np.stack(u.values).reshape(len(u), _PQ_M, -1)  # (n, M, sub_dim)
        d2 = ((X[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)  # (n, M, K)
        codes = d2.argmin(axis=2)  # ties → lowest code (argmin is first-hit)
        # adist[i, q] = Σ_s qtab[q, s, codes[i, s]]
        gathered = qtab[
            np.arange(qtab.shape[0])[:, None, None],  # q
            np.arange(_PQ_M)[None, None, :],  # s
            codes[None, :, :],  # codes[i, s]
        ]  # (n_q, n, M)
        adist = gathered.sum(axis=2).T  # (n, n_q)
        return pd.Series(list(adist))

    qid_arr = F.array(*[F.lit(int(q)) for q in qids])
    approx = (
        unit.select("vec_id", F.posexplode(adc_scores("u")).alias("qi", "adist"))
        .select(
            F.element_at(qid_arr, F.col("qi") + 1).alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            "adist",
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    shortlist = (
        approx.withColumn("srk", F.row_number().over(w))
        .where(F.col("srk") <= _PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the shortlist: tiny (queries × shortlist) join, the
    # only stage paying per-pair vector math
    qv = unit.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("u").alias("qu")
    )
    cv = unit.select(F.col("vec_id").alias("neighbor_id"), F.col("u").alias("cu"))
    cos = F.aggregate(F.zip_with("qu", "cu", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    rescored = (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rescored.withColumn("rk", F.row_number().over(w2).cast("long"))
        .where(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rk")
    )


# ---------------------------------------------------------------------------
# Oracle-checked deterministic STAGES of the approximate indexes
# (VERDICT r9 items 2-3: the q_dedup_simhash_pairs / q_phash_pairs
# stage-split — the sketch/ANN *queries* are approximate by construction
# and stay rows-only, but their candidate-generation / coarse-assignment
# stages are pure deterministic algebra and earn full hash checks,
# shrinking the declared rows-only set 10 → 8).

_IVFA_K = 16  # coarse cells for the assignment query (≠ q_kmeans's k=8)
_IVFA_UPDATES = 2  # Lloyd update rounds (≠ q_kmeans's 3)
_IVFA_NPROBE = 2  # probes emitted per vector — the IVF serving fan-out


def _sql_ivf_assign(
    k: int = _IVFA_K, updates: int = _IVFA_UPDATES, nprobe: int = _IVFA_NPROBE, dims: int = 64
) -> str:
    """DuckDB oracle for q_ann_ivf_assign: the shared Lloyd CTE chain
    (clustering._sql_lloyd_ctes — identical text to q_kmeans's oracle per
    round) followed by the norm-invariant probe ranking."""
    from .clustering import _half_up_sql, _sql_lloyd_ctes

    cn2 = "list_sum(list_transform(c.cv, t -> t * t))"
    dot = f"list_sum(list_transform(range({dims}), t -> p.v[t+1] * c.cv[t+1]))"
    d2_12 = _half_up_sql(f"{cn2} - 2.0 * {dot}", 12)
    ctes = _sql_lloyd_ctes(k, updates, dims)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT vec_id, CAST(probe AS BIGINT) AS probe, cell, {_half_up_sql("d2_12", 6)} AS d2
FROM (
  SELECT vec_id, cell, d2_12,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2_12, cell) AS probe
  FROM (SELECT p.vec_id, c.cl AS cell, {d2_12} AS d2_12 FROM p, l{updates + 1} c)
) WHERE probe <= {nprobe}
"""
    )


@register("q_ann_ivf_assign", oracle=_sql_ivf_assign())
def q_ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment as an ORACLE-CHECKED query (VERDICT r9
    item 2): centroids from the oracle-green Lloyd recipe
    (clustering.lloyd_cents — deterministic vec_id%k init, fixed update
    rounds, half-up-12dp quantization), then every corpus vector ranks
    its _IVFA_NPROBE (=2) nearest cells by the norm-invariant IVF
    serving metric ‖c‖² − 2x·c (the same BLAS identity
    similarity._kmeans_fit assigns with) with a total (d2, cell)
    tie-break → (vec_id, probe, cell, d2).  This is the deterministic
    stage the rows-only q_ann_ivf buries inside its index build — split
    out, it hash-checks against the identical chain + ranking unrolled
    in DuckDB.

    Scale shape: the ranking pass is SHUFFLE-FREE — the k centroids
    collapse to one broadcast row and each vector sorts k structs
    narrowly (array_sort + slice + posexplode, all JVM higher-order
    functions); this is the operator that labels 100 TB of vectors with
    their IVF probe lists in one linear pass.  The training loop's
    per-round exchange is O(k·d·partitions), corpus-independent
    (clustering.lloyd_cents docstring)."""
    from .clustering import _allc, _half_up, lloyd_cents

    # r12: materialized once — the vectors feed the training loop's
    # init + update assignments AND the final ranking pass (the
    # kmeans_assignments discipline)
    pts = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda e: e.cast("double")).alias("v")
    ).localCheckpoint(eager=True)
    allc = _allc(lloyd_cents(pts, _IVFA_K, _IVFA_UPDATES))

    def d2(c):
        cn2 = F.aggregate(c["cv"], F.lit(0.0), lambda a, x: a + x * x)
        dot = F.aggregate(
            F.zip_with(F.col("v"), c["cv"], lambda x, cc: x * cc),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        return _half_up(cn2 - F.lit(2.0) * dot, 12)

    scored = F.array_sort(
        F.transform(F.col("cents"), lambda c: F.struct(d2(c).alias("d2"), c["cl"].alias("cell")))
    )
    return (
        pts.crossJoin(F.broadcast(allc))
        .select("vec_id", F.posexplode(F.slice(scored, 1, _IVFA_NPROBE)).alias("pos", "s"))
        .select(
            "vec_id",
            (F.col("pos") + 1).cast("long").alias("probe"),
            F.col("s.cell").alias("cell"),
            _half_up(F.col("s.d2"), 6).alias("d2"),
        )
    )


def _sql_lsh_candidates() -> str:
    """DuckDB oracle for q_lsh_candidates: rebuild the md5-derived
    hyperplanes bit-identically in SQL (hex-nibble fold / 2^32 − 0.5 —
    the same IEEE ops as the driver's int(md5[:8],16)/2**32 − 0.5),
    project, sign, pack per-table buckets, expand the query side by the
    full Hamming-1 flip list, and equi-join on (table, bucket)."""
    nplanes = _N_TABLES * _BITS_PER_TABLE
    nibble = (
        "(strpos('0123456789abcdef', substr(md5('plane:' || pp.p || ':' || d), i+1, 1)) - 1)"
        " * 16.0**(7-i)"
    )
    planeval = f"(list_sum(list_transform(range(8), i -> {nibble})) / 4294967296.0 - 0.5)"
    flips = ", ".join(["0"] + [str(1 << b) for b in range(_BITS_PER_TABLE)])
    return f"""
WITH pl AS MATERIALIZED (
  SELECT pp.p AS p, list_transform(range(64), d -> {planeval}) AS vl
  FROM (SELECT unnest(range({nplanes})) AS p) pp
),
n AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, e -> e::DOUBLE) AS emb FROM embeddings
),
buck AS MATERIALIZED (
  SELECT n.vec_id, pl.p // {_BITS_PER_TABLE} AS tbl,
         SUM(CASE WHEN list_dot_product(n.emb, pl.vl) > 0
                  THEN 1::BIGINT << (pl.p % {_BITS_PER_TABLE}) ELSE 0 END)::BIGINT AS bucket
  FROM n, pl
  GROUP BY n.vec_id, pl.p // {_BITS_PER_TABLE}
),
probes AS (
  SELECT vec_id AS query_id, tbl, xor(bucket, f.fl::BIGINT) AS bucket
  FROM buck, (SELECT unnest([{flips}]) AS fl) f
  WHERE vec_id < {_N_QUERIES}
)
SELECT DISTINCT p.query_id, b.vec_id AS cand_id
FROM probes p JOIN buck b ON p.tbl = b.tbl AND p.bucket = b.bucket
WHERE b.vec_id <> p.query_id
"""


@register("q_lsh_candidates", oracle=_sql_lsh_candidates())
def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate GENERATION as an ORACLE-CHECKED query (VERDICT r9
    item 3): given the fixed md5-derived hyperplanes, the (query_id,
    cand_id) candidate set of the multi-table index — 40 tables × 10-bit
    sign signatures, query side expanded by the full Hamming-1 ball —
    is pure deterministic algebra (integer buckets from float-sign
    projections), so the PRODUCTION candidate stage (_lsh_candidates,
    exactly what q_ann_lsh consumes) hash-checks against the same
    construction in DuckDB.  Only the cosine re-rank downstream keeps
    q_ann_lsh itself rows-only.

    Cross-engine fp note: the sign bits compare numpy-GEMM projections
    against DuckDB list_dot_product folds — different summation orders,
    so a projection within ~1e-13 of zero could in principle flip a bit.
    The fixture margins sit far from the boundary (the whole sweep
    hash-matches); a quantize-before-sign would be the fix if a future
    fixture ever lands on it."""
    return _lsh_candidates(_normed(load(spark, sf_dir, "embeddings")))


_RP_OUT = 16  # Johnson-Lindenstrauss target dimensionality (64 → 16)

#: DuckDB-side Rademacher sign: parity of int(md5('rp:k:d')[:8], 16) ==
#: parity of the 8th hex nibble — the q_lsh_candidates md5-rebuild trick,
#: one nibble instead of the 8-nibble fold because only the low bit is used
_RP_SIGN_DUCK = (
    "CASE WHEN (strpos('0123456789abcdef', "
    "substr(md5('rp:' || k || ':' || d), 8, 1)) - 1) % 2 = 0 "
    "THEN 1 ELSE -1 END"
)


def _rp_signs():
    """The (out × 64) ±1 Rademacher matrix, md5-derived (deterministic,
    no RNG — SURVEY.md §1.4), shared by the Spark kernel and tests."""
    import hashlib

    import numpy as np

    return np.array(
        [
            [
                1.0
                if int(hashlib.md5(f"rp:{k}:{d}".encode()).hexdigest()[:8], 16) % 2 == 0
                else -1.0
                for d in range(64)
            ]
            for k in range(_RP_OUT)
        ]
    )


@register(
    "q_random_projection",
    oracle=f"""
WITH sgn AS (
  SELECT k, d, {_RP_SIGN_DUCK} AS s
  FROM (SELECT unnest(range({_RP_OUT})) AS k), (SELECT unnest(range(64)) AS d)
),
coo AS (
  SELECT vec_id, d,
         CAST(floor(CAST(embedding[d + 1] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xi
  FROM embeddings, (SELECT unnest(range(64)) AS d) g
)
SELECT c.vec_id, CAST(s.k AS BIGINT) AS k,
       CAST(sum(s.s * c.xi) AS DOUBLE) / 1000000 / 4.0 AS v
FROM coo c JOIN sgn s ON s.d = c.d
GROUP BY c.vec_id, s.k
""",
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → {out} dims over the
    embeddings table: y = S·x / √{out} with an md5-derived Rademacher
    ±1 matrix (Achlioptas 2003's database-friendly JL) — the standard
    pre-reduction before ANN indexing / clustering at 100 TB, where
    shrinking every vector 4× shrinks every downstream shuffle 4×.
    Shape at scale: ZERO exchanges — one vectorized pandas_udf GEMM per
    Arrow batch (the q_ann_lsh projection pattern) plus a map-side
    posexplode to (vec_id, k, v) rows; nothing scales beyond the scan.
    Determinism contract: inputs are quantized to exact 1e-6 fixed
    point (floor(x·1e6 + 0.5) — functions/numeric.py's fx recipe), so
    every dot product is EXACT integer arithmetic inside float64's 2^53
    window (≤ 64 terms × 1e6-scale ≈ 2^26) and the hash is summation-
    order-proof in both engines; /1e6 and /4 are single exact IEEE
    ops.""".replace("{out}", str(_RP_OUT))
    import numpy as np

    signs = _rp_signs()

    @F.pandas_udf("array<double>")
    def project(emb_s: pd.Series) -> pd.Series:
        M = np.stack(emb_s.to_numpy()).astype(np.float64)  # (batch, 64)
        Mi = np.floor(M * 1e6 + 0.5)  # exact integers as doubles
        return pd.Series(list(Mi @ signs.T / 1e6 / 4.0))

    e = load(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", F.posexplode(project(F.col("embedding"))).alias("k", "v")
    ).select("vec_id", F.col("k").cast("long").alias("k"), "v")

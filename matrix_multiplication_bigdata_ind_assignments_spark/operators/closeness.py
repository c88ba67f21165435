"""Landmark-based harmonic closeness centrality: the Eppstein–Wang
estimator (SODA'01, "Fast approximation of centrality") — exact BFS
distances from a BOUNDED landmark sample, harmonically aggregated per
node.  Closeness ranks nodes by graph DISTANCE, which the eigenvector
scores (q_pagerank / q_trustrank / q_hits) cannot see: a node bridging
two clusters is close to everything yet feeds no flow cycle.

Harmonic form (Boldi–Vigna, "Axioms for centrality", 2014): H(v) =
Σ_{l ∈ L, d(v,l)>0} 1/d(v,l) over the landmark sample only; an
unreachable pair contributes 0 where classic closeness would need ∞.

The landmark set L is the arithmetic sample node % 20 == 0 (the
q_trustrank seed rule, so both engines derive it from the data); |L|
stays bounded as the graph grows (O(log n / ε²) for ε-accurate
centrality).

Invariants of landmark_harmonic:

- Synchronous unit-weight BFS reaches every (node, landmark) pair first
  in round r = d(node, landmark), so a pair's distance is the round
  index and no per-pair table is ever built: the loop state is which
  landmarks have reached each node, packed 64 per BIGINT word.
- The harmonic sum is exact rational arithmetic: round r adds
  popcount(first-reach bits) · Lc/r to a BIGINT accumulator, with
  Lc = lcm(1..rounds), so H(v) = Σacc / Lc is one division of exact
  integers — independent of summation order, join arm and partition
  count, and identical at any unroll past the fixpoint.
- Memory envelope: |V|·⌈|L|/64⌉ state words (every node keeps word 0);
  per-round shuffle O(|touched nodes| · ⌈|L|/64⌉).

Oracle contract: the identically-unrolled DuckDB CTEs compute the same
distances per pair and round Σ 1/d to 12 dp.  Σacc·10¹²/Lc is never a
half-integer (Lc has at most four factors of 2), so no 12-dp rounding tie
exists for the two engines to break differently.  The sweep's
R+1-stability post_check re-runs the oracle with one extra round — a
fixture needing deeper search fails loudly instead of hashing green
wrong-together.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.loop import PARTITIONS, settle
from ..registry import register
from .graph import _unroll_stability_check, symmetric, trade_edges

_CL_ROUNDS = 6  # fixed unroll; the trade graph settles in <=3 (dense bipartite)
_CL_SEED_MOD = 20  # landmarks = trusted suppliers (node % 20 == 0), ~10% of suppliers
# Σacc ≤ |L|·lcm(1..rounds); lcm(1..24) ≈ 5.4e9 keeps it inside a BIGINT
# for any |L| < 1.7e9, far past the bounded sample (lcm(1..25) is 5x more)
_CL_MAX_ROUNDS = 24


def landmark_harmonic(
    edges: DataFrame,
    rounds: int = _CL_ROUNDS,
    seed_mod: int = _CL_SEED_MOD,
    join_strategy: str = "broadcast",
) -> DataFrame:
    """(node, h) for every node of the undirected ``edges`` graph:
    h = round(Σ_{l ∈ L, 0 < d(node,l) ≤ rounds} 1/d(node,l), 12), 0.0 for
    a node no other landmark reaches.

    The state is one frame keyed on (node, wi) — s: settled landmark
    bits of word wi, f: this round's first-reach bits, acc: the BIGINT
    harmonic numerator.  Every node holds a wi=0 row from the start;
    landmarks start settled and fresh on their own bit.  Round r is one
    ``bit_or`` aggregate of the frontier words arriving over the
    symmetric edges (cm), one full-outer merge with the state
    (s' = s | cm, f' = cm & ~s, acc' = acc + popcount(f')·Lc/r), one
    local checkpoint, whose own job fills the empty-frontier probe (an
    Observation counting the rows with f ≠ 0).

    ``join_strategy``:

    - ``'broadcast'`` (default): the frontier words broadcast into the
      expansion join — zero edge movement while the frontier fits an
      executor.  Measured negative: clustering the resident edges on dst
      at 8 partitions so the bit_or rides the exchange (graph.relax's move)
      ran 7.0-7.9 s vs 6.4-7.4 s at sf0.1 — the expansion is
      compute-heavy and loses the checkpoint's ~64-way map parallelism.
    - ``'copartition'``: the symmetric edges are hash-clustered on src
      once (persisted) and each round's frontier is repartitioned the
      same way, so the expansion exchanges only the frontier — the arm
      for graphs whose frontier outgrows a broadcast build (SCALING.md
      "Centrality additions at the second decade").  Both arms are
      bit-identical.

    Neither arm changes session state: partition counts are explicit
    ``repartition`` calls, never ``spark.conf.set``."""
    if join_strategy not in ("broadcast", "copartition"):
        raise ValueError(f"unknown join_strategy {join_strategy!r}")
    if not 1 <= rounds <= _CL_MAX_ROUNDS:
        raise ValueError(
            f"rounds={rounds} outside 1..{_CL_MAX_ROUNDS}: past {_CL_MAX_ROUNDS} the "
            f"exact harmonic numerator |L|·lcm(1..rounds) can overflow a BIGINT"
        )
    lc = math.lcm(*range(1, rounds + 1))
    ck = lambda df: df.localCheckpoint(eager=True)  # noqa: E731
    sym = symmetric(edges)
    if join_strategy == "copartition":
        sym = sym.repartition(PARTITIONS, "src").persist()
        sym.count()  # materialize the one-time clustering
        # the hint keeps AQE from broadcasting the resident edges instead
        ship = lambda df: df.repartition(PARTITIONS, "src").hint("shuffle_hash")  # noqa: E731
    else:
        sym = ck(sym)
        ship = F.broadcast
    try:
        nodes = sym.select(F.col("src").alias("node")).distinct()
        # landmark ix → (word, bit); the window is over the bounded |L| rows
        lm_words = (
            nodes.where(F.col("node") % seed_mod == 0)
            .select("node", (F.row_number().over(Window.orderBy("node")) - 1).alias("ix"))
            .select(
                "node",
                F.expr("ix DIV 64").alias("wi"),
                F.expr("shiftleft(CAST(1 AS BIGINT), ix % 64)").alias("m"),
            )
        )
        state = ck(
            nodes.select("node", F.lit(0).alias("wi"), F.lit(0).cast("long").alias("m"))
            .unionByName(lm_words)
            .groupBy("node", "wi")
            .agg(F.bit_or("m").alias("s"))
            .select("node", "wi", "s", F.col("s").alias("f"), F.lit(0).cast("long").alias("acc"))
        )
        for r in range(1, rounds + 1):
            frontier = state.where(F.col("f") != 0).select(
                F.col("node").alias("src"), "wi", F.col("f").alias("m")
            )
            cand = (
                sym.join(ship(frontier), "src")
                .groupBy(F.col("dst").alias("node"), "wi")
                .agg(F.bit_or("m").alias("cm"))
            )
            state, fresh = settle(
                state.join(cand, ["node", "wi"], "full")
                .select(
                    "node",
                    "wi",
                    F.expr("coalesce(s, 0L)").alias("s0"),
                    F.expr("coalesce(cm, 0L)").alias("cm"),
                    F.expr("coalesce(acc, 0L)").alias("acc"),
                )
                .select(
                    "node",
                    "wi",
                    F.expr("s0 | cm").alias("s"),
                    F.expr("cm & ~s0").alias("f"),
                    F.expr(f"acc + bit_count(cm & ~s0) * {lc // r}L").alias("acc"),
                ),
                F.col("f") != 0,
            )
            if not fresh:
                break  # level-set fixpoint: remaining rounds reach nothing
    finally:
        if join_strategy == "copartition":
            sym.unpersist()  # the returned frame reads only the checkpointed state
    return state.groupBy("node").agg(
        F.round(F.sum("acc") / F.lit(float(lc)), 12).alias("h")
    )


def _sql_closeness(rounds: int = _CL_ROUNDS) -> str:
    """The identical per-landmark BFS + harmonic sum as unrolled DuckDB
    CTEs (state keyed on (node, lm) pairs; min-over-union relaxation)."""
    ctes = [
        f"""e AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ed AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
d0 AS (
  SELECT src AS node, src AS lm, 0 AS dist
  FROM (SELECT DISTINCT src FROM ed WHERE src % {_CL_SEED_MOD} = 0)
)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, lm, min(dist) AS dist FROM (
    SELECT node, lm, dist FROM d{i - 1}
    UNION ALL
    SELECT ed.dst AS node, d.lm, d.dist + 1 AS dist
    FROM ed JOIN d{i - 1} d ON ed.src = d.node
  ) GROUP BY node, lm
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
nodes AS (SELECT DISTINCT src AS node FROM ed),
h AS (
  SELECT node, round(sum(1.0 / dist), 12) AS h
  FROM d{rounds} WHERE dist > 0 GROUP BY node
)
SELECT CASE WHEN nodes.node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(nodes.node // 2 AS BIGINT) AS key,
       round(coalesce(h.h, 0.0), 6) AS harmonic
FROM nodes LEFT JOIN h ON nodes.node = h.node
"""
    )


@register(
    "q_closeness_landmarks",
    oracle=_sql_closeness(),
    post_check=_unroll_stability_check(_sql_closeness, _CL_ROUNDS, "_CL_ROUNDS"),
)
def q_closeness_landmarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness centrality over the supplier↔customer trade
    graph from the 10% landmark supplier sample (landmark_harmonic,
    6-round fixed unroll), one row per graph node — a node no landmark
    reaches emits 0.0.  Oracle-checked via identically-unrolled CTEs
    with an R+1-stability certificate in the sweep."""
    return landmark_harmonic(trade_edges(spark, sf_dir)).select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier")).otherwise(F.lit("customer")).alias("kind"),
        (F.col("node") / 2).cast("long").alias("key"),
        F.round("h", 6).alias("harmonic"),
    )

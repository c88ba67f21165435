"""HITS (hubs & authorities) — Kleinberg, JACM'99 ("Authoritative
sources in a hyperlinked environment") — over the DIRECTED
supplier→customer trade graph (SURVEY.md §2.3 'iterative algorithms'
class, beside q_pagerank/q_trustrank in the centrality family; the
reference has no graph surface, so the parity anchor is the shared
Pregel-style loop shape of `Stage 3`'s iterative partitioned kernels,
e.g. `Stage 3/Python Implementation/mm_opt_par.py:43-86`'s fixed-round
sweep — cited for loop structure only, nothing is ported).

Mutual recursion distinguishes HITS from the PageRank family: each
round updates TWO interleaved vectors — auth(v) = Σ_{u→v} hub(u) then
hub(u) = Σ_{u→v} auth(v) — each L2-normalized.  On the bipartite
supplier→customer graph this is the power iteration of AᵀA / AAᵀ, i.e.
the principal left/right singular vectors of the trade incidence
matrix: authorities = customers central to the trade flow, hubs =
suppliers feeding them.

ORACLE-CHECKED like q_pagerank: fixed 10 rounds, every aggregate
(contribution sums, squared-norm sums) rounded to 12 dp IN-PLAN in both
engines before use, so differing summation orders cannot drift across
rounds; the DuckDB side is the same method unrolled into MATERIALIZED
CTEs (each iterate is referenced twice — materialization keeps the
unrolled plan linear, matching Spark's per-round localCheckpoint).

Scale shape (= q_pagerank's broadcast arm): the static directed edge
list is persisted twice, hash-clustered on src and on dst; the |V|-row
score vectors are broadcast against the resident edges (zero edge
movement), the two norms are in-plan windows (no collect), and each
round's hub vector is eagerly materialized (see `hits` for why that
cadence is forced here, unlike pagerank's every-2nd-iteration
truncation).  The copartition fallback for rank vectors too big to
broadcast is the same switch documented on `pagerank`
(operators/graph.py) and applies identically — the state here is two
doubles per node instead of one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.loop import PARTITIONS
from ..registry import register
from .graph import _PR_ITERS

_HITS_ITERS = _PR_ITERS  # 10 — same fixed-unroll contract as PageRank


def hits(edges: DataFrame, iters: int = _HITS_ITERS) -> DataFrame:
    """Power-method HITS over a directed edge list ``(src, dst)``.

    Per round: auth_raw(v) = round(Σ_{u→v} hub(u), 12); auth =
    round(auth_raw / ‖auth_raw‖₂, 12) with the norm itself computed as
    round(sqrt(round(Σ auth_raw², 12)), 12); then the hub step reads the
    FRESH auth (textbook update order).  The 12-dp rounding after every
    aggregate is the determinism contract with the unrolled-CTE oracle —
    identical inputs + identical IEEE ops in identical order ⇒ both
    engines stay bit-comparable round by round (same recipe as
    `pagerank`, operators/graph.py).

    Loop discipline differs from pagerank's cadence knob for a reason:
    each round reads its two contribution vectors TWICE each (the norm
    aggregate and the divide), so naive per-round chaining squares the
    plan — measured 29 s warm at sf0.01 for a 2-round cadence.  One
    eager localCheckpoint of the |V|-row hub vector per round bounds
    lineage to a single round.

    Plan invariants:

    - Two resident copies of the distinct edge list, clustered on src
      (``ed``) and on dst (``ed_dst``): the auth step aggregates on dst
      and the hub step on src, each riding its copy's clustering, so
      neither half-round exchanges the contribution vector or the edges.
    - The L2 norm is a WINDOW aggregate over the raw contribution
      vector (empty partition spec: a |V|-row single-partition
      exchange), so each raw vector is referenced ONCE — one edge join +
      agg per half-round.  A 1-row agg + crossJoin would reference it
      twice, and with exchange-free aggregates there is no exchange for
      reuse to share, so the edge join would run twice.  The window's
      summation order is covered by the 12-dp round-after-every-
      aggregate contract.
    - No exchange is planned at the session's shuffle partition count
      (the edge copies carry explicit clustering; the window is a
      single-partition exchange), so the loop never writes session conf
      and its output does not depend on that count.

    Score frames carry only the NONZERO side each round (nodes absent
    from ``hub`` contribute nothing to the next auth sum — identical
    semantics, no per-round recombine join); the full (node, hub, auth)
    frame with exact 0.0 on the off sides is assembled once at the
    end."""
    # repartition BEFORE distinct: the dedup rides the one clustering
    # exchange instead of paying its own
    ed = edges.select("src", "dst").repartition(PARTITIONS, "src").distinct().persist()
    # the dst-clustered twin, derived from ed so the dedup is not repeated
    ed_dst = ed.repartition(PARTITIONS, "dst").persist()
    nodes = (
        ed.select(F.col("src").alias("node"))
        .unionByName(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    try:
        from pyspark.sql.window import Window

        wall = Window.partitionBy()  # the L2 norms (see the invariants above)
        hub = nodes.select("node", F.lit(1.0).alias("hub"))
        auth = None
        for it in range(iters):
            araw = (
                ed_dst.join(F.broadcast(hub), ed_dst.src == hub.node)
                .groupBy("dst")
                .agg(F.round(F.sum("hub"), 12).alias("ar"))
            )
            auth = araw.withColumn(
                "nrm_a",
                F.round(F.sqrt(F.round(F.sum(F.col("ar") * F.col("ar")).over(wall), 12)), 12),
            ).select(
                F.col("dst").alias("node"),
                F.round(F.col("ar") / F.col("nrm_a"), 12).alias("auth"),
            )
            if it == iters - 1:
                # the final auth feeds the output frame: materialize it so
                # the closing join does not re-run the round's edge join
                auth = auth.localCheckpoint(eager=True)
            hraw = (
                ed.join(F.broadcast(auth), ed.dst == auth.node)
                .groupBy("src")
                .agg(F.round(F.sum("auth"), 12).alias("hr"))
            )
            hub = (
                hraw.withColumn(
                    "nrm_h",
                    F.round(
                        F.sqrt(F.round(F.sum(F.col("hr") * F.col("hr")).over(wall), 12)), 12
                    ),
                )
                .select(
                    F.col("src").alias("node"),
                    F.round(F.col("hr") / F.col("nrm_h"), 12).alias("hub"),
                )
                .localCheckpoint(eager=True)
            )
        state = (
            nodes.join(F.broadcast(hub), "node", "left")
            .join(F.broadcast(auth), "node", "left")
            .select(
                "node",
                F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        ed_dst.unpersist()
        ed.unpersist()
    return state


def _sql_hits(iters: int = _HITS_ITERS) -> str:
    """The identical mutual-recursion power method as unrolled DuckDB
    MATERIALIZED CTEs — arithmetic parenthesized EXACTLY as the Spark
    side (round the contribution sum, round the squared-norm sum, sqrt,
    round, divide, round) so both engines stay bit-identical."""
    ctes = [
        """ed AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
nodes AS MATERIALIZED (SELECT src AS node FROM ed UNION SELECT dst AS node FROM ed),
h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT ed.dst AS node, round(sum(h{i - 1}.hub), 12) AS ar
  FROM ed JOIN h{i - 1} ON ed.src = h{i - 1}.node GROUP BY ed.dst
),
na{i} AS MATERIALIZED (SELECT round(sqrt(round(sum(ar * ar), 12)), 12) AS n FROM ar{i}),
a{i} AS MATERIALIZED (
  SELECT node, round(ar / (SELECT n FROM na{i}), 12) AS auth FROM ar{i}
),
hr{i} AS MATERIALIZED (
  SELECT ed.src AS node, round(sum(a{i}.auth), 12) AS hr
  FROM ed JOIN a{i} ON ed.dst = a{i}.node GROUP BY ed.src
),
nh{i} AS MATERIALIZED (SELECT round(sqrt(round(sum(hr * hr), 12)), 12) AS n FROM hr{i}),
h{i} AS MATERIALIZED (
  SELECT node, round(hr / (SELECT n FROM nh{i}), 12) AS hub FROM hr{i}
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN nodes.node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(nodes.node // 2 AS BIGINT) AS key,
       round(coalesce(h.hub, 0.0), 6) AS hub,
       round(coalesce(a.auth, 0.0), 6) AS auth
FROM nodes LEFT JOIN h{iters} h ON nodes.node = h.node
           LEFT JOIN a{iters} a ON nodes.node = a.node
"""
    )


@register("q_hits", oracle=_sql_hits())
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the directed supplier→customer trade
    graph, 10 L2-normalized rounds — the two-vector mutual-recursion
    centrality (principal singular pair of the trade incidence matrix),
    oracle-checked against the same method unrolled into DuckDB CTEs."""
    from .graph import trade_edges

    state = hits(trade_edges(spark, sf_dir))
    return state.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier")).otherwise(F.lit("customer")).alias("kind"),
        (F.col("node") / 2).cast("bigint").alias("key"),
        F.round(F.col("hub"), 6).alias("hub"),
        F.round(F.col("auth"), 6).alias("auth"),
    )

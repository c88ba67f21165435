"""Personalized PageRank / TrustRank (SURVEY.md §2.3 north-star
extension): power iteration whose teleport lands on a SEED SET instead
of uniformly — the trust-propagation primitive of Gyöngyi et al.,
VLDB'04 ("Combating Web Spam with TrustRank"), used in training-data
pipelines to score crawl sources by proximity to a trusted whitelist
(and, inverted, to damp spam neighborhoods before sampling).

Shares the oracle recipe of q_pagerank (operators/graph.py): fixed 10
rounds, 12-dp in-plan rounding each round so the unrolled DuckDB CTEs
are bit-comparable despite summation-order differences.  The loop is
the broadcast arm of `pagerank` with a per-node teleport COLUMN instead
of the uniform scalar; the copartition/reliable-checkpoint knobs live on
the shared implementation there and apply the same way at scale (the
state vector here is (node, outdeg, sw, rank) — one extra double).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .graph import _PR_DAMPING, _PR_ITERS, _decode_ranks, pagerank_walk, trade_edges

# Seed rule: trusted suppliers = suppkey ≡ 0 (mod 10) → node ids 2k with
# k ≡ 0 (mod 10), i.e. node % 20 == 0.  Pure arithmetic so both engines
# derive the identical seed set from the data.
_SEED_MOD = 20


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = _PR_DAMPING,
    iters: int = _PR_ITERS,
    truncate_every: int = 2,
    seed_mod: int = _SEED_MOD,
) -> DataFrame:
    """Power-method PPR over an undirected edge list ``(src, dst)``:
    rank' = (1−d)·s + d·Pᵀrank with s the normalized indicator of the
    seed set (node % seed_mod == 0; seed_mod=1 ⇒ uniform teleport, which
    must reproduce q_pagerank bit-for-bit — asserted in tests/test_ppr.py).  Undirected walk ⇒ no dangling mass
    (every node with an edge has out-degree ≥ 1), so Σrank stays 1 and
    the oracle needs no dangling scalar.

    Scale shape = q_pagerank's broadcast arm, on the same static inputs
    (``graph.pagerank_walk``): the symmetric walk is hash-clustered on
    dst once and persisted, and statics — one count aggregate riding that
    clustering — is persisted hash(node, n_part).  Each round broadcasts
    the |V|-row state (node, outdeg, sw, rank), the contribution sum
    rides the walk's clustering and the statics ⋈ contribs merge join is
    co-partitioned, so the loop has no exchange and never touches session
    conf; lineage truncates every ``truncate_every`` rounds; 12-dp
    rounding per round is the determinism contract with the unrolled-CTE
    oracle."""
    import os

    n_part = int(os.environ.get("MMBD_CC_SHUFFLE_PARTITIONS", "8"))
    walk, statics = pagerank_walk(edges, n_part, "dst")
    statics_cached = statics.persist()
    n_seeds = statics_cached.where(F.col("node") % seed_mod == 0).count()
    if n_seeds == 0:  # no trusted nodes in this graph — PPR is undefined
        walk.unpersist()
        statics_cached.unpersist()
        raise ValueError("personalized_pagerank: empty seed set")
    statics = statics_cached.withColumn(
        "sw",
        F.when(F.col("node") % seed_mod == 0, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0)),
    )

    try:
        ranks = statics.withColumn("rank", F.col("sw"))
        for it in range(iters):
            contribs = (
                walk.join(F.broadcast(ranks), walk.src == ranks.node)
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("m"))
            )
            new_ranks = (
                # merge-hinted co-partitioned join (see graph.pagerank)
                statics.join(contribs.hint("merge"), statics.node == contribs.dst, "left")
                .select(
                    "node",
                    "outdeg",
                    "sw",
                    F.round(
                        F.lit(1.0 - damping) * F.col("sw")
                        + F.lit(damping) * F.coalesce(F.col("m"), F.lit(0.0)),
                        12,
                    ).alias("rank"),
                )
            )
            if (it + 1) % truncate_every == 0 or it == iters - 1:
                new_ranks = new_ranks.localCheckpoint(eager=True)
            ranks = new_ranks
    finally:
        walk.unpersist()
        statics_cached.unpersist()
    return ranks.select("node", "rank")


def _sql_trustrank(damping: float = _PR_DAMPING, iters: int = _PR_ITERS) -> str:
    """The identical seeded power method as unrolled DuckDB CTEs over the
    supplier↔customer trade graph — arithmetic parenthesized EXACTLY as
    the Spark side ((1−d)·sw + d·contrib, then round 12) so both engines
    stay bit-identical round by round."""
    d = damping
    ctes = [
        f"""e AS (
  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ed AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM ed GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM ed),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes WHERE node % {_SEED_MOD} = 0),
sw AS (
  SELECT node,
         CASE WHEN node % {_SEED_MOD} = 0 THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS w
  FROM nodes
),
r0 AS (SELECT node, w AS rank FROM sw)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT sw.node,
         round({1.0 - d} * sw.w + {d} * coalesce(s.m, 0.0), 12) AS rank
  FROM sw LEFT JOIN (
    SELECT ed.dst AS node, sum(r{i - 1}.rank / deg.outdeg) AS m
    FROM ed JOIN r{i - 1} ON ed.src = r{i - 1}.node JOIN deg ON deg.src = ed.src
    GROUP BY ed.dst
  ) s ON sw.node = s.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(node // 2 AS BIGINT) AS key,
       round(rank, 6) AS rank
FROM r{iters}
"""
    )


@register("q_trustrank", oracle=_sql_trustrank())
def q_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank / personalized PageRank over the supplier↔customer
    trade graph: teleport mass lands only on the trusted seed suppliers
    (suppkey ≡ 0 mod 10), damping 0.85, 10 power rounds — trust decays
    with graph distance from the whitelist, the source-scoring signal a
    crawl-curation pipeline feeds into sampling weights.  Same unrolled-
    CTE oracle recipe as q_pagerank; seeds derived arithmetically so
    both engines agree on the set."""
    return _decode_ranks(personalized_pagerank(spark, trade_edges(spark, sf_dir)))

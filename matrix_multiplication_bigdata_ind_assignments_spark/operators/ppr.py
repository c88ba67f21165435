"""TrustRank / personalized PageRank (SURVEY.md §2.3 north-star
extension): power iteration whose teleport lands on a SEED SET instead
of uniformly — the trust-propagation primitive of Gyöngyi et al.,
VLDB'04 ("Combating Web Spam with TrustRank"), used in training-data
pipelines to score crawl sources by proximity to a trusted whitelist
(and, inverted, to damp spam neighborhoods before sampling).

The loop is ``graph.pagerank`` with ``seed_mod`` set: the seed set is
a pure function of the node id, so both engines derive it from the
data, and the teleport is a per-node expression instead of the uniform
scalar.  It shares q_pagerank's oracle recipe: fixed 10 rounds, 12-dp
in-plan rounding each round so the unrolled DuckDB CTEs are
bit-comparable despite summation-order differences; both join arms
apply unchanged.  The loop truncates lineage with local checkpoints;
swap them for reliable ones on a cluster that can lose executors, as
``loop.settle``'s docstring notes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from .graph import _PR_DAMPING, _PR_ITERS, _decode_ranks, pagerank, trade_edges

# Seed rule: trusted suppliers = suppkey ≡ 0 (mod 10) → node ids 2k with
# k ≡ 0 (mod 10), i.e. node % 20 == 0.  Pure arithmetic so both engines
# derive the identical seed set from the data.
_SEED_MOD = 20


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
    return _decode_ranks(pagerank(spark, trade_edges(spark, sf_dir), seed_mod=_SEED_MOD))

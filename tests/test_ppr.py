"""TrustRank / personalized PageRank: graph.pagerank with ``seed_mod``
(operators/ppr.py registers q_trustrank on it)."""

import pytest

from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import _decode_ranks, pagerank, trade_edges  # noqa: E402
from matrix_multiplication_bigdata_ind_assignments_spark.operators.ppr import _SEED_MOD, q_trustrank  # noqa: E402

from conftest import measured, rows_set  # noqa: E402


def test_uniform_seed_set_reproduces_pagerank(spark, sf_dir):
    """seed_mod=1 makes every node a seed with weight 1/n — the seeded
    teleport expression (1−d)·when(seed, 1/n) collapses to the uniform
    scalar (1−d)/n, and the 12-dp per-round rounding must make the two
    expressions bit-identical (same recipe that makes the unrolled-CTE
    oracles comparable)."""
    edges = trade_edges(spark, sf_dir)
    ppr = rows_set(_decode_ranks(pagerank(spark, edges, seed_mod=1)))
    pr = rows_set(_decode_ranks(pagerank(spark, trade_edges(spark, sf_dir))))
    assert ppr == pr


def test_trustrank_mass_and_teleport_floor(spark, sf_dir):
    """Undirected walk ⇒ no dangling leak: Σrank = 1 (±12-dp rounding
    accumulation).  Every seed holds at least its teleport floor
    (1−d)·1/|S| — exact from the update since the contribution term is
    non-negative."""
    ranks = pagerank(spark, trade_edges(spark, sf_dir), seed_mod=_SEED_MOD).collect()
    total = sum(r["rank"] for r in ranks)
    assert abs(total - 1.0) < 1e-6, total
    seeds = [r for r in ranks if r["node"] % _SEED_MOD == 0]
    assert seeds
    floor = 0.15 / len(seeds) - 1e-9
    assert all(r["rank"] >= floor for r in seeds), min(r["rank"] for r in seeds)


def test_trustrank_empty_seed_set_raises(spark):
    """A graph with no seed-eligible node must fail loudly, not return a
    zero vector."""
    edges = spark.createDataFrame([(1, 3), (3, 5)], ["src", "dst"])
    with pytest.raises(ValueError, match="empty seed set"):
        pagerank(spark, edges, seed_mod=_SEED_MOD)  # odd ids only: none % 20 == 0


def test_trustrank_invariant_to_shuffle_partitions(spark, sf_dir, monkeypatch):
    """Ranks must not depend on the session's shuffle partition count,
    and the operator never writes session conf: its loop has no
    exchange, so it needs no partition pin."""
    from pyspark.sql.conf import RuntimeConfig

    edges = trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    got = []
    try:
        for parts in (1, 8, 64):
            spark.conf.set(key, str(parts))
            with monkeypatch.context() as m:
                m.setattr(RuntimeConfig, "set", lambda *a: pytest.fail("operator set a conf"))
                got.append(rows_set(pagerank(spark, edges, seed_mod=_SEED_MOD)))
            assert spark.conf.get(key) == str(parts)
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1] == got[2]


def test_trustrank_directed_raises(spark):
    """No rule sends a directed walk's dangling mass to the seeds, so a
    seeded directed run must refuse instead of leaking mass."""
    edges = spark.createDataFrame([(20, 3), (3, 40)], "src long, dst long")
    with pytest.raises(ValueError, match="seed_mod"):
        pagerank(spark, edges, directed=True, seed_mod=_SEED_MOD)


# jobs one q_trustrank call launches at sf0.001: q_pagerank's 25, the
# seed count standing in for the node count
_TRUSTRANK_JOBS_SF0001 = 25


def test_trustrank_query_job_count_bounded(spark, sf_dir):
    """One q_trustrank call (plan build + collect) stays within two jobs
    of q_pagerank's count: the seeded teleport adds no job."""
    jobs = measured(spark, lambda: q_trustrank(spark, sf_dir).collect())["jobs"]
    assert jobs <= _TRUSTRANK_JOBS_SF0001 + 2, jobs

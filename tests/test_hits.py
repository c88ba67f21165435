"""HITS hubs/authorities (operators/hits.py)."""

import math

from matrix_multiplication_bigdata_ind_assignments_spark.operators.hits import hits  # noqa: E402
from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import trade_edges  # noqa: E402

from conftest import measured


def test_hits_hand_fixture(spark):
    """Bipartite star: supplier 2 feeds customers {1,3,5}; supplier 4
    feeds {1} only.  Hand-checkable structure: customer 1 (fed by both
    hubs) is the top authority, customers 3 and 5 tie below it;
    supplier 2 (3 out-edges) out-hubs supplier 4; the off-sides stay
    exactly 0.0 (suppliers get no in-edges, customers no out-edges)."""
    edges = spark.createDataFrame([(2, 1), (2, 3), (2, 5), (4, 1)], "src long, dst long")
    state = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges).collect()}
    assert state[1][1] > state[3][1] == state[5][1] > 0
    assert state[2][0] > state[4][0] > 0
    assert state[2][1] == 0.0 and state[4][1] == 0.0  # suppliers: no in-edges
    assert state[1][0] == 0.0 and state[3][0] == 0.0  # customers: no out-edges


def test_hits_norms_are_unit(spark, sf_dir):
    """Each round L2-normalizes both vectors; after the final round both
    norms must sit at 1 (±12-dp rounding accumulation)."""
    state = hits(trade_edges(spark, sf_dir)).collect()
    nh = math.sqrt(sum(r["hub"] ** 2 for r in state))
    na = math.sqrt(sum(r["auth"] ** 2 for r in state))
    assert abs(nh - 1.0) < 1e-6, nh
    assert abs(na - 1.0) < 1e-6, na


def test_hits_deterministic_repeat(spark):
    """Two independent runs must be bit-identical — the 12-dp in-plan
    rounding pins every aggregate against partitioning/summation-order
    variation (the same contract the unrolled-CTE oracle relies on)."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (4, 5), (6, 1), (6, 5), (6, 7)], "src long, dst long"
    )
    a = sorted(tuple(r) for r in hits(edges).collect())
    b = sorted(tuple(r) for r in hits(edges.repartition(7)).collect())
    assert a == b


def test_hits_more_iters_converges(spark):
    """The power method converges: doubling the unroll moves no score
    by more than 1e-4 on a small graph (guards a grossly-too-short
    default unroll from hashing green wrong-together with the
    identically-truncated oracle; exact 6-dp equality is NOT expected —
    the λ₂/λ₁ ratio of this fixture leaves ~3e-6 residual at round
    10)."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (4, 3), (4, 5), (6, 1), (6, 5), (6, 7)], "src long, dst long"
    )
    a = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges).collect()}
    b = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges, iters=20).collect()}
    assert a.keys() == b.keys()
    worst = max(max(abs(a[n][0] - b[n][0]), abs(a[n][1] - b[n][1])) for n in a)
    assert worst < 1e-4, worst


def test_hits_bipartite_sides_zero_on_trade_graph(spark, sf_dir):
    """On the supplier→customer graph every supplier is a pure hub and
    every customer a pure authority — the encoded parity decides the
    zero side exactly (0/norm = 0 survives rounding)."""
    state = hits(trade_edges(spark, sf_dir)).collect()
    assert all(r["auth"] == 0.0 for r in state if r["node"] % 2 == 0)
    assert all(r["hub"] == 0.0 for r in state if r["node"] % 2 == 1)
    # and the nonzero sides are genuinely populated
    assert any(r["hub"] > 0 for r in state)
    assert any(r["auth"] > 0 for r in state)


def test_hits_loop_shuffle_is_score_sized(spark, sf_dir):
    """Loop rounds must shuffle (nearly) NOTHING — r12 keeps a
    dst-clustered edge twin so BOTH half-round aggregations ride a
    resident clustering: the old per-round score-vector exchange
    (29,118 B/iter at sf0.001) is gone and only sub-KB bookkeeping
    remains (measured 1,408 B/iter).  Ceiling at 20% of the old
    per-round vector exchange: a regression that re-exchanges either
    the contribution vectors or the |E|-row edge list lands far over
    it.  per[1] > 0 keeps the measurement-works canary (the setup
    exchanges still shuffle)."""
    edges = trade_edges(spark, sf_dir)
    per = {}
    for iters in (1, 11):

        def run(it=iters):
            hits(edges, iters=it).write.format("noop").mode("overwrite").save()

        run()  # warm
        per[iters] = measured(spark, run)["shuffle_write_bytes"]
    per_iter = (per[11] - per[1]) / 10
    assert per[1] > 0, per
    assert per_iter <= 0.2 * 29_118, per


def test_hits_invariant_to_shuffle_partitions(spark, sf_dir, monkeypatch):
    """Scores must not depend on the session's shuffle partition count,
    and hits never writes session conf: its edge copies carry explicit
    clustering and its norm window is a single-partition exchange."""
    import pytest
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
                got.append(sorted(tuple(r) for r in hits(edges).collect()))
            assert spark.conf.get(key) == str(parts)
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1] == got[2]
    assert got[0]

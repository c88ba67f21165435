"""Landmark harmonic closeness (operators/closeness.py)."""

import pytest  # noqa: E402

from matrix_multiplication_bigdata_ind_assignments_spark.operators.closeness import (  # noqa: E402
    landmark_harmonic,
    q_closeness_landmarks,
)
from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import (  # noqa: E402
    trade_edges,
)

from conftest import measured

# jobs one q_closeness_landmarks call launches at sf0.001 (edge and
# seed-state checkpoints, one checkpoint per BFS round with the
# empty-frontier probe riding it as an Observation, then the result); a
# separate isEmpty probe per round launched 32, the per-pair table form 54
_CLOSENESS_JOBS_SF0001 = 28


def _harmonic(edges, **kw):
    return {r["node"]: r["h"] for r in landmark_harmonic(edges, **kw).collect()}


def test_single_landmark_path_graph(spark):
    """Chain 20—1—4—3 with landmark 20 (the only node ≡ 0 mod 20):
    H(1)=1, H(4)=1/2, H(3)=1/3; the landmark itself gets no self term."""
    edges = spark.createDataFrame([(20, 1), (1, 4), (4, 3)], "src long, dst long")
    h = _harmonic(edges)
    assert h[1] == 1.0 and h[4] == 0.5
    assert abs(h[3] - 1 / 3) < 1e-9
    assert h[20] == 0.0  # d>0 only: no self term


def test_two_landmarks_sum(spark):
    """Chain 20—1—40: node 1 is adjacent to both landmarks (H=2); each
    landmark sees the other at distance 2 (H=1/2)."""
    edges = spark.createDataFrame([(20, 1), (1, 40)], "src long, dst long")
    h = _harmonic(edges)
    assert h[1] == 2.0
    assert h[20] == h[40] == 0.5


def test_unreachable_component_emits_zero(spark, tmp_path):
    """A component with no landmark contributes harmonic 0.0 rows, not
    missing rows — exercised through the registered query by writing a
    fixture whose trade graph has a landmark-free island."""
    # suppliers 10 (node 20, landmark) and 3 (node 6); customers 1 (node 3)
    # and 7 (node 15).  Orders: landmark island {20,3}; island {6,15} has
    # no supplier ≡ 0 (mod 10) → harmonic 0.0 for both its nodes.
    li = spark.createDataFrame(
        [(1, 10), (2, 3)], "l_orderkey long, l_suppkey long"
    )
    orders = spark.createDataFrame(
        [(1, 1), (2, 7)], "o_orderkey long, o_custkey long"
    )
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    rows = {(r["kind"], r["key"]): r["harmonic"] for r in q_closeness_landmarks(spark, str(tmp_path)).collect()}
    assert rows[("supplier", 10)] == 0.0  # the sole landmark: no other landmark to see
    assert rows[("customer", 1)] == 1.0
    assert rows[("supplier", 3)] == 0.0
    assert rows[("customer", 7)] == 0.0


def test_extra_rounds_invariant(spark, sf_dir):
    """6 rounds already reaches fixpoint on the trade graph: doubling
    the unroll must be bit-identical (the R+1 certificate's local
    twin) — the exact numerator makes H independent of lcm(1..rounds)."""
    edges = trade_edges(spark, sf_dir)
    assert _harmonic(edges, rounds=6) == _harmonic(edges, rounds=12)


def test_bitmask_multiword_crosses_64_landmarks(spark):
    """65 landmarks force a second mask word (ix 64 → wi=1, bit=0) and
    use bit 63 of word 0 — the word-boundary paths of the packed level-set
    state.  Hub-and-spoke closed form: hub node 1 is adjacent to all 65
    landmarks (H(1)=65); every landmark sees the other 64 landmarks at
    distance 2 (the hub is NOT a landmark, so it contributes nothing):
    H(lm)=64/2=32.  A bit counted twice, or in a later round, breaks
    both sums."""
    lms = [20 * (i + 1) for i in range(65)]
    edges = spark.createDataFrame([(lm, 1) for lm in lms], "src long, dst long")
    h = _harmonic(edges)
    assert len(h) == 66
    assert h[1] == 65.0
    assert all(h[lm] == 32.0 for lm in lms)


def test_copartition_arm_bit_identical(spark, sf_dir):
    """The copartition arm (the one the growth probe's 10x graphs need —
    the frontier outgrows the broadcast build) must produce the identical
    harmonic table."""
    edges = trade_edges(spark, sf_dir)
    assert _harmonic(edges) == _harmonic(edges, join_strategy="copartition")


@pytest.mark.parametrize("join_strategy", ["broadcast", "copartition"])
def test_invariant_to_shuffle_partitions(spark, sf_dir, join_strategy, monkeypatch):
    """H must not depend on the session's shuffle partition count, and
    the operator never writes session conf — partition counts are
    explicit repartitions."""
    from pyspark.sql.conf import RuntimeConfig

    edges = trade_edges(spark, sf_dir)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    got = []
    try:
        for parts in (1, 8, 64):
            spark.conf.set(key, str(parts))
            with monkeypatch.context() as m:
                m.setattr(RuntimeConfig, "set", lambda *a: pytest.fail("operator set a conf"))
                got.append(_harmonic(edges, join_strategy=join_strategy))
            assert spark.conf.get(key) == str(parts)
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1] == got[2]
    assert any(v > 0 for v in got[0].values())


@pytest.mark.parametrize("rounds", [0, 25])
def test_rounds_outside_exact_range_rejected(spark, rounds):
    """The BIGINT numerator holds |L|·lcm(1..rounds); past 24 rounds the
    lcm alone is ~2.7e10 and the guard refuses instead of overflowing."""
    edges = spark.createDataFrame([(20, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="rounds"):
        landmark_harmonic(edges, rounds=rounds)
    assert _harmonic(edges, rounds=24) == {20: 0.0, 1: 1.0}


def test_query_job_count_bounded(spark, sf_dir):
    """One q_closeness_landmarks call (plan build + collect) stays within
    two jobs of the level-set loop's count.  A byte envelope cannot catch
    a return to per-round pair tables here (sf0.001 shuffle writes differ
    by less than its band); the job count does."""
    jobs = measured(spark, lambda: q_closeness_landmarks(spark, sf_dir).collect())["jobs"]
    assert jobs <= _CLOSENESS_JOBS_SF0001 + 2, jobs

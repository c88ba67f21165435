"""Reciprocal Rank Fusion (operators/fusion.py)."""

from matrix_multiplication_bigdata_ind_assignments_spark.operators.fusion import (  # noqa: E402
    _dense_ranks,
    _sparse_ranks,
    rrf_fuse,
)


def _lists(spark, dense_rows, sparse_rows):
    d = spark.createDataFrame(dense_rows, "query_id long, neighbor_id long, drk long")
    s = spark.createDataFrame(sparse_rows, "query_id long, neighbor_id long, srk long")
    return d, s


def test_rrf_hand_scores(spark):
    """doc 7 is rank 1 in both lists: score = 2/61.  doc 8 dense-only
    rank 2: 1/62.  doc 9 sparse-only rank 2: 1/62 — ties with doc 8,
    broken by neighbor_id."""
    d, s = _lists(spark, [(0, 7, 1), (0, 8, 2)], [(0, 7, 1), (0, 9, 2)])
    rows = rrf_fuse(d, s).orderBy("rk").collect()
    assert [r["neighbor_id"] for r in rows] == [7, 8, 9]
    assert abs(rows[0]["rrf"] - round(2 / 61, 6)) < 1e-9
    assert rows[1]["rrf"] == rows[2]["rrf"] == round(1 / 62, 6)
    assert [r["rk"] for r in rows] == [1, 2, 3]


def test_rrf_both_lists_beat_single_membership(spark):
    """The k=60 damping makes two-list membership potent: even rank
    40+40 (2/100 = 0.02) outscores a SINGLE rank-1 hit (1/61 ≈ 0.0164)
    — the documented RRF property that consensus beats one retriever's
    enthusiasm; and 10+10 (2/70) tops both."""
    d, s = _lists(spark, [(0, 1, 40), (0, 2, 10)], [(0, 1, 40), (0, 2, 10), (0, 3, 1)])
    rows = {r["neighbor_id"]: r["rrf"] for r in rrf_fuse(d, s).collect()}
    assert rows[2] > rows[1] > rows[3]


def test_rrf_topk_cut(spark):
    """Only topk fused rows come back per query."""
    d, s = _lists(
        spark,
        [(0, i, i) for i in range(1, 30)],
        [(0, i + 100, i) for i in range(1, 30)],
    )
    out = rrf_fuse(d, s, topk=5).collect()
    assert len(out) == 5
    assert all(r["rk"] <= 5 for r in out)


def test_retriever_ranks_are_dense_and_bounded(spark, sf_dir):
    """Both retrievers emit contiguous 1..≤depth ranks per query."""
    for ranks, col in (
        (_dense_ranks(spark, sf_dir, 15), "drk"),
        (_sparse_ranks(spark, sf_dir, 15), "srk"),
    ):
        rows = ranks.collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(r[col])
        assert per_q, "no queries produced ranks"
        for q, rks in per_q.items():
            assert sorted(rks) == list(range(1, len(rks) + 1)), (q, sorted(rks)[:20])
            assert max(rks) <= 15

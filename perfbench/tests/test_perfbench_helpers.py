"""Unit tests for the benchmark's pure helpers.

    python -m pytest perfbench/tests -q
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import compare  # noqa: E402
import inputs  # noqa: E402
import ledger  # noqa: E402
import stats  # noqa: E402


def test_tail_percentile_keeps_ten_samples_beyond():
    vals = list(range(1, 31))  # 30 samples
    value, pct, n = stats.tail_percentile(vals)
    assert n == 30
    assert sum(v > value for v in vals) == 10
    assert value == 20 and pct == pytest.approx(100 * 20 / 30)


def test_tail_percentile_needs_more_than_ten_samples():
    assert stats.tail_percentile(list(range(10))) is None
    value, _, _ = stats.tail_percentile(list(range(11)))
    assert value == 0  # exactly ten samples lie beyond the smallest


def test_tail_ratio_divides_by_each_ops_median():
    samples = {"a": [1.0] * 10 + [3.0], "b": [10.0] * 11}
    value, _, n = stats.tail_ratio(samples)
    assert n == 22
    # 21 ratios of 1.0 and one of 3.0: ten samples beyond index 11 -> 1.0
    assert value == 1.0


def test_geomean_weighs_ops_equally():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    # a 2x gain on one op out of six moves the geomean by 2**(1/6)
    base = [1.0, 1.0, 1.0, 1.0, 1.0, 20.0]
    faster = [0.5] + base[1:]
    assert stats.geomean(base) / stats.geomean(faster) == pytest.approx(2 ** (1 / 6))
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_union_merges_overlaps_and_clips():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(0, 2), (1, 3), (5, 6)], lo=1.5, hi=5.5) == pytest.approx(2.0)
    assert stats.union_length([]) == 0


def test_driver_gap_plus_critical_path_is_wall_time():
    gap, busy = stats.driver_gap((10.0, 20.0), [(11.0, 13.0), (12.0, 14.0), (18.0, 21.0)])
    assert busy == pytest.approx(5.0)  # 11-14 and 18-20 (clipped)
    assert gap + busy == pytest.approx(10.0)


def test_self_time_subtracts_covered_part_once():
    assert stats.self_time((0, 10), [(1, 4), (3, 6), (8, 12)]) == pytest.approx(3.0)
    assert stats.self_time((0, 10), []) == 10


def test_partial_products_count_from_coo():
    # A has column k=0 twice and k=1 once; B has row k=0 three times and
    # row k=2 once: 2·3 partial products through k=0, none through k=1 or 2
    a = ([0, 1, 2], [0, 0, 1], [1.0, 1.0, 1.0])
    b = ([0, 0, 0, 2], [0, 1, 2, 0], [1.0, 1.0, 1.0, 1.0])
    _, partials = check.coo_product(a, b)
    assert partials == 6


def test_coo_product_matches_dense_numpy():
    import numpy as np

    rng = np.random.default_rng(3)
    n = 12
    dense_a = np.where(rng.random((n, n)) < 0.3, rng.integers(1, 9, (n, n)), 0).astype(float)
    dense_b = np.where(rng.random((n, n)) < 0.3, rng.integers(1, 9, (n, n)), 0).astype(float)
    a = np.nonzero(dense_a) + (dense_a[np.nonzero(dense_a)],)
    b = np.nonzero(dense_b) + (dense_b[np.nonzero(dense_b)],)
    got, partials = check.coo_product(a, b)
    touched = (dense_a != 0).astype(int) @ (dense_b != 0).astype(int)
    c = dense_a @ dense_b
    i, j = np.nonzero(touched)
    assert got["nnz"] == len(i)
    assert got["sum_v"] == pytest.approx(c[i, j].sum())
    assert got["sum_iv"] == pytest.approx((i * c[i, j]).sum())
    assert got["sum_jv"] == pytest.approx((j * c[i, j]).sum())
    assert partials == int(touched.sum())


def test_checksum_compare_is_exact_on_nnz_and_relative_on_sums():
    want = {"nnz": 3, "sum_v": 1.0, "sum_iv": 2.0, "sum_jv": 3.0}
    assert check.checksum_matches(dict(want, sum_v=1.0 + 1e-13), want) is None
    assert "nnz" in check.checksum_matches(dict(want, nnz=4), want)
    assert "sum_jv" in check.checksum_matches(dict(want, sum_jv=3.1), want)


def test_normalize_matches_oracle_check_rules():
    rows = [(2, -0.0, None), (1, 0.1 + 0.2, "x")]
    out = check.normalize(rows, ["b", "a", "c"])
    # columns sorted by name: a, b, c
    assert out == ["0.3|1|x", "0|2|NULL"]
    assert check.rows_hash(rows, ["b", "a", "c"]) == check.rows_hash(rows[::-1], ["b", "a", "c"])


def test_relabeling_is_a_bijection_and_seed_zero_is_identity():
    perms = inputs.relabeling(0, {"a": 5})
    assert perms["a"].tolist() == [0, 1, 2, 3, 4]
    perms = inputs.relabeling(7, {"a": 50, "b": 3})
    assert sorted(perms["a"].tolist()) == list(range(50))
    assert perms["a"].tolist() != list(range(50))
    assert inputs.relabeling(7, {"a": 50, "b": 3})["a"].tolist() == perms["a"].tolist()


def test_sql_metric_parsing():
    assert ledger.parse_sql_metric("877 ms") == pytest.approx(0.877)
    assert ledger.parse_sql_metric("19.8 KiB") == pytest.approx(19.8 * 1024)
    assert ledger.parse_sql_metric("1,234") == 1234
    block = "total (min, med, max (stageId: taskId))\n2.5 s (0.1 s, 0.5 s, 1.0 s (stage 3.0: task 7))"
    assert ledger.parse_sql_metric(block) == pytest.approx(2.5)
    assert ledger.parse_time("2026-10-16T17:49:31.259GMT") == pytest.approx(1792172971.259)


def test_compare_lists_counts_that_do_not_repeat():
    a = {"op1": {"sched.jobs": 10, "shuffle.bytes": 500}, "op2": {"sched.jobs": 3}}
    b = {"op1": {"sched.jobs": 10, "shuffle.bytes": 501}, "op3": {"sched.jobs": 1}}
    diffs = compare.diff_counts(a, b)
    assert ("op1", "shuffle.bytes", 500, 501) in diffs
    assert ("op2", "*", "present", "missing") in diffs
    assert ("op3", "*", "missing", "present") in diffs
    assert not any(d[1] == "sched.jobs" for d in diffs)


def test_spread_is_iqr_over_median():
    assert compare.spread([1.0, 1.0, 1.0, 1.0]) == 0
    vals = [9.0, 10.0, 10.0, 11.0]
    q1, _, q3 = stats.quartiles(vals)
    assert compare.spread(vals) == pytest.approx((q3 - q1) / 10.0)
    assert not math.isnan(compare.spread([5.0]))

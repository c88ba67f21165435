"""Misra–Gries heavy hitters (operators/heavyhitters.py)."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.operators.heavyhitters import (  # noqa: E402
    _mg_summaries,
    heavy_hitters,
)


def _exact_heavy(tokens, k):
    c = Counter(tokens)
    thr = len(tokens) // k
    return {(w, n) for w, n in c.items() if n > thr}


def _zipf_tokens():
    """Zipf-ish synthetic stream: token t{i} appears ~3000/i times —
    a handful of heavy keys over a long tail of ~1200 distinct."""
    toks = []
    for i in range(1, 1200):
        toks.extend([f"t{i}"] * (3000 // i))
    return toks


@pytest.mark.parametrize("k,counters", [(20, 80), (50, 200)])
def test_heavy_hitters_matches_exact_on_skew(spark, k, counters):
    toks = _zipf_tokens()
    df = spark.createDataFrame([(t,) for t in toks], "w string")
    got = {(r["word"], r["cnt"]) for r in heavy_hitters(spark, df, k, counters).collect()}
    assert got == _exact_heavy(toks, k)


def test_heavy_hitters_adversarial_partitioning(spark):
    """Scatter the stream across 16 partitions by round-robin so every
    heavy key is spread thin (each partition sees only a slice of its
    mass) — the per-partition summaries must still jointly retain every
    true heavy hitter (the mergeable-summaries guarantee, not luck of
    co-location)."""
    toks = _zipf_tokens()
    df = spark.createDataFrame([(t,) for t in toks], "w string").repartition(16)
    got = {(r["word"], r["cnt"]) for r in heavy_hitters(spark, df, 25, 100).collect()}
    assert got == _exact_heavy(toks, 25)


def test_mg_kernel_decrements_and_bounds_memory():
    """Drive the kernel directly with more distinct keys than counters:
    the summary must stay ≤ m entries (the decrement path runs) and must
    still contain the planted heavy key."""
    import pandas as pd

    m = 50
    batches = []
    for b in range(10):
        ws = ["hot"] * 200 + [f"u{b}_{i}" for i in range(400)]  # 400 fresh singletons/batch
        batches.append(pd.DataFrame({"w": ws}))
    out = list(_mg_summaries(m)(iter(batches)))
    assert len(out) == 1
    cands = set(out[0]["w"].dropna())
    assert len(cands) <= m
    assert "hot" in cands
    # the fused total row carries the partition's exact size
    totals = out[0][out[0]["w"].isna()]["pc"]
    assert list(totals) == [10 * 600]


def test_heavy_hitters_no_false_positives(spark):
    """A uniform stream (nothing above n/k) must return the empty set —
    the exact verify pass kills every sketch false positive."""
    toks = [f"u{i}" for i in range(500)] * 4  # every key has freq 4 = n/500 << n/20
    df = spark.createDataFrame([(t,) for t in toks], "w string").repartition(8)
    assert heavy_hitters(spark, df, 20, 80).count() == 0


def test_heavy_hitters_rejects_no_headroom(spark):
    df = spark.createDataFrame([("a",)], "w string")
    with pytest.raises(ValueError, match="counters"):
        heavy_hitters(spark, df, 100, 100)

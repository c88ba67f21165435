"""Prefix-filtered exact set-similarity join (operators/setsim.py) and
the k-anonymity lattice audit.

The prefix filter's whole value proposition is "same answer, fewer
candidates" — so the tests here are (a) equality against the UNFILTERED
full-inverted-index route on real fixtures, (b) the integer ceiling in
the prefix bound vs exact rational arithmetic for every size class, and
(c) that the filter actually prunes (otherwise it's dead weight)."""

import math
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.operators.setsim import (  # noqa: E402
    _T_DEN,
    _T_NUM,
    jaccard_prefix_pairs,
    k_anonymity_profile,
)
from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import _shingle_rows  # noqa: E402
from matrix_multiplication_bigdata_ind_assignments_spark.sources import load  # noqa: E402

from conftest import rows_set  # noqa: E402


def _full_join_pairs(spark, sf_dir):
    """Reference result through a DIFFERENT plan than the operator's:
    the full shared-shingle inverted index (no prefix, no length filter),
    thresholded with the same exact integer compare."""
    sh = _shingle_rows(load(spark, sf_dir, "documents")).select(
        "doc_id", F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long").alias("h")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    union = F.col("sza") + F.col("szb") - F.col("i")
    return (
        inter.join(sa, "da")
        .join(sb, "db")
        .where(F.lit(_T_DEN) * F.col("i") >= F.lit(_T_NUM) * union)
        .select("da", "db", F.round(F.col("i") / union, 6).alias("jaccard"))
    )


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_prefix_route_matches_full_join(spark, sf):
    """Losslessness on real fixtures: the prefix-filtered join returns
    EXACTLY the pairs of the unfiltered exact join — no pair lost to the
    prefix/length filters, none invented, identical jaccard values."""
    d = load(spark, sf, "documents")
    got = rows_set(jaccard_prefix_pairs(d))
    want = rows_set(_full_join_pairs(spark, sf))
    assert got == want
    assert len(got) > 0  # the fixtures plant high-jaccard near-dups


def test_prefix_bound_matches_exact_ceiling(spark):
    """The in-plan integer prefix bound sz − ceil(t·sz) + 1 must equal
    exact rational arithmetic for every size 1..300.  The float route
    (ceil(0.7·sz)) is WRONG at e.g. sz=10 (0.7*10 == 7.000000000000001,
    ceil → 8, prefix one short → true pairs can be missed); this pins
    the DIV form against math.ceil over exact fractions."""
    df = spark.range(1, 301).select(
        F.col("id").alias("sz"),
        F.expr(f"id - (({_T_NUM} * id + {_T_DEN - 1}) DIV {_T_DEN}) + 1").alias("p"),
    )
    for sz, p in df.collect():
        want = sz - math.ceil(Fraction(_T_NUM * sz, _T_DEN)) + 1
        assert p == want, (sz, p, want)


def test_prefix_filter_actually_prunes(spark):
    """The index must hold well under half the full shingle volume at
    t=0.7 (analytically ~30% + short-doc rounding) — otherwise the
    operator is the full join wearing a costume."""
    d = load(spark, "/root/testdata/sf0.001", "documents")
    sh = _shingle_rows(d).select(
        "doc_id", F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long").alias("h")
    )
    total = sh.count()
    # rebuild the operator's prefix selection stand-alone
    freq = sh.groupBy("h").agg(F.count(F.lit(1)).alias("f"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    from pyspark.sql.window import Window

    rn = Window.partitionBy("doc_id").orderBy("f", "h")
    kept = (
        sh.join(freq, "h")
        .withColumn("rn", F.row_number().over(rn))
        .join(sizes, "doc_id")
        .where(F.col("rn") <= F.expr(f"sz - (({_T_NUM} * sz + {_T_DEN - 1}) DIV {_T_DEN}) + 1"))
        .count()
    )
    assert kept < 0.5 * total, (kept, total)


def test_prefix_synthetic_dup_and_disjoint(spark):
    """Planted semantics: an exact duplicate pair is found at jaccard 1.0;
    a disjoint document pairs with nothing."""
    d = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "completely different words about spark catalyst plans here"),
        ],
        ["doc_id", "text"],
    )
    got = rows_set(jaccard_prefix_pairs(d))
    assert got == [(1, 2, 1.0)]


def test_k_anonymity_hand_computed(spark):
    """Tiny hand-checkable lattice: 2 types × 2 days (same week), known
    distinct-user counts per cell at every generalization level."""
    rows = [
        # (event_type, wk, dy, user_id) — wk/dy as date strings for clarity
        ("a", "2024-01-01", "2024-01-01", 1),
        ("a", "2024-01-01", "2024-01-01", 2),
        ("a", "2024-01-01", "2024-01-02", 1),
        ("b", "2024-01-01", "2024-01-01", 3),
    ]
    e = spark.createDataFrame(rows, ["event_type", "wk", "dy", "user_id"])
    got = {r["qi_level"]: r.asDict() for r in k_anonymity_profile(e, k=2).collect()}
    assert set(got) == {"type_week_day", "type_week", "type", "all"}
    # finest level: cells (a,d1)=2 users, (a,d2)=1, (b,d1)=1 → 2 violating
    f = got["type_week_day"]
    assert (f["n_groups"], f["n_rows"]) == (3, 4)
    assert (f["anon_violating_groups"], f["anon_violating_rows"]) == (2, 2)
    assert f["min_group_users"] == 1
    # type level: a→2 users (3 rows), b→1 user (1 row) → b violates
    t = got["type"]
    assert (t["n_groups"], t["anon_violating_groups"], t["anon_violating_rows"]) == (2, 1, 1)
    # grand total: one group of 3 users, k=2 satisfied
    g = got["all"]
    assert (g["n_groups"], g["anon_violating_groups"], g["min_group_users"]) == (1, 0, 3)


def test_k_anonymity_fixture_invariants(spark, sf_dir):
    """Structural invariants on the real fixture: every level partitions
    ALL events (n_rows constant), coarsening never shrinks the smallest
    group (each coarse cell is a union of fine cells), and group counts
    fall monotonically up the lattice."""
    from matrix_multiplication_bigdata_ind_assignments_spark.registry import REGISTRY

    prof = {r["qi_level"]: r.asDict() for r in REGISTRY["q_k_anonymity"].fn(spark, sf_dir).collect()}
    order = ["type_week_day", "type_week", "type", "all"]
    assert list(prof) == order or set(prof) == set(order)
    n_rows = {p["n_rows"] for p in prof.values()}
    assert len(n_rows) == 1
    for fine, coarse in zip(order, order[1:]):
        assert prof[coarse]["n_groups"] <= prof[fine]["n_groups"]
        assert prof[coarse]["min_group_users"] >= prof[fine]["min_group_users"]

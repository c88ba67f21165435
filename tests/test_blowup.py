"""Table-level blow-up (tools/blowup.py) and one in-process probe row
(tools/probe.py): the arms keep the invariants the scale probes read
their claims from."""

import os
import sys

import pytest
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import (
    _trade_seeds,
    trade_edges,
)
from matrix_multiplication_bigdata_ind_assignments_spark.sources.io import TABLES, load

from conftest import rows_set

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.fixture(scope="module")
def tools():
    sys.path.insert(0, TOOLS)
    try:
        import blowup
        import probe

        yield blowup, probe
    finally:
        sys.path.remove(TOOLS)


@pytest.fixture(scope="module")
def blown(spark, sf_dir, tools, tmp_path_factory):
    """arm, k -> a written blow-up of the fixture dir (written once)."""
    blowup = tools[0]
    dirs = {}

    def get(arm, k):
        if (arm, k) not in dirs:
            out = str(tmp_path_factory.mktemp(f"{arm}{k}"))
            dirs[arm, k] = blowup.write(spark, sf_dir, out, arm, k)
        return dirs[arm, k]

    return get


def test_disjoint_copies_every_keyed_table(spark, sf_dir, tools, blown):
    blowup = tools[0]
    out = blown("disjoint", 3)
    for table in TABLES:
        base, big = load(spark, sf_dir, table), load(spark, out, table)
        if table not in blowup.KEYS:
            assert rows_set(big) == rows_set(base), table
            continue
        assert big.count() == 3 * base.count(), table
        for col in blowup.KEYS[table]:
            # copies are shifts of one key set, so 3× distinct keys means
            # no two copies' key ranges overlap
            n_base = base.select(col).distinct().count()
            assert big.select(col).distinct().count() == 3 * n_base, (table, col)


def test_disjoint_trade_graph_and_seeds_triple(spark, sf_dir, blown):
    out = blown("disjoint", 3)
    base_edges, big_edges = trade_edges(spark, sf_dir), trade_edges(spark, out)
    assert big_edges.count() == 3 * base_edges.count()
    # offsets are multiples of 100, so the node % 20 seed rule selects
    # each copy's image of the base seed set
    assert _trade_seeds(big_edges).count() == 3 * _trade_seeds(base_edges).count()


def test_disjoint_cosupply_pack_fits_at_k100(spark, sf_dir, tools):
    """cosupply_edges packs two suppkeys as u<<32 | v into a signed long:
    every suppkey must stay below 2^31 at the largest probed k."""
    blowup = tools[0]
    top = blowup.copies(spark, sf_dir, "lineitem", "disjoint", 100).agg(F.max("l_suppkey"))
    assert top.first()[0] < 2**31


def test_rotated_keeps_node_sets_and_grows_trade_edges(spark, sf_dir, blown):
    out = blown("rotated", 3)
    for table, col in (("supplier", "s_suppkey"), ("customer", "c_custkey")):
        keys = {r[0] for r in load(spark, sf_dir, table).select(col).collect()}
        assert {r[0] for r in load(spark, out, table).select(col).collect()} == keys
    base_edges, big_edges = trade_edges(spark, sf_dir), trade_edges(spark, out)
    nodes = lambda e: {r[0] for r in e.select("src").union(e.select("dst")).distinct().collect()}  # noqa: E731
    assert nodes(big_edges) <= nodes(base_edges)
    assert big_edges.count() > base_edges.count()


def test_skew_plants_the_specified_share(spark, sf_dir, tools):
    blowup = tools[0]
    share = blowup.SKEW_LT / blowup.SKEW_MOD
    for table, (col, value) in blowup.SKEW.items():
        df = blowup.copies(spark, sf_dir, table, "skew", 2)
        key = next(iter(blowup.KEYS[table]))
        hot = F.col(key) % blowup.SKEW_MOD < blowup.SKEW_LT
        n, n_hot, n_planted = df.agg(
            F.count(F.lit(1)),
            F.count(F.when(hot, 1)),
            F.count(F.when(hot & (F.col(col) == F.lit(value)), 1)),
        ).first()
        assert n_planted == n_hot, table  # every hot row carries the planted value
        if table != "lineitem":  # dense own keys: exactly the share
            assert n_hot * blowup.SKEW_MOD == blowup.SKEW_LT * n, table
        else:  # whole orders are hot, so lineitems are hot about as often
            assert abs(n_hot / n - share) < 0.05
    docs = blowup.copies(spark, sf_dir, "documents", "skew", 2)
    assert docs.where(F.col("text") == blowup.SKEW_TEMPLATE).select("text").distinct().count() == 1


@pytest.mark.parametrize("query", ["q_bfs_hops", "q_dedup_jaccard_prefix"])
def test_probe_row_doubles_output_rows(spark, tools, blown, query):
    probe = tools[1]
    one = probe.probe_row(spark, query, blown("disjoint", 1))
    two = probe.probe_row(spark, query, blown("disjoint", 2))
    assert one["rows"] > 0 and two["rows"] == 2 * one["rows"]
    assert one["jobs"] > 0 and two["shuffle_mb"] > one["shuffle_mb"] > 0

"""Distributed two-pass scan (functions/scan.py) and its scalable twins
(VERDICT r11 item 2): the window forms and the scan forms must be
bit-identical on every fixture, and the closed-form ntile must match
SQL ntile on adversarial (N, b) shapes."""

import pytest
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark import registry  # noqa: E402
from matrix_multiplication_bigdata_ind_assignments_spark.functions.scan import ntile_of_rank, two_pass_scan  # noqa: E402

registry._load_all()
REGISTRY = registry.REGISTRY

from conftest import rows_set  # noqa: E402

ALL_SF = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

TWINS = [
    "q_pareto_abc",
    "q_rfm_segments",
    "q_heaps_fit",
    "q_classifier_auc",
    "q_peak_concurrency",
    "q_skyline_2d",
]


@pytest.mark.parametrize("sf", ALL_SF)
@pytest.mark.parametrize("qname", TWINS)
def test_twin_equivalence(spark, qname, sf):
    """Every window-form query and its distributed-scan twin must be
    bit-identical on every fixture (same schema, same rows)."""
    base_df = REGISTRY[qname].fn(spark, sf)
    twin_df = REGISTRY[f"{qname}_scalable"].fn(spark, sf)
    assert twin_df.columns == base_df.columns
    assert rows_set(twin_df) == rows_set(base_df)


def test_ntile_closed_form_matches_sql_ntile():
    """Every (N, b) shape with N up to 3 buckets' worth of remainder
    patterns, vs DuckDB's SQL-standard ntile — including N < b, N = b,
    and every remainder class.  The evenly-spread floor((rn-1)*b/N)+1
    approximation fails at (7, 5) (rn=4 lands in bucket 3, not 2); the
    closed form must not."""
    import duckdb

    con = duckdb.connect()
    for n in list(range(1, 26)) + [97, 100]:
        for b in (2, 3, 5, 7):
            want = [
                r[0]
                for r in con.execute(
                    f"SELECT ntile({b}) OVER (ORDER BY x) FROM range({n}) t(x) ORDER BY x"
                ).fetchall()
            ]
            expr = ntile_of_rank("rn", n, b)
            got = [
                r[0]
                for r in con.execute(
                    f"SELECT CAST({expr.replace(' DIV ', ' // ')} AS INTEGER) AS v "
                    f"FROM (SELECT x + 1 AS rn FROM range({n}) t(x)) ORDER BY rn"
                ).fetchall()
            ]
            assert got == want, (n, b)


def test_two_pass_scan_matches_window(spark):
    """Scan row_number + inclusive/exclusive cumsum == the global-window
    forms on a skewed synthetic table, across partition counts that
    force empty and tiny range partitions."""
    from pyspark.sql.window import Window

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") * 37 % 101).cast("long").alias("v")
    )
    order = [F.desc("v"), F.asc("id")]
    w = Window.orderBy(*order)
    expect = rows_set(
        df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("c_in"),
            F.coalesce(
                F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
            ).alias("c_ex"),
        )
    )
    for n_parts in (1, 3, 64):
        inc, n, tot = two_pass_scan(
            df, order, sum_col="v", cum_col="c_in", inclusive=True,
            rn_col="rn", n_parts=n_parts,
        )
        exc, _, _ = two_pass_scan(
            df, order, sum_col="v", cum_col="c_ex", inclusive=False, n_parts=n_parts
        )
        assert n == 1000
        assert tot == df.agg(F.sum("v")).collect()[0][0]
        got = rows_set(
            inc.join(exc.select("id", "c_ex"), "id").select("id", "rn", "c_in", "c_ex")
        )
        assert got == expect, n_parts


def test_two_pass_scan_empty_and_null_edges(spark):
    """Edge cases the offsets path must survive: an empty input (dummy
    offsets row, empty result), and a running max whose leading
    partition is all-NULL (greatest() must pass the base through)."""
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType()), StructField("v", LongType())])
    empty = spark.createDataFrame([], schema)
    out, n, tot = two_pass_scan(
        empty, [F.asc("k")], sum_col="v", cum_col="c", rn_col="rn"
    )
    assert n == 0 and tot == 0 and out.count() == 0

    # max col NULL in the first range partition only: rows 0..499 NULL,
    # 500.. carry values; the exclusive prefix max at row i>500 must see
    # the true max of 500..i-1 and rows <=500 must be NULL
    df = spark.range(0, 1000).select(
        "id", F.when(F.col("id") >= 500, F.col("id") % 97).alias("m")
    )
    got, _, _ = two_pass_scan(
        df, [F.asc("id")], inclusive=False, extra_maxes=[("m", "pm")], n_parts=8
    )
    rows = {r["id"]: r["pm"] for r in got.collect()}
    run = None
    for i in range(1000):
        assert rows[i] == run, (i, rows[i], run)
        v = i % 97 if i >= 500 else None
        if v is not None:
            run = v if run is None else max(run, v)

import os
import sys

import pytest

# the checkout this file sits in, so a copy of the repo tests its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    # retainedStages raised for the measurement windows: with the default
    # 1000, a full suite run fills the status store and an eviction
    # landing inside a window silently undercounts it (same conf as
    # bench.py)
    s = get_spark(
        "tests",
        cpus=8,
        extra_conf={
            "spark.ui.retainedStages": "40000",
            "spark.ui.retainedJobs": "40000",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def rows_set(df):
    """Order-insensitive canonical form of a DataFrame result."""
    return sorted(tuple(r) for r in df.collect())


def measured(spark, thunk):
    """``metrics.measure(spark, thunk)``; the test skips on a Spark build
    whose status store cannot be read."""
    from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import (
        ShuffleMetricsUnavailable,
        measure,
    )

    try:
        return measure(spark, thunk)
    except ShuffleMetricsUnavailable as e:
        pytest.skip(f"shuffle metrics unavailable on this Spark build: {e}")

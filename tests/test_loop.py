"""The loop scaffolding in functions/loop.py: the checkpoint-riding
fixpoint probe, the one session-conf pin, and the package-wide rule that
nothing else writes session conf."""

import os

import pytest
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.functions.loop import (
    PARTITIONS,
    pinned,
    settle,
)
from matrix_multiplication_bigdata_ind_assignments_spark.operators import dedup as D

from conftest import measured

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "matrix_multiplication_bigdata_ind_assignments_spark",
)
_KEY = "spark.sql.shuffle.partitions"


def test_settle_counts_inside_the_checkpoint_job(spark):
    """The changed count comes from the checkpoint's own job: a frame with
    no shuffle settles in exactly one job."""
    df = spark.range(100)
    out = {}
    jobs = measured(spark, lambda: out.update(r=settle(df, F.col("id") % 3 == 0)))["jobs"]
    frame, n = out["r"]
    assert jobs == 1
    assert n == 34
    assert sorted(r["id"] for r in frame.collect()) == list(range(100))


def test_pinned_sets_and_restores(spark):
    """Inside the block the session count is PARTITIONS; the session's own
    value comes back on a normal exit and on an exception."""
    old = spark.conf.get(_KEY)
    assert old != str(PARTITIONS)  # else the restore would prove nothing
    with pinned(spark):
        assert spark.conf.get(_KEY) == str(PARTITIONS)
    assert spark.conf.get(_KEY) == old
    with pytest.raises(RuntimeError, match="inside"):
        with pinned(spark):
            raise RuntimeError("inside")
    assert spark.conf.get(_KEY) == old


def _package_sources():
    for root, _, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, _PKG), fh.read()


def test_only_the_loop_module_writes_session_conf():
    """Besides the time-zone write in sources/io.py, ``pinned`` is the one
    writer of session conf, and the loop partition count is no longer read
    from the environment."""
    writers = {rel for rel, src in _package_sources() if "spark.conf.set(" in src}
    assert writers == {os.path.join("functions", "loop.py"), os.path.join("sources", "io.py")}
    gone = (
        "MMBD_CC_SHUFFLE_PARTITIONS",
        "MMBD_BPE_SHUFFLE_PARTITIONS",
        "MMBD_STREAM_SHUFFLE_PARTITIONS",
        "MMBD_BPE_CKPT_EVERY",
        "loop_partitions",
    )
    hits = [(rel, name) for rel, src in _package_sources() for name in gone if name in src]
    assert hits == []


# jobs one q_dedup_components_star call (plan build + collect) launches
# at sf0.001 once the MinHash hot-bucket probe is memoized: the pair
# checkpoint, one checkpoint per contraction round (each exchange stage
# is its own job under AQE) with the stability probe riding it as an
# Observation, then the result.
_STAR_JOBS_SF0001 = 25


def test_star_query_job_count(spark, sf_dir):
    D.q_dedup_minhash(spark, sf_dir)  # memoizes the hot-bucket probe
    jobs = measured(spark, lambda: D.q_dedup_components_star(spark, sf_dir).collect())["jobs"]
    assert jobs <= _STAR_JOBS_SF0001, jobs

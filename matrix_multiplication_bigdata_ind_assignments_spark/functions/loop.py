"""Scaffolding shared by the iterative operators (graph, closeness, hits,
dedup's star contraction, BPE training, streaming state): the partition
count of their explicit clusterings, the fixpoint probe that rides each
round's checkpoint, and the one place that writes session conf.

Sizing rule for ``PARTITIONS``: a loop's resident frames are its state,
about |V| rows, and its symmetric edge list, about 2|E| rows.  Both are
small next to the inputs they are derived from, so the count is sized
for those frames, not for the scans: every round pays one task per
partition, and eight keeps that cost small on the fixtures.  At scale,
size it so one partition holds about 256 MB of the larger frame.
Raising the value is a code change, checked by the loop queries' job
and shuffle-byte counts, because it moves every loop query's plan at
once."""

from __future__ import annotations

import contextlib

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

PARTITIONS = 8


def settle(df: DataFrame, changed: Column) -> tuple[DataFrame, int]:
    """``df`` eagerly local-checkpointed, and the number of its rows where
    ``changed`` holds.  The count is an Observation filled by the
    checkpoint's own job, so the fixpoint probe costs no job of its own.
    Swap the local checkpoint for a reliable one on a cluster that can
    lose executors."""
    obs = Observation()
    df = df.observe(obs, F.count_if(changed).alias("n")).localCheckpoint(eager=True)
    return df, obs.get["n"]


@contextlib.contextmanager
def pinned(spark: SparkSession):
    """``spark.sql.shuffle.partitions`` set to ``PARTITIONS`` for the
    block; the session's own value is restored on exit, exception or not.
    Only for exchanges the planner sizes from the session count and no
    explicit ``repartition`` can reach: each call site says why it needs
    the pin."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, old)

"""Execution metrics: one measurement window over Spark's AppStatusStore,
plus executor peak memory.

``measure(spark, thunk)`` is the one place that sets a job group or reads
stage totals.  Its invariants:

- **What a window charges.**  The window opens at the highest stage id
  in the store and charges every stage whose id is above it: stage ids
  grow monotonically, so those are exactly the stages submitted after
  the window opened.  Each attempt of a stage is charged.  Jobs are
  counted by the window's own job group.  Shuffle bytes are a property
  of the physical plan and the data, not of box load, so they are the
  deterministic signal that wall time is not.
- **Both edges are settled.**  The AppStatusListener consumes events on
  an asynchronous bus that can lag an action's return by a beat.  An
  unsettled opening edge could miss a stage of earlier work that is
  still being registered and charge it to the window; an unsettled
  closing edge would undercount work that just finished.  Each edge is
  polled until two consecutive reads agree.
- **One path, UI on or off.**  The store is populated whether or not
  ``spark.ui.enabled`` is set, and it is read through its KVStore
  ``stageId`` index only: the opening edge reads one row of the reverse
  index, the closing edge starts its scan above the opening id, so the
  py4j cost is O(stages in the window).  ``statusStore()`` is
  ``private[spark]`` in Scala (public in bytecode); if this build's store
  has another shape, the call raises ``ShuffleMetricsUnavailable``.
- **Eviction.**  The store keeps at most ``spark.ui.retainedStages``
  stages (default 1000).  A stage of the window evicted before the
  closing edge is not charged, so sessions that measure long runs raise
  that limit (bench, the probe and the tests do).
- **Concurrent threads.**  The window charges any stage another thread
  runs inside it, and the job count covers only this thread's jobs.
  Measure from one thread at a time.

``executor_peak_mb`` reads the REST API instead: only REST exposes the
executors' peak memory, so it needs the UI on.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import SparkSession

_FIELDS = {
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_memory_bytes": "memoryBytesSpilled",
    "spill_disk_bytes": "diskBytesSpilled",
}


class ShuffleMetricsUnavailable(RuntimeError):
    """The AppStatusStore could not be read on this Spark build (the
    ``private[spark]`` accessors changed shape).  Callers that merely
    observe metrics degrade (the tests skip); nothing correctness-bearing
    depends on this module."""


def _stages(spark: SparkSession):
    """The store's stages as a KVStore view ordered by stage id."""
    sc = spark.sparkContext
    cls = sc._jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
    return sc._jsc.sc().statusStore().store().view(cls).index("stageId")


def _top_stage_id(spark: SparkSession) -> int:
    it = _stages(spark).reverse().max(1).closeableIterator()
    try:
        return it.next().info().stageId() if it.hasNext() else -1
    finally:
        it.close()


def _totals_above(spark: SparkSession, stage_id: int) -> dict[str, int]:
    tot = dict.fromkeys(_FIELDS, 0)
    it = _stages(spark).first(stage_id + 1).closeableIterator()
    try:
        while it.hasNext():
            info = it.next().info()
            for k, meth in _FIELDS.items():
                tot[k] += getattr(info, meth)()
    finally:
        it.close()
    return tot


def _settled(read):
    """``read()`` polled until two consecutive results agree (at most 2 s)."""
    try:
        val = read()
        for _ in range(20):
            time.sleep(0.1)
            nxt = read()
            if nxt == val:
                break
            val = nxt
        return val
    except Exception as e:  # py4j reflection against private[spark] API
        raise ShuffleMetricsUnavailable(
            "AppStatusStore access failed on this Spark build (the stageId "
            "index of StageDataWrapper is pinned against pyspark 4.1.x)"
        ) from e


def measure(spark: SparkSession, thunk) -> dict:
    """Run ``thunk()`` in one measurement window and return its
    ``wall_s``, ``jobs``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
    ``spill_memory_bytes`` and ``spill_disk_bytes``.

    The window charges the stages submitted after it opens and the jobs
    of its own job group (see the module docstring; a stage another
    thread runs inside the window is charged too).  ``wall_s`` times
    ``thunk()`` alone; the settling of both edges lies outside it.  The
    job group is cleared on exit, also when ``thunk()`` raises, whose
    error propagates unchanged."""
    sc = spark.sparkContext
    group = f"measure-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        opening = _settled(lambda: _top_stage_id(spark))
        t0 = time.perf_counter()
        thunk()
        wall_s = time.perf_counter() - t0
        jobs, totals = _settled(
            lambda: (
                len(sc.statusTracker().getJobIdsForGroup(group)),
                _totals_above(spark, opening),
            )
        )
    finally:
        sc._jsc.clearJobGroup()
    return {"wall_s": wall_s, "jobs": jobs, **totals}


def executor_peak_mb(spark: SparkSession) -> float | None:
    """Peak executor memory (JVM heap + off-heap + Python-worker RSS) in
    MB via the Spark REST metrics API — the per-node resource reporting
    the reference tracks per process (ref `Stage 1/C Implementation/
    mm_baseline.c:54-84`, `MMBaseline.java:44-60`) and the Stage-4 PDF
    spec asks for.  Needs spark.ui.enabled=true (+
    spark.executor.processTreeMetrics.enabled for the Python RSS term);
    returns None when the UI is off or the poll fails, so callers can
    degrade to a NULL column instead of breaking the run."""
    try:
        import json as _json
        import urllib.request

        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/executors", timeout=5
        ) as r:
            execs = _json.load(r)
        peak = 0
        for e in execs:
            pm = e.get("peakMemoryMetrics") or {}
            jvm = pm.get("JVMHeapMemory", 0) + pm.get("JVMOffHeapMemory", 0)
            py = pm.get("ProcessTreePythonRSSBytes", 0)
            peak = max(peak, jvm + py)
        return round(peak / 1024 / 1024, 1) if peak else None
    except Exception:
        return None

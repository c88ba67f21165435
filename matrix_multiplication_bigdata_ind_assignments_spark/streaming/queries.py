"""Structured Streaming over the events table (SURVEY.md §2.3 "Streaming").

Each query replays the events parquet as a stream (maxFilesPerTrigger-less
availableNow run → processes everything, then stops) into a memory sink and
returns the sink table.  Every windowed query has a batch-equivalent SQL
oracle (tumbling/sliding = bucket GROUP BY; session = gaps-and-islands), so
streaming execution itself is validated against DuckDB — plus the
batch-vs-stream equivalence tests in tests/test_streaming.py.

Window boundaries are emitted as epoch seconds (BIGINT) to stay
engine-neutral.  Watermarks: the fixture replay is in-order, so nothing is
dropped; the watermark demo query exists to exercise the state-eviction
path (rows-only).
"""

from __future__ import annotations

import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.loop import pinned
from ..functions.numeric import dec_sum, sql_dec_sum
from ..operators import aggregates as _AGG
from ..operators.dedup import _SQL_MINHASH_BANDS_CTES
from ..registry import REGISTRY as _REG, register
from ..sources.io import normalize_event_ts

_sink_counter = itertools.count()

# Epoch-state memo for the incremental-dedup history indexes (content-hash
# set / MinHash band index): a real ingest builds these once per epoch and
# serves every arriving batch from them — materialized localCheckpoints
# held for the session, the same policy as the ANN index memos
# (operators/similarity.py)
_EPOCH_INDEX: dict = {}


# Every stream here starts under ``pinned``: the state-store partition
# count is bound at .start() from spark.sql.shuffle.partitions, and every
# micro-batch pays per-partition state machinery, so 64 partitions of
# near-empty state dominate small replays (sf0.1 tumbling: 1.6 s → 0.8 s
# at 8).  State partitions, unlike shuffle partitions, cannot change
# across restarts of the same checkpointed query.


def _await_batches(q, target_batch_id: int, timeout_s: float = 120.0) -> None:
    """Block until the streaming query has committed ``target_batch_id``.

    Bounded replacement for a bare ``while True: sleep`` poll: every
    iteration re-raises the stream's own error if it died (otherwise
    ``lastProgress`` freezes and the poll would spin forever), and a hard
    deadline turns a stalled source into a loud failure instead of a hung
    driver."""
    import time as _t

    deadline = _t.monotonic() + timeout_s
    while True:
        exc = q.exception()
        if exc is not None:
            raise exc
        p = q.lastProgress
        if p is not None and p["batchId"] is not None and p["batchId"] >= target_batch_id:
            return
        if not q.isActive:
            exc = q.exception()  # the stream may have died since the check above
            if exc is not None:
                raise exc
            raise RuntimeError(
                f"streaming query {q.name!r} stopped before batch {target_batch_id}"
            )
        if _t.monotonic() > deadline:
            raise TimeoutError(
                f"streaming query {q.name!r} did not reach batch "
                f"{target_batch_id} within {timeout_s}s"
            )
        _t.sleep(0.05)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # file-stream sources need a directory: point at sf_dir and glob-filter
    # down to the events file
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


#: stateOperators metrics of the most recently drained stream: the final
#: progress event carrying state metrics, so callers (tests/test_streaming.py
#: envelopes; SCALING.md "Streaming state envelopes") can pin
#: numRowsTotal/memoryUsedBytes the way batch writers pin shuffle bytes.
#: Capture-only — no behavior change to the drain itself.
_LAST_STATE: dict = {"sink": None, "ops": []}


def last_state_metrics() -> list[dict]:
    """The ``stateOperators`` list from the most recent `_run_to_memory`
    drain's final state-bearing progress event (empty for stateless
    streams).  Each entry carries the Structured Streaming state-store
    accounting: ``numRowsTotal``, ``memoryUsedBytes``, operator name."""
    return _LAST_STATE["ops"]


def _run_to_memory(stream_df: DataFrame, mode: str = "complete") -> DataFrame:
    """Drain an availableNow trigger into a uniquely-named memory sink and
    return the materialized result."""
    spark = stream_df.sparkSession
    name = f"mmbd_sink_{next(_sink_counter)}"
    with pinned(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _LAST_STATE["sink"] = name
    _LAST_STATE["ops"] = []
    for p in reversed(q.recentProgress):
        ops = (p or {}).get("stateOperators") or []
        if ops:
            _LAST_STATE["ops"] = ops
            break
    return spark.table(name)


@register(
    "q_stream_tumbling",
    oracle=f"""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       CAST(count(*) AS BIGINT) AS n,
       {sql_dec_sum("value", 6)} AS total_value
FROM events GROUP BY hour_start
""",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation, executed as a real stream."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value", 6).alias("total_value"))
        .select(F.unix_timestamp("w.start").alias("hour_start"), "n", "total_value")
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_sliding",
    oracle="""
SELECT ws AS window_start, CAST(count(*) AS BIGINT) AS n
FROM (
  SELECT CAST((FLOOR(epoch(ts) / 900) - s.s) * 900 AS BIGINT) AS ws, epoch(ts) AS es
  FROM events, (SELECT unnest(range(4)) AS s) s
)
WHERE es >= ws AND es < ws + 3600
GROUP BY ws
""",
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window every 15 minutes (each event lands in 4
    overlapping windows), executed as a real stream."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "n")
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_session",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged
)
SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start, CAST(count(*) AS BIGINT) AS n
FROM sessions GROUP BY user_id, sess_id
""",
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows (30-minute gap), executed as a real stream
    with session_window; the oracle is the batch gaps-and-islands
    formulation — same semantics, SQL-expressible."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.unix_timestamp("w.start").alias("session_start"), "n")
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_dedup",
    oracle="""
SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup: the stream is unioned with itself (every
    event arrives twice), dropDuplicates('event_id') must reduce it back to
    exactly-once — checked against batch count(distinct)."""
    s1 = _stream_events(spark, sf_dir)
    s2 = _stream_events(spark, sf_dir)
    deduped = s1.unionByName(s2).dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_foreach_batch",
    oracle=f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       {sql_dec_sum("value", 2)} AS total
FROM events GROUP BY event_type
""",
)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands in a parquet directory
    keyed by batchId (idempotent on retry — the exactly-once pattern for
    arbitrary sinks).  After the availableNow drain, aggregating the landed
    files must equal the batch GROUP BY over the source, which is the
    oracle."""
    import tempfile

    out = tempfile.mkdtemp(prefix="mmbd_feb_")
    s = _stream_events(spark, sf_dir).select("event_id", "event_type", "value")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    with pinned(spark):
        q = s.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
        q.awaitTermination()
    landed = spark.read.parquet(f"{out}/batch=*")
    return landed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("value", 2).alias("total"),
    )


@register(
    "q_stream_stateful_counter",
    oracle="""
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS last_seen
FROM events GROUP BY user_id
""",
)
def q_stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState
    (SURVEY.md §2.3 'custom stateful operators'): a per-user running
    counter + last-seen tracker whose state survives across micro-batches.
    Under the availableNow replay every group's final emission equals the
    batch GROUP BY, which is the oracle."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("last_seen", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("last_us", LongType())]
    )

    def count_events(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            if len(pdf):
                ts_max = pdf["ts"].max()
                last_us = max(last_us, int(ts_max.value // 1000))
        state.update((n, last_us))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "last_seen": [last_us // 1_000_000]}
        )

    s = _stream_events(spark, sf_dir).select("user_id", "ts")
    counted = s.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(counted, "update")
    # update-mode sinks append one row per (group, batch); the final state
    # per user is the row from its last emission
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        res.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "last_seen")
    )


@register(
    "q_stream_watermark_late",
    oracle="""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_start,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY hour_start
HAVING hour_start + 3600 <= (SELECT epoch(max(ts)) - 1800 FROM events)
""",
)
def q_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode windowed count: windows are only emitted
    once the 30-minute watermark passes, exercising state eviction.  Under
    the in-order availableNow replay the final watermark settles at
    max(ts) - 30min, so the append sink holds exactly the windows whose
    END is at or below it — every hour bucket except the last (719 of 720
    on the fixtures).  That closed-form is the oracle: the batch hour
    GROUP BY with a HAVING on the final watermark (VERDICT r4 task 4)."""
    s = _stream_events(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("hour_start"), "n")
    )
    return _run_to_memory(agg, "append")


@register(
    "q_stream_static_join",
    oracle=f"""
SELECT c.c_mktsegment AS segment, e.event_type AS event_type,
       CAST(count(*) AS BIGINT) AS n,
       {sql_dec_sum("e.value", 2)} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY segment, event_type
""",
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the events stream
    is joined to the static customer dim (broadcast — the dim re-scans per
    batch but never shuffles the stream side), then windowless-aggregated.
    This is THE streaming-enrichment shape: at 100 TB/day the stream side
    stays partitioned by source file, only the dim moves."""
    from ..sources import load

    s = _stream_events(spark, sf_dir)
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(F.broadcast(c), s.user_id == c.c_custkey)
    agg = joined.groupBy(
        F.col("c_mktsegment").alias("segment"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("value", 2).alias("total_value"),
    )
    return _run_to_memory(agg, "complete")


@register(
    "q_stream_stream_join",
    oracle="""
SELECT v.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
GROUP BY v.user_id
""",
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: views matched to same-user purchases
    within the following hour.  Both sides carry watermarks and the join
    condition bounds event time in both directions, so Spark can size and
    EVICT the join state — the property that makes stream-stream joins
    viable on unbounded input.  The joined pairs land in append mode; the
    per-user pair count over the sink is compared to the batch self-join
    oracle."""
    views = (
        _stream_events(spark, sf_dir)
        .where("event_type = 'view'")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .where("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    pairs = views.join(
        purchases,
        F.expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"),
    )
    res = _run_to_memory(pairs.select("v_user", "v_id", "p_id"), "append")
    return res.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@register(
    "q_stream_transform_with_state",
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id
""",
)
def q_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via the Spark 4 transformWithStateInPandas
    StatefulProcessor API (the successor to applyInPandasWithState,
    SURVEY.md §2.3 'custom stateful operators'): a per-user ValueState
    holding (event count, running cent total) updated across micro-batches.
    Money is accumulated as integer cents (floor(v*100+0.5) — the portable
    rounding form, see functions/numeric.py) so state updates are exactly
    associative and the final emission matches the batch GROUP BY oracle
    bit-for-bit regardless of batch boundaries.  At 100 TB the state store
    shards by the grouping key across executors (RocksDB provider) — no
    driver-side state.

    Environment gate: transformWithStateInPandas spawns a protobuf-speaking
    driver worker; where google.protobuf is unavailable (this container)
    the query computes the identical semantics through
    applyInPandasWithState so the oracle contract is exercised either way.
    """
    import importlib.util

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_cents", LongType()),
        ]
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals", StructType([StructField("n", LongType()), StructField("cents", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            import numpy as np
            import pandas as pd

            n, cents = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
            self._state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        def close(self) -> None:
            pass

    s = (
        _stream_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select("user_id", "value")
    )
    try:
        has_protobuf = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        has_protobuf = False
    if has_protobuf:
        totals = s.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=UserTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
    else:
        from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

        state_schema = StructType(
            [StructField("n", LongType()), StructField("cents", LongType())]
        )

        def user_totals(key, pdf_iter, state: GroupState):
            import numpy as np
            import pandas as pd

            n, cents = state.get if state.exists else (0, 0)
            for pdf in pdf_iter:
                n += len(pdf)
                cents += int(np.floor(pdf["value"].to_numpy() * 100 + 0.5).sum())
            state.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
            )

        totals = s.groupBy("user_id").applyInPandasWithState(
            user_totals,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    res = _run_to_memory(totals, "update")
    # update-mode sinks append one row per (group, batch); n_events is
    # monotone, so the final state per user is its max-n row
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        res.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "total_cents")
    )


_RATE_ROWS_PER_BATCH = 10_000
_RATE_BATCHES = 3


@register(
    "q_stream_rate_source",
    oracle=f"""
SELECT CAST(range % 16 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(range) AS BIGINT) AS total
FROM range({_RATE_ROWS_PER_BATCH * _RATE_BATCHES})
GROUP BY bucket
""",
)
def q_stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``rate-micro-batch`` streaming source (SURVEY.md §2.3
    "rate/memory sources"): unlike ``rate``, it emits a FIXED number of
    rows per micro-batch with deterministic values (0,1,2,…), so a
    bounded run is fully oracle-checkable.  Three micro-batches of 10k
    rows drain into a memory sink via per-batch hash aggregation —
    update-mode partial counts re-aggregate to exact totals, the
    streaming analogue of partial/final agg.  (sf_dir is unused: the
    source generates its rows.)"""
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", _RATE_ROWS_PER_BATCH)
        .option("numPartitions", 4)
        .option("startTimestamp", 0)
        .load()
    )
    # the bound is a VALUE filter, not the stop signal: the stop below only
    # guarantees >= _RATE_BATCHES batches ran; any extra batch that races
    # in carries only values >= the cutoff, which this filter drops — so
    # the aggregated result is exactly batches 0.._RATE_BATCHES-1,
    # deterministically
    cutoff = _RATE_ROWS_PER_BATCH * _RATE_BATCHES
    agg = (
        raw.where(F.col("value") < cutoff)
        .withColumn("bucket", F.col("value") % 16)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
    )
    name = f"mmbd_sink_{next(_sink_counter)}"
    with pinned(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(processingTime="0 seconds")
            .start()
        )
        # stop once at least _RATE_BATCHES batches committed (the value
        # filter above makes any overshoot invisible): the source is
        # unbounded by construction, so the stop lives in the driver
        _await_batches(q, _RATE_BATCHES)
        q.stop()
        q.awaitTermination()
    res = spark.table(name)
    # update-mode sink holds one row per (bucket, batch); keep the final
    # (cumulative) row per bucket = the max-n row
    from pyspark.sql.window import Window

    w = Window.partitionBy("bucket").orderBy(F.desc("n"))
    return (
        res.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("bucket", "n", "total")
    )


@register(
    "q_stream_dedup_incremental",
    oracle="""
WITH bounds AS (
  SELECT epoch_us(min(ts)) + (epoch_us(max(ts)) - epoch_us(min(ts))) // 2 AS mid
  FROM events
),
hist AS (
  SELECT DISTINCT md5(props || CAST(user_id AS VARCHAR)) AS k
  FROM events, bounds WHERE epoch_us(ts) < bounds.mid
)
SELECT e.event_id AS event_id, e.event_type AS event_type
FROM events e, bounds
WHERE epoch_us(e.ts) >= bounds.mid
  AND md5(e.props || CAST(e.user_id AS VARCHAR)) NOT IN (SELECT k FROM hist)
""",
)
def q_stream_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against history: the arriving stream (second half
    of the timeline) is LEFT ANTI joined per micro-batch to the static
    content-hash set of everything already ingested (first half) — the
    shape every incremental corpus ingest runs (content key:
    md5(props || user_id), content-plus-owner).  The anti join is
    stateless (no watermark state grows), so append mode works; the
    history set broadcasts here, and at 100 TB it becomes a bucketed
    shuffle join keyed on the content hash.

    The history hash set is EPOCH STATE, not per-query work — a real
    ingest builds it once when the epoch rolls and probes it for every
    arriving batch thereafter — so it is materialized once per
    (fixture, epoch boundary) and memoized for the session (r8; the
    same write-once/serve-many split as the ANN index memos)."""
    from ..functions.memo import plan_memo
    from ..sources import load

    batch = load(spark, sf_dir, "events")
    lo, hi = batch.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mid = lo + (hi - lo) // 2
    hist_src = (
        batch.where(F.unix_micros("ts") < mid)
        .select(F.md5(F.concat("props", F.col("user_id").cast("string"))).alias("k"))
        .distinct()
    )
    hist = plan_memo(
        _EPOCH_INDEX,
        hist_src,
        ("incremental", mid),
        lambda: hist_src.localCheckpoint(eager=True),
        max_entries=8,
    )
    s = _stream_events(spark, sf_dir).where(F.unix_micros("ts") >= mid)
    key = F.md5(F.concat("props", F.col("user_id").cast("string")))
    fresh = s.withColumn("k", key).join(F.broadcast(hist), "k", "left_anti")
    return _run_to_memory(fresh.select("event_id", "event_type"), "append")


@register(
    "q_stream_dedup_near",
    oracle="""
WITH """
    + _SQL_MINHASH_BANDS_CTES
    + """,
bounds AS (SELECT (min(doc_id) + max(doc_id) + 1) // 2 AS mid FROM documents)
SELECT DISTINCT b2.doc_id AS doc_id
FROM bands b2 JOIN bands b1
  ON b2.band = b1.band AND b2.band_key = b1.band_key, bounds
WHERE b1.doc_id < bounds.mid AND b2.doc_id >= bounds.mid
""",
)
def q_stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-duplicate filter — the LSH machinery composed with
    Structured Streaming: documents from the second half of the id space
    ARRIVE as a stream, compute their MinHash band signatures as one
    STATELESS per-row projection (minhash_band_structs — no explode+agg,
    so no streaming state for the signature), and equi-join (band,
    band_key) against the STATIC band index of the already-ingested
    first half.  A match means the arriving doc is a near-dup of
    history; the per-doc dropDuplicates collapses multi-band matches.
    This is the shape an incremental crawl ingest runs: the history
    index is built once per epoch, arrivals probe it map-side
    (broadcast here; bucketed shuffle join on band_key at 100 TB).
    Oracle: the batch band self-join across the same halves.

    Being built "once per epoch" means the band index is EPOCH STATE:
    it is materialized once per (fixture, epoch boundary) and memoized
    for the session (r8); the cold build cost is the batch MinHash
    pipeline, priced in q_dedup_minhash's own row.  r8 also split the
    arriving side's signature into hash-then-band projections
    (minhash_base_hashes): the single-expression form re-evaluated the
    shingle+md5 subtree once per seed (interpreted HOFs get no CSE) —
    together 5.0 s → ~2.4 s steady-state at sf0.1."""
    from ..functions.memo import plan_memo
    from ..operators.dedup import (
        minhash_band_structs,
        minhash_bands,
        minhash_base_hashes,
    )
    from ..sources import load

    batch = load(spark, sf_dir, "documents")
    lo, hi = batch.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (lo + hi + 1) // 2
    hist_src = (
        minhash_bands(batch.where(F.col("doc_id") < mid))
        .select("band", "band_key")
        .distinct()
    )
    hist = plan_memo(
        _EPOCH_INDEX,
        hist_src,
        ("near", mid),
        lambda: hist_src.localCheckpoint(eager=True),
        max_entries=8,
    )
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    # the fixture ships documents.parquet as a single FILE (stream the
    # parent dir with a leaf-name glob); a Spark-written fixture is a
    # DIRECTORY of part files (stream it directly — pathGlobFilter only
    # matches leaf file names, never directories)
    doc_path = f"{sf_dir}/documents.parquet"
    reader = spark.readStream.schema(schema)
    if os.path.isdir(doc_path):
        raw = reader.parquet(doc_path)
    else:
        raw = reader.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)
    stream = raw.where(F.col("doc_id") >= mid).withColumn(
        "toks", F.filter(F.split("text", " "), lambda t: t != "")
    )
    # base hashes in their OWN projection: 16 seeds reference them, and
    # interpreted HOFs get no subexpression elimination (see
    # minhash_base_hashes — split + epoch-index memo: 5.0 → 2.4 s/query)
    hashed = stream.withColumn("mmbd_hs", minhash_base_hashes(F.col("toks")))
    bands = hashed.select(
        "doc_id", F.explode(minhash_band_structs(F.col("mmbd_hs"))).alias("kb")
    ).select("doc_id", F.col("kb.band").alias("band"), F.col("kb.band_key").alias("band_key"))
    flagged = (
        bands.join(F.broadcast(hist), ["band", "band_key"])
        .dropDuplicates(["doc_id"])
        .select("doc_id")
    )
    return _run_to_memory(flagged, "append")


@register(
    "q_stream_python_source",
    oracle="""
SELECT i, CAST(count(*) AS BIGINT) AS n, round(sum(v), 6) AS row_sum
FROM (
  SELECT a.range AS i, b.range AS j,
         ((a.range * 37 + b.range) % 101) / 100.0 AS v
  FROM range(64) a CROSS JOIN range(64) b
)
GROUP BY i
""",
)
def q_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource STREAMING reader (Spark 4
    SimpleDataSourceStreamReader): the det_coo matrix arrives as 4
    deterministic row-block micro-batches (batches past the end are
    empty, like an idling feed), aggregated per row into an update-mode
    memory sink.  Each row-block arrives exactly once, so every group is
    written once and the drained sink equals the batch scan — the full
    exactly-once replay contract (readBetweenOffsets) is exercised by
    the checkpoint machinery.  (sf_dir unused: the source generates its
    rows.)"""
    from ..sources.pyds import register_det_coo

    n_batches = 4
    register_det_coo(spark)
    raw = (
        spark.readStream.format("det_coo")
        .option("n", "64")
        .option("batches", str(n_batches))
        .load()
    )
    agg = raw.groupBy("i").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("v"), 6).alias("row_sum")
    )
    name = f"mmbd_sink_{next(_sink_counter)}"
    with pinned(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(processingTime="0 seconds")
            .start()
        )
        _await_batches(q, n_batches)
        q.stop()
        q.awaitTermination()
    return spark.table(name)


@register("q_stream_funnel", oracle=_AGG.FUNNEL_ORACLE)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming conversion funnel: a per-user stage machine in
    applyInPandasWithState — state is three epoch-µs longs (first view,
    first later click, first later purchase), each event can only
    advance the machine, and the final emissions aggregate into the
    SAME 3-row table as the batch q_funnel, which is the oracle
    (hash-equal, not rows-only).  Ordering contract: rows are sorted
    (ts, event_id) within each state invocation, so the replay —
    one availableNow batch for the single-file fixture — reproduces
    batch semantics exactly; across micro-batches the machine is
    monotone, the production assumption of roughly-ordered ingestion
    (a regression would surface as an oracle mismatch here).  State is
    O(1) per user (24 bytes), the streaming-safe funnel shape."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField("user_id", LongType()), StructField("stage", LongType())]
    )
    state_schema = StructType(
        [
            StructField("t1", LongType()),
            StructField("t2", LongType()),
            StructField("t3", LongType()),
        ]
    )

    def advance(key, pdf_iter, state: GroupState):
        import pandas as pd

        t1, t2, t3 = state.get if state.exists else (0, 0, 0)
        chunks = [p for p in pdf_iter if len(p)]
        if chunks:
            rows = pd.concat(chunks).sort_values(["ts", "event_id"])
            for et, ts in zip(rows["event_type"], rows["ts"]):
                us = int(ts.value // 1000)
                if t1 == 0:
                    if et == "view":
                        t1 = us
                elif t2 == 0:
                    if et == "click" and us > t1:
                        t2 = us
                elif t3 == 0:
                    if et == "purchase" and us > t2:
                        t3 = us
        state.update((t1, t2, t3))
        stage = 3 if t3 else 2 if t2 else 1 if t1 else 0
        yield pd.DataFrame({"user_id": [key[0]], "stage": [stage]})

    s = _stream_events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    staged = s.groupBy("user_id").applyInPandasWithState(
        advance,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(staged, "update")
    # stage is monotone, so a user's final state is their max emission
    final = res.groupBy("user_id").agg(F.max("stage").alias("stage"))
    f = final.agg(
        F.count(F.when(F.col("stage") >= 1, 1)).alias("n1"),
        F.count(F.when(F.col("stage") >= 2, 1)).alias("n2"),
        F.count(F.when(F.col("stage") >= 3, 1)).alias("n3"),
    )
    stack_args = ", ".join(
        f"'{s_}', {n}, {rp}, {rf}" for s_, n, rp, rf in _AGG._FUNNEL_STAGES
    )
    return f.select(
        F.expr(f"stack(3, {stack_args})").alias(
            "stage", "n_users", "conv_vs_prev", "conv_vs_first"
        )
    )


@register("q_stream_cohort", oracle=_AGG.COHORT_ORACLE)
def q_stream_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming cohort retention (VERDICT r9 item 8): per-user
    FIRST-SEEN state in applyInPandasWithState — state is the first-event
    epoch-µs, a monotone event counter, and the distinct set of absolute
    event WEEKS (bounded by the calendar span, ~weeks not events) — whose
    final emissions aggregate into the SAME retention matrix as the
    batch q_cohort_retention, which is the oracle (hash-equal, the
    q_stream_funnel batch-equivalence pattern).

    Week bucketing is pure int64 arithmetic on epoch-µs (truncate to the
    UTC day, then the shared epoch-week formula _WEEK_SPARK encodes), so
    the pandas kernel and both engines' SQL agree exactly.  Across
    micro-batches the state is a proper CRDT-ish merge (min of firsts,
    union of weeks, sum of counts) and the max_by(n_seen) pick takes
    each user's most-complete emission, so a multi-batch replay
    converges to the same matrix.  State is O(1)×|users| + O(weeks) —
    the streaming-safe cohort shape; state-size accounting rides the
    same last_state_metrics capture as the other stateful streams."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_seen", LongType()),
            StructField("cohort_week", LongType()),
            StructField("weeks", ArrayType(LongType())),
        ]
    )
    state_schema = StructType(
        [
            StructField("first_us", LongType()),
            StructField("n_seen", LongType()),
            StructField("weeks", ArrayType(LongType())),
        ]
    )

    _EPOCH0 = 1704067200  # the shared week-0 anchor (_WEEK_SPARK/_WEEK_DUCK)

    def advance(key, pdf_iter, state: GroupState):
        first_us, n_seen, weeks = (
            state.get if state.exists else (None, 0, [])
        )
        wk = set(weeks or [])
        for pdf in pdf_iter:
            us = pdf["ts"].astype("int64") // 1000  # ns → µs
            if len(us):
                lo = int(us.min())
                first_us = lo if first_us is None else min(first_us, lo)
                n_seen += len(us)
                # truncate to UTC day, then the shared epoch-week formula
                days = us // 86_400_000_000
                wk.update(int(w) for w in ((days * 86_400 - _EPOCH0) // 604_800))
        state.update((first_us, n_seen, sorted(wk)))
        cohort_week = (first_us // 86_400_000_000 * 86_400 - _EPOCH0) // 604_800
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [n_seen],
                "cohort_week": [int(cohort_week)],
                "weeks": [sorted(wk)],
            }
        )

    s = _stream_events(spark, sf_dir).select("user_id", "ts")
    emitted = s.groupBy("user_id").applyInPandasWithState(
        advance,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(emitted, "update")
    # most-complete emission per user (n_seen is monotone per user)
    final = res.groupBy("user_id").agg(
        F.expr("max_by(struct(cohort_week, weeks), n_seen)").alias("m")
    ).select("user_id", F.col("m.cohort_week").alias("cohort_week"), F.col("m.weeks").alias("weeks"))
    act = final.select(
        "user_id", "cohort_week", F.explode("weeks").alias("week")
    ).select("user_id", "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
    ret = act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    sizes = final.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return ret.join(F.broadcast(sizes), "cohort_week").selectExpr(
        "cohort_week",
        "week_offset",
        "n_users",
        f"{_AGG._ratio4('n_users', 'cohort_size')} AS retention",
    )


@register(
    "q_stream_keep_latest",
    oracle="""
SELECT user_id, event_id, event_type FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_stream_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC materialization — keep-latest-per-key as a stream
    (q_keep_latest's SCD1 compaction, maintained incrementally the way
    a change-data-capture consumer materializes a table): per-user
    state is ONE packed argmax key + its payload, updated by an
    order-INSENSITIVE max over (event-time µs, event_id) — late or
    re-ordered micro-batches cannot change the final answer, which is
    why the batch window oracle (shared with q_keep_latest) checks it
    exactly.  State is O(1) per key (24-ish bytes) — the property that
    lets the materialization run forever at 100 TB; emissions are
    update-mode, the sink keeps the last (monotone-max) row per key."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("best_us", LongType()),
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("us", LongType()),
            StructField("eid", LongType()),
            StructField("etype", StringType()),
        ]
    )

    def latest(key, pdf_iter, state: GroupState):
        import pandas as pd

        us, eid, etype = state.get if state.exists else (-1, -1, "")
        for pdf in pdf_iter:
            for r_us, r_eid, r_et in zip(
                (pdf["ts"].astype("int64") // 1000), pdf["event_id"], pdf["event_type"]
            ):
                if (int(r_us), int(r_eid)) > (us, eid):
                    us, eid, etype = int(r_us), int(r_eid), str(r_et)
        state.update((us, eid, etype))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "best_us": [us],
                "event_id": [eid],
                "event_type": [etype],
            }
        )

    s = _stream_events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    emitted = s.groupBy("user_id").applyInPandasWithState(
        latest,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(emitted, "update")
    # final materialized row per key: the (best_us, event_id) argmax is
    # monotone across emissions, so max_by picks the last state
    return (
        res.groupBy("user_id")
        .agg(F.expr("max_by(struct(event_id, event_type), struct(best_us, event_id))").alias("m"))
        .select("user_id", F.col("m.event_id").alias("event_id"), F.col("m.event_type").alias("event_type"))
    )


from ..operators.profiling import PSI_ORACLE as _PSI_ORACLE  # noqa: E402


@register("q_stream_psi", oracle=_PSI_ORACLE)
def q_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming PSI drift monitor — q_psi_drift with the CURRENT half
    arriving as a stream: the reference deciles are computed batch-side
    (the deployed monitor trains its bounds offline), broadcast into
    the stream, and the per-(type, bucket) current counts accumulate in
    streaming state (complete mode; counts are commutative, so arrival
    order is irrelevant — the property that makes this hash-checkable).
    The closing PSI assembly (reference counts, bucket spine, exact
    nano-quantized terms) runs batch-side on the drained state, the
    q_stream_cohort pattern.  Oracle = the batch PSI_ORACLE, shared
    verbatim."""
    from ..operators import profiling as _P
    from ..sources import load as _load

    e = _load(spark, sf_dir, "events")
    ref = e.where(F.col("ts") < _P._DRIFT_SPLIT)
    b = ref.groupBy("event_type").agg(
        *[
            F.expr(f"round(percentile(value, 0.{i}), 6)").alias(f"b{i}")
            for i in range(1, 10)
        ]
    ).localCheckpoint(eager=True)
    s = _stream_events(spark, sf_dir).where(
        F.col("ts") >= F.lit(_P._DRIFT_SPLIT).cast("timestamp")
    )
    cur_counts = (
        s.join(F.broadcast(b), "event_type")
        .select("event_type", F.expr(_P._PSI_BUCKET).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cc"))
    )
    cur = _run_to_memory(cur_counts, "complete")
    ref_counts = (
        ref.join(F.broadcast(b), "event_type")
        .select("event_type", F.expr(_P._PSI_BUCKET).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    spine = (
        b.select("event_type")
        .crossJoin(spark.range(10).select(F.col("id").cast("int").alias("bucket")))
        .join(ref_counts, ["event_type", "bucket"], "left_outer")
        .join(cur, ["event_type", "bucket"], "left_outer")
        .select(
            "event_type",
            "bucket",
            F.coalesce("cr", F.lit(0)).alias("cr"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy("event_type")
    scored = spine.select(
        "event_type",
        "cr",
        "cc",
        F.sum("cr").over(w).alias("nr"),
        F.sum("cc").over(w).alias("nc"),
    )
    return scored.groupBy("event_type").agg(
        F.any_value("nr").cast("long").alias("n_ref"),
        F.any_value("nc").cast("long").alias("n_cur"),
        (F.sum(F.expr(_P._PSI_TERM)).cast("double") / 1e9).alias("psi"),
    )


_WORD_TOPN = 20


@register(
    "q_stream_word_topk",
    oracle=f"""
WITH wc AS (
  SELECT token AS word, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  WHERE token <> ''
  GROUP BY token
)
SELECT word, CAST(n AS BIGINT) AS n
FROM wc ORDER BY n DESC, word LIMIT {_WORD_TOPN}
""",
)
def q_stream_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters: the document corpus ARRIVES as a file
    stream, words explode statelessly, and a streaming groupBy count
    maintains the running frequency table; the top-{k} cut (a total
    (count DESC, word) order) is applied to the final materialization.
    The running state is vocabulary-sized (Heaps' law — sublinear in
    the corpus), the canonical 'exact heavy hitters while exact still
    fits' operating point; past it, swap the state for a SpaceSaving /
    count-min sketch and keep the same query surface.  Oracle = the
    batch wordcount top-{k} over the same corpus: counts at
    stream end must equal the batch counts exactly (order-insensitive
    streaming agg), which is what makes an exact streaming sketch
    hash-checkable.""".replace("{k}", str(_WORD_TOPN))
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    doc_path = f"{sf_dir}/documents.parquet"
    reader = spark.readStream.schema(schema)
    if os.path.isdir(doc_path):
        raw = reader.parquet(doc_path)
    else:
        raw = reader.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)
    words = raw.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("word")
    )
    counts = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
    res = _run_to_memory(counts, "complete")
    return res.orderBy(F.col("n").desc(), "word").limit(_WORD_TOPN)


@register(
    "q_stream_ewma",
    oracle=lambda sf_dir: str(_REG["q_ewma"].oracle),
)
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA — q_ewma's alpha=1/2 trailing-8 smoother
    maintained as per-user streaming state: the state is the 8 LATEST
    (event-time us, event_id, value-micro) triples kept as an
    order-INSENSITIVE top-8 by the (us, eid) total order, so late or
    re-ordered micro-batches converge to the same final level — which
    is why the batch q_ewma oracle (shared verbatim) checks it
    exactly.  State is O(1) per user (8 triples + a counter, ~200
    bytes); emissions are update-mode with a monotone seen-counter,
    the final materialization keeps each user's last emission.  The
    exact-integer weight unroll (64..1, partial renormalization) is
    recomputed from state in plain int arithmetic — the same IEEE
    closing sequence as the shared oracle text."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("ewma", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("us", ArrayType(LongType())),
            StructField("eid", ArrayType(LongType())),
            StructField("v", ArrayType(LongType())),
            StructField("n", LongType()),
        ]
    )
    weights = (64, 32, 16, 8, 4, 2, 1, 1)

    def smooth(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            us, eid, v, n = state.get
            triples = list(zip(us, eid, v))
        else:
            triples, n = [], 0
        for pdf in pdf_iter:
            n += len(pdf)
            vs = (pdf["value"] * 1e6 + 0.5).apply(math.floor).astype("int64")
            triples.extend(
                zip(pdf["ts"].astype("int64") // 1000, pdf["event_id"], vs)
            )
        triples.sort(key=lambda t: (int(t[0]), int(t[1])), reverse=True)
        triples = triples[:8]
        state.update(
            (
                [int(t[0]) for t in triples],
                [int(t[1]) for t in triples],
                [int(t[2]) for t in triples],
                int(n),
            )
        )
        num = sum(w * int(t[2]) for w, t in zip(weights, triples))
        den = sum(w for w, _ in zip(weights, triples))
        ewma = math.floor((num / den / 1000000) * 1000000 + 0.5) / 1000000
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "ewma": [ewma]})

    s = _stream_events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    emitted = s.groupBy("user_id").applyInPandasWithState(
        smooth,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(emitted, "update")
    return res.groupBy("user_id").agg(
        F.expr("max(n_events)").cast("long").alias("n_events"),
        F.expr("max_by(ewma, n_events)").alias("ewma"),
    )


@register(
    "q_stream_heavy_hitters",
    oracle=lambda sf_dir: str(_REG["q_heavy_hitters"].oracle),
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Misra–Gries heavy hitters — the escape route
    q_stream_word_topk's docstring names ("past vocabulary-sized state,
    swap in a SpaceSaving/MG sketch, keep the same query surface"):
    tokens shard by hash(word) and each shard keeps a BOUNDED m-counter
    MG summary plus its exact token total in keyed state
    (applyInPandasWithState) — state is O(shards·m) forever, independent
    of vocabulary growth, where the word_topk form's state is the whole
    running frequency table.

    Losslessness is TIGHTER than the batch argument
    (operators/heavyhitters.py): a word lives in exactly ONE shard, so
    absence from that shard's summary bounds its full corpus frequency
    by n_shard/(m+1) ≤ n/(m+1) — no summing over partitions.  At stream
    end the shard-candidate union is verified EXACTLY against the
    static corpus (the same broadcast-filtered verify pass), so the
    final frame equals q_heavy_hitters and shares its oracle verbatim.

    A directory corpus replays at maxFilesPerTrigger=1 so every file is
    its own micro-batch — the state merge path is exercised for real
    (tests/test_streaming.py drives a 3-file replay); the single-file
    fixtures drain in one batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.window import Window

    from ..operators.heavyhitters import _HH_COUNTERS, _HH_K

    m = _HH_COUNTERS
    n_shards = 16
    out_schema = StructType(
        [
            StructField("shard", IntegerType()),
            StructField("seq", LongType()),
            StructField("cands", ArrayType(StringType())),
            StructField("total", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("words", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("total", LongType()),
            StructField("seq", LongType()),
        ]
    )

    def mg_update(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            words, counts, total, seq = state.get
            s = pd.Series([float(c) for c in counts], index=list(words))
        else:
            s, total, seq = None, 0, 0
        for pdf in pdf_iter:
            total += len(pdf)
            vc = pdf["w"].value_counts()
            s = vc.astype("float64") if s is None else s.add(vc, fill_value=0)
            if len(s) > m:
                pivot = s.nlargest(m + 1).iloc[-1]
                s = s - pivot
                s = s[s > 0]
        seq += 1
        words = [] if s is None else list(s.index.astype(str))
        counts = [] if s is None else [int(c) for c in s]
        state.update((words, counts, total, seq))
        yield pd.DataFrame(
            {"shard": [key[0]], "seq": [seq], "cands": [words], "total": [total]}
        )

    doc_path = f"{sf_dir}/documents.parquet"
    schema = spark.read.parquet(doc_path).schema
    reader = spark.readStream.schema(schema)
    if os.path.isdir(doc_path):
        raw = reader.option("maxFilesPerTrigger", 1).parquet(doc_path)
    else:
        raw = reader.option("pathGlobFilter", "documents.parquet").parquet(sf_dir)
    words = raw.select(
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("w")
    ).withColumn("shard", F.pmod(F.hash("w"), F.lit(n_shards)).cast("int"))
    summaries = words.groupBy("shard").applyInPandasWithState(
        mg_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    res = _run_to_memory(summaries, "update")
    # update-mode sinks append one row per (shard, batch); the sketch at
    # stream end is each shard's LAST emission (max seq)
    w_last = Window.partitionBy("shard").orderBy(F.desc("seq"))
    last = (
        res.withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .localCheckpoint(eager=True)  # ≤ shards rows, read twice below
    )
    cands = last.select(F.explode("cands").alias("w")).distinct()
    tot = last.agg(F.sum("total").alias("n"))
    static = spark.read.parquet(doc_path)
    toks = static.select(F.explode(F.split("text", " ")).alias("w")).where(F.col("w") != "")
    return (
        toks.join(F.broadcast(cands), "w")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .where(F.col("cnt") > F.expr(f"n DIV {_HH_K}"))
        .select(F.col("w").alias("word"), "cnt")
    )

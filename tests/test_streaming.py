"""Streaming-vs-batch equivalence (SURVEY.md §5.4): each streaming query
under availableNow must equal the same aggregation computed in batch."""

from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.sources import load
from matrix_multiplication_bigdata_ind_assignments_spark.streaming import queries as sq

from conftest import rows_set


def test_tumbling_equals_batch(spark, sf_dir):
    stream_res = sq.q_stream_tumbling(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.unix_timestamp("w.start").alias("hour_start"), "n", "total_value")
    )
    assert rows_set(stream_res) == rows_set(batch)


def test_sliding_equals_batch(spark, sf_dir):
    stream_res = sq.q_stream_sliding(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "n")
    )
    assert rows_set(stream_res) == rows_set(batch)


def test_session_equals_batch(spark, sf_dir):
    stream_res = sq.q_stream_session(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    batch = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.unix_timestamp("w.start").alias("session_start"), "n")
    )
    assert rows_set(stream_res) == rows_set(batch)


def test_stream_dedup_exactly_once(spark, sf_dir):
    stream_res = sq.q_stream_dedup(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    batch = e.groupBy("event_type").agg(F.countDistinct("event_id").alias("n"))
    assert rows_set(stream_res) == rows_set(batch)


def test_rate_source_machinery(spark):
    """Rate source → memory sink: the synthetic-source path (SURVEY.md §2.3
    'rate/memory sources').  Values are wall-clock dependent, so only the
    machinery is asserted."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
    q = (
        stream.writeStream.format("memory")
        .queryName("mmbd_rate_probe")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        import time

        time.sleep(1.0)
        q.processAllAvailable()
        n = spark.table("mmbd_rate_probe").count()
        assert n >= 0
        assert spark.table("mmbd_rate_probe").columns == ["timestamp", "value"]
    finally:
        q.stop()


def test_watermark_append_emits_only_closed_windows(spark, sf_dir):
    res = sq.q_stream_watermark_late(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    n_windows = e.select(F.window("ts", "1 hour")).distinct().count()
    emitted = res.count()
    # append mode only emits windows the watermark has passed: everything
    # except the trailing window(s) still open when the input ends
    assert n_windows - 2 <= emitted < n_windows


def test_stream_static_join_equals_batch(spark, sf_dir):
    stream_res = sq.q_stream_static_join(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    batch = (
        e.join(c, e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert rows_set(stream_res) == rows_set(batch)


def test_stream_stream_join_pairs_equal_batch_self_join(spark, sf_dir):
    stream_res = sq.q_stream_stream_join(spark, sf_dir)
    e = load(spark, sf_dir, "events")
    v = e.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = e.where("event_type = 'purchase'").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = (
        v.join(p, F.expr("v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"))
        .groupBy(F.col("v_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    assert rows_set(stream_res) == rows_set(batch)


def test_transform_with_state_equals_batch(spark, sf_dir):
    stream_res = sq.q_stream_transform_with_state(spark, sf_dir)
    e = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    batch = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias("total_cents"),
    )
    assert rows_set(stream_res) == rows_set(batch)


def test_rate_source_is_deterministic_and_rerunnable(spark, sf_dir):
    """The rate-micro-batch query must give the exact bounded result on
    every run (the value-filter bound absorbs extra racing batches)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import (
        _RATE_BATCHES,
        _RATE_ROWS_PER_BATCH,
        q_stream_rate_source,
    )

    total_rows = _RATE_ROWS_PER_BATCH * _RATE_BATCHES
    a = {tuple(r) for r in q_stream_rate_source(spark, sf_dir).collect()}
    assert sum(r[1] for r in a) == total_rows
    assert sum(r[2] for r in a) == total_rows * (total_rows - 1) // 2
    b = {tuple(r) for r in q_stream_rate_source(spark, sf_dir).collect()}
    assert a == b


def test_python_stream_source_rerunnable_and_exact(spark, sf_dir):
    """The Python streaming source must produce the exact deterministic
    matrix aggregate on every run (empty trailing batches can't distort)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import (
        q_stream_python_source,
    )

    a = {tuple(r) for r in q_stream_python_source(spark, sf_dir).collect()}
    assert len(a) == 64
    assert sum(r[1] for r in a) == 64 * 64
    b = {tuple(r) for r in q_stream_python_source(spark, sf_dir).collect()}
    assert a == b


def test_oracle_check_runs_python_source_from_another_cwd(sf_dir, tmp_path):
    """tools/oracle_check.py run from outside the repo root still passes
    q_stream_python_source: the Python worker that unpickles the data
    source finds the package through PYTHONPATH, which the tool sets
    before its JVM starts."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", MMBD_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "oracle_check.py"), sf_dir,
         "q_stream_python_source"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop a checkpointed streaming query mid-stream and restart it: the
    parquet sink must hold each row exactly once — offsets resume from
    the checkpoint, never replaying a committed batch into the sink."""
    import time

    from matrix_multiplication_bigdata_ind_assignments_spark.sources.pyds import register_det_coo

    register_det_coo(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def start():
        raw = (
            spark.readStream.format("det_coo")
            .option("n", "64")
            .option("batches", "4")
            .load()
        )
        return (
            raw.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def wait_batches(q, n, timeout_s=60):
        t0 = time.time()
        while time.time() - t0 < timeout_s:
            p = q.lastProgress
            if p is not None and p["batchId"] is not None and p["batchId"] >= n:
                return
            time.sleep(0.05)
        raise AssertionError("stream made no progress")

    q1 = start()
    wait_batches(q1, 1)  # at least one committed batch, then die mid-stream
    q1.stop()
    q1.awaitTermination()

    q2 = start()  # same checkpoint: resumes, finishes remaining batches
    wait_batches(q2, 4)
    q2.stop()
    q2.awaitTermination()

    df = spark.read.parquet(out)
    assert df.count() == 64 * 64  # every cell exactly once, no replays
    assert df.select("i", "j").distinct().count() == 64 * 64


def test_await_batches_raises_on_dead_stream(spark):
    """_await_batches must surface a failed stream's own error instead of
    spinning on lastProgress forever (ADVICE r2)."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import StreamingQueryException

    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import (
        _await_batches,
        _sink_counter,
    )

    @F.udf("long")
    def boom(x):
        raise RuntimeError("kernel failure")

    raw = spark.readStream.format("rate-micro-batch").option("rowsPerBatch", 10).load()
    q = (
        raw.select(boom("value").alias("v"))
        .writeStream.format("memory")
        .queryName(f"mmbd_sink_{next(_sink_counter)}")
        .outputMode("append")
        .start()
    )
    try:
        with pytest.raises(StreamingQueryException):
            _await_batches(q, 3, timeout_s=60)
    finally:
        q.stop()


def test_stream_dedup_near_flags_planted_duplicate(spark, tmp_path):
    """A second-half doc identical to a first-half doc must be flagged by
    the streaming near-dup filter; an unrelated one must not.  Also
    re-runs in the same session (unique sink names)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import (
        q_stream_dedup_near,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark query engines at scale now"
    third = "yet another unrelated body of text concerning duckdb oracles here"
    rows = [
        (0, base, "en", "s", 0),
        (1, other, "en", "s", 0),
        (2, base, "en", "s", 0),   # second half: near-dup of doc 0
        (3, third, "en", "s", 0),  # second half: fresh
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r["doc_id"] for r in q_stream_dedup_near(spark, str(tmp_path)).collect()}
    assert got == {2}
    got2 = {r["doc_id"] for r in q_stream_dedup_near(spark, str(tmp_path)).collect()}
    assert got2 == {2}


def test_stateful_stream_state_envelopes(spark, sf_dir):
    """State-size envelopes (VERDICT r9 item 7 — the streaming twin of
    the batch shuffle-byte envelopes): the state-store accounting from
    the final progress event must track each operator's KEY cardinality,
    never raw event count.  sf0.001: 15 users, 1000 events."""
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming import queries as SQ

    def state_after(name):
        getattr(SQ, name)(spark, sf_dir).count()
        ops = SQ.last_state_metrics()
        assert ops, f"{name}: no stateOperators captured"
        return (
            sum(o.get("numRowsTotal", 0) for o in ops),
            sum(o.get("memoryUsedBytes", 0) for o in ops),
        )

    n_users = 15
    n_events = 1000

    # funnel machine: EXACTLY one state row per user; 24-byte payload →
    # loose 4 KB/user ceiling including store overhead
    rows, mem = state_after("q_stream_funnel")
    assert rows == n_users
    assert mem <= n_users * 4096

    # session windows: bounded by sessions (≤ events), never a multiple
    # of the stream
    rows, mem = state_after("q_stream_session")
    assert rows <= n_events
    assert mem <= 2 * n_events * 4096

    # interval join: only the in-window buffer survives the watermark —
    # a tiny fraction of the stream
    rows, _ = state_after("q_stream_stream_join")
    assert rows <= n_events // 10

    # watermarked window agg: one row per OPEN window
    rows, _ = state_after("q_stream_watermark_late")
    assert rows <= 10


def test_stream_cohort_equals_batch(spark, sf_dir):
    """The first-seen state machine must reproduce the batch retention
    matrix exactly (the q_stream_funnel batch-equivalence contract),
    and its state must stay one row per user."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.aggregates import (
        q_cohort_retention,
    )

    stream_res = sq.q_stream_cohort(spark, sf_dir)
    state_rows = sum(o.get("numRowsTotal", 0) for o in sq.last_state_metrics())
    batch = q_cohort_retention(spark, sf_dir)
    assert rows_set(stream_res) == rows_set(batch)
    assert state_rows == 15  # one state row per user at sf0.001


def test_stream_keep_latest_matches_batch(spark, sf_dir):
    """The streaming CDC materialization equals the batch SCD1 window
    form row-for-row (order-insensitive argmax state)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.relational import q_keep_latest
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import q_stream_keep_latest

    a = sorted(tuple(r) for r in q_stream_keep_latest(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in q_keep_latest(spark, sf_dir).collect())
    assert a == b


def test_stream_psi_equals_batch_and_reruns(spark, sf_dir):
    """The streamed-current PSI must equal the batch monitor exactly
    (counts are commutative, so replay order is irrelevant), and a
    second call in the same session must work."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.profiling import q_psi_drift
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import q_stream_psi

    batch = sorted(tuple(r) for r in q_psi_drift(spark, sf_dir).collect())
    assert sorted(tuple(r) for r in q_stream_psi(spark, sf_dir).collect()) == batch
    assert sorted(tuple(r) for r in q_stream_psi(spark, sf_dir).collect()) == batch


def test_stream_word_topk_equals_batch_and_reruns(spark, sf_dir):
    """The streaming frequency table's top-k must equal the batch
    wordcount top-k; a second drain in the same session must work
    (unique memory sinks)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import (
        _WORD_TOPN,
        q_stream_word_topk,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load
    from pyspark.sql import functions as F

    batch = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(_WORD_TOPN)
    )
    expect = [(r["word"], r["n"]) for r in batch.collect()]
    got = [(r["word"], r["n"]) for r in q_stream_word_topk(spark, sf_dir).collect()]
    assert got == expect and len(got) == _WORD_TOPN
    again = [(r["word"], r["n"]) for r in q_stream_word_topk(spark, sf_dir).collect()]
    assert again == expect


def test_stream_ewma_equals_batch(spark, sf_dir):
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.windows import q_ewma
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import q_stream_ewma

    batch = {r["user_id"]: (r["n_events"], r["ewma"]) for r in q_ewma(spark, sf_dir).collect()}
    got = {r["user_id"]: (r["n_events"], r["ewma"]) for r in q_stream_ewma(spark, sf_dir).collect()}
    assert got == batch and len(got) > 0


def test_stream_ewma_and_word_topk_state_envelopes(spark, sf_dir):
    """r10 final-session streams obey the same key-not-events state
    discipline: the EWMA state is EXACTLY one row per user (8 triples
    + counter, generously < 8 KB/user with store overhead); the word
    frequency table's state is vocabulary-sized (Heaps' law), never a
    multiple of the token stream."""
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming import queries as SQ
    from pyspark.sql import functions as F

    n_users = load(spark, sf_dir, "events").select("user_id").distinct().count()
    SQ.q_stream_ewma(spark, sf_dir).count()
    ops = SQ.last_state_metrics()
    assert ops
    rows = sum(o.get("numRowsTotal", 0) for o in ops)
    mem = sum(o.get("memoryUsedBytes", 0) for o in ops)
    assert rows == n_users
    assert mem <= n_users * 8192

    vocab = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("w"))
        .distinct()
        .count()
    )
    n_tokens = (
        load(spark, sf_dir, "documents")
        .select(F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    SQ.q_stream_word_topk(spark, sf_dir).count()
    ops = SQ.last_state_metrics()
    assert ops
    rows = sum(o.get("numRowsTotal", 0) for o in ops)
    assert rows == vocab
    assert vocab < n_tokens / 10  # the Heaps'-law point: state << stream


def test_stream_heavy_hitters_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """3-file replay at maxFilesPerTrigger=1 → three micro-batches per
    shard: the MG state MERGE path (decrement across batches, running
    total) must still land exactly on the batch heavy-hitter set over
    the unioned corpus."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.heavyhitters import q_heavy_hitters
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import q_stream_heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.repartition(3).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {(r["word"], r["cnt"]) for r in q_stream_heavy_hitters(spark, str(tmp_path)).collect()}
    want = {(r["word"], r["cnt"]) for r in q_heavy_hitters(spark, str(tmp_path)).collect()}
    assert got == want
    assert want, "fixture produced no heavy hitters — test is vacuous"


def test_stream_heavy_hitters_rerun_same_session(spark, sf_dir):
    """Unique memory sinks: the same streaming query must run twice in
    one session (regression probe from the verify recipe)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.streaming.queries import q_stream_heavy_hitters

    a = q_stream_heavy_hitters(spark, sf_dir).count()
    b = q_stream_heavy_hitters(spark, sf_dir).count()
    assert a == b > 0


def test_stream_heavy_hitters_state_is_shard_bounded(spark, tmp_path):
    """State rows ≤ shard count even when the vocabulary explodes — the
    whole point of the MG swap over q_stream_word_topk's exact table.
    5k docs × 10 unique words = 50k distinct tokens; state must stay at
    one row per shard (16), not grow with the vocabulary."""
    from pyspark.sql import functions as F

    from matrix_multiplication_bigdata_ind_assignments_spark.streaming import queries as SQ

    docs = spark.range(5000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("hot"),
            *[F.concat(F.lit(f"w{j}_"), F.col("id").cast("string")) for j in range(10)],
        ).alias("text"),
    )
    docs.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = SQ.q_stream_heavy_hitters(spark, str(tmp_path)).collect()
    assert {r["word"] for r in out} == {"hot"}  # 5000 > 55000//100; singletons are not heavy
    ops = SQ.last_state_metrics()
    rows = sum(o.get("numRowsTotal", 0) for o in ops)
    assert 0 < rows <= 16, rows

"""Shuffle-byte envelope guards (VERDICT r6 item 1, widened r8 item 2).

Wall time at local[32] cannot distinguish a plan regression from box
noise (±30% swings on unchanged code were measured in r6), but
shuffle bytes are a pure function of the physical plan and the
immutable fixture — measured here to be bit-identical across repeats —
so a byte envelope catches the regression class that matters at 100 TB
(a plan change that doubles exchange volume) deterministically.

Coverage = every headline query writing ≥10 MB at the bench SF
(VERDICT r7 item 2 names them): the three biggest matmul shapes are
bench-only parameterizations, so they get dedicated thunks built from
the SAME operand recipe bench.py uses (imported, not copied) at this
suite's sf0.001 fixture.

Envelopes were recorded at sf0.001 on pyspark 4.1.2 with the session
defaults (AQE on, 32 shuffle partitions).  The band is deliberately
loose (0.4×–1.6×) so partition-count or minor version drift doesn't
trip it, while a doubled exchange does.  On a Spark build where the
AppStatusStore accessors have changed shape, ``metrics.measure`` raises
ShuffleMetricsUnavailable and these tests skip (they are a perf guard,
not a correctness gate).

The window itself (``metrics.measure``) is pinned below: its job count,
its byte totals over repeated windows, its cleanup on error, and the
rule that nothing else in the repo sets a job group or reads the store.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark import registry
from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import measure

from conftest import measured

# query → recorded steady-state shuffle_write_bytes at sf0.001 (read ==
# write for every completed exchange; spill is zero at this scale).
# Queries with memoized stat probes (minhash's hot-bucket probe) shuffle
# MORE on first touch — the test warms once before measuring, matching
# how the bench measures.
_ENVELOPES = {
    "q_bloom_semi_join": 11_182,
    "q_corpus_clean_e2e": 14_663,
    "q_matmul_blocked": 205_558,
    # setup only — trade_edges read once, one walk-clustering exchange,
    # statics riding it; the 10 broadcast-arm iterations move 0 B.  A
    # per-round edge re-exchange (150 MB at sf0.1) lands far above the
    # band, a second read of the edges or a statics exchange above it
    "q_pagerank": 41_296,
    "q_dedup_minhash": 89_959,
    # r8 widening — the remaining ≥10 MB-at-bench-SF writers:
    "q_pagerank_directed": 116_145,
    # r11: first-untouched-block emission deleted the pair distinct and
    # its exchange — the remaining bytes are the fingerprint agg + band
    # index only, identical for both layouts (387,966 / 387,263 before)
    "q_dedup_simhash_pairs": 91_978,
    "q_dedup_simhash_c6": 91_978,
    "q_dedup_ngram_jaccard": 288_396,
    # r8: 37.7 MB at sf0.1 (the co-supply pair generation dominates) —
    # the one new-this-round query over the ≥10 MB-at-bench-SF bar
    "q_triangle_count": 28_166,
    # r9: the two new co-supply-graph consumers, both ≥10 MB at bench SF
    # (37.7 / 39.1 MB at sf0.1 — again dominated by the shared pair
    # generation; the peel/propagation loops themselves are |V|-scaled)
    "q_kcore": 26_724,
    "q_label_prop": 30_378,
}

# bench-only matmul shapes (operands derived from lineitem exactly as
# bench.py does — same plan, sf0.001-sized data)
_MATMUL_ENVELOPES = {
    "matmul_join_n256": 1_764_409,
    # row panels: the only exchange is A's nnz rows hash-partitioned on
    # i; partial sums stay in their task, so no partial-product bytes
    # cross the shuffle (12.7× below the join form's agg volume)
    "matmul_broadcast_n256": 138_622,
    "spmm_sparse_n2048_d05": 53_643,
    "matmul_blocked_n4096_3d": 589_686,
}


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _assert_envelope(d, expected):
    lo, hi = 0.4 * expected, 1.6 * expected
    assert lo <= d["shuffle_write_bytes"] <= hi, d
    # a completed run reads back everything it wrote
    assert d["shuffle_read_bytes"] >= 0.9 * d["shuffle_write_bytes"], d
    # nothing at this scale may spill
    assert d["spill_disk_bytes"] == 0, d


@pytest.mark.parametrize("name", sorted(_ENVELOPES))
def test_shuffle_envelope(spark, sf_dir, name):
    q = registry.queries()[name]

    def run():
        _noop(q(spark, sf_dir))

    run()  # warm: stat-probe memos populated, steady-state plan measured
    _assert_envelope(measured(spark, run), _ENVELOPES[name])


@pytest.fixture(scope="module")
def matmul_thunks(spark, sf_dir):
    """The three bench matmul shapes, operands cached outside any
    measurement window (bench.py's recipe, imported)."""
    from bench import mat_from_lineitem
    from matrix_multiplication_bigdata_ind_assignments_spark.operators import matrix as M

    ops = {
        "A256": mat_from_lineitem(spark, sf_dir, 256),
        "B256": mat_from_lineitem(spark, sf_dir, 256, shift=7),
        "A2048": mat_from_lineitem(spark, sf_dir, 2048).where("(i * 2048 + j) % 20 = 0"),
        "B2048": mat_from_lineitem(spark, sf_dir, 2048, shift=7),
        "A4096": mat_from_lineitem(spark, sf_dir, 4096),
        "B4096": mat_from_lineitem(spark, sf_dir, 4096, shift=7),
    }
    for df in ops.values():
        df.cache().count()
    yield {
        "matmul_join_n256": lambda: _noop(
            M.multiply(ops["A256"], ops["B256"], strategy="join")
        ),
        "matmul_broadcast_n256": lambda: _noop(
            M.multiply(ops["A256"], ops["B256"], strategy="broadcast")
        ),
        "spmm_sparse_n2048_d05": lambda: _noop(
            M.multiply(ops["A2048"], ops["B2048"], strategy="join")
        ),
        "matmul_blocked_n4096_3d": lambda: _noop(
            M.multiply(
                ops["A4096"],
                ops["B4096"],
                strategy="blocked",
                block_size=2048,
                panel_bytes=32 << 20,
            )
        ),
    }
    for df in ops.values():
        df.unpersist()


@pytest.mark.parametrize("name", sorted(_MATMUL_ENVELOPES))
def test_shuffle_envelope_matmul(spark, matmul_thunks, name):
    run = matmul_thunks[name]
    run()  # warm
    _assert_envelope(measured(spark, run), _MATMUL_ENVELOPES[name])


def test_measure_counts_one_job_and_no_shuffle(spark):
    """A plain collect is one job and moves no shuffle bytes."""
    m = measured(spark, lambda: spark.range(100).collect())
    assert m["jobs"] == 1, m
    assert m["shuffle_read_bytes"] == m["shuffle_write_bytes"] == 0, m
    assert m["wall_s"] > 0, m


def test_measure_back_to_back_windows_agree(spark):
    """Two windows in a row over the same aggregation charge the same
    bytes: the first window's late events do not leak into the second,
    and neither window misses its own stages."""
    df = spark.range(10_000).withColumn("k", F.col("id") % 7).groupBy("k").count()

    def run():
        df.write.format("noop").mode("overwrite").save()

    a, b = measured(spark, run), measured(spark, run)
    assert a["shuffle_write_bytes"] == b["shuffle_write_bytes"] > 0, (a, b)
    for m in (a, b):
        assert m["shuffle_read_bytes"] >= 0.9 * m["shuffle_write_bytes"], m


def test_measure_propagates_error_and_clears_job_group(spark):
    """A raising thunk's error comes through unchanged, and the window's
    job group is gone afterwards."""
    sc = spark.sparkContext

    def boom():
        spark.range(10).collect()
        raise RuntimeError("inside the window")

    with pytest.raises(RuntimeError, match="inside the window"):
        measure(spark, boom)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_only_metrics_module_touches_job_groups_and_the_store():
    """``functions/metrics.py`` is the one module that sets a job group or
    reads the status store, and the measurement helpers it replaced are
    gone from the package, the tools, bench.py and the tests."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "matrix_multiplication_bigdata_ind_assignments_spark"
    files = [os.path.join(root, "bench.py")]
    for top in (pkg, "tools", "tests"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    metrics = os.path.join(root, pkg, "functions", "metrics.py")
    store_api = re.compile(r"setJobGroup|getJobIdsForGroup|statusStore")
    deleted = re.compile(
        r"shuffle_snapshot|shuffle_delta|settled_snapshot|measure_shuffle"
        r"|_FLOOR_CACHE|count_jobs|/stages"
    )
    hits = []
    for path in files:
        if path == os.path.abspath(__file__):
            continue
        with open(path) as f:
            src = f.read()
        found = set(deleted.findall(src))
        if path != metrics:
            found |= set(store_api.findall(src))
        hits += [(os.path.relpath(path, root), name) for name in sorted(found)]
    assert hits == []


def test_explain_tool_rejects_sessions_without_jvm(spark):
    """tools/explain_queries.py reads job groups through the JVM context;
    a session without one (Spark Connect, or a stopped context) must end
    in a clear SystemExit, not an AttributeError mid-run."""
    import importlib.util
    import os
    from types import SimpleNamespace

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "explain_queries.py")
    spec = importlib.util.spec_from_file_location("explain_queries", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    class ConnectLike:
        @property
        def sparkContext(self):
            raise NotImplementedError("sparkContext() is not implemented")

    for session in (ConnectLike(), SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))):
        with pytest.raises(SystemExit, match="classic"):
            tool.classic_context(session)
    assert tool.classic_context(spark) is spark.sparkContext

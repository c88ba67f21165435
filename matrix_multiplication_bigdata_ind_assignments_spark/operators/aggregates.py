"""Aggregation family (SURVEY.md §2.2 q_bench_mean/q_speedup_efficiency,
§2.3 "Aggregations").

Spark's HashAggregate already does partial (map-side) + final aggregation;
nothing to hand-roll.  Money/measure sums go through the DECIMAL route
(functions/numeric.py) so results are bit-identical regardless of
partitioning — the FP-order-safety stance from SURVEY.md §7.

The bench-analytics queries (`q_bench_mean`, `q_speedup_efficiency`)
re-express the reference harness's derived metrics
(ref: `Stage 3/Python Implementation/mm_opt_par.py:43-86`) relationally
over the `events` proxy table (FIXTURES.md §3) — and fix the reference's
broken speedup column (SURVEY.md §2.1) by computing the baseline with a
window over the full table instead of a per-process dict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import dec_avg, dec_sum
from ..functions.scan import ntile_of_rank, two_pass_scan
from ..registry import register
from ..sources import load

# DuckDB-side equivalents of the fixed-point aggregates (functions/numeric.py).
from ..functions.numeric import sql_dec_avg as _sql_dec_avg  # noqa: E402
from ..functions.numeric import sql_dec_sum as _sql_dec_sum  # noqa: E402


@register(
    "q_agg_pricing_summary",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_sql_dec_sum('l_quantity', 2)} AS sum_qty,
       {_sql_dec_sum('l_extendedprice', 2)} AS sum_base_price,
       {_sql_dec_sum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
       {_sql_dec_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {_sql_dec_avg('l_quantity')} AS avg_qty,
       {_sql_dec_avg('l_extendedprice')} AS avg_price,
       {_sql_dec_avg('l_discount')} AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate hash agg over lineitem."""
    l = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity", 2).alias("sum_qty"),
        dec_sum("l_extendedprice", 2).alias("sum_base_price"),
        dec_sum(disc_price, 4).alias("sum_disc_price"),
        dec_sum(charge, 6).alias("sum_charge"),
        dec_avg("l_quantity").alias("avg_qty"),
        dec_avg("l_extendedprice").alias("avg_price"),
        dec_avg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "q_distinct_users",
    oracle="""
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
""",
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact count(distinct) — expands to a two-phase agg in Spark."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


def _sketch_distinct_check(value_col: str, rel: float):
    """Error-bound certificate FACTORY for distinct-count sketches
    (VERDICT r11 item 6, mirroring the unroll-stability pattern): the
    sweep recomputes the EXACT per-type distinct in DuckDB on the
    fixture being checked and requires |approx − exact| ≤ max(2, rel·n)
    — the same bound the pytest coverage asserts, now enforced inside
    the gate itself so the rows-only residue is quantified every round,
    not just at test-authoring time.  ``rel`` is ~3σ of the sketch's
    configured rsd.  Runs only in the sweep; production pays nothing."""

    def check(rows, cols, sf_dir):
        import duckdb

        exact = dict(
            duckdb.connect()
            .execute(
                "SELECT event_type, count(DISTINCT user_id)"
                f" FROM '{sf_dir}/events.parquet' GROUP BY event_type"
            )
            .fetchall()
        )
        i_t, i_v = cols.index("event_type"), cols.index(value_col)
        if {r[i_t] for r in rows} != set(exact):
            return f"group set {sorted(r[i_t] for r in rows)} != exact {sorted(exact)}"
        for r in rows:
            n = exact[r[i_t]]
            if abs(r[i_v] - n) > max(2, rel * n):
                return (
                    f"{r[i_t]}: |approx {r[i_v]} - exact {n}| ="
                    f" {abs(r[i_v] - n)} > max(2, {rel}·{n})"
                )
        return None

    return check


@register(
    "q_approx_distinct_users",
    oracle=None,  # HLL sketch ≠ DuckDB's sketch → rows-only...
    # ...but the ERROR BOUND is oracle-checkable: 3σ of rsd=0.02
    post_check=_sketch_distinct_check("n_users_approx", 0.06),
)
def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the sketch path for 100 TB
    cardinalities where exact distinct would shuffle every key.  The
    sweep certifies |approx − exact| ≤ max(2, 0.06·n) per type against a
    DuckDB exact recompute (post_check), so the rows-only status still
    carries a quantified accuracy contract."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


@register(
    "q_rollup",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       {_sql_dec_sum('l_quantity', 2)} AS sum_qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP."""
    l = load(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("l_quantity", 2).alias("sum_qty")
    )


@register(
    "q_cube",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       {_sql_dec_sum('l_quantity', 2)} AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations via CUBE."""
    l = load(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("l_quantity", 2).alias("sum_qty")
    )


@register(
    "q_grouping_sets",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(count(*) AS BIGINT) AS n,
       {_sql_dec_sum('l_extendedprice', 2)} AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
""",
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the engine's SQL surface (temp view +
    spark.sql) — the general form of rollup/cube."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("mmbd_lineitem")
    # the fixed-point aggregate SQL is engine-portable — the exact string
    # the DuckDB oracle runs also runs here
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               {_sql_dec_sum("l_extendedprice", 2)} AS sum_price
        FROM mmbd_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@register(
    "q_correlated_subquery",
    oracle="""
SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                   WHERE c2.c_nationkey = c.c_nationkey)
""",
)
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's average
    balance) — Catalyst decorrelates it into an aggregate + join
    (RewriteCorrelatedScalarSubquery, SURVEY.md §4)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("mmbd_customer")
    return spark.sql(
        """
        SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
        FROM mmbd_customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM mmbd_customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


@register(
    "q_bench_mean",
    oracle=f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_runs,
       {_sql_dec_avg('value')} AS avg_value
FROM events GROUP BY event_type
""",
)
def q_bench_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeats → mean, the harness reduction (ref
    `Stage 1/Python Implementation/mm_baseline.py:30-63`), over the events
    proxy table (FIXTURES.md §3)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"), dec_avg("value").alias("avg_value")
    )


@register(
    "q_speedup_efficiency",
    oracle=f"""
WITH per_run AS (
  SELECT event_type, user_id, {_sql_dec_avg('value')} AS t
  FROM events GROUP BY event_type, user_id
),
with_base AS (
  SELECT event_type, user_id, t,
         first_value(t) OVER (PARTITION BY event_type ORDER BY user_id) AS t1
  FROM per_run
)
SELECT event_type, user_id, t,
       round(t1 / t, 6) AS speedup,
       round(t1 / t / (user_id + 1), 6) AS efficiency
FROM with_base
""",
)
def q_speedup_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """speedup = T1/Tp, efficiency = speedup/p, computed relationally with a
    window over the whole results table — fixing the reference defect where
    each thread-count process couldn't see the T1 baseline (SURVEY.md §2.1,
    ref `Stage 3/Python Implementation/mm_opt_par.py:69-76`).  `events` is
    the proxy results table: user_id plays the thread count."""
    e = load(spark, sf_dir, "events")
    per_run = e.groupBy("event_type", "user_id").agg(dec_avg("value").alias("t"))
    return speedup_efficiency(
        per_run, "event_type", "user_id", "t", workers=F.col("user_id") + 1
    )


def speedup_efficiency(
    per_run: DataFrame, group_col: str, p_col: str, t_col: str, workers=None
) -> DataFrame:
    """q_speedup_efficiency's engine, exposed so the strong-scaling
    sweep (``tools/probe.py --cores``) derives the
    ENGINE'S OWN speedup/efficiency curve through the same operator it
    ships for user results: per group, baseline T1 = the t of the lowest
    p (first_value over the ordered window), speedup = T1/Tp, efficiency
    = speedup / workers (``workers`` defaults to the p column itself;
    q_speedup_efficiency passes user_id+1 because its proxy column is
    0-based)."""
    if workers is None:
        workers = F.col(p_col)
    w = Window.partitionBy(group_col).orderBy(p_col)
    return (
        per_run.withColumn("t1", F.first(t_col).over(w))
        .select(
            group_col,
            p_col,
            t_col,
            F.round(F.col("t1") / F.col(t_col), 6).alias("speedup"),
            F.round(F.col("t1") / F.col(t_col) / workers, 6).alias("efficiency"),
        )
    )


@register(
    "q_percentiles",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`: same linear-interpolation definition, verified
    value-identical)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("round(percentile(value, 0.5), 6)").alias("p50"),
        F.expr("round(percentile(value, 0.9), 6)").alias("p90"),
        F.expr("round(percentile(value, 0.99), 6)").alias("p99"),
    )


def _approx_percentile_check(rows, cols, sf_dir):
    """Rank-error certificate for q_approx_percentiles (VERDICT r11
    item 6): approx_percentile(accuracy=10000) guarantees the returned
    element's rank is within n/10000 of the target rank, so the value
    must lie inside the exact discrete-quantile window [q−δ, q+δ]
    (δ = 2/10000, ×2 slack) — recomputed per event_type in DuckDB on the
    fixture being swept.  quantile_disc because the sketch returns an
    actual data element, never an interpolation."""
    import duckdb

    delta = 2.0 / 10000
    con = duckdb.connect()
    i_t = cols.index("event_type")
    for q in (0.5, 0.9, 0.99):
        col = f"p{int(q * 100)}"
        i_v = cols.index(col)
        lo_hi = {
            t: (lo, hi)
            for t, lo, hi in con.execute(
                f"SELECT event_type, quantile_disc(value, {max(0.0, q - delta)}),"
                f" quantile_disc(value, {min(1.0, q + delta)})"
                f" FROM '{sf_dir}/events.parquet' GROUP BY event_type"
            ).fetchall()
        }
        for r in rows:
            lo, hi = lo_hi[r[i_t]]
            if not (lo <= r[i_v] <= hi):
                return f"{r[i_t]} {col}: {r[i_v]} outside rank window [{lo}, {hi}]"
    return None


@register("q_approx_percentiles", oracle=None, post_check=_approx_percentile_check)
# KLL/GK sketch ≠ exact → rows-only, but the RANK-ERROR bound is certified in-sweep
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the sketch path: exact percentile needs a full
    sort per group, the sketch is one pass + tiny mergeable state, which is
    what survives 100 TB.  Emitted as scalar columns (p50/p90/p99), not an
    array, so the result is canonicalizable by any row-hash checker."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50"),
        F.expr("approx_percentile(value, 0.9, 10000)").alias("p90"),
        F.expr("approx_percentile(value, 0.99, 10000)").alias("p99"),
    )


@register(
    "q_salted_agg",
    oracle=f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n, {_sql_dec_sum('value', 2)} AS total
FROM events GROUP BY event_type
""",
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: group by (key, salt) first so one
    hot key spreads over 16 reducers, then combine the partials.  The
    oracle is the plain GROUP BY — proving the salted plan is semantically
    transparent.  (For sums the partial/final split is what Spark's
    HashAggregate already does; explicit salting is the pattern for the
    operators that DON'T partial-combine, e.g. collect_list/percentile at a
    hot key, and for AQE-less engines.)"""
    e = load(spark, sf_dir, "events")
    salted = e.withColumn("salt", (F.col("event_id") % 16).cast("int"))
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("pt"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pt"), 2).cast("double").alias("total"),
    )


@register(
    "q_pivot",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(count(*) FILTER (WHERE event_type ='click') AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type ='error') AS BIGINT) AS error,
       CAST(count(*) FILTER (WHERE event_type ='purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (WHERE event_type ='signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (WHERE event_type ='view') AS BIGINT) AS view
FROM events GROUP BY day
""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts fanned out into one column per event
    type (explicit value list so the plan needs no discovery pass)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["click", "error", "purchase", "signup", "view"])
    )


@register(
    "q_series_by_group",
    oracle=f"""
SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n,
       {_sql_dec_sum('value', 2)} AS total_value
FROM events GROUP BY event_type, day
""",
)
def q_series_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group → ordered series for plotting (ref visualizer groupby series
    `Stage 1/Visualization/mm_perf_visualizer.py:51-69`)."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"), dec_sum("value", 2).alias("total_value"))


@register(
    "q_unpivot",
    oracle="""
SELECT p_partkey, 'p_retailprice' AS metric, round(p_retailprice, 6) AS metric_value
FROM part
UNION ALL
SELECT p_partkey, 'p_size' AS metric, round(CAST(p_size AS DOUBLE), 6) AS metric_value
FROM part
""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of q_pivot): wide per-part metrics to long
    (part, metric, value) rows via DataFrame.unpivot — Spark plans a
    single-pass Expand (each input row fans out to one output row per
    metric, no shuffle, no join).  The oracle is the portable UNION ALL
    form."""
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.round("p_retailprice", 6).alias("p_retailprice"),
        F.round(F.col("p_size").cast("double"), 6).alias("p_size"),
    )
    return p.unpivot(
        ids=["p_partkey"],
        values=["p_retailprice", "p_size"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@register(
    "q_minmax_by",
    oracle="""
SELECT user_id, first_type AS top_type, first_val AS top_value
FROM (
  SELECT user_id, event_type AS first_type, round(value, 6) AS first_val,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
) WHERE rn = 1
""",
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by with a composite (value, event_id) ordering struct — the
    argmax aggregate, tie-broken to a total order so the result is
    deterministic (bare max_by picks an arbitrary row among ties).  One
    hash aggregate, no window, no sort: the scale-friendly way to answer
    'which row attains the group max' (the window row_number form — used
    as the oracle here — needs a full partition sort)."""
    e = load(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    return e.groupBy("user_id").agg(
        F.max_by("event_type", F.struct("value", "event_id")).alias("top_type"),
        F.round(F.max_by("value", F.struct("value", "event_id")), 6).alias("top_value"),
    )


@register(
    "q_string_agg",
    oracle="""
SELECT r.r_name AS region, string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY region
""",
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg): nation names per region,
    sorted then joined — collect_list order is partition-arbitrary, so the
    sort happens inside array_sort to make the concatenation
    deterministic.  collect_list is fine here because groups are small by
    construction (dims); for unbounded groups this becomes the token-shard
    pattern (profiling.py) instead of one giant string."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
    )


@register(
    "q_hll_union",
    oracle=None,  # HLL sketch values are engine-specific → rows-only...
    # ...with the error bound certified in-sweep: lgK=12 → rsd ≈ 1.6%, 3σ ≈ 5%
    post_check=_sketch_distinct_check("approx_users", 0.05),
)
def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-day HyperLogLog sketches of
    user_id (hll_sketch_agg) unioned into one per-event-type estimate
    (hll_union_agg).  THE pattern for distinct counts at 100 TB: each
    partition/day materializes a ~KB sketch once, and any rollup
    (day→month→total, per-shard→global) is a cheap sketch merge instead
    of a re-scan.  Accuracy vs exact distinct is certified both in
    pytest (test_profiling.py) and INSIDE the sweep (post_check vs a
    DuckDB exact recompute, ±5%)."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    return daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("approx_users"),
        F.count(F.lit(1)).cast("long").alias("n_daily_sketches"),
    )


# ------------------------------------------------------- event analytics

# shared IEEE ratio text (both engines): NULL on an empty denominator,
# floor-based 4-dp half-up otherwise (round() disagrees at .5 boundaries)
def _ratio4(num: str, den: str) -> str:
    return (
        f"CASE WHEN {den} = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        f"(CAST(floor((CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)) * 10000 + 0.5) AS DOUBLE) / 10000) END"
    )


#: per-stage output expressions (stage label, count, ratio texts) — the
#: ratio arithmetic is shared verbatim; only row construction differs
#: (Spark unpivots the single aggregated row with one stack() generator
#: so the chain evaluates ONCE; DuckDB may re-evaluate its cheap CTE)
_FUNNEL_STAGES = [
    ("view", "n1", _ratio4("n1", "n1"), _ratio4("n1", "n1")),
    ("click", "n2", _ratio4("n2", "n1"), _ratio4("n2", "n1")),
    ("purchase", "n3", _ratio4("n3", "n2"), _ratio4("n3", "n1")),
]

_FUNNEL_TAIL = "\nUNION ALL\n".join(
    f"SELECT '{s}' AS stage, {n} AS n_users, {rp} AS conv_vs_prev, {rf} AS conv_vs_first FROM f"
    for s, n, rp, rf in _FUNNEL_STAGES
)


def funnel_user_stages(e: DataFrame) -> DataFrame:
    """Per-user funnel stage entries (user_id, t1, t2, t3) in one scan +
    one user_id shuffle: min view-ts plus the user's click/purchase
    timestamp lists, chained with filter/array_min higher-order
    expressions (null-propagating: no previous stage → null comparison
    → empty filter → null entry).  Shared by q_funnel and
    q_funnel_latency."""
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1"),
        F.collect_list(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("clicks"),
        F.collect_list(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("purchases"),
    )
    return per_user.select(
        "user_id",
        "t1",
        F.array_min(F.filter("clicks", lambda c: c > F.col("t1"))).alias("t2"),
        "purchases",
    ).select(
        "user_id",
        "t1",
        "t2",
        F.array_min(F.filter("purchases", lambda p: p > F.col("t2"))).alias("t3"),
    )


#: the funnel oracle — shared with q_stream_funnel (streaming/queries.py),
#: whose availableNow replay must land on the identical 3-row table
FUNNEL_ORACLE = f"""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
),
f AS (
  SELECT (SELECT count(*) FROM v) AS n1,
         (SELECT count(*) FROM c) AS n2,
         (SELECT count(*) FROM p) AS n3
)
{_FUNNEL_TAIL}
"""


@register("q_funnel", oracle=FUNNEL_ORACLE)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at each stage only if the stage event happens STRICTLY AFTER their
    entry into the previous stage (first view, then first click after
    that view, then first purchase after that click) — the temporal
    ordering that separates funnel analysis from three independent
    counts.  Shape at scale: ONE scan and ONE shuffle — events group
    once on user_id (min view-ts plus the user's click/purchase
    timestamp lists), the stage-entry chain is per-user array logic
    (filter + array_min, JVM higher-order functions; no previous stage
    → null comparison → empty filter → null entry), and the three stage
    totals close with a single combinable count agg.  The textbook
    form (three chained filter→join→agg passes) plans 6 event scans
    and 13 exchanges — this is the rewrite of it.  Per-user state is
    bounded by that user's own event count (a pathological hot user
    wants the span-split treatment, not a different algorithm)."""
    staged = funnel_user_stages(load(spark, sf_dir, "events"))
    f = staged.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    stack_args = ", ".join(
        f"'{s}', {n}, {rp}, {rf}" for s, n, rp, rf in _FUNNEL_STAGES
    )
    return f.select(
        F.expr(f"stack(3, {stack_args})").alias(
            "stage", "n_users", "conv_vs_prev", "conv_vs_first"
        )
    )


#: week index from the fixture's 2024-01-01 UTC origin (1704067200) —
#: day-truncated epoch seconds keep the arithmetic integral; the engines
#: spell epoch extraction differently but produce the same integer
_WEEK_ORIGIN = 1_704_067_200
_WEEK_SPARK = "CAST(floor((unix_timestamp(date_trunc('DAY', {ts})) - 1704067200) / 604800) AS BIGINT)"
_WEEK_DUCK = "CAST(floor((epoch(date_trunc('day', {ts})) - 1704067200) / 604800) AS BIGINT)"


#: shared by q_cohort_retention and its streaming twin q_stream_cohort
#: (streaming/queries.py) — batch equivalence IS the streaming oracle,
#: the q_stream_funnel pattern
COHORT_ORACLE = f"""
WITH first_ev AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
cohort AS (
  SELECT user_id, {_WEEK_DUCK.format(ts="first_ts")} AS cohort_week FROM first_ev
),
act AS (
  SELECT c.cohort_week,
         {_WEEK_DUCK.format(ts="e.ts")} - c.cohort_week AS week_offset,
         e.user_id
  FROM events e JOIN cohort c ON e.user_id = c.user_id
),
ret AS (
  SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
  FROM act GROUP BY cohort_week, week_offset
),
sizes AS (
  SELECT cohort_week, count(*) AS cohort_size FROM cohort GROUP BY cohort_week
)
SELECT r.cohort_week, r.week_offset, r.n_users,
       {{ratio}} AS retention
FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
""".replace("{ratio}", _ratio4("r.n_users", "s.cohort_size"))


@register("q_cohort_retention", oracle=COHORT_ORACLE)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the week of their
    first event; each (cohort_week, week_offset) cell counts the
    distinct cohort members active that many weeks later, with the
    retention ratio against the cohort size.  Shape at scale: one
    per-user min-agg (shuffle on user_id), one co-partitioned join back
    to events (same key — no second exchange of the fact side), one
    distinct-count agg over (cohort, offset), and a broadcast join
    against the tiny cohort-size table.  Week bucketing is integral
    epoch-day arithmetic, so the matrix is exact in both engines."""
    e = load(spark, sf_dir, "events")
    first_ev = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = first_ev.selectExpr(
        "user_id", f"{_WEEK_SPARK.format(ts='first_ts')} AS cohort_week"
    )
    act = e.join(cohort, "user_id").selectExpr(
        "cohort_week",
        f"{_WEEK_SPARK.format(ts='ts')} - cohort_week AS week_offset",
        "user_id",
    )
    ret = act.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("n_users")
    )
    sizes = cohort.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return ret.join(F.broadcast(sizes), "cohort_week").selectExpr(
        "cohort_week",
        "week_offset",
        "n_users",
        f"{_ratio4('n_users', 'cohort_size')} AS retention",
    )


@register(
    "q_markov_transitions",
    oracle=f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type AS from_type, event_type AS to_type, count(*) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       {{ratio}} AS prob
FROM (SELECT *, sum(n) OVER (PARTITION BY from_type) AS tot FROM pairs)
""".replace("{ratio}", _ratio4("n", "tot")),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag each user's (ts, event_id)-ordered stream by one,
    count (from_type → to_type) pairs, row-normalize into transition
    probabilities — the behavioral model behind next-event prediction
    and anomalous-session scoring.  Shape at scale: the sequence window
    partitions on user_id (per-user sort of that user's OWN events —
    parallel, no global order), the pair count is one combinable agg to
    |types|² rows, and the normalizing sum is a window over that tiny
    matrix.  Determinism: (ts, event_id) is a total order, counts are
    integers, probabilities are the shared floor-rounded ratio text."""
    from pyspark.sql.window import Window

    e = load(spark, sf_dir, "events")
    seq_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.col("event_type").alias("to_type"),
            F.lag("event_type").over(seq_w).alias("from_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot_w = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(tot_w).alias("tot"),
    ).selectExpr("from_type", "to_type", "n", f"{_ratio4('n', 'tot')} AS prob")


#: fixed recency anchor: the day after the fixture horizon
#: (2024-02-01T00:00Z) — integral epoch-day arithmetic as in the cohort op
_RFM_ANCHOR = 1_706_745_600


#: shared by q_rfm_segments and its distributed-scan twin — identical
#: result by construction (scan row_number + closed-form ntile ==
#: global ntile window), so both register the same oracle
_RFM_ORACLE = f"""
WITH per_user AS (
  SELECT user_id,
         CAST(floor(({_RFM_ANCHOR} - epoch(date_trunc('day', max(ts)))) / 86400) AS BIGINT) AS recency_days,
         count(*) AS frequency,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS monetary_micro
  FROM events GROUP BY user_id
),
scored AS (
  SELECT CAST(ntile(5) OVER (ORDER BY recency_days ASC, user_id) AS INTEGER) AS r_score,
         CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) AS f_score,
         CAST(ntile(5) OVER (ORDER BY monetary_micro DESC, user_id) AS INTEGER) AS m_score,
         monetary_micro
  FROM per_user
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       (CAST(floor((CAST(sum(monetary_micro) AS DOUBLE) / CAST(1000000 AS DOUBLE)) * 100 + 0.5) AS DOUBLE) / 100) AS total_monetary
FROM scored GROUP BY r_score, f_score, m_score
"""


def _rfm_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user R/F/M rollup (the combinable first pass both RFM forms
    share): events collapse to the user dimension before any scoring."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.expr(
            f"CAST(floor(({_RFM_ANCHOR} - unix_timestamp(date_trunc('DAY', max(ts)))) / 86400) AS BIGINT)"
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 1e6 + 0.5).cast("long"),
            ).otherwise(F.lit(0))
        ).alias("monetary_micro"),
    )


def _rfm_close(scored: DataFrame) -> DataFrame:
    """Closing segment-matrix agg shared by both RFM forms."""
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.expr(
            "(CAST(floor((CAST(sum(monetary_micro) AS DOUBLE) / CAST(1000000 AS DOUBLE)) * 100 + 0.5) AS DOUBLE) / 100)"
        ).alias("total_monetary"),
    )


@register("q_rfm_segments", oracle=_RFM_ORACLE)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, Recency (days from last event to the
    fixed fixture-horizon anchor), Frequency (event count) and Monetary
    (exact fixed-point purchase-value sum), each scored into quintiles
    by ntile(5) with a user_id tie-break (total order → deterministic
    cut points), then aggregated into the segment matrix.  Shape at
    scale: events collapse to the user dimension FIRST (one combinable
    agg), so the global ntile sorts |users| rows, not |events| — and
    past the point where even that sort hurts,
    q_rfm_segments_scalable computes the SAME quintiles through the
    distributed two-pass scan; the ntile form is the exact-semantics
    operator.  Monetary sums are exact µunit longs (the
    functions.numeric route)."""
    per_user = _rfm_per_user(spark, sf_dir)
    scored = per_user.select(
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("user_id")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("user_id")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_micro"), F.asc("user_id")))
        .alias("m_score"),
        "monetary_micro",
    )
    return _rfm_close(scored)


@register("q_rfm_segments_scalable", oracle=_RFM_ORACLE)
def q_rfm_segments_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_rfm_segments with the three global ntile(5) windows replaced by
    three distributed two-pass scans (functions/scan.py — VERDICT r11
    item 2): each score's total order (recency ASC / frequency DESC /
    monetary DESC, user_id tie-break) gets a range-partitioned global
    row_number, and ntile collapses to the closed form over (rn, N) —
    the SQL-standard remainder-in-the-first-buckets split, computed with
    driver-side N from the scan's own per-partition totals
    (scan.ntile_of_rank; NOT the evenly-spread floor((rn-1)·b/N)
    approximation, which mis-buckets whenever N % 5 ≠ 0).  Identical
    output to the window form for any range-boundary placement, so this
    registers the SAME oracle — and no stage sorts more than
    |users| / n_partitions rows.  Three scans = three shuffles of the
    users rollup; the window form pays three single-partition global
    sorts instead, which is the trade this twin exists to flip at
    scale."""
    per_user = _rfm_per_user(spark, sf_dir)
    out, n_users = per_user, None
    for score, order in (
        ("r_score", [F.asc("recency_days"), F.asc("user_id")]),
        ("f_score", [F.desc("frequency"), F.asc("user_id")]),
        ("m_score", [F.desc("monetary_micro"), F.asc("user_id")]),
    ):
        out, n, _ = two_pass_scan(out, order, rn_col="__rn")
        n_users = n if n_users is None else n_users
        out = out.withColumn(score, F.expr(ntile_of_rank("__rn", n_users, 5))).drop(
            "__rn"
        )
    return _rfm_close(out.select("r_score", "f_score", "m_score", "monetary_micro"))


#: exact-sum mean in ms grain, identical text both engines (sum of µs
#: longs is exact; the division tree is shared)
_LAT_AVG = (
    "(CAST(floor(CAST(sum(lat_us) AS DOUBLE) / count(*) / 1000000 * 1000 + 0.5) AS DOUBLE) / 1000)"
)
#: interpolated percentiles floor-rounded to WHOLE seconds: the
#: quantile is a midpoint of exact integral µs values (exactly
#: representable doubles), so the shared floor text is deterministic
_LAT_P = "CAST(floor({q} / 1000000 + 0.5) AS BIGINT)"


@register(
    "q_funnel_latency",
    oracle=f"""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
),
lat AS (
  SELECT epoch_us(p.t3) - epoch_us(v.t1) AS lat_us
  FROM p JOIN v ON p.user_id = v.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       {_LAT_AVG} AS avg_s,
       {_LAT_P.format(q="quantile_cont(lat_us, 0.5)")} AS p50_s,
       {_LAT_P.format(q="quantile_cont(lat_us, 0.9)")} AS p90_s
FROM lat
""",
)
def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the completed funnel: per
    converted user, the µs span from first view to the funnel-completing
    purchase; reported as count, exact-sum mean (ms grain), and
    interpolated p50/p90 (whole seconds — Spark `percentile` ≡ DuckDB
    `quantile_cont`, the q_percentiles equivalence; the quantile is a
    midpoint of exactly-representable integral µs doubles, so the
    shared floor-rounding text is deterministic, not grain-lucky).
    Same one-scan one-shuffle shape as q_funnel (shared
    funnel_user_stages helper); the latency agg collapses the converted
    cohort to a single row."""
    staged = funnel_user_stages(load(spark, sf_dir, "events"))
    lat = staged.where(F.col("t3").isNotNull()).select(
        (F.unix_micros("t3") - F.unix_micros("t1")).alias("lat_us")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr(f"{_LAT_AVG}").alias("avg_s"),
        F.expr(_LAT_P.format(q="percentile(lat_us, 0.5)")).alias("p50_s"),
        F.expr(_LAT_P.format(q="percentile(lat_us, 0.9)")).alias("p90_s"),
    )


#: 7-day attribution lookback, in µs (the frame bound is integral epoch
#: micros in BOTH engines — unix_micros ≡ epoch_us, the q_funnel_latency
#: equivalence)
_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000

#: a touch is packed into ONE sortable long — µs·4 + channel code
#: (1=view, 2=click) — so min/max over a RANGE frame is a deterministic
#: argmin/argmax in both engines (no struct-ordering divergence; µs·4
#: tops out ≈ 7e15, far inside int64)
_ATTR_KEY_SPARK = (
    "CASE WHEN event_type = 'view'  THEN unix_micros(ts) * 4 + 1 "
    "     WHEN event_type = 'click' THEN unix_micros(ts) * 4 + 2 END"
)
_ATTR_KEY_DUCK = (
    "CASE WHEN event_type = 'view'  THEN epoch_us(ts) * 4 + 1 "
    "     WHEN event_type = 'click' THEN epoch_us(ts) * 4 + 2 END"
)

ATTRIBUTION_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_type, value, epoch_us(ts) AS us,
         {_ATTR_KEY_DUCK} AS tkey
  FROM events
),
scored AS (
  SELECT user_id, event_type, value,
         max(tkey) OVER w AS last_key,
         min(tkey) OVER w AS first_key
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {_ATTR_WINDOW_US} PRECEDING AND 1 PRECEDING)
),
pur AS (SELECT * FROM scored WHERE event_type = 'purchase'),
long AS (
  SELECT 'first_touch' AS model, first_key AS key, value FROM pur
  UNION ALL
  SELECT 'last_touch' AS model, last_key AS key, value FROM pur
)
SELECT model,
       CASE WHEN key IS NULL THEN 'none'
            WHEN key % 4 = 1 THEN 'view' ELSE 'click' END AS channel,
       CAST(count(*) AS BIGINT) AS purchases,
       {_sql_dec_sum('value', 6)} AS revenue
FROM long GROUP BY model, channel
"""


@register("q_attribution", oracle=ATTRIBUTION_ORACLE)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution over the event stream: each purchase's
    value is credited to the user's FIRST and LAST touch (view/click)
    inside a 7-day lookback strictly before the purchase, reported as
    (model, channel) → purchase count + revenue — the first-touch /
    last-touch pair every growth team reconciles.  Shape at scale: ONE
    scan and ONE user_id shuffle — the preceding-touch argmin/argmax is
    a RANGE-frame window over packed (µs·4+code) longs, NOT a per-
    purchase×touch pairwise join (per-user quadratic; the difference
    between O(events) and O(events·touches) at 100 TB), and both models
    fall out of the same frame (max = last, min = first).  The closing
    rollup is a combinable agg on a 6-key result.  Revenue sums take
    the fixed-point route (functions/numeric.py) so the hash is
    partition-order-proof."""
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("us"),
        F.expr(_ATTR_KEY_SPARK).alias("tkey"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ATTR_WINDOW_US, -1)
    )
    pur = (
        ev.withColumn("last_key", F.max("tkey").over(w))
        .withColumn("first_key", F.min("tkey").over(w))
        .where(F.col("event_type") == "purchase")
    )
    long = pur.select(
        F.expr(
            "stack(2, 'first_touch', first_key, 'last_touch', last_key)"
        ).alias("model", "key"),
        "value",
    )
    channel = (
        F.when(F.col("key").isNull(), F.lit("none"))
        .when(F.col("key") % 4 == 1, F.lit("view"))
        .otherwise(F.lit("click"))
    )
    return long.groupBy("model", channel.alias("channel")).agg(
        F.count(F.lit(1)).cast("long").alias("purchases"),
        dec_sum("value", 6).alias("revenue"),
    )


_LIFT_MIN_PAIRS = 2  # co-occurrence support floor
_LIFT_TOPK = 3

#: shared lift text (both engines, one IEEE op order): lift(a,b) =
#: P(ab)/(P(a)P(b)) = cab·N/(ca·cb), micro-quantized
_LIFT_EXPR = (
    "CAST(floor(CAST(cab AS DOUBLE) * n_ord / ca / cb * 1000000 + 0.5) AS BIGINT)"
)


@register(
    "q_copurchase_lift",
    oracle=f"""
WITH op AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
sup AS MATERIALIZED (SELECT p, count(*) AS c FROM op GROUP BY p),
n AS (SELECT count(DISTINCT o) AS n_ord FROM op),
pairs AS (
  SELECT a.p AS pa, b.p AS pb, count(*) AS cab
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING count(*) >= {_LIFT_MIN_PAIRS}
),
sym AS (
  SELECT pa AS part, pb AS partner, cab FROM pairs
  UNION ALL
  SELECT pb AS part, pa AS partner, cab FROM pairs
),
scored AS (
  SELECT s.part, s.partner, s.cab,
         {_LIFT_EXPR} AS lift_micro
  FROM (SELECT sym.part, sym.partner, sym.cab, sa.c AS ca, sb.c AS cb, n.n_ord
        FROM sym JOIN sup sa ON sym.part = sa.p
                 JOIN sup sb ON sym.partner = sb.p, n) s
)
SELECT part, partner, CAST(cab AS BIGINT) AS n_cooccur, lift_micro,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY part
            ORDER BY lift_micro DESC, partner) AS rk
  FROM scored
) WHERE rk <= {_LIFT_TOPK}
""",
)
def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Bought together' recommendations: per part, the top-{k}
    co-purchased partners ranked by LIFT (P(ab)/(P(a)·P(b)) over order
    baskets) — the association-rule / market-basket primitive.  Shape
    at scale: the basket self-join is bounded by basket size (max 17
    parts/order in the fixture; a hot basket wants the span-split
    treatment, not a different algorithm), pair counts and supports
    are combinable aggs, the support table joins back BROADCAST
    (vocab-sized), and the per-part top-k is a window over the
    support-floored pair set (≥{m} co-occurrences), never all pairs.
    Lift is one shared micro-quantized expression text; tie-break
    (lift DESC, partner ASC) totalizes the cut.""".replace(
        "{k}", str(_LIFT_TOPK)
    ).replace("{m}", str(_LIFT_MIN_PAIRS))
    op = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # three readers: pairs, supports, N
    )
    sup = op.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    n = op.agg(F.count_distinct("o").alias("n_ord"))
    a, b = op.alias("a"), op.alias("b")
    # r12: the basket fan-out all passes this count agg — pack the pair
    # into ONE BIGINT key (pa<<32 | pb; partkeys are 32-bit-positive) so
    # the hot hash map hashes a single long and the exchange carries
    # half the key bytes (the graph.cosupply_edges move, guide §2.3);
    # unpacked right after the agg — pair set bit-identical.
    pairs = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        # CAST AS BIGINT (ADVICE r12): shiftleft on an int32 column would
        # silently no-op (Java shift masking) — cast keeps the pack lossless
        .select(F.expr("shiftleft(CAST(a.p AS BIGINT), 32) | CAST(b.p AS BIGINT)").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cab"))
        .where(F.col("cab") >= _LIFT_MIN_PAIRS)
        .select(
            F.expr("shiftright(k, 32)").alias("pa"),
            F.expr("k & 4294967295").alias("pb"),
            "cab",
        )
    )
    sym = pairs.selectExpr("pa AS part", "pb AS partner", "cab").unionAll(
        pairs.selectExpr("pb AS part", "pa AS partner", "cab")
    )
    scored = (
        sym.join(F.broadcast(sup.selectExpr("p AS part", "c AS ca")), "part")
        .join(F.broadcast(sup.selectExpr("p AS partner", "c AS cb")), "partner")
        .crossJoin(F.broadcast(n))
        .select("part", "partner", "cab", F.expr(_LIFT_EXPR).alias("lift_micro"))
    )
    w = Window.partitionBy("part").orderBy(F.col("lift_micro").desc(), F.col("partner"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _LIFT_TOPK)
        .select(
            "part",
            "partner",
            F.col("cab").cast("long").alias("n_cooccur"),
            "lift_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )


_PATH_LEN = 3
_PATH_TOPN = 10


@register(
    "q_path_topk",
    oracle=f"""
WITH rn AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
paths AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM rn WHERE rn <= {_PATH_LEN} GROUP BY user_id
)
SELECT path, CAST(count(*) AS BIGINT) AS n_users
FROM paths GROUP BY path
ORDER BY n_users DESC, path
LIMIT {_PATH_TOPN}
""",
)
def q_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{n} opening event paths: each user's first {k} events (by
    the (ts, event_id) total order) joined into a '>' path string,
    counted across users — the entry-flow analysis behind onboarding
    funnels and the Markov family's empirical prior.  Scale shape: ONE
    user_id shuffle serves the ranking window and the per-user
    path agg (Spark reuses the partitioning); the path table is
    |users| rows collapsing to at most |event_types|^{k} distinct
    paths (map-side combinable), and the cut is TakeOrdered over that
    tiny rollup with a total (count DESC, path) order.  All counts and
    strings — no FP anywhere.""".replace("{n}", str(_PATH_TOPN)).replace(
        "{k}", str(_PATH_LEN)
    )
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rn = e.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
    paths = (
        rn.where(F.col("rn") <= _PATH_LEN)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x.event_type,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOPN)
    )


#: shared share text: exact µunit longs in, one divide out
_SHARE_EXPR = (
    "(CAST(floor((CAST(rev_u AS DOUBLE) / CAST(region_u AS DOUBLE)) * 1000000 + 0.5)"
    " AS DOUBLE) / 1000000)"
)


@register(
    "q_revenue_share",
    oracle=f"""
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1000000 + 0.5) AS BIGINT)) AS rev_u
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  JOIN region r   ON n.n_regionkey = r.r_regionkey
  GROUP BY region, nation
),
sh AS (
  SELECT region, nation, rev_u,
         sum(rev_u) OVER (PARTITION BY region) AS region_u
  FROM rev
)
SELECT region, nation,
       (CAST(rev_u AS DOUBLE) / 1000000) AS revenue,
       {_SHARE_EXPR} AS share
FROM sh
""",
)
def q_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue —
    the contribution-analysis window (percent-of-total) every BI layer
    ships, composed over the full star join.  The share divides exact
    µunit longs (fixed-point route), so any partitioning gives the
    same bits; the window runs over the NATIONS rollup (25 rows), not
    the fact table.  Shape: the star join broadcasts the three dims,
    one combinable revenue agg, one tiny window."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6 + F.lit(0.5)
                ).cast("long")
            ).alias("rev_u")
        )
    )
    w = Window.partitionBy("region")
    sh = rev.select("region", "nation", "rev_u", F.sum("rev_u").over(w).alias("region_u"))
    return sh.selectExpr(
        "region",
        "nation",
        "(CAST(rev_u AS DOUBLE) / 1000000) AS revenue",
        f"{_SHARE_EXPR} AS share",
    )


#: shared closing text for the two-proportion z-test — exact long counts
#: in, a handful of IEEE ops out (identical text both engines)
_AB_RATE = "(CAST(floor((CAST({c} AS DOUBLE) / {n}) * 1000000 + 0.5) AS DOUBLE) / 1000000)"
_AB_Z = (
    "(CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN NULL"
    " ELSE (CAST(floor(((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)"
    " / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb)) * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))"
    " * (1.0 / na + 1.0 / nb))) * 10000 + 0.5) AS DOUBLE) / 10000) END)"
)
_AB_CONV_MIN = 14  # conversion bar: >= median purchases — a 40-60% rate at every SF


@register(
    "q_ab_test",
    oracle=f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') >= {_AB_CONV_MIN} AS INT) AS conv
  FROM events GROUP BY user_id
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
  FROM u GROUP BY arm
),
wide AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS na,
         max(CASE WHEN arm = 0 THEN c END) AS ca,
         max(CASE WHEN arm = 1 THEN n END) AS nb,
         max(CASE WHEN arm = 1 THEN c END) AS cb
  FROM arms
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
       CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
       {_AB_RATE.format(c="ca", n="na")} AS rate_a,
       {_AB_RATE.format(c="cb", n="nb")} AS rate_b,
       {_AB_Z} AS z_score,
       abs({_AB_Z}) > 1.96 AS significant
FROM wide
""",
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B conversion test: users split into arms by
    the deterministic user_id parity (the hash-split every experiment
    platform ships — q_train_test_split's 2-arm cousin), conversion =
    at least 14 purchases (the median bar, a 40-60% rate at every
    fixture SF so the test is non-degenerate; an all-convert arm
    yields a NULL z by the pooled-variance guard), and the pooled
    two-proportion z-score with a 1.96 significance verdict — the experimentation readout a
    product pipeline computes per flag.  Exact: per-arm user and
    conversion counts are exact longs (one map-side-combinable
    per-user agg + a 2-row arm rollup); the z expression is one shared
    IEEE text over those longs, quantized at 4 dp.  Shape: one
    user_id-keyed agg (combinable), a 2-row pivot, a 1-row closing
    select — nothing scales past the first exchange."""
    e = load(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", 1)) >= _AB_CONV_MIN
        ).cast("int").alias("conv")
    ).select((F.col("user_id") % 2).alias("arm"), "conv")
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("conv").cast("long").alias("c")
    )
    wide = arms.groupBy().agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == 0, F.col("c"))).alias("ca"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == 1, F.col("c"))).alias("cb"),
    )
    return wide.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(ca AS BIGINT) AS conv_a",
        "CAST(nb AS BIGINT) AS n_b",
        "CAST(cb AS BIGINT) AS conv_b",
        f"{_AB_RATE.format(c='ca', n='na')} AS rate_a",
        f"{_AB_RATE.format(c='cb', n='nb')} AS rate_b",
        f"{_AB_Z} AS z_score",
        f"abs({_AB_Z}) > 1.96 AS significant",
    )


@register(
    "q_cohort_value",
    oracle=f"""
WITH first_ev AS (
  SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id
),
cohort AS (
  SELECT user_id, {_WEEK_DUCK.format(ts="first_ts")} AS cohort_week FROM first_ev
),
wk AS (
  SELECT c.cohort_week,
         {_WEEK_DUCK.format(ts="e.ts")} - c.cohort_week AS week_offset,
         CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS v
  FROM events e JOIN cohort c ON e.user_id = c.user_id
),
per AS (
  SELECT cohort_week, week_offset, sum(v) AS week_u
  FROM wk GROUP BY cohort_week, week_offset
)
SELECT cohort_week, week_offset,
       (CAST(week_u AS DOUBLE) / 1000000) AS week_value,
       (CAST(sum(week_u) OVER (PARTITION BY cohort_week ORDER BY week_offset
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000)
       AS cum_value
FROM per
""",
)
def q_cohort_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort cumulative value (the LTV curve): per acquisition-week
    cohort, the event value accrued at each week offset and its
    running total — the revenue twin of q_cohort_retention (shared
    integral week bucketing, _WEEK_SPARK text) and the number a growth
    model discounts into lifetime value.  Exact: per-event values ride
    6-dp fixed point, the per-(cohort, offset) sums and the cumulative
    window are exact long arithmetic, divided once per output cell.
    Shape: one user_id shuffle for the cohort join (the retention
    query's plan), one combinable (cohort, offset) agg, one window
    over the WEEKS-sized rollup."""
    e = load(spark, sf_dir, "events")
    first_ev = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = first_ev.selectExpr(
        "user_id", f"{_WEEK_SPARK.format(ts='first_ts')} AS cohort_week"
    )
    wk = e.join(cohort, "user_id").selectExpr(
        "cohort_week",
        f"{_WEEK_SPARK.format(ts='ts')} - cohort_week AS week_offset",
        "CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v",
    )
    per = wk.groupBy("cohort_week", "week_offset").agg(F.sum("v").alias("week_u"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "cohort_week",
        "week_offset",
        (F.col("week_u").cast("double") / 1e6).alias("week_value"),
        (F.sum("week_u").over(w).cast("double") / 1e6).alias("cum_value"),
    )


#: Welch t-test closing text — exact centi-unit longs in (s=sum, q=sum
#: of squares, n=count per arm), a shared IEEE expression out
_WELCH_V = "(({q} - CAST({s} AS DOUBLE) * {s} / {n}) / ({n} - 1))"
_WELCH_T = (
    f"(CAST(floor(((CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)"
    f" / sqrt({_WELCH_V.format(q='qa', s='sa', n='na')} / na"
    f" + {_WELCH_V.format(q='qb', s='sb', n='nb')} / nb)) * 10000 + 0.5) AS DOUBLE) / 10000)"
)


@register(
    "q_welch_ttest",
    oracle=f"""
WITH v AS (
  SELECT user_id % 2 AS arm, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS s,
         CAST(sum(c * c) AS BIGINT) AS q
  FROM v GROUP BY arm
),
wide AS (
  SELECT max(CASE WHEN arm = 0 THEN n END) AS na, max(CASE WHEN arm = 0 THEN s END) AS sa,
         max(CASE WHEN arm = 0 THEN q END) AS qa,
         max(CASE WHEN arm = 1 THEN n END) AS nb, max(CASE WHEN arm = 1 THEN s END) AS sb,
         max(CASE WHEN arm = 1 THEN q END) AS qb
  FROM arms
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       (CAST(floor((CAST(sa AS DOUBLE) / na / 100) * 1000000 + 0.5) AS DOUBLE) / 1000000) AS mean_a,
       (CAST(floor((CAST(sb AS DOUBLE) / nb / 100) * 1000000 + 0.5) AS DOUBLE) / 1000000) AS mean_b,
       {_WELCH_T} AS t_stat,
       abs({_WELCH_T}) > 1.96 AS significant
FROM wide
""",
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test on the CONTINUOUS event value between
    the user-parity arms — q_ab_test's metric twin (conversion rates
    get the z-test, revenue/latency metrics get Welch, the default in
    every experimentation platform because arm variances are never
    equal).  Exact inputs: per-arm count / centi-unit sum / centi-unit
    sum of squares (c² ~ 7e8 per row — the long route holds to ~1e9
    rows per arm, then DECIMAL(38,0)); the t statistic is one shared
    IEEE text over those six longs, 4-dp quantized.  Shape: one
    map-side-combinable agg to 2 rows, a 1-row pivot, a 1-row select.
    """
    e = load(spark, sf_dir, "events")
    v = e.select(
        (F.col("user_id") % 2).alias("arm"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    arms = v.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    )
    wide = arms.groupBy().agg(
        *[
            F.max(F.when(F.col("arm") == a, F.col(col))).alias(f"{col}{suffix}")
            for a, suffix in ((0, "a"), (1, "b"))
            for col in ("n", "s", "q")
        ]
    )
    return wide.selectExpr(
        "CAST(na AS BIGINT) AS n_a",
        "CAST(nb AS BIGINT) AS n_b",
        "(CAST(floor((CAST(sa AS DOUBLE) / na / 100) * 1000000 + 0.5) AS DOUBLE) / 1000000) AS mean_a",
        "(CAST(floor((CAST(sb AS DOUBLE) / nb / 100) * 1000000 + 0.5) AS DOUBLE) / 1000000) AS mean_b",
        f"{_WELCH_T} AS t_stat",
        f"abs({_WELCH_T}) > 1.96 AS significant",
    )


#: ABC class cutoffs on cumulative revenue share (classic 80/95 split)
_ABC_A, _ABC_B = 80, 95

#: all-integer class rule: class of a part = compares of 100*cum_u
#: against cut*total_u — no rational share ever materializes.  The
#: compare runs on DECIMAL(38,0), not BIGINT: tot_u (total revenue in
#: µunits) reaches ~3.0e18 at sf0.1, so 100*tot_u overflows int64 at
#: roughly 3x that scale, while DECIMAL(38,0)*100 tops out at ~1e38 —
#: nine decades of headroom (ADVICE r10).  Both engines type the
#: product DECIMAL(38,0) so the compare stays exact.
_ABC_CLASS = (
    f"CASE WHEN CAST(cum_u AS DECIMAL(38,0)) * 100"
    f" <= CAST(tot_u AS DECIMAL(38,0)) * {_ABC_A} THEN 'A' "
    f"WHEN CAST(cum_u AS DECIMAL(38,0)) * 100"
    f" <= CAST(tot_u AS DECIMAL(38,0)) * {_ABC_B} THEN 'B' ELSE 'C' END"
)


#: shared by q_pareto_abc and its distributed-scan twin — identical
#: result by construction, so both register the same oracle
_PARETO_ORACLE = f"""
WITH rev AS (
  SELECT l_partkey, sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT)) AS rev_u
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, rev_u,
         sum(rev_u) OVER (ORDER BY rev_u DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_u,
         sum(rev_u) OVER () AS tot_u
  FROM rev
),
classed AS (SELECT rev_u, tot_u, {_ABC_CLASS} AS abc FROM ranked)
SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
       (CAST(sum(rev_u) AS DOUBLE) / 1000000) AS revenue,
       (CAST(floor((CAST(sum(rev_u) AS DOUBLE) / max(tot_u)) * 1000000 + 0.5) AS DOUBLE)
        / 1000000) AS share
FROM classed GROUP BY abc
"""


def _part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part exact µunit revenue rollup (the combinable first pass
    both pareto forms share)."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1e6 + F.lit(0.5)).cast("long")
        ).alias("rev_u")
    )


def _abc_close(classed: DataFrame) -> DataFrame:
    """Closing 3-row segment agg shared by both pareto forms."""
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        (F.sum("rev_u").cast("double") / 1e6).alias("revenue"),
        F.expr(
            "(CAST(floor((CAST(sum(rev_u) AS DOUBLE) / max(tot_u)) * 1000000 + 0.5)"
            " AS DOUBLE) / 1000000)"
        ).alias("share"),
    )


@register("q_pareto_abc", oracle=_PARETO_ORACLE)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory analysis: parts ranked by revenue, the
    cumulative-share curve cut at {a}% (class A) and {b}% (class B) —
    the 80/20 concentration readout every supply/BI layer ships, and
    q_gini_tokens' business twin.  All-integer class assignment: the
    rule compares 100*cum_u against cut*tot_u on exact uunit longs, so
    no rational share materializes until the display columns; the
    (rev DESC, partkey) order is total, making the cumulative window
    and hence the classes deterministic.  Shape: one combinable
    per-part revenue agg, one ordered window over the PARTS rollup
    (the global sort is over parts, not lineitems — at extreme part
    cardinality q_pareto_abc_scalable replaces the single-partition
    window with the two_pass_scan route), a 3-row closing
    agg.""".replace("{a}", str(_ABC_A)).replace("{b}", str(_ABC_B))
    rev = _part_revenue(spark, sf_dir)
    w = Window.orderBy(F.desc("rev_u"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = rev.select(
        "rev_u",
        F.sum("rev_u").over(w).alias("cum_u"),
        F.sum("rev_u").over(Window.partitionBy()).alias("tot_u"),
    )
    classed = ranked.selectExpr("rev_u", "tot_u", f"{_ABC_CLASS} AS abc")
    return _abc_close(classed)


@register("q_pareto_abc_scalable", oracle=_PARETO_ORACLE)
def q_pareto_abc_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_pareto_abc with the global cumulative window replaced by the
    distributed two-pass prefix scan (functions/scan.py — VERDICT r11
    item 2): range-partition the parts rollup on the SAME total order
    (rev DESC, partkey), local cumsum per partition, per-partition
    totals → driver → exclusive base offsets broadcast back.  The
    cumulative sums are identical to the window form for ANY range
    boundary placement, so this registers the SAME oracle — and the
    single-partition sort that made the window form a documented design
    debt at billions of parts is gone: every stage is parallel in
    |parts| / n_partitions.  tot_u rides the scan's own per-partition
    totals (no extra job)."""
    rev = _part_revenue(spark, sf_dir)
    scanned, _, tot_u = two_pass_scan(
        rev,
        [F.desc("rev_u"), F.asc("l_partkey")],
        sum_col="rev_u",
        cum_col="cum_u",
        inclusive=True,
    )
    classed = scanned.withColumn("tot_u", F.lit(tot_u).cast("long")).selectExpr(
        "rev_u", "tot_u", f"{_ABC_CLASS} AS abc"
    )
    return _abc_close(classed)


@register(
    "q_ship_latency",
    oracle="""
WITH lat AS (
  SELECT o.o_orderpriority,
         CAST(floor(epoch(l.l_shipdate) / 86400) - floor(epoch(o.o_orderdate) / 86400) AS BIGINT) AS days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(min(days) AS BIGINT) AS p0,
       round(quantile_cont(days, 0.50), 6) AS p50,
       round(quantile_cont(days, 0.90), 6) AS p90,
       round(quantile_cont(days, 0.99), 6) AS p99,
       CAST(max(days) AS BIGINT) AS p100
FROM lat GROUP BY o_orderpriority
""",
)
def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship day-delta distribution per priority (p50/p90/p99
    + min/max of whole days) — the SLA percentile readout every ops
    dashboard serves.  (The synthetic fixture draws shipdate and
    orderdate independently, so deltas include negatives; the
    percentile machinery, not the business plausibility, is what is
    under test.)  Latencies are exact integer DAY
    deltas (epoch-floored in both engines — never interval arithmetic,
    the q_nullsafe_join lesson); the interpolated percentiles agree
    bit-for-bit on integer inputs (the q_percentiles contract).
    Shape: one co-keyed fact join, one percentile agg per 5-row
    priority group — the only sort is inside the percentile, bounded
    per group."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        (
            F.floor(F.unix_timestamp("l_shipdate") / 86400)
            - F.floor(F.unix_timestamp("o_orderdate") / 86400)
        ).cast("long").alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("days").cast("long").alias("p0"),
        F.expr("round(percentile(days, 0.50), 6)").alias("p50"),
        F.expr("round(percentile(days, 0.90), 6)").alias("p90"),
        F.expr("round(percentile(days, 0.99), 6)").alias("p99"),
        F.max("days").cast("long").alias("p100"),
    )


_RAU_WINDOW = 7  # trailing window, days


@register(
    "q_rolling_active_users",
    oracle=f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT) AS day
  FROM events
),
span AS (SELECT min(day) AS lo, max(day) AS hi FROM ud),
contrib AS (
  SELECT ud.user_id, ud.day + g.i AS win_end
  FROM ud CROSS JOIN (SELECT unnest(range(0, {_RAU_WINDOW})) AS i) g
)
SELECT c.win_end AS day,
       CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_users_7d
FROM contrib c, span
WHERE c.win_end BETWEEN span.lo AND span.hi
GROUP BY c.win_end
""",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (the WAU curve) — THE
    engagement metric, and a window-distinct problem no engine has a
    window aggregate for.  Scale-right form: dedupe to (user, day)
    pairs first (combinable), then each pair CONTRIBUTES itself to the
    {w} window-ends it serves (a bounded explode — x{w}, constant),
    and one distinct-count per day closes it.  That turns 'distinct
    over a sliding window' into a plain groupBy — no self-join of the
    day spine against the pair table, no per-day re-scan; the explode
    factor is the window length, fixed.  All-integer epoch days.
    """.replace("{w}", str(_RAU_WINDOW))
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(F.unix_timestamp(F.date_trunc("DAY", F.col("ts"))) / 86400)
        .cast("long")
        .alias("day"),
    ).distinct()
    ud = ud.localCheckpoint(eager=True)  # feeds the span scalar + the explode
    span = ud.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.col("day") + _RAU_WINDOW - 1)).alias("win_end"),
    )
    return (
        contrib.crossJoin(F.broadcast(span))
        .where(F.col("win_end").between(F.col("lo"), F.col("hi")))
        .groupBy(F.col("win_end").alias("day"))
        .agg(F.countDistinct("user_id").cast("long").alias("active_users_7d"))
    )


@register(
    "q_week_over_week",
    oracle=f"""
WITH wk AS (
  SELECT {{wk}} AS week,
         sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS rev_u,
         count(*) AS n_events
  FROM events GROUP BY week
),
lagged AS (
  SELECT week, rev_u, n_events,
         lag(rev_u) OVER (ORDER BY week) AS prev_u
  FROM wk
)
SELECT week, CAST(n_events AS BIGINT) AS n_events,
       (CAST(rev_u AS DOUBLE) / 1000000) AS week_value,
       CASE WHEN prev_u > 0 THEN
         (CAST(floor((CAST(rev_u - prev_u AS DOUBLE) / prev_u) * 1000000 + 0.5) AS DOUBLE)
          / 1000000)
       END AS wow_growth
FROM lagged
""".replace("{wk}", _WEEK_DUCK.format(ts="ts")),
)
def q_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth of total event value — the
    period-over-period KPI every report leads with, over the cohort
    family's integral week bucketing.  The growth ratio divides exact
    uunit longs (first week NULL, zero-base NULL), quantized 6 dp in
    shared text; the lag window runs over the WEEKS rollup.  Shape:
    one combinable weekly agg, one tiny ordered window."""
    e = load(spark, sf_dir, "events")
    wk = e.groupBy(
        F.expr(_WEEK_SPARK.format(ts="ts")).alias("week")
    ).agg(
        F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("long")).alias("rev_u"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w = Window.orderBy("week")
    lagged = wk.select(
        "week", "rev_u", "n_events", F.lag("rev_u").over(w).alias("prev_u")
    )
    return lagged.selectExpr(
        "week",
        "CAST(n_events AS BIGINT) AS n_events",
        "(CAST(rev_u AS DOUBLE) / 1000000) AS week_value",
        "CASE WHEN prev_u > 0 THEN"
        " (CAST(floor((CAST(rev_u - prev_u AS DOUBLE) / prev_u) * 1000000 + 0.5) AS DOUBLE)"
        " / 1000000) END AS wow_growth",
    )


@register(
    "q_engagement_hist",
    oracle="""
WITH ud AS (
  SELECT user_id, count(DISTINCT CAST(floor(epoch(date_trunc('day', ts)) / 86400) AS BIGINT)) AS active_days
  FROM events GROUP BY user_id
)
SELECT CAST(active_days AS BIGINT) AS active_days,
       CAST(count(*) AS BIGINT) AS n_users
FROM ud GROUP BY active_days
""",
)
def q_engagement_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement histogram: how many users were active on exactly N
    distinct days — the retention-health distribution (a healthy
    product shows a smile: one-day tourists + a committed core; a
    cliff at 1 is churn).  Two combinable aggs: per-user distinct-day
    count (two-phase under the hood), then the tiny histogram rollup.
    All-integer epoch days."""
    e = load(spark, sf_dir, "events")
    ud = e.groupBy("user_id").agg(
        F.countDistinct(
            F.floor(F.unix_timestamp(F.date_trunc("DAY", F.col("ts"))) / 86400).cast("long")
        ).alias("active_days")
    )
    return ud.groupBy(F.col("active_days").cast("long").alias("active_days")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


def _f2_check(rel: float):
    """Error-bound certificate for the AMS second-moment sketch (the
    r12 sketch-certificate pattern): the sweep recomputes exact
    F2 = Σ c_w² in DuckDB on the fixture being checked and requires
    |est − F2| ≤ rel·F2.  ``rel`` = 0.25 sits 5× above the worst
    deterministic fixture error (5.4% at sf0.01) and far inside the
    median-of-means tail bound (ε ≈ √(2/6) per group mean)."""

    def check(rows, cols, sf_dir):
        import duckdb

        (f2,) = (
            duckdb.connect()
            .execute(
                "SELECT sum(c * c) FROM (SELECT count(*) AS c FROM ("
                "SELECT unnest(string_split(text, ' ')) AS w"
                f" FROM '{sf_dir}/documents.parquet') WHERE w <> '' GROUP BY w)"
            )
            .fetchone()
        )
        est = rows[0][cols.index("f2_est")]
        if abs(est - f2) > rel * f2:
            return f"|AMS est {est} - exact F2 {f2}| = {abs(est - f2)} > {rel}·{f2}"
        return None

    return check


_F2_SKETCHES = 30  # 5 groups of 6: median-of-means over independent AMS estimates


@register("q_f2_ams", post_check=_f2_check(0.25))
def q_f2_ams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frequency moment F2 = Σ_w c_w² of the token stream by the
    Alon–Matias–Szegedy sketch (STOC'96, the Gödel-prize result): 30
    independent ±1 sign hashes, Z_j = Σ_stream s_j(w) — each a PLAIN
    map-side-combinable SUM, so the whole sketch is ONE single-pass agg
    over the stream with 30 sum columns and never materializes any
    per-key state — then est_j = Z_j², folded median-of-means (5 groups
    of 6) in the one-row tail.  F2 is the self-join-size / skew proxy
    (Σc² = exact-dedup join blow-up, repeated-content mass), the
    decision input for the salting/skew machinery at sizes where the
    exact per-key groupBy is itself the cost being avoided.

    Rows-only BY STRUCTURE (the sign hashes are xxhash64, not
    reproducible in DuckDB) — but the sweep enforces the error
    certificate |est − F2| ≤ 0.25·F2 against a DuckDB exact recompute
    (post_check), the same discipline as the HLL/KLL rows.
    Deterministic: fixed seeds, integer Z sums — bit-stable across
    runs/partitionings."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("w")).where(F.col("w") != "")
    signs = [
        (F.lit(1) - F.lit(2) * F.pmod(F.xxhash64(F.col("w"), F.lit(j)), F.lit(2))).alias(
            f"s{j}"
        )
        for j in range(_F2_SKETCHES)
    ]
    z = toks.select(*signs).agg(
        *[F.sum(f"s{j}").alias(f"z{j}") for j in range(_F2_SKETCHES)],
        F.count(F.lit(1)).alias("n"),
    )
    ests = F.array(*[(F.col(f"z{j}") * F.col(f"z{j}")).cast("double") for j in range(_F2_SKETCHES)])
    means = F.array_sort(
        F.array(
            *[
                sum((F.element_at(ests, i * 6 + k + 1) for k in range(1, 6)),
                    F.element_at(ests, i * 6 + 1)) / F.lit(6.0)
                for i in range(5)
            ]
        )
    )
    return z.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.round(F.element_at(means, 3)).cast("long").alias("f2_est"),
    )

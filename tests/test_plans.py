"""Physical-plan shape guards (the 100 TB posture, SURVEY.md §7):
pushdown reaches the scan, small dims broadcast, top-k avoids global
sort, the range join never degenerates into a nested loop, and
aggregations keep their partial/final split.  These are the properties
that decide whether a plan survives a 1000× scale-up — asserted so a
refactor can't silently regress them."""

import re

import pytest

import __spark_entry__ as entry_mod
from matrix_multiplication_bigdata_ind_assignments_spark.operators import matrix as M


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def qs():
    return entry_mod.queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir, qs):
    plan = plan_of(qs["q_algo_filter"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "In(event_type" in plan


def test_column_pruning_on_matrix_scan(spark, sf_dir):
    plan = plan_of(M.mat_A(spark, sf_dir))
    # only vec_id+embedding read; the label column never leaves the file
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan
    assert "LessThan(vec_id,64)" in plan  # slice predicate pushed down


def test_star_join_broadcasts_dims(spark, sf_dir, qs):
    plan = plan_of(qs["q_star_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2  # nation & region never shuffle the fact side


def test_top_orders_avoids_global_sort(spark, sf_dir, qs):
    plan = plan_of(qs["q_top_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + driver merge


def test_range_join_stays_equi(spark, sf_dir, qs):
    plan = plan_of(qs["q_range_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # hour-bucketing worked


def test_dedup_embedding_is_tiled_not_theta(spark, sf_dir, qs, monkeypatch):
    """The exact cosine-threshold join must be the 2-D tiled block join
    (broadcast equi-joins + cogrouped Arrow GEMM), never a full-table
    theta self-join (VERDICT.md r1 item 5)."""
    monkeypatch.setenv("MMBD_EMB_BLOCK_ROWS", "128")  # force a real k>1 grid
    df = qs["q_dedup_embedding"](spark, sf_dir)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapCoGroupsInPandas" in plan  # the GEMM tile kernel


def test_ivf2_candidates_stay_equi_and_grouped(spark, sf_dir):
    """The hierarchical index's candidate plan (q_ann_ivf2): the level-2
    training must be INSIDE the distributed FlatMapGroupsInPandas node
    (not a driver loop), and every join — pair ranking against the l2
    centroid table, probes against members — must be an equi-join; a
    CartesianProduct or BroadcastNestedLoopJoin would mean the in-plan
    pair ranking degenerated.  The training-node assertion runs against
    the UN-checkpointed index construction exposed by the
    `last_index_plan` hook (r8 review: the old `or ExistingRDD`
    disjunct over the candidate plan was vacuous — the built index
    always explains as ExistingRDD whether training was distributed or
    a driver loop)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators import (
        similarity as S,
    )

    cand, _ = S._ivf2_candidates(spark, sf_dir)
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # level-2 training is distributed: the construction plan (pre-
    # checkpoint) must carry the applyInPandas node, unconditionally
    idx_plan = plan_of(S._ivf2_candidates.last_index_plan())
    assert "FlatMapGroupsInPandas" in idx_plan


def test_matmul_has_partial_final_agg(spark, sf_dir, qs):
    plan = plan_of(qs["q_matmul_dense"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # map-side combine before the shuffle


def test_broadcast_strategy_broadcasts(spark, sf_dir):
    """Row panels: A crosses the network once, hash-partitioned on i at an
    explicit count, and the broadcast join keeps that partitioning — so
    the aggregate above it needs no exchange and partial sums never leave
    their task.  The explicit count (REPARTITION_BY_NUM) is what stops AQE
    from coalescing the panels into one partition."""
    A = M.mat_A(spark, sf_dir)
    B = M.mat_B(spark, sf_dir)
    df = M.multiply(A, B, strategy="broadcast")
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    shuffles = re.findall(r"(?<!Broadcast)Exchange (.*)", plan)
    assert len(shuffles) == 1, plan
    assert re.match(r"hashpartitioning\(i#\d+L, \d+\), REPARTITION_BY_NUM", shuffles[0]), plan
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert df.rdd.getNumPartitions() == n  # executed: AQE left the panels alone
    # neither the initial nor the AQE-final plan adds a requirement exchange
    assert "ENSURE_REQUIREMENTS" not in plan_of(df)


def test_shuffled_hash_join_hint(spark, sf_dir):
    """The third join family: hint('shuffle_hash') produces ShuffledHashJoin
    (no sort phase — wins when one side is modest but over the broadcast
    threshold)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem")
    plan = plan_of(o.hint("shuffle_hash").join(l, o.o_orderkey == l.l_orderkey))
    assert "ShuffledHashJoin" in plan


def test_semi_and_anti_join_operators(spark, sf_dir, qs):
    assert "LeftSemi" in plan_of(qs["q_semi_join"](spark, sf_dir))
    assert "LeftAnti" in plan_of(qs["q_anti_join"](spark, sf_dir))


def test_wordcount_whole_stage_codegen(spark, sf_dir, qs):
    # the tokenize→explode→count pipeline must stay inside codegen (no
    # Python UDF in the hot path); AQE only materializes codegen spans in
    # the final plan, so execute before inspecting
    df = qs["q_wordcount"](spark, sf_dir)
    df.collect()
    plan = plan_of(df)
    assert "*(1)" in plan  # whole-stage-codegen span marker
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_salted_join_spreads_key_and_uses_shuffled_hash(spark, sf_dir, qs):
    """The salted join must (a) keep the dim explosion (16 salts per part
    row) and (b) actually shuffle-hash-join on the composite key — a
    broadcast would silently bypass the skew protection being demonstrated."""
    df = qs["q_skew_join_salted"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = plan_of(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_decontaminate_broadcasts_eval_set(spark, sf_dir, qs):
    """The contamination scan must broadcast the (small) eval shingle set —
    a shuffle join here would move the full training shingle stream."""
    df = qs["q_decontaminate"](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injects(spark, sf_dir):
    """AQE's runtime Bloom-filter join filter engages once scan sizes
    warrant it: a selective dim-side filter semi-reduces the fact scan
    before the shuffle (the 100 TB behavior, thresholds lowered to make
    it observable at fixture scale)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10MB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = load(spark, sf_dir, "orders").where("o_totalprice > 400000")
        l = load(spark, sf_dir, "lineitem")
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_sample_weighted_avoids_global_sort(spark, sf_dir, qs):
    plan = plan_of(qs["q_sample_weighted"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + driver merge


def test_chunk_overlap_is_shuffle_free(spark, sf_dir, qs):
    """Chunking must stay a pure projection+generate — any Exchange means
    a shuffle snuck into a per-row op."""
    plan = plan_of(qs["q_chunk_overlap"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode


def test_sequence_pack_never_single_partitions(spark, sf_dir, qs):
    """The two-pass prefix sum must not degenerate into a single-partition
    global window (the naive formulation's failure mode)."""
    plan = plan_of(qs["q_sequence_pack"](spark, sf_dir))
    assert "SinglePartition" not in plan


def test_bm25_broadcasts_and_stays_jvm(spark, sf_dir, qs):
    plan = plan_of(qs["q_bm25"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_phash_dedup_pairs_via_band_equijoin(spark, sf_dir, qs):
    """The media near-dup join must be the band equi-join, never a
    nested-loop over all pairs."""
    plan = plan_of(qs["q_multimodal_phash_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sequence_pack_broadcasts_offsets(spark, sf_dir, qs):
    """The two-pass prefix-sum's base offsets must come back via a
    broadcast join keyed on pid, never a partitions-sized create_map
    literal (Catalyst-expression liability at 10⁵ partitions)."""
    p = plan_of(qs["q_sequence_pack"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "map_from" not in p and "create_map" not in p.lower()


def test_bloom_semi_join_fact_side_never_exchanges(spark, sf_dir, qs):
    """The bloom pre-filter + dim semi must all be broadcast joins: the
    fact side's first Exchange is the final aggregate's, never a join's."""
    plan = plan_of(qs["q_bloom_semi_join"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4  # 3 word probes + dim semi
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_triangle_count_stays_equi(spark, sf_dir, qs):
    """The wedge self-join and the closing join must be plain equi-joins
    (the Suri-Vassilvitskii shape) — a CartesianProduct here would mean
    the (deg, id) orientation predicate leaked out of the join keys and
    the wedge work became O(|E|^2).  The in-plan quantile threshold is
    materialized away by the edge checkpoint, so no nested-loop join of
    any kind may survive into the final counting plan."""
    plan = plan_of(qs["q_triangle_count"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_perplexity_broadcasts_vocab_not_probe(spark, sf_dir, qs):
    """The token→logprob join must broadcast the Heaps'-law-sized VOCAB
    side (pinned by hint): without it Catalyst broadcasts the
    post-explode probe side at small SFs — the wrong side at any scale.
    The only nested-loop join is the 1-row corpus-total scalar."""
    plan = plan_of(qs["q_lm_perplexity"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row total only
    assert "BroadcastHashJoin" in plan  # vocab side build


def test_quality_classifier_broadcasts_model_stays_equi(spark, sf_dir, qs):
    """The token→Δlogprob model join must broadcast the vocab-sized side
    (q_lm_perplexity's property, one class wider); the only nested-loop
    joins are the two 1-row scalar sides (class totals, prior)."""
    plan = plan_of(qs["q_quality_classifier"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in plan


def test_kcore_peeling_stays_equi(spark, sf_dir, qs):
    """Every peel round is a degree hash agg + two LEFT-SEMI equi-joins
    against the >=k vertex set — no theta join may appear anywhere in
    the peeled plan (the quantile-threshold scalar is materialized away
    by the edge checkpoint before peeling starts)."""
    plan = plan_of(qs["q_kcore"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_phash_pairs_via_band_equijoin(spark, sf_dir, qs):
    """Candidates must form ONLY inside (band, key) buckets — an
    equi-join on the exploded band index; the only nested-loop joins
    allowed are the broadcasts of the tiny 64-row densify grid (one per
    self-join side — each side re-derives the fingerprints)."""
    plan = plan_of(qs["q_phash_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2  # 64-row dim grid, ×2 sides
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_kmeans_assignment_shuffle_free(spark, sf_dir, qs):
    """q_kmeans' assignment must stay NARROW: the centroids reach each
    point as ONE broadcast row (a benign 1-row BroadcastNestedLoopJoin),
    and no n×k join materialization may appear — the only
    HashAggregates are the (cluster, dim) update and the final argmin-
    free projection path."""
    plan = plan_of(qs["q_kmeans"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the per-iteration state is checkpointed, so the final plan is the
    # LAST assignment only: one broadcast of the single centroid row
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_ivf_assign_ranking_shuffle_free(spark, sf_dir, qs):
    """q_ann_ivf_assign's probe-ranking pass must stay NARROW: the k
    centroids reach each vector as ONE broadcast row (a benign 1-row
    BroadcastNestedLoopJoin) and the per-vector top-nprobe is
    array_sort/slice/posexplode — no n×k join materialization, no
    window exchange over the corpus."""
    plan = plan_of(qs["q_ann_ivf_assign"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "Window" not in plan  # ranking is in-array, not a window sort


def test_lsh_candidates_equi_join_only(spark, sf_dir, qs):
    """q_lsh_candidates must pair ONLY through the (table, bucket)
    equi-join against the broadcast probe list — never all-pairs."""
    plan = plan_of(qs["q_lsh_candidates"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_toxicity_filter_is_pure_projection(spark, sf_dir, qs):
    """The lexicon gate must fuse into the scan: no Exchange, no join,
    no Python — one narrow whole-stage-codegen projection."""
    plan = plan_of(qs["q_toxicity_filter"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_domain_filter_broadcast_equi_only(spark, sf_dir, qs):
    """The blocklist gate must pair through the suffix-chain equi-join
    against the BROADCAST rule table — never an endswith scan
    (theta/nested-loop) over the rules."""
    plan = plan_of(qs["q_domain_filter"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_funnel_latency_single_data_exchange(spark, sf_dir, qs):
    """q_funnel_latency shares q_funnel's one-scan one-data-exchange
    contract; the percentile tail is a 1-row agg, never a global sort of
    the stream."""
    plan = plan_of(qs["q_funnel_latency"](spark, sf_dir))
    assert plan.count("Exchange") <= 2  # user_id hashpartition + final 1-row agg
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_dedup_keep_best_no_corpus_window(spark, sf_dir, qs):
    """Keeper selection must be the min(struct) hash agg — no Window
    over the corpus, label join is a broadcast."""
    plan = plan_of(qs["q_dedup_keep_best"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_degree_powerlaw_shrinks_before_fit(spark, sf_dir, qs):
    """The fit tail must be aggs, not joins: no Window, no cartesian;
    the only joins are the edge-derivation equi-joins."""
    plan = plan_of(qs["q_degree_powerlaw"](spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cohort_retention_fact_never_exchanged_for_join(spark, sf_dir, qs):
    """The cohort join back to events must build on the |users|-row
    side (broadcast at gate SFs) — no cartesian, no window."""
    plan = plan_of(qs["q_cohort_retention"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "Window" not in plan


def test_token_budget_select_never_single_partitions(spark, sf_dir, qs):
    """The quality-ordered cumsum must ride the two-pass distributed
    scan (sequence_pack's kernel), never a single-partition global
    window."""
    plan = plan_of(qs["q_token_budget_select"](spark, sf_dir))
    assert "SinglePartition" not in plan


def test_semantic_decontamination_is_narrow(spark, sf_dir, qs):
    """The eval set reaches each training vector as ONE broadcast row
    (benign 1-row nested-loop); no shuffle of the training side, no
    window, no n_train x n_eval materialization."""
    plan = plan_of(qs["q_decontaminate_semantic"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "Window" not in plan


def test_random_projection_zero_exchange(spark, sf_dir, qs):
    """JL projection is a map-only kernel: scan → pandas_udf GEMM →
    posexplode.  Any Exchange means someone rewrote it as a COO join."""
    plan = plan_of(qs["q_random_projection"](spark, sf_dir))
    assert "Exchange" not in plan


def test_bfs_frontier_joins_broadcast(spark, sf_dir, qs):
    """Each relax round joins the persisted dst-clustered edges against
    the (small) frontier, which must broadcast, never shuffle the edge
    list; and the min/max aggregate on dst rides that clustering — no
    ENSURE_REQUIREMENTS exchange between the join and the aggregate in
    the executed plan."""
    from pyspark.sql import functions as F

    from matrix_multiplication_bigdata_ind_assignments_spark.operators import graph as G

    for semiring, agg in (("hops", "min"), ("min_plus", "min"), ("max_min", "max")):
        if semiring == "hops":
            edges = G.trade_edges(spark, sf_dir)
        else:
            edges = G.trade_edges_weighted(spark, sf_dir)
        sym = G._relax_edges(edges, semiring)
        try:
            state = (
                G._trade_seeds(edges)
                .select("node", F.lit(0).cast("long").alias("v"))
                .localCheckpoint(eager=True)  # as in relax: v is data, not a foldable literal
            )
            step = G._relax_round(sym, state, state, semiring)
            step.collect()  # AQE final plan: the cache's clustering is known here
            lines = plan_of(step).splitlines()
        finally:
            sym.unpersist()
        top = next(i for i, ln in enumerate(lines) if f"functions=[{agg}(cand" in ln)
        join = next(i for i in range(top, len(lines)) if "BroadcastHashJoin" in lines[i])
        assert f"functions=[partial_{agg}(cand" in "\n".join(lines[top:join]), semiring
        assert not any("Exchange" in ln for ln in lines[top:join]), (semiring, lines[top:join])


def test_ship_priority_pushdown_and_topk(spark, sf_dir, qs):
    """TPC-H Q3: all three filters reach their scans; top-k plans
    TakeOrderedAndProject (never a global Sort+Limit); the filtered
    customer side broadcasts."""
    plan = plan_of(qs["q_ship_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert plan.count("PushedFilters: [IsNotNull") >= 3
    assert "EqualTo(c_mktsegment,BUILDING)" in plan


def test_large_orders_broadcasts_survivors_and_takeordered(spark, sf_dir):
    """Q18: the HAVING-filtered survivor set must broadcast (orders and
    customer never shuffle for the join) and the top-k must be
    TakeOrderedAndProject, not a global sort."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.relational import q_large_orders

    plan = q_large_orders(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_burst_intervals_broadcast_range_join(spark, sf_dir):
    """The island side must broadcast (fact never shuffles for the
    interval match); no cartesian/BNL anywhere."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.windows import q_burst_intervals

    plan = q_burst_intervals(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_equi_joins_only(spark, sf_dir):
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.text import q_inverted_index

    plan = q_inverted_index(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_classifier_auc_no_cartesian_beyond_scalars(spark, sf_dir):
    """The AUC tail may nested-loop only 1-row scalar sides (the
    confusion row); a data-sized cartesian is a regression."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.evaluation import (
        q_classifier_auc,
    )

    plan = q_classifier_auc(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_rolling_active_users_no_spine_join(spark, sf_dir):
    """The WAU plan must contain no join beyond the 1-row span scalar:
    the contribution explode replaces the day-spine self-join."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.aggregates import (
        q_rolling_active_users,
    )

    plan = (
        q_rolling_active_users(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Generate" in plan or "explode" in plan  # the bounded contribution explode


def test_pareto_window_runs_over_parts_rollup(spark, sf_dir):
    """The global cumulative window must sit ABOVE the per-part revenue
    aggregate (window input is the parts rollup, never lineitems)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.aggregates import (
        q_pareto_abc,
    )

    plan = q_pareto_abc(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "CartesianProduct" not in plan
    # the aggregate must appear below the window in the tree dump
    assert plan.index("Window") < plan.rindex("HashAggregate")


@pytest.mark.parametrize(
    "qname", ["q_dedup_simhash_pairs", "q_dedup_simhash_c6", "q_phash_pairs"]
)
def test_pair_emission_has_no_distinct_exchange(spark, sf_dir, qs, qname):
    """The r11 first-untouched-block pair emission (dedup._is_first_block)
    deleted the post-join distinct over (da, db) — measured 10,587→280 MB
    shuffle at the 100× decade (SCALING.md "simhash c6 banding").  Guard:
    no physical aggregate or exchange may key on the emitted pair columns;
    a regression that bypasses _is_first_block and re-adds
    .distinct()/dropDuplicates() re-creates exactly that node.  The guard
    self-verifies: the same detector MUST fire on the df with a distinct
    appended, so a Spark plan-rendering change can't silently blind it."""
    import re

    banned = re.compile(r"hashpartitioning\(da#\d+|keys=\[da#\d+")
    df = qs[qname](spark, sf_dir)
    assert not banned.search(plan_of(df)), f"{qname}: pair-keyed exchange is back"
    # detector canary: a reintroduced distinct is visible to this regex
    assert banned.search(plan_of(df.distinct()))


@pytest.mark.parametrize(
    "qname",
    [
        "q_pareto_abc_scalable",
        "q_rfm_segments_scalable",
        "q_heaps_fit_scalable",
        "q_classifier_auc_scalable",
        "q_peak_concurrency_scalable",
        "q_skyline_2d_scalable",
    ],
)
def test_scalable_twins_window_only_per_pid(spark, sf_dir, qs, qname):
    """The distributed-scan twins must never run a GLOBAL window: every
    windowspecdefinition in their plans is partitioned by the scan's
    __pid stamp (benign SinglePartition exchanges remain only in the
    tiny closing aggregates, which partial-combine first)."""
    import re

    plan = plan_of(qs[qname](spark, sf_dir))
    specs = re.findall(r"windowspecdefinition\([^)]*", plan)
    assert specs, f"{qname}: expected at least one per-pid window"
    for s in specs:
        assert s.startswith("windowspecdefinition(__pid#"), (qname, s[:80])


def test_jaccard_prefix_filters_in_join_and_semi_broadcast(spark, sf_dir):
    """q_dedup_jaccard_prefix's two scale invariants (SCALING.md
    'jaccard_prefix'): (a) the length + positional filters live INSIDE
    the candidate join condition — as post-join Filters they'd run after
    the unfiltered pair blow-up materializes; (b) the verify side prunes
    the corpus-sized shingle-set table through a BroadcastHashJoin
    LeftSemi (the explicit hint), never an exchange-backed semi.  A
    regression that drops the hint re-pays the measured 3.6 GB corpus
    exchange at the 100x growth arm.  Built with materialize=False: the
    operator's eager checkpoints otherwise execute each stage at build
    time and truncate the assertable plan."""
    import re

    from matrix_multiplication_bigdata_ind_assignments_spark.operators.setsim import jaccard_prefix_pairs
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

    d = load(spark, sf_dir, "documents")
    plan = plan_of(jaccard_prefix_pairs(d, materialize=False))
    # the candidate join: one equi-join on doc_id-ordered pairs whose
    # CONDITION carries the length filter's size products and the
    # positional bound's exact integer division by (t_num + t_den) = 17
    cand_joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "* 10" in ln and "* 7" in ln
    ]
    assert cand_joins, "candidate join with inline length filter missing"
    assert any("div 17" in ln for ln in cand_joins), cand_joins[0][:300]
    # no post-join Filter may re-host those predicates
    for ln in plan.splitlines():
        if ln.strip().startswith(("Filter", "+- Filter", ":- Filter")):
            assert "div 17" not in ln and "* 10" not in ln, ln[:200]
    # the semi prune must be a broadcast build, not exchange-backed
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan[:400]


def test_heavy_hitters_candidate_filter_precedes_exchange(spark, sf_dir, qs):
    """The exact verify pass must filter the token stream through the
    BROADCAST candidate set BEFORE the aggregate exchange — the whole
    point of the MG sketch is that the shuffle carries O(m·P) candidate
    partials, never the full vocabulary.  And the fused total must not
    add another corpus scan: the checkpointed summary frame (an
    ExistingRDD in the final plan — the sketch pass ran at build time)
    feeds BOTH the candidate set and the stream total, so the assertable
    plan holds exactly ONE parquet scan (the verify pass)."""
    plan = plan_of(qs["q_heavy_hitters"](spark, sf_dir))
    lines = plan.splitlines()
    # the BroadcastHashJoin on the candidate key appears below the partial
    # aggregate's exchange side: assert order BHJ -> HashAggregate -> Exchange
    bhj = next(i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln)
    assert any("HashAggregate" in ln for ln in lines[:bhj]), plan[:400]
    # one corpus scan (verify); candidates AND totals read the tiny
    # checkpointed summary frame, not the corpus again
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert plan.count("Scan ExistingRDD") == 2, plan.count("Scan ExistingRDD")
    # the total-count limb is the 1-row broadcast cross join, not a collect
    assert "BroadcastNestedLoopJoin" in plan

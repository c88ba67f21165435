"""Generate EXPLAINS.md: the physical-plan audit of the heaviest headline
queries, with the scale-critical property each plan must show.

Usage: python tools/gen_explains.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the Python workers import the package too: the JVM hands them its
# environment, so ROOT goes on PYTHONPATH before any session starts
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

# query → the property the plan must exhibit (checked by tests/test_plans.py
# where assertable; restated here so the audit doc is self-contained)
AUDIT = {
    "q_matmul_blocked": "cogrouped-Arrow GEMM tiles; partial/final agg split; no O(n^3) row "
    "materialization. A BroadcastNestedLoopJoin IS expected here and benign: its build side is "
    "the tiny distinct block-key list (matrix.py pairs each data block with every block column), "
    "not a data-x-data cross join — do not confuse it with the banned O(n^2) anti-pattern",
    "q_range_join": "bucketed equi-join on unix_micros longs; NO CartesianProduct / BroadcastNestedLoopJoin",
    "q_dedup_minhash": "band equi-join only (inverted index); signature built in ONE hash agg",
    "q_dedup_embedding": "2-D tile grid broadcast + cogroup shuffle; no theta self-join",
    "q_knn_graph": "tile-local top-k before the merge window (tile output |block|*k, never |block|^2)",
    "q_ann_pq": "Arrow ADC kernel over codes + broadcast re-rank joins; no per-pair corpus math",
    "q_dedup_span_exact": "one shuffle keyed on span + reassembly hash agg; filters pushed to scan",
    "q_dedup_span_strided": "rolling 20-gram hashes: one window shuffle on the gram hash + per-doc "
    "agg; the token-coverage test is an array exists over the per-doc dup list, no corpus-sized join",
    "q_sequence_pack": "range-partition + pid-local window; offsets return via BroadcastHashJoin (no SinglePartition over data)",
    "q_star_join": "dims broadcast (BroadcastHashJoin), fact never shuffled for the dim joins",
    "q_bloom_semi_join": "bloom word-table probes + dim semi all BroadcastHashJoin; the fact side "
    "has NO Exchange before the final partial/final aggregate (the pre-filter is map-side)",
    "q_corpus_clean_e2e": "whole pipeline is ONE DAG: quality filter pushed down before dedup window",
    "q_ann_ivf": "ONE Arrow assign+encode kernel over the corpus; probe is a broadcast equi-join "
    "on cell id; only the probed cells' members reach the ADC expression; constant-size re-rank "
    "joins are all BroadcastHashJoin (r7: 6*sqrt(N) k-means cells, driver-trained)",
    "q_ann_ivf2": "two-level index: l1 assignment is one Arrow kernel; level-2 training runs "
    "INSIDE the FlatMapGroupsInPandas node (one pass emits members + l2 centroids); the (l1, l2) "
    "pair ranking is a broadcast equi-join + window over the centroid TABLE (in-plan, no driver "
    "collect of centroids); members join probes on (l1, l2) as a plain equi-join — no "
    "CartesianProduct anywhere (r8: the past-64k-cells architecture, driver holds only sqrt(total))",
    "q_dedup_simhash_c6": "the 20-combination wide-key pigeonhole index must still pair via a "
    "plain equi-join on (combo id, concatenated key) — same join shape as the 4-block layout, "
    "never a theta/cross join; the layouts differ only in bucket granularity.  NO distinct/"
    "exchange after the join: pairs are emitted only from their FIRST untouched combo (a per-row "
    "bit test in the join stage), so the plan ends at the join's project — the duplicated "
    "candidate set (up to 20x on dup-heavy corpora) never shuffles (r11 growth probe: 10.6 GB -> "
    "0.28 GB at the 100x blow-up)",
    "q_lm_perplexity": "the token→logprob probe is a BroadcastHashJoin with the Heaps'-law-sized "
    "VOCAB side as the build (pinned by hint — without it Catalyst broadcasts the post-explode "
    "probe side at small SFs, the wrong side at any scale); the only nested-loop join is the "
    "1-row corpus-total scalar; both aggs are map-side-combinable hash aggs over BIGINT micro-nats",
    "q_quality_classifier": "same contract as q_lm_perplexity one class wider: the token→Δlogprob "
    "model join broadcasts the vocab-sized side, the two 1-row scalar sides (class totals, prior) "
    "are the only nested-loop joins, training is two map-side-combinable hash aggs over the token "
    "stream — no CartesianProduct, no driver-side model state",
    "q_triangle_count": "the wedge self-join and the closing join are plain equi-joins (the "
    "degree-oriented Suri-Vassilvitskii shape: every wedge charged to its lowest-degree vertex, "
    "O(m^1.5) total work regardless of skew) — no CartesianProduct / BroadcastNestedLoopJoin "
    "anywhere in the counting plan; the in-plan p90 threshold scalar is materialized away by the "
    "edge checkpoint before counting starts",
    "q_kmeans": "assignment is SHUFFLE-FREE: the k centroids collapse to ONE broadcast row and "
    "each point computes argmin narrowly (array_min over transform with a zip_with/aggregate "
    "fold — JVM higher-order functions, no Python, no n×k join materialization); the only "
    "exchanges are the map-side-combinable (cluster, dim) update agg and the k·d-row state "
    "checkpoint; the 1-row centroid-array side is the only nested-loop join (benign broadcast)",
    "q_kcore": "each peel round is one map-side-combinable degree hash agg + two LEFT-SEMI "
    "equi-joins against the ≥k vertex set — no theta joins; the live edge state explains as an "
    "ExistingRDD scan (per-round checkpoints truncate lineage, the PageRank property), so the "
    "plan never grows with peel depth",
    "q_phash_pairs": "candidates form ONLY inside (band, key) buckets — a plain equi-join on the "
    "exploded band index, never all-pairs; the Hamming confirm is one JVM-side "
    "bit_count(XOR) fold per candidate; the 64-dim densify grid is a broadcast of a 64-row range; "
    "no distinct after the join — first-matching-band emission makes the pair set duplicate-free "
    "in the join stage (the simhash_pairs discipline)",
    "q_label_prop": "the FINAL label state explains as a bare ExistingRDD scan (per-round "
    "checkpoints truncate lineage, the PageRank property); per round the |V|-row label side is "
    "broadcast against the symmetrized edges and both aggs (vote count, argmax) are map-side-"
    "combinable hash aggs over integers — no theta joins, no floats",
    "q_markov_transitions": "the sequence lag window partitions on user_id (per-user sort only — "
    "no global Sort/Exchange of the event stream beyond the one hash partitioning), the pair "
    "count is a partial/final HashAggregate to |types|² rows, and the row-normalizing sum is a "
    "window over that tiny matrix — nothing downstream of the first exchange scales with N",
    "q_rfm_segments": "events collapse to the user dimension FIRST (one partial/final "
    "HashAggregate), so the three global ntile windows sort |users| rows, not |events| — the "
    "single-partition window is the stated exact-semantics cost, with the approx_percentile "
    "bucket-join fallback in the contract; the segment rollup is one more combinable agg",
    "q_funnel": "ONE parquet scan and ONE data exchange (hashpartitioning on user_id) for the "
    "whole three-stage funnel: the per-user stage chain is array logic (filter/array_min over "
    "the collected per-type timestamp lists — JVM higher-order functions), and the stage totals "
    "close with a single combinable count agg; the textbook chained filter→join→agg form plans "
    "6 scans / 13 exchanges and was rewritten away",
    "q_ols_normal": "the whole multivariate fit is ONE partial/final HashAggregate pair over "
    "exact integer gram sums (the shuffle carries d²=10 numbers, not rows) followed by a "
    "constant-size Cramer-solve projection on the single aggregated row — no second scan, no "
    "driver loop, no join of any kind in the training plan",
    "q_zipf_fit": "the global rank is bounded: orderBy().limit(K) plans as TakeOrderedAndProject "
    "(per-partition partial top-K, no full-sort Exchange of the wordcount), and the only Sort is "
    "the K-row window; the fit tail is the same partial/final gram-sum agg as q_ols_normal",
    "q_funnel_latency": "same ONE-scan ONE-exchange contract as q_funnel (shared "
    "funnel_user_stages: per-user stage chain is array logic after a single hashpartitioning "
    "on user_id); the latency tail collapses the converted cohort to ONE row — the percentile "
    "agg is a partial/final pair over that cohort, never a global sort of the event stream",
    "q_cohort_retention": "the per-user first-event cohort table joins BACK to the fact as "
    "a BroadcastHashJoin (BuildRight — the |users|-row side; past the broadcast threshold it "
    "degrades to an SMJ reusing the min-agg's user_id partitioning), so the fact side is "
    "never exchanged for the join; the distinct-count is a two-level partial/final expand and "
    "the cohort-size side is a tiny broadcast — nothing downstream scales with |events|",
    "q_degree_powerlaw": "graph × regression composition: two map-side-combinable hash aggs "
    "(degree, then histogram) shrink |E| rows to |distinct degrees|, and the fit tail is the "
    "shared gram-sum agg — ONE partial/final pair carrying 5 numbers — plus an O(1) "
    "shared-text projection; nothing after the first exchange scales with |E|",
    "q_dedup_keep_best": "keeper selection is ONE min(struct(-quality, doc_id)) hash agg keyed "
    "on comp — map-side combinable, NO window over the corpus; the label fixpoint runs on the "
    "candidate graph only, and the corpus joins the label table via broadcast left join",
    "q_ann_ivf_assign": "the probe ranking is SHUFFLE-FREE: centroids collapse to ONE broadcast "
    "row (the only nested-loop join, 1-row build side) and each vector's top-nprobe is "
    "array_sort/slice/posexplode — JVM higher-order functions, no n×k join materialization, no "
    "Window over the corpus; training exchanges are the k·d-row Lloyd update aggs",
    "q_lsh_candidates": "candidates pair ONLY through the (table, bucket) equi-join against the "
    "broadcast probe list — one Arrow GEMM kernel per batch builds the 40-bucket index column, "
    "posexplode fans it out, and the distinct dedupes 2-long rows (payload joins happen "
    "downstream in q_ann_lsh, never on the candidate stream)",
    "q_domain_filter": "the blocklist gate is a narrow suffix-chain explode (≤4 elements/host) "
    "+ ONE BroadcastHashJoin against the rule table — never an endswith/theta scan over the "
    "rules; the per-host rollup is a partial/final hash agg",
    "q_toxicity_filter": "pure projection: the lexicon score is a transform/aggregate fold "
    "fused into the parquet scan — NO Exchange, NO join, NO Python anywhere in the plan",
    "q_corpus_clean_strict2": "all three gates (quality, domain suffix-chain, lexicon score) "
    "fuse into ONE scan projection ahead of the checkpoint; the only corpus-scale exchanges are "
    "the md5(text) dedup window and the span kernel's 20-gram shuffle; the 5-stage ledger is "
    "stack() over a single crossJoin of three 1-row aggregates — no re-evaluated branches",
    "q_decontaminate_semantic": "the eval set collapses to ONE broadcast row (array of "
    "(emb, nrm) structs — the only nested-loop join, 1-row build side) and every training "
    "vector scores it narrowly via transform/filter/aggregate — no shuffle of the training "
    "side, no Window, no n_train×n_eval row materialization",
    "q_token_budget_select": "the quality-ordered cumsum is the two-pass distributed scan "
    "(sequence_pack's kernel): one RangePartitioning exchange on the sort key, a pid-local "
    "window, and the per-partition base offsets return via BroadcastHashJoin — NO "
    "SinglePartition window anywhere",
    "q_bfs_hops": "relax('hops'), the one semiring frontier kernel: each round joins the "
    "persisted, dst-clustered symmetric edge list against the BROADCAST frontier (work "
    "O(|frontier|·deg), not O(|V|)), takes min(v + 1) on dst riding that clustering (no "
    "ENSURE_REQUIREMENTS exchange between the join and the aggregate), and folds it into the "
    "state with ONE full-outer merge, eagerly local-checkpointed; the improved-row count is an "
    "Observation filled by that checkpoint's own job, so there is no separate probe job.  Like "
    "q_pagerank the final frame explains as an ExistingRDD scan because per-round checkpoints "
    "truncate lineage — the round shape is pinned by "
    "tests/test_plans.py::test_bfs_frontier_joins_broadcast on the per-round step "
    "(_relax_round) "
    "(plans/r16/q_bfs_hops_after.txt: 22 jobs, 16.45 MB written at sf0.1 vs 28 jobs, 16.96 MB "
    "before)",
    "q_random_projection": "ZERO Exchange: scan → one vectorized pandas_udf GEMM per Arrow "
    "batch → map-side posexplode; nothing scales beyond the scan (plan guard asserts no "
    "Exchange node)",
    "q_pca_power": "the data-scale stage is ONE mapInPandas pass emitting per-batch partial "
    "outer products (d² rows/batch) + one combinable (i,j) hash agg — shuffle O(batches·d²), "
    "never O(N·d²) COO-join rows; the O(d²) power loop runs on the collected 4096-row gram "
    "(the kmeans-collect bound), exact-integer so there is no fp to drift",
    "q_attribution": "ONE scan + ONE user_id exchange: the preceding-touch argmin/argmax is a "
    "RANGE-frame window over packed longs (never a per-purchase×touch pairwise join); the "
    "closing rollup is a combinable agg on a 6-key result",
    "q_ship_priority": "all three predicates pushed to their parquet scans, the filtered "
    "customer side broadcasts, orders⋈lineitem stays the co-keyed shuffle join, and the cut is "
    "TakeOrderedAndProject (per-partition heap + driver merge) — never a global Sort+Limit",
    "q_join_profile": "two map-side-combinable count-aggs + a key-level full-outer "
    "SortMergeJoin + a 1-row closing agg — cost O(distinct keys), the join output itself is "
    "never materialized",
    "q_widest_path": "relax('max_min'): the q_bfs_hops round shape with max(least(v, w)) as "
    "the aggregate (broadcast improved-set join, aggregate on the edges' dst clustering, one "
    "checkpointed full-outer merge carrying the fixpoint Observation → final ExistingRDD scan); "
    "caps only increase, so delta propagation reaches the whole-vector fixpoint the unrolled "
    "max-min oracle computes",
    "q_word_pmi": "bigrams are per-doc ARRAY algebra (transform over the token array — no window "
    "shuffle, no per-token rows before the one combinable pair-count agg); vocab-sized unigram "
    "tables join back broadcast; the two corpus scalars are 1-row crossJoins; micro-nat PMI is "
    "one shared expression text",
    "q_skyline_2d": "ONE ordered window pass (running max of size over everything cheaper) — "
    "no BNL self-join, no CartesianProduct; the global window is the honest cost of a global "
    "property (two-phase local-pareto refinement is the 100 TB pre-filter)",
    "q_cusum_changepoint": "one combinable daily-count agg, per-type totals broadcast back, one "
    "per-type window over DAYS (not events), closing argmax agg — all-integer, the scaled "
    "deviation never materializes a rational mean",
    "q_ols_predict": "two scans of the checkpointed points frame (d² training sums, then "
    "map-side scoring) with a 1-row coefficient broadcast between them; residuals are exact "
    "µunit ints so the per-lang rollup is order-proof",
    "q_copurchase_lift": "the basket self-join is bounded by basket size; pair counts and "
    "supports are combinable hash aggs; support tables join back BroadcastHashJoin; the "
    "support-floored pair set (never all pairs) feeds the per-part top-k window",
    "q_node_jaccard": "candidate pairs from the shared-part inverted-index equi-join (the "
    "triangle shape — only co-occurring suppliers pair); degree tables broadcast; no "
    "CartesianProduct anywhere",
    "q_psi_drift": "one percentile agg over the reference half (9-bound table broadcasts "
    "back), ONE scan of both halves with the bucket as a narrow sum-of-compares expression, "
    "a combinable (type, bucket) agg over ≤10·|types| cells, spine join for absent buckets; "
    "per-bucket terms nano-quantized so the closing sum is an exact integer reduction",
    "q_ks_drift": "one combinable (type, value) count agg + per-type ordered window over "
    "DISTINCT values (not events) + closing max agg — all-integer, no binning",
    "q_peak_concurrency": "boundary deltas collapse in ONE combinable agg before the ordered "
    "window (which runs over DISTINCT boundary points, not events); the global window is the "
    "honest cost of a global high-water mark",
    "q_time_weighted_avg": "one per-user window pass for holding intervals + one combinable "
    "agg; weighted sums ride DECIMAL(38,0) so multi-day gaps can't overflow",
    "q_pagerank": "the FINAL frame explains as a bare ExistingRDD scan — that IS the property: "
    "per-round eager checkpoints truncate lineage, so the plan never grows with iterations.  The setup reads "
    "trade_edges once (symmetric(): both directions from one inline generator, no "
    "ReusedExchange), clusters the walk with ONE REPARTITION_BY_NUM exchange on dst, and builds "
    "statics (node, outdeg) as a count aggregate riding that clustering — outdeg = indeg and the "
    "node set = the dst keys on a symmetric walk — with no ENSURE_REQUIREMENTS exchange in the "
    "executed plan (tests/test_graph.py::test_pagerank_broadcast_setup_one_exchange).  The 10 "
    "iterations move 0 B: the rank vector is broadcast, the contribution sum on dst rides the "
    "walk's clustering and statics ⋈ contribs is a co-partitioned merge join "
    "(plans/r15/q_pagerank_after.txt: 25 jobs, 16.2 MB written at sf0.1 vs 30 jobs, 17.3 MB "
    "written and 22.7 MB read before)",
    "q_large_orders": "the HAVING-filtered survivor set (per-order quantity agg, ~1% of orders) "
    "broadcasts into orders and customer (BroadcastHashJoin — orders never shuffles for the "
    "join), the lineitem agg is partial/final, and the top-k is TakeOrderedAndProject, never a "
    "global Sort; no CartesianProduct",
    "q_burst_intervals": "the island table (gaps-and-islands over the HOURLY rollup) broadcasts; "
    "the event-side probe is a BroadcastHashJoin on event_type with the two hour-range compares "
    "as join residuals — the fact side never shuffles for the interval match; the closing agg's "
    "only two-phase piece is the distinct-user count; no CartesianProduct",
    "q_shortest_path": "relax('min_plus'): the q_bfs_hops round shape with min(v + w) — one "
    "broadcast join (frontier into the persisted dst-clustered symmetric edge list), one min "
    "aggregate riding that clustering, one full-outer merge eagerly checkpointed with the "
    "fixpoint Observation; after the one-time clustering the edge list never moves, and the "
    "per-round shuffle is the merge's (the reached rows plus one |V|-row state exchange)",
    "q_classifier_auc": "the classifier DAG keeps its q_quality_classifier contract (vocab-side "
    "broadcast, two combinable hash aggs); the AUC tail adds one distinct-score rollup and a "
    "single-partition ordered walk over THAT ROLLUP only (scores, never docs — the one intended "
    "SinglePartition in the plan), then two 1-row aggs; no CartesianProduct beyond 1-row scalars",
    "q_inverted_index": "both df/tf counts are map-side-combinable hash aggs; the posting HEAD is "
    "cut by a per-term row_number BEFORE any collect (the collect_list aggregates <= 8 rows per "
    "term, never a hot term's full posting list); all three joins are plain equi-joins on token",
    "q_ewma": "ONE user_id exchange serves the 8-deep lag chain, the recency ranking, and the "
    "per-user count (same window partition); the weighted sum is exact integer arithmetic in the "
    "projection — no second shuffle, no driver math",
    "q_ohlc_bars": "one (event_type, hour) exchange serves BOTH ranking windows (ascending and "
    "descending row_number) and the closing agg — the open/close argext never re-shuffles; "
    "high/low ride the same combinable agg",
    "q_revenue_share": "the three dims broadcast (nation/region explicitly, customer by AQE); "
    "revenue is one map-side-combinable uunit agg; the ratio-to-report window runs over the "
    "25-row nations rollup, never the fact",
    "q_path_topk": "one user_id exchange serves the ranking window and the per-user path agg; "
    "the path rollup is map-side combinable into at most |event_types|^3 keys and the cut is "
    "TakeOrderedAndProject over that rollup",
    "q_forecast_eval": "everything downstream of the combinable daily agg is scalar/broadcast "
    "(1-row horizon, type x 7 train table) — the holdout join is a BroadcastHashJoin and no "
    "stage rescans events",
    "q_pareto_abc": "the one intended SinglePartition window runs over the PER-PART revenue "
    "rollup, never lineitems (the revenue agg is partial/final before it); at extreme part "
    "cardinality q_pareto_abc_scalable swaps the window for the distributed two-pass scan — "
    "the rollup window is the exactness-first operating point",
    "q_pareto_abc_scalable": "the scale-safe twin: range-partition on (rev DESC, partkey), "
    "pid-local cumulative window (every windowspecdefinition keyed on __pid), offsets return "
    "via BroadcastHashJoin — no SinglePartition over data anywhere in the scan "
    "(tests/test_plans.py::test_scalable_twins_window_only_per_pid pins all six twins)",
    "q_rfm_segments_scalable": "three two-pass scans, one per score order — each a "
    "range-exchange + pid-local row_number + broadcast offsets; ntile collapses to the "
    "closed form over (rn, N), so no global ntile window survives in the plan",
    "q_peak_concurrency_scalable": "the +1/-1 sweep's running sum as a pid-local window over "
    "range-partitioned boundary points; the closing high-water agg partial/final-combines",
    "q_rolling_active_users": "window-distinct WITHOUT a spine self-join: the (user, day) dedupe "
    "is a combinable agg, the x7 contribution explode is a narrow per-row projection, and the "
    "closing distinct-count is the only two-phase stage — no join in the plan at all beyond the "
    "1-row span scalar",
    "q_dedup_jaccard_prefix": "candidate SMJ keyed on the prefix-token hash with the length AND "
    "PPJoin positional filters inside the join condition (never post-join); the verify side is "
    "sets semi-joined through an explicit BroadcastHashJoin LeftSemi on the candidate doc_id "
    "list — the corpus-sized shingle-set table must never appear under an Exchange "
    "(SCALING.md 'jaccard_prefix': the AQE-reliant form paid a 3.6 GB corpus exchange)",
    "q_k_anonymity": "one Expand (rollup) feeding a partial/final count-distinct — all four "
    "lattice levels in a single shuffle pass over events; the per-level audit agg runs over "
    "QI-cell counts (|cells| rows), never re-scanning events",
    "q_hits": "like q_pagerank the final frame explains as an ExistingRDD scan — the 10 "
    "mutual-recursion rounds (auth join+agg on the resident dst-clustered edge copy, hub join+agg "
    "on the src-clustered copy, one single-partition window norm each) ran with every "
    "score-vector side broadcast: zero edge movement, no exchange planned at the session "
    "partition count (the loop writes no session conf), norms in-plan (no collect)",
    "q_assortativity": "one distinct + two BROADCAST degree joins + a single combinable moment "
    "agg (six DECIMAL(38,0) sums) — nothing after the first exchange scales with |E|; the Newman "
    "formula's 128-bit products and the closing divide are all in the one-row tail",
    "q_f2_ams": "the WHOLE sketch is one single-pass partial/final HashAggregate over the token "
    "stream (30 sign-sum columns + the count) — no per-key state, no second scan; the "
    "median-of-means fold is a one-row array expression",
    "q_lm_kn_perplexity": "ONE bigram construction (array transform + explode, no positional "
    "self-join) feeds both training and scoring; the bigram-TYPE table materializes once "
    "(ExistingRDD) and its three model aggs (left-context totals, continuation fans, type count) "
    "join back as broadcasts; every reduction is a BIGINT micro-nat sum (map-side combinable); "
    "the probe joins stream vs model on (w1, w2) — broadcast at fixture scale, documented "
    "shuffle-join degradation at real model sizes",
    "q_closeness_landmarks": "level-set BFS on 64-landmark bitmask words keyed (node, word): each "
    "round joins the resident symmetric edge list against the BROADCAST frontier words, bit_or-"
    "aggregates them and merges the result into the state in one full-outer join that also adds "
    "the exact harmonic numerator, then one local checkpoint — no per-pair table is ever built, so "
    "the final frame explains as one sum-by-node over the ExistingRDD state",
    "q_rrf_fusion": "both retriever limbs keep the corpus resident: the dense limb is the "
    "q_cosine_topk shape (10-row query side under BroadcastExchange into the scored crossJoin), "
    "the sparse limb equi-joins corpus tokens against BROADCAST query tokens and set sizes join "
    "back as broadcast dims; every rank window partitions on query_id over candidate lists; the "
    "fused merge is a full-outer SortMergeJoin over two <=depth*|Q|-row lists (tiny), never the corpus",
    "q_heavy_hitters": "the exact verify pass filters the token stream through the BROADCAST "
    "candidate set BEFORE the partial aggregate's exchange — the shuffle carries O(m*P) candidate "
    "partials, never the full vocabulary; ONE parquet scan in the final plan (the MG sketch pass "
    "ran at build time and its checkpointed summary frame feeds both the candidate set and the "
    "fused stream total, a 1-row broadcast crossJoin)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    from matrix_multiplication_bigdata_ind_assignments_spark import registry
    from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

    spark = get_spark("gen-explains")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    lines = [
        "# Physical-plan audit",
        "",
        f"`python tools/gen_explains.py {sf_dir}` — AQE final plans"
        " (`.explain(\"formatted\")` after execution) of the heaviest headline",
        "queries, with the scale property each plan must show.  Regenerate after",
        "any operator change; tests/test_plans.py asserts the checkable subset.",
        "",
    ]
    # ad-hoc (non-registry) audit entries: bench-only plan shapes
    def _matmul_3d(spark, sf_dir):
        from pyspark.sql import functions as F

        from matrix_multiplication_bigdata_ind_assignments_spark.operators import matrix as M

        # the 2-D/3-D switch is data-dependent (panel bytes = bs·k_extent·8):
        # sf0.01's partkey span (≤2000) keeps a bs=2048 panel under the 64 MB
        # budget, so the 3-D shape only appears at sf0.1's full 4096 k-extent
        # — pin the fixture the bench row actually runs on
        l = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")

        def mat(n, shift=0):
            return (
                l.select(
                    ((F.col("l_orderkey") + shift) % n).alias("i"),
                    ((F.col("l_partkey") + 3 * shift) % n).alias("j"),
                    F.col("l_quantity").alias("v"),
                )
                .groupBy("i", "j")
                .agg(F.sum("v").alias("v"))
            )

        return M.multiply(
            mat(4096), mat(4096, shift=7), strategy="blocked", block_size=2048,
            panel_bytes=32 << 20,  # the bench row's memory-tight budget
        )

    adhoc = {
        "matmul_blocked_n4096_3d (bench-only)": (
            _matmul_3d,
            "the 3-D (bi,bk,bj) decomposition: bs=2048 panels at n=4096 (2 panels x 64 MB = 128 MB "
            "per task) exceed the bench row's 32 MB budget, so the plan must show the cogrouped GEMM "
            "emitting DENSE partial tiles FOLLOWED by a second grouped-Arrow stage "
            "(FlatMapGroupsInPandas) that numpy-sums the per-(bi,bj) tile arrays — NOT a "
            "scalar-row partial-sum "
            "HashAggregate over n's worth of COO rows — the huge-inner-dimension path where per-task memory stays "
            "O(bs^2) regardless of k",
        ),
    }

    for name, prop in {**AUDIT, **{k: v[1] for k, v in adhoc.items()}}.items():
        df = adhoc[name][0](spark, sf_dir) if name in adhoc else qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()  # run → AQE final plan
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the node tree, drop the verbose per-node field dump
        tree = plan.split("\n\n")[0]
        lines += [f"## {name}", "", f"**Must show:** {prop}", "", "```", tree, "```", ""]
    with open(os.path.join(ROOT, "EXPLAINS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote EXPLAINS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

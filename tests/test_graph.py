"""PageRank over the relationally-derived trade graph."""

import pytest
from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.operators import graph as G

from conftest import measured


def _trade_edges(spark, sf_dir):
    """The q_pagerank edge list — the SHARED recipe (G.trade_edges, one
    definition for queries/tests/probes), lineage truncated so per-test
    measurement windows exclude the edge build."""
    return G.trade_edges(spark, sf_dir).localCheckpoint(eager=True)


def test_pagerank_mass_and_structure(spark, sf_dir):
    out = G.q_pagerank(spark, sf_dir)
    rows = out.collect()
    total = sum(r["rank"] for r in rows)
    # undirected graph → no dangling mass: Σrank = 1 up to per-iteration
    # 12-dp rounding drift over 10 rounds
    assert abs(total - 1.0) < 1e-6
    # PageRank on an undirected graph is asymptotically degree-
    # proportional: the 100-ish suppliers carry far higher degree than
    # the 1500 customers, so their mean rank must dominate
    sup = [r["rank"] for r in rows if r["kind"] == "supplier"]
    cus = [r["rank"] for r in rows if r["kind"] == "customer"]
    assert sup and cus
    assert (sum(sup) / len(sup)) > 5 * (sum(cus) / len(cus))


def test_pagerank_deterministic_repeat(spark, sf_dir):
    a = sorted(tuple(r) for r in G.q_pagerank(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in G.q_pagerank(spark, sf_dir).collect())
    assert a == b


def test_pagerank_directed_mass_conservation(spark, sf_dir):
    """Directed supplier→customer graph: EVERY customer is dangling;
    uniform re-distribution must keep Σrank = 1."""
    out = G.q_pagerank_directed(spark, sf_dir)
    rows = out.collect()
    total = sum(r["rank"] for r in rows)
    # output ranks are rounded to 6 dp → up to 5e-7 per node of benign
    # drift; a real mass leak (e.g. dropped dangling term) is ~0.5
    assert abs(total - 1.0) < 5e-7 * len(rows) + 1e-9
    # with all edges pointing supplier→customer, customers receive both
    # the teleport AND the edge mass — a customer with many suppliers
    # must outrank any supplier (suppliers only get teleport + dangling)
    sup = max(r["rank"] for r in rows if r["kind"] == "supplier")
    cus = max(r["rank"] for r in rows if r["kind"] == "customer")
    assert cus > sup


def test_pagerank_directed_dangling_fixture(spark):
    """3-node chain a→b→c: c is dangling; hand-checkable mass balance.
    Σrank = 1 exactly (up to 12-dp rounding), and rank(c) > rank(b) >
    rank(a) (each node receives everything upstream plus teleport)."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in G.pagerank(spark, edges, directed=True).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks[3] > ranks[2] > ranks[1]


@pytest.mark.parametrize(
    "directed, seed_mod",
    [
        pytest.param(False, None, id="False"),
        pytest.param(True, None, id="True"),
        pytest.param(False, 20, id="trustrank"),
    ],
)
def test_pagerank_copartition_agrees_with_broadcast(spark, sf_dir, directed, seed_mod):
    """join_strategy='copartition' (the billion-node arm: shuffled joins
    re-using the persisted src-clustered edges, no broadcast of the rank
    vector) must produce bit-identical 12-dp ranks to the broadcast arm,
    uniform or seeded teleport — the per-iteration rounding already
    absorbs summation-order differences across ENGINES, a stronger
    condition than across join strategies (VERDICT r7 item 3)."""
    edges = _trade_edges(spark, sf_dir)
    kw = {"directed": directed, "seed_mod": seed_mod}
    b = sorted(tuple(r) for r in G.pagerank(spark, edges, **kw).collect())
    c = sorted(
        tuple(r) for r in G.pagerank(spark, edges, join_strategy="copartition", **kw).collect()
    )
    assert b == c


def test_pagerank_copartition_loop_shuffle_is_rank_sized(spark, sf_dir):
    """The copartition arm's LOOP-ONLY shuffle must stay O(|V|) per
    iteration — the edges are exchanged once (setup) and never again.
    Loop bytes are isolated as (bytes@11 iters − bytes@1 iter)/10, which
    subtracts every one-time cost; the envelope pins the measured value
    (3,587 B/iter at sf0.001, |V|=160 — ~22 B/node) with the same
    0.4×–1.6× band as tests/test_metrics.py.  A plan regression that
    re-exchanges the |E|-row edge list each round (the r6 class) lands
    ~10× over the ceiling."""
    edges = _trade_edges(spark, sf_dir)
    per = {}
    for iters in (1, 11):

        def run(it=iters):
            G.pagerank(spark, edges, iters=it, join_strategy="copartition").write.format(
                "noop"
            ).mode("overwrite").save()

        run()  # warm
        per[iters] = measured(spark, run)["shuffle_write_bytes"]
    per_iter = (per[11] - per[1]) / 10
    assert 0.4 * 3_587 <= per_iter <= 1.6 * 3_587, per


# jobs one q_pagerank call launches at sf0.001 (statics materialization
# with the walk under it, the rank checkpoints, then the result); the
# nodes-distinct + deg-join setup launched 30
_PAGERANK_JOBS_SF0001 = 25


def test_symmetric_reads_input_once(spark, sf_dir):
    """symmetric() emits every edge both ways with its carried columns,
    and scans its input once: the plan over trade_edges (which ends in a
    distinct exchange) holds no ReusedExchange — a union of two
    projections reads that exchange twice."""
    edges = spark.createDataFrame([(1, 2, 5), (2, 3, 7)], "src long, dst long, w long")
    assert sorted(tuple(r) for r in G.symmetric(edges, "w").collect()) == [
        (1, 2, 5), (2, 1, 5), (2, 3, 7), (3, 2, 7)
    ]
    assert G.symmetric(edges).columns == ["src", "dst"]
    sym = G.symmetric(G.trade_edges(spark, sf_dir))
    assert sym.count() == 2 * G.trade_edges(spark, sf_dir).count()
    sym.collect()  # AQE final plan: exchange reuse shows up here
    assert "ReusedExchange" not in sym._jdf.queryExecution().executedPlan().toString()


def test_pagerank_broadcast_setup_one_exchange(spark, sf_dir):
    """The broadcast arm's static inputs cost one exchange above the edge
    list: the walk's clustering repartition.  The distinct rides it, and
    statics (outdeg = indeg on a symmetric walk, nodes = the dst keys) is
    one aggregate over the same clustering, with no ENSURE_REQUIREMENTS
    exchange between the walk and statics in the executed plan."""
    import re

    walk, statics = G.pagerank_walk(_trade_edges(spark, sf_dir), 8, "dst")
    try:
        statics.collect()
        plan = statics._jdf.queryExecution().executedPlan().executedPlan().toString()
    finally:
        walk.unpersist()
    # distinct (partitioning, origin) pairs, expression ids stripped: the
    # cached walk's plan prints its initial and final forms
    ex = {
        (re.sub(r"#\d+L?", "", part), origin)
        for part, origin in re.findall(r"Exchange (\w+\([^)]*\)), (\w+)", plan)
    }
    assert ex == {("hashpartitioning(dst, 8)", "REPARTITION_BY_NUM")}, ex


def test_pagerank_query_job_count_bounded(spark, sf_dir):
    """One q_pagerank call (plan build + collect) stays within two jobs of
    the setup-from-the-walk count.  The setup's extra jobs are invisible
    to the loop-only byte envelopes; the job count sees them."""
    jobs = measured(spark, lambda: G.q_pagerank(spark, sf_dir).collect())["jobs"]
    assert jobs <= _PAGERANK_JOBS_SF0001 + 2, jobs


@pytest.mark.parametrize("join_strategy", ["broadcast", "copartition"])
def test_pagerank_invariant_to_shuffle_partitions(spark, sf_dir, join_strategy, monkeypatch):
    """Ranks must not depend on the session's shuffle partition count.
    The broadcast arm never writes session conf (its loop has no
    exchange); the copartition arm pins the count for its loop and must
    hand the session back unchanged."""
    from pyspark.sql.conf import RuntimeConfig

    edges = _trade_edges(spark, sf_dir)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    got = []
    try:
        for parts in (1, 8, 64):
            spark.conf.set(key, str(parts))
            with monkeypatch.context() as m:
                if join_strategy == "broadcast":
                    m.setattr(RuntimeConfig, "set", lambda *a: pytest.fail("operator set a conf"))
                got.append(
                    sorted(
                        tuple(r)
                        for r in G.pagerank(spark, edges, join_strategy=join_strategy).collect()
                    )
                )
            assert spark.conf.get(key) == str(parts)
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1] == got[2]
    assert abs(sum(r[1] for r in got[0]) - 1.0) < 1e-6


@pytest.mark.parametrize("directed", [False, True])
def test_pagerank_statics_degrees(spark, directed):
    """statics holds one row per node with its out-degree; a node with no
    out-edges (only reachable in the directed walk) gets NULL."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (1, 2)], "src long, dst long")
    walk, statics = G.pagerank_walk(edges, 4, "dst", directed)
    try:
        got = {r["node"]: r["outdeg"] for r in statics.collect()}
    finally:
        walk.unpersist()
    assert got == ({1: 2, 2: 1, 3: None} if directed else {1: 2, 2: 2, 3: 2})


# --- triangle counting -------------------------------------------------


def _tri_map(df):
    return {r["node"]: (r["deg"], r["tri"], r["lcc"]) for r in df.collect()}


def test_triangle_counts_known_graph(spark):
    """K4-minus-an-edge plus a pendant: triangles (1,2,3) and (2,3,4);
    node 5 hangs off node 4 and closes nothing."""
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (4, 5)], "u long, v long"
    )
    out = _tri_map(G.triangle_counts(edges))
    assert out == {
        1: (2, 1, 1.0),
        2: (3, 2, 0.666667),
        3: (3, 2, 0.666667),
        4: (3, 1, 0.333333),
        5: (1, 0, 0.0),
    }


def test_triangle_counts_star_is_triangle_free(spark):
    """A star has zero triangles — and the degree orientation points every
    edge INTO the hub, so the wedge self-join finds no common low
    endpoint at the hub (the curse-of-the-last-reducer guard rail: the
    hub never fans out C(k,2) wedges)."""
    hub = [(0, i) for i in range(1, 21)]
    edges = spark.createDataFrame(hub, "u long, v long")
    out = _tri_map(G.triangle_counts(edges))
    assert out[0] == (20, 0, 0.0)
    assert all(out[i] == (1, 0, 0.0) for i in range(1, 21))


def test_triangle_count_fixture_is_k4(spark, sf_dir):
    """At sf0.001 the p90 co-supply graph is a 4-clique: every node has
    deg 3, sits in all C(3,2)=3 triangles, lcc exactly 1.0."""
    rows = G.q_triangle_count(spark, sf_dir).collect()
    assert len(rows) == 4
    assert all((r["deg"], r["tri"], r["lcc"]) == (3, 3, 1.0) for r in rows)


def test_kcore_path_and_clique(spark):
    """A 6-path (2-core empty: endpoints peel inward round by round)
    glued to a 5-clique (4-core = the clique, every in-core degree 4)
    — exercises multi-round peeling AND a surviving dense core."""
    path = [(100 + i, 101 + i) for i in range(6)]
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(sorted(path + clique), "u long, v long")
    core = {(r["node"], r["core_deg"]) for r in G.kcore(df, k=4, rounds=6).collect()}
    assert core == {(i, 4) for i in range(5)}
    # the path alone has no 2-core; needs len(path)//2 peel rounds
    p = spark.createDataFrame(path, "u long, v long")
    assert G.kcore(p, k=2, rounds=6).count() == 0


def test_kcore_fixpoint_margin(spark, sf_dir):
    """The fixed unroll must have slack: rounds-1 already reaches the
    fixpoint on the fixture, so a regenerated fixture needing deeper
    peeling fails HERE instead of silently diverging from the oracle."""
    from conftest import rows_set

    e = G.cosupply_edges(spark, sf_dir)
    assert rows_set(G.kcore(e, rounds=G._KCORE_ROUNDS - 1)) == rows_set(
        G.kcore(e, rounds=G._KCORE_ROUNDS)
    )


def test_kcore_degrees_at_least_k(spark, sf_dir):
    rows = G.q_kcore(spark, sf_dir).collect()
    assert all(r["core_deg"] >= G._KCORE_K for r in rows)


def test_label_prop_partitions_disjoint_cliques(spark):
    """Two disjoint cliques must each collapse to one community (the
    clique's min id) — and a bridge edge between them must NOT merge
    them at this density (each side's internal majority dominates)."""
    c1 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    c2 = [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
    df = spark.createDataFrame(sorted(c1 + c2 + [(3, 10)]), "u long, v long")
    labels = {r["node"]: r["label"] for r in G.label_prop(df).collect()}
    assert {labels[i] for i in range(4)} == {0}
    assert {labels[10 + i] for i in range(4)} == {10}


def test_label_prop_deterministic(spark, sf_dir):
    from conftest import rows_set

    e = G.cosupply_edges(spark, sf_dir)
    assert rows_set(G.label_prop(e)) == rows_set(G.label_prop(e))


def test_kcore_post_check_certificate():
    """The sweep-level fixpoint certificate (ADVICE r9): valid cores
    pass, a vertex below the bound fails loudly, empty result is valid."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import (
        _KCORE_K,
        _kcore_post_check,
    )

    cols = ["s_suppkey", "core_deg"]
    assert _kcore_post_check([], cols) is None
    assert _kcore_post_check([(1, _KCORE_K), (2, _KCORE_K + 3)], cols) is None
    msg = _kcore_post_check([(1, _KCORE_K), (2, _KCORE_K - 1)], cols)
    assert msg and "fixpoint" in msg


def test_bfs_hops_known_graph(spark):
    """Hand-checkable path 1-2-3-4-5 seeded at 1: dist = position."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["v"] for r in G.relax(edges, seeds, "hops", G._BFS_ROUNDS).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_hops_multi_source_takes_min(spark):
    """Two seeds at the ends of a 5-path: middle vertex is 2 hops from
    both; neighbors settle at 1 via their nearer seed."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node long")
    got = {r["node"]: r["v"] for r in G.relax(edges, seeds, "hops", G._BFS_ROUNDS).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_bfs_hops_unreachable_omitted(spark):
    """Disconnected component never appears in the result."""
    edges = spark.createDataFrame([(1, 2), (10, 11)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["v"] for r in G.relax(edges, seeds, "hops", G._BFS_ROUNDS).collect()}
    assert got == {1: 0, 2: 1}


def test_bfs_hops_fixture_properties(spark, sf_dir):
    """Gate-SF invariants: seeds at 0; every dist step is witnessed by
    an edge (spot: all dists in [0, _BFS_ROUNDS]); suppliers sit on even
    hops and customers on odd hops from an all-supplier seed set in a
    bipartite graph."""
    rows = G.q_bfs_hops(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["dist"] <= G._BFS_ROUNDS
        if r["kind"] == "supplier":
            assert r["dist"] % 2 == 0
        else:
            assert r["dist"] % 2 == 1
    assert all(r["dist"] == 0 for r in rows if r["kind"] == "supplier" and r["key"] % 10 == 0)


def test_widest_path_hand_graph(spark):
    """Two routes 1->4: direct bottleneck 2 vs detour 1-2-3-4 with
    bottleneck 5 -> the detour wins; node 2's cap is min(seed, 9)."""
    edges = spark.createDataFrame(
        [(1, 4, 2), (1, 2, 9), (2, 3, 5), (3, 4, 7)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["v"] for r in G.relax(edges, seeds, "max_min", G._WP_ROUNDS).collect()}
    assert got[1] == G._WP_SEED_CAP
    assert got[2] == 9
    assert got[3] == 5
    assert got[4] == 5  # the weakest link of the WIDEST route, not the direct 2


def test_widest_path_fixture_invariants(spark, sf_dir):
    """Capacities: seeds carry the sentinel; every non-seed capacity is
    a realizable edge weight (<= max w) and >= the best direct edge
    from a seed (relaxation can only improve on it)."""
    rows = G.q_widest_path(spark, sf_dir).collect()
    assert rows
    ew = G.trade_edges_weighted(spark, sf_dir)
    wmax = ew.agg(F.max("w")).first()[0]
    for r in rows:
        if r["kind"] == "supplier" and r["key"] % 10 == 0:
            assert r["capacity"] == G._WP_SEED_CAP
        else:
            assert 1 <= r["capacity"] <= wmax


def test_node_jaccard_hand_bipartite(spark, sf_dir):
    """Jaccard definition check against a brute-force recomputation of
    one supplier's row set."""
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

    rows = G.q_node_jaccard(spark, sf_dir).collect()
    assert rows
    sp = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .collect()
    )
    parts: dict = {}
    for r in sp:
        parts.setdefault(r["s"], set()).add(r["p"])
    import math

    by_s: dict = {}
    for r in rows:
        by_s.setdefault(r["s_suppkey"], []).append(r)
    s0 = min(by_s)
    # brute-force this supplier's best partners
    cand = []
    for other, ps in parts.items():
        if other == s0:
            continue
        i = len(parts[s0] & ps)
        if i == 0:
            continue
        un = len(parts[s0] | ps)
        cand.append((math.floor(i * 1e6 / un + 0.5), -other))
    cand.sort(reverse=True)
    got = [(r["jac_micro"], -r["partner"]) for r in sorted(by_s[s0], key=lambda r: r["rk"])]
    assert got == cand[: len(got)]
    for r in rows:
        assert 1 <= r["rk"] <= G._NJ_TOPK
        assert 0 < r["jac_micro"] <= 1_000_000
        assert r["n_shared"] <= r["n_union"]


def test_shortest_path_hand_graph(spark):
    """Min-plus: a 3-edge cheap detour (1+1+1) must beat the direct
    cost-10 edge; unreached nodes are absent."""
    edges = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1), (5, 6, 2)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["v"] for r in G.relax(edges, seeds, "min_plus", G._SP_ROUNDS).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_shortest_path_fixture_vs_dijkstra(spark, sf_dir):
    """The distributed min-plus fixpoint must equal a driver-side
    Dijkstra over the same weighted graph."""
    import heapq

    ew = G.trade_edges_weighted(spark, sf_dir).selectExpr(
        "src", "dst", "1000000 DIV w + 1 AS cost"
    )
    adj: dict = {}
    for r in ew.collect():
        adj.setdefault(r["src"], []).append((r["dst"], r["cost"]))
        adj.setdefault(r["dst"], []).append((r["src"], r["cost"]))
    seeds = [n for n in adj if n % 20 == 0]
    dist = {n: 0 for n in seeds}
    pq = [(0, n) for n in seeds]
    heapq.heapify(pq)
    while pq:
        d, n = heapq.heappop(pq)
        if d > dist.get(n, 1 << 62):
            continue
        for m, c in adj[n]:
            nd = d + c
            if nd < dist.get(m, 1 << 62):
                dist[m] = nd
                heapq.heappush(pq, (nd, m))
    got = {
        (2 * r["key"] if r["kind"] == "supplier" else 2 * r["key"] + 1): r["dist"]
        for r in G.q_shortest_path(spark, sf_dir).collect()
    }
    assert got == dist


def test_unroll_stability_check_detects_short_unroll(spark, sf_dir):
    """The sweep-level R+1-stability certificate (VERDICT r10 item 2):
    a deliberately-short unroll must FAIL the check even though Spark
    and an identically-short oracle would hash-match (the
    wrong-together failure mode), and the production round count must
    PASS at the gate fixture."""
    import duckdb

    from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import (
        _BFS_ROUNDS,
        _sql_bfs_hops,
        _unroll_stability_check,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def duck_rows(rounds):
        res = con.execute(_sql_bfs_hops(rounds))
        return [d[0] for d in res.description], res.fetchall()

    # short unroll: simulate the wrong-together scenario by feeding the
    # certificate a 1-round result (what a truncated Spark run would
    # hash-green against a 1-round oracle)
    cols, rows = duck_rows(1)
    short = _unroll_stability_check(_sql_bfs_hops, 1, "_BFS_ROUNDS")
    msg = short(rows, cols, sf_dir)
    assert msg and "fixpoint" in msg

    # production unroll: the real round count is past fixpoint
    cols, rows = duck_rows(_BFS_ROUNDS)
    full = _unroll_stability_check(_sql_bfs_hops, _BFS_ROUNDS, "_BFS_ROUNDS")
    assert full(rows, cols, sf_dir) is None


def test_label_prop_early_stop_matches_full_unroll(spark, sf_dir):
    """The convergence short-circuit may only skip provably-no-op
    rounds: a far-longer unroll must return the bit-identical label
    state (and terminate promptly, proving the break fires)."""
    from conftest import rows_set

    e = G.cosupply_edges(spark, sf_dir).localCheckpoint(eager=True)
    assert rows_set(G.label_prop(e, rounds=G._LP_ROUNDS)) == rows_set(
        G.label_prop(e, rounds=50)
    )


def test_modularity_two_cliques_hand_value(spark):
    """Two 4-cliques joined by a single bridge: m = 13, d_c = 13 per
    clique, m_c = 6 → Q = 2·(6/13 − (13/26)²) = 286/676 = 0.423077."""
    from itertools import combinations

    cl = [(u, v) for u, v in combinations(range(4), 2)]
    cl += [(u + 10, v + 10) for u, v in combinations(range(4), 2)]
    cl.append((3, 10))  # bridge
    edges = spark.createDataFrame(cl, "u long, v long")
    labels = spark.createDataFrame(
        [(n, 0) for n in range(4)] + [(n + 10, 1) for n in range(4)], "node long, label long"
    )
    row = G.modularity(edges, labels).collect()[0]
    assert row["n_communities"] == 2
    assert row["m_edges"] == 13
    assert row["modularity"] == 0.423077


def test_assortativity_star_is_minus_one(spark, tmp_path):
    """A star is perfectly disassortative: every edge joins the hub
    (degree 3) to a leaf (degree 1), so endpoint degrees are perfectly
    anti-correlated — r = −1 exactly.  Driven through the registered
    query via a written fixture (supplier 1 trades with customers
    1,2,3)."""
    li = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "l_orderkey long, l_suppkey long"
    )
    orders = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "o_orderkey long, o_custkey long"
    )
    li.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    orders.write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    row = G.q_assortativity(spark, str(tmp_path)).collect()[0]
    assert row["m_pairs"] == 6  # 3 undirected edges, both listings
    assert row["assortativity"] == -1.0


# semiring → (edges, rounds short of the fixpoint, the fixpoint map)
_CERT_CASES = {
    "hops": ([(1, 2), (2, 3), (3, 4), (4, 5)], 2, {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}),
    "max_min": (
        [(1, 2, 9), (2, 3, 5), (3, 4, 7), (1, 4, 2)], 1, {1: G._WP_SEED_CAP, 2: 9, 3: 5, 4: 5}
    ),
    "min_plus": ([(1, 2, 9), (2, 3, 5), (3, 4, 7), (1, 4, 2)], 1, {1: 0, 2: 9, 3: 9, 4: 2}),
}


@pytest.mark.parametrize("semiring", sorted(_CERT_CASES))
def test_frontier_certificate_fires_when_rounds_short(spark, semiring):
    """relax may only return a fixpoint: when ``rounds`` run out with a
    non-empty frontier its certificate round still improves something
    and it raises; a full unroll observes the empty frontier and returns
    the hand-checked map."""
    rows, short, want = _CERT_CASES[semiring]
    schema = "src long, dst long" + (", w long" if len(rows[0]) == 3 else "")
    edges = spark.createDataFrame(rows, schema)
    seeds = spark.createDataFrame([(1,)], "node long")
    with pytest.raises(AssertionError, match="improvable"):
        G.relax(edges, seeds, semiring, short)
    got = {r["node"]: r["v"] for r in G.relax(edges, seeds, semiring, 10).collect()}
    assert got == want


# jobs one call of each path query launches at sf0.001 (seed checkpoint,
# one checkpoint per round with the fixpoint probe riding it as an
# Observation, then the result); a separate isEmpty probe per round
# launched 29 / 38 / 30
_PATH_JOBS_SF0001 = {"q_bfs_hops": 23, "q_widest_path": 30, "q_shortest_path": 24}


@pytest.mark.parametrize("query", sorted(_PATH_JOBS_SF0001))
def test_path_query_job_count_bounded(spark, sf_dir, query):
    """One call of each relax-backed query (plan build + collect) stays
    within two jobs of the probe-free count."""
    run = getattr(G, query)
    jobs = measured(spark, lambda: run(spark, sf_dir).collect())["jobs"]
    assert jobs <= _PATH_JOBS_SF0001[query] + 2, jobs


def _assert_partition_invariant(spark, monkeypatch, module, loop, run):
    """``run()`` returns equal rows at session shuffle partitions {1, 8,
    64}, and the loop ``module.<loop>`` never writes session conf while it
    runs (its clustering is an explicit repartition)."""
    from pyspark.sql.conf import RuntimeConfig

    fn = getattr(module, loop)

    def poisoned(*a, **kw):
        with monkeypatch.context() as m:
            m.setattr(RuntimeConfig, "set", lambda *_: pytest.fail(f"{loop} set a conf"))
            return fn(*a, **kw)

    monkeypatch.setattr(module, loop, poisoned)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    got = []
    try:
        for parts in (1, 8, 64):
            spark.conf.set(key, str(parts))
            got.append(sorted(tuple(r) for r in run().collect()))
            assert spark.conf.get(key) == str(parts)
    finally:
        spark.conf.set(key, old)
    assert got[0] == got[1] == got[2]
    assert got[0]


@pytest.mark.parametrize("query", sorted(_PATH_JOBS_SF0001))
def test_path_query_invariant_to_shuffle_partitions(spark, sf_dir, query, monkeypatch):
    """Results must not depend on the session's shuffle partition count,
    and relax never writes session conf."""
    run = getattr(G, query)
    _assert_partition_invariant(spark, monkeypatch, G, "relax", lambda: run(spark, sf_dir))


@pytest.mark.parametrize("query", ["q_dedup_components", "q_dedup_keep_best", "q_label_prop"])
def test_component_and_community_query_invariant_to_shuffle_partitions(
    spark, sf_dir, query, monkeypatch
):
    """The connected-component queries (relax under ``min_label``) and
    q_label_prop give the same rows whatever the session's shuffle
    partition count, and neither loop writes session conf."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators import dedup as D

    module, loop = (G, "label_prop") if query == "q_label_prop" else (D, "relax")
    run = getattr(module, query)
    _assert_partition_invariant(spark, monkeypatch, module, loop, lambda: run(spark, sf_dir))


def test_kcore_early_stop_equals_full_unroll(spark):
    """r12: kcore's per-round fixpoint probe (return the degree table
    when no vertex is below the bound) must be invisible in the result —
    a clique hits the fixpoint on round 1 (early-return path), and the
    deep-peeling path graph still peels to empty through the probe."""
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    df = spark.createDataFrame(sorted(clique), "u long, v long")
    got = {(r["node"], r["core_deg"]) for r in G.kcore(df, k=4, rounds=6).collect()}
    assert got == {(i, 4) for i in range(5)}
    assert [f.name for f in G.kcore(df, k=4, rounds=6).schema.fields] == [
        "node", "core_deg"
    ]
    assert dict(G.kcore(df, k=4, rounds=6).dtypes)["core_deg"] == "bigint"


# jobs one q_label_prop call launches at sf0.001 (the changed-label count
# rides each round's checkpoint as an Observation); a separate isEmpty
# probe per round launched 24
_LP_JOBS_SF0001 = 21
# jobs kcore(k=2) launches on a 7-node path, which peels for 3 rounds and
# then observes the empty fixpoint (the below-bound count rides each
# degree checkpoint); a separate isEmpty probe per round launched 25
_KCORE_PATH_JOBS = 21


def test_label_prop_query_job_count_bounded(spark, sf_dir):
    """One q_label_prop call (plan build + collect) stays within two jobs
    of the probe-free count."""
    jobs = measured(spark, lambda: G.q_label_prop(spark, sf_dir).collect())["jobs"]
    assert jobs <= _LP_JOBS_SF0001 + 2, jobs


def test_kcore_job_count_bounded(spark):
    """A multi-round peel stays within two jobs of the probe-free count:
    each round's fixpoint probe costs no job of its own."""
    path = spark.createDataFrame([(100 + i, 101 + i) for i in range(6)], "u long, v long")
    jobs = measured(spark, lambda: G.kcore(path, k=2, rounds=6).collect())["jobs"]
    assert jobs <= _KCORE_PATH_JOBS + 2, jobs

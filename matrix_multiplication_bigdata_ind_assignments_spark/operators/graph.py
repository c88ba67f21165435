"""Graph operators over relationally-derived graphs (SURVEY.md §2.3
'iterative algorithms' class; connected components live in dedup.py).

PageRank here is ORACLE-CHECKED — unusual for an iterative operator:
the fixed-iteration power method unrolls into chained SQL CTEs, and
per-iteration 12-dp rounding in BOTH engines pins the floating point so
different summation orders cannot drift across 10 iterations.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.loop import PARTITIONS, pinned, settle
from ..registry import register
from ..sources import load

_PR_DAMPING = 0.85
_PR_ITERS = 10
# pagerank's lineage truncation cadence.  Results are cadence-invariant
# (the 12-dp rounding is in-plan); each skipped eager checkpoint saves a
# job and a broadcast round, and 2 is the knee (AB_PAGERANK.md, sf0.1:
# cadence 1 / 2 / 5 ran 4.80 / 4.12 / 4.01 s mean); deeper cadences trade
# failure recompute and plan size for little more.
_PR_TRUNCATE_EVERY = 2


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = _PR_DAMPING,
    iters: int = _PR_ITERS,
    directed: bool = False,
    seed_mod: int | None = None,
    join_strategy: str = "broadcast",
) -> DataFrame:
    """Power-method PageRank over an edge list ``(src, dst)``.

    ``directed=False`` (default): each edge walks both ways —
    random-walk-on-a-graph semantics, which sidesteps dangling-mass
    bookkeeping (every node with an edge has out-degree ≥ 1).
    ``directed=True``: edges walk src→dst only; nodes with no out-edges
    (dangling) leak their rank, which is re-distributed uniformly each
    iteration (the standard dangling-mass correction: rank' = (1-d)/N +
    d·(contribs + m_dangling/N)), so Σrank stays 1.  The dangling mass
    is one O(|V|) scalar agg per iteration, rounded to 12 dp so both
    engines agree despite different summation orders.

    ``seed_mod`` picks the teleport: ``None`` (default) is uniform —
    rank₀ = 1/N, teleport (1−d)/N.  An integer is TrustRank (Gyöngyi et
    al., VLDB'04): with S seeds ``node % seed_mod == 0``, rank₀ = 1/S on
    the seeds (0 elsewhere) and teleport (1−d)·rank₀, a function of the
    node id, so the state needs no weight column.  ``seed_mod=1`` takes
    the seeded expressions to the uniform result bit-for-bit.  An empty
    seed set raises ``ValueError``, as does ``directed=True`` (no rule
    sends dangling mass to the seeds).

    Scale shape (the Pregel pattern in DataFrames): each iteration is
    one join of the edge list with the current rank STATE — a |V|-row
    (node, outdeg, rank) vector; folding outdeg into the state replaces
    a per-iteration walk⋈deg join + broadcast with a column — plus
    one hash agg keyed on dst, both map-side combinable.  Lineage is
    truncated every ``_PR_TRUNCATE_EVERY`` iterations, otherwise
    iteration k re-plans all k-1 predecessors.  Ranks are
    rounded to 12 dp EACH iteration — the determinism contract that
    makes the unrolled-CTE oracle bit-comparable (summation order
    differs between engines; rounding every round stops drift from
    compounding).

    ``join_strategy`` picks how the |V|-row frames (ranks, statics,
    contribs) meet the persisted edge list each iteration:

    - ``'broadcast'`` (default): the rank vector is broadcast — zero
      edge movement, zero rank shuffle; right whenever |V| rows fit an
      executor.
    - ``'copartition'``: shuffled joins.  The edge list is
      hash-partitioned on src ONCE (persisted — InMemoryTableScan keeps
      outputPartitioning), and the loop pins spark.sql.shuffle.partitions
      to the same count, so EnsureRequirements re-uses the edges'
      clustering and exchanges ONLY the |V|-row side per join:
      per-iteration shuffle is O(|V|), independent of |E| (byte envelope
      in tests/test_graph.py; SCALING.md).  Right when the rank vector
      itself is too big to broadcast — the billion-node regime.

    Both arms compute identical 12-dp-rounded ranks (the per-iteration
    rounding already absorbs summation-order differences ACROSS ENGINES,
    a stronger condition than across join strategies; equality asserted
    in tests/test_graph.py), whatever the session's shuffle partition
    count.  The broadcast arm never writes session conf.

    Returns (node, rank)."""
    if join_strategy not in ("broadcast", "copartition"):
        raise ValueError(f"unknown join_strategy {join_strategy!r}")
    if seed_mod is not None and directed:
        raise ValueError("pagerank: seed_mod needs an undirected walk (no dangling-mass rule)")
    # 'copartition': identity instead of the broadcast hint — the rank
    # sides are ExistingRDD scans with no stats, so the planner picks a
    # shuffled join and EnsureRequirements finds the walk already
    # hash-clustered on src at the pinned partition count: only the
    # |V|-row side moves.
    bc = F.broadcast if join_strategy == "broadcast" else (lambda df: df)

    # Broadcast arm: the only per-iteration aggregate is groupBy(dst), so
    # the walk is clustered on dst and the whole iteration is
    # exchange-free.  Copartition arm: the rank vector is shuffled to meet
    # the walk on src, so src-clustering keeps the |E| side unmoved.
    walk_key = "dst" if join_strategy == "broadcast" else "src"
    walk, statics = pagerank_walk(edges, PARTITIONS, walk_key, directed)
    # Broadcast arm: persist keeps statics' hash(node, PARTITIONS)
    # clustering, and contribs arrives hash(dst, PARTITIONS) riding the
    # walk, so the merge-hinted statics ⋈ contribs is co-partitioned — no
    # exchange, no broadcast build.  Copartition arm (measured negative for a clustered
    # statics, 3,568 → 8,650 B/iter at sf0.001): its contribs aggregate
    # pays a real exchange that AQE coalesces below PARTITIONS, so a clustered
    # statics mismatches and AQE re-exchanges a side per iteration; a
    # checkpointed statics lets both join sides coalesce together.
    statics_clustered = join_strategy == "broadcast"

    def truncate(df: DataFrame, it: int) -> DataFrame:
        """Lineage truncation, every ``_PR_TRUNCATE_EVERY``-th iteration
        (the final iteration always truncates so the returned frame is an
        eager checkpoint with no lineage into the unpersisted walk)."""
        if (it + 1) % _PR_TRUNCATE_EVERY != 0 and it != iters - 1:
            return df  # skip: lineage depth stays < _PR_TRUNCATE_EVERY
        return df.localCheckpoint(eager=True)

    try:
        if statics_clustered:
            statics = statics.persist()
        else:
            statics = statics.localCheckpoint(eager=True)
        if seed_mod is None:
            n_nodes = statics.count()  # the teleport term needs the scalar
            rank0 = F.lit(1.0 / n_nodes)
            teleport = F.lit((1.0 - damping) / n_nodes)
        else:
            seed = F.col("node") % seed_mod == 0
            n_seeds = statics.where(seed).count()
            if n_seeds == 0:  # no seed in this graph: the teleport is undefined
                raise ValueError("pagerank: empty seed set")
            rank0 = F.when(seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
            teleport = F.lit(1.0 - damping) * rank0
        # Copartition arm only: its per-iteration exchanges (the rank side
        # and the contribution aggregate) are planned by EnsureRequirements
        # at the session partition count, so the loop pins that count to
        # PARTITIONS.  An explicit rank-side repartition instead (the
        # closeness move) measured 22,396 vs 3,568 B/iter at sf0.001 under
        # 32 session partitions: the contribution aggregate still writes
        # one block per session partition, and the hint that keeps the
        # walk resident stops AQE from broadcasting a small walk.  The
        # broadcast arm's loop has no exchange and needs no pin.
        with pinned(spark) if join_strategy == "copartition" else contextlib.nullcontext():
            ranks = statics.withColumn("rank", rank0)
            for it in range(iters):
                # The rank state (node, outdeg, rank) is a |V|-row frame; its
                # ExistingRDD scan carries no stats, so unhinted the planner
                # would SMJ and re-sort the edge list every round (measured
                # 31 MB shuffle / ~7 s vs 3 MB / ~2.5 s broadcast at sf0.1).
                contribs = (
                    walk.join(bc(ranks), walk.src == ranks.node)
                    .groupBy("dst")
                    .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("m"))
                )
                base = teleport
                if statics_clustered:
                    joined = statics.join(
                        contribs.hint("merge"), statics.node == contribs.dst, "left"
                    )
                else:
                    joined = statics.join(bc(contribs), statics.node == contribs.dst, "left")
                if directed:
                    # dangling mass: rank held by nodes with no out-edges —
                    # outdeg is ALREADY in the state vector, so this is a
                    # 1-row filtered agg (no anti-join), attached IN-PLAN as
                    # a broadcast cross join (a driver .first() here would
                    # add a blocking job per iteration; 12-dp rounding keeps
                    # both engines' scalars bit-equal).  The arithmetic
                    # mirrors the oracle's parenthesization exactly:
                    # ((1-d)/n + (d·m_dang)/n) + d·contrib.
                    dang = ranks.where(F.col("outdeg").isNull()).agg(
                        F.round(F.coalesce(F.sum("rank"), F.lit(0.0)), 12).alias("mmbd_dang")
                    )
                    joined = joined.crossJoin(F.broadcast(dang))
                    base = base + (F.lit(damping) * F.col("mmbd_dang")) / F.lit(float(n_nodes))
                ranks = truncate(
                    joined.select(
                        "node",
                        "outdeg",
                        F.round(
                            base + damping * F.coalesce(F.col("m"), F.lit(0.0)), 12
                        ).alias("rank"),
                    ),
                    it,
                )
    finally:
        walk.unpersist()  # ranks is an eager checkpoint — no lineage into walk
        if statics_clustered:
            statics.unpersist()
    return ranks.select("node", "rank")  # outdeg is loop-internal state


def symmetric(df: DataFrame, *carry: str) -> DataFrame:
    """``(src, dst, *carry)`` in both directions from ONE pass over ``df``:
    each row becomes its forward and reversed copy through one inline
    generator, so ``df``'s lineage — and any exchange under it — is read
    once (a ``union`` of two projections scans it twice, the second time
    as a ReusedExchange).  Duplicates are kept: an input holding both
    (a, b) and (b, a) yields each direction twice."""
    cols = [F.col(c) for c in carry]
    return df.select(
        F.inline(
            F.array(
                F.struct(F.col("src"), F.col("dst"), *cols),
                F.struct(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols),
            )
        )
    )


def pagerank_walk(
    edges: DataFrame, n_part: int, walk_key: str, directed: bool = False
) -> tuple[DataFrame, DataFrame]:
    """The power method's static inputs: ``walk`` — the distinct
    ``(src, dst)`` steps (both directions unless ``directed``),
    hash-clustered on ``walk_key`` at ``n_part`` partitions and persisted
    — and ``statics`` — the unmaterialized ``(node, outdeg)`` vector, one
    row per node, outdeg NULL for a node with no out-edges.

    The walk is persisted, not checkpointed: persist keeps the
    repartition's outputPartitioning, which every iteration's join and
    aggregate rely on to leave the |E| side in place (a localCheckpoint
    forgets it, and the loop re-exchanged the full edge list every round:
    150 MB per 10-iteration query at sf0.1).  The distinct's
    ClusteredDistribution(src, dst) is satisfied by hashing on either
    endpoint, so it rides the one clustering exchange.

    A symmetric walk has outdeg(v) = indeg(v) and its node set is the set
    of ``walk_key`` values, so statics is one count aggregate over that
    clustering: no exchange, and its output is already hash(node,
    n_part).  (Planned before the walk's cache exists, the aggregate
    carries an exchange that AQE drops once the cache stage reports its
    partitioning.)  A directed walk counts (src, 1), (dst, 0) endpoint
    rows per node in one aggregate over a repartition to the same
    hash(node, n_part): its 2|E| endpoint rows cross that one exchange
    uncombined, once, in place of the nodes distinct, its checkpoint and
    the outdeg join."""
    walk = edges.select("src", "dst")
    if not directed:
        walk = symmetric(walk)
    walk = walk.repartition(n_part, walk_key).distinct().persist()
    if not directed:
        statics = walk.groupBy(walk_key).agg(F.count(F.lit(1)).alias("outdeg"))
        return walk, statics.select(F.col(walk_key).alias("node"), "outdeg")
    ends = walk.select(
        F.inline(
            F.array(
                F.struct(F.col("src").alias("node"), F.lit(1).alias("out")),
                F.struct(F.col("dst").alias("node"), F.lit(0).alias("out")),
            )
        )
    )
    statics = ends.repartition(n_part, "node").groupBy("node").agg(F.sum("out").alias("outdeg"))
    return walk, statics.select("node", F.when(F.col("outdeg") > 0, F.col("outdeg")).alias("outdeg"))


def _sql_pagerank(damping: float = _PR_DAMPING, iters: int = _PR_ITERS) -> str:
    """The identical power method as unrolled DuckDB CTEs (r0 … r{iters}),
    over the supplier↔customer trade graph."""
    d = damping
    ctes = [
        """e AS (
  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ed AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM ed GROUP BY src),
nodes AS (SELECT DISTINCT src AS node FROM ed),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS (
  SELECT nodes.node,
         round({1.0 - d} / (SELECT n FROM nn) + {d} * coalesce(s.m, 0.0), 12) AS rank
  FROM nodes LEFT JOIN (
    SELECT ed.dst AS node, sum(r{i - 1}.rank / deg.outdeg) AS m
    FROM ed JOIN r{i - 1} ON ed.src = r{i - 1}.node JOIN deg ON deg.src = ed.src
    GROUP BY ed.dst
  ) s ON nodes.node = s.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(node // 2 AS BIGINT) AS key,
       round(rank, 6) AS rank
FROM r{iters}
"""
    )


def trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier↔customer trade graph every PageRank query/test/probe
    runs on: one edge per distinct (suppkey, custkey) pair appearing on
    the same order, node ids disambiguated arithmetically (supplier 2k,
    customer 2k+1).  ONE definition (r8 review: the recipe was
    copy-pasted in four places, so an encoding change could silently
    desynchronize the oracle-checked arm-equality and envelope tests
    from the queries they pin)."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )


def _decode_ranks(ranks: DataFrame) -> DataFrame:
    """(node, rank) → (kind, key, rank) rounded for the 6-dp oracle
    comparison."""
    return _decode_nodes(ranks, F.round("rank", 6).alias("rank"))


@register("q_pagerank", oracle=_sql_pagerank())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier↔customer trade graph (trade_edges),
    damping 0.85, 10 power iterations — the canonical Pregel-style
    iterative workload, expressed as per-round join+agg over DataFrames
    and ORACLE-CHECKED against the same method unrolled into chained
    DuckDB CTEs (12-dp per-iteration rounding pins fp in both engines)."""
    return _decode_ranks(pagerank(spark, trade_edges(spark, sf_dir)))


# Same oracle as q_pagerank: the copartition arm must produce the
# IDENTICAL 12-dp ranks (per-iteration rounding absorbs summation-order
# differences), so gate-checking it against the same unrolled CTEs makes
# the arm-equality claim externally verifiable, not just unit-tested.
@register("q_pagerank_copart", oracle=_sql_pagerank())
def q_pagerank_copart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_pagerank on join_strategy='copartition' — the billion-node arm
    (VERDICT r7 item 3): shuffled joins re-use the persisted
    src-clustered edges, so each iteration exchanges ONLY the |V|-row
    rank/deg/contrib sides (measured ~22 B/node/iter, envelope-pinned in
    tests/test_graph.py; SCALING.md shows bytes bounded by parts·|V|
    under a 10× edge blow-up).  Identical output to q_pagerank by
    construction — checked against the SAME DuckDB oracle."""
    return _decode_ranks(
        pagerank(spark, trade_edges(spark, sf_dir), join_strategy="copartition")
    )


def _sql_pagerank_directed(damping: float = _PR_DAMPING, iters: int = _PR_ITERS) -> str:
    """The directed power method with uniform dangling-mass
    re-distribution as unrolled DuckDB CTEs — every customer node is
    dangling by construction (supplier→customer edges only), so the
    dangling scalar is exercised hard, not incidentally.  Arithmetic is
    ordered EXACTLY as the Spark side (((1-d)/n + (d·m_dang)/n) +
    d·contrib, then round 12) so both engines stay bit-identical.

    Every per-iteration CTE is ``AS MATERIALIZED``: r{i} is referenced
    TWICE (by md{i+1} and r{i+1}), so DuckDB's default CTE inlining
    doubles the expression tree per iteration — 2¹⁰ copies of the edge
    scan at 10 iterations, which both exhausts file handles and blows
    planning time.  Materialization keeps the unrolled plan linear,
    matching Spark's per-round localCheckpoint."""
    d = damping
    ctes = [
        """ed AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS outdeg FROM ed GROUP BY src),
nodes AS MATERIALIZED (SELECT src AS node FROM ed UNION SELECT dst AS node FROM ed),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""md{i} AS MATERIALIZED (
  SELECT round(coalesce(sum(rank), 0.0), 12) AS m FROM r{i - 1}
  WHERE node NOT IN (SELECT src FROM ed)
),
r{i} AS MATERIALIZED (
  SELECT nodes.node,
         round(({1.0 - d} / (SELECT n FROM nn)
                + ({d} * (SELECT m FROM md{i})) / (SELECT n FROM nn))
               + {d} * coalesce(s.m, 0.0), 12) AS rank
  FROM nodes LEFT JOIN (
    SELECT ed.dst AS node, sum(r{i - 1}.rank / deg.outdeg) AS m
    FROM ed JOIN r{i - 1} ON ed.src = r{i - 1}.node JOIN deg ON deg.src = ed.src
    GROUP BY ed.dst
  ) s ON nodes.node = s.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(node // 2 AS BIGINT) AS key,
       round(rank, 6) AS rank
FROM r{iters}
"""
    )


@register("q_pagerank_directed", oracle=_sql_pagerank_directed())
def q_pagerank_directed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed PageRank with dangling-mass handling (VERDICT r6 item 7):
    the supplier→customer trade graph walked one way, so EVERY customer
    is a dangling node — its rank is re-distributed uniformly each
    iteration (rank' = (1-d)/N + d·m_dangling/N + d·contribs), keeping
    Σrank = 1 (asserted in tests/test_graph.py).  The dangling scalar is
    one |V|-row anti-join agg per iteration, rounded to 12 dp in both
    engines so the unrolled-CTE oracle stays bit-comparable despite
    summation-order differences.  Same Pregel shape as q_pagerank."""
    return _decode_ranks(pagerank(spark, trade_edges(spark, sf_dir), directed=True))


_TRI_Q = 0.9  # co-supply strength quantile that defines the graph's edges


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected edge list ``(u, v)``
    (distinct, u < v) — the compact-forward / node-iterator algorithm of
    Suri & Vassilvitskii ("Counting Triangles and the Curse of the Last
    Reducer", WWW'11), expressed as three DataFrame joins:

    1. degree: one hash agg over both endpoints (map-side combinable);
    2. ORIENT each edge from its lower-(deg, id) endpoint to the higher
       — the load-balancing step: every wedge is charged to its
       lowest-degree vertex, so total wedge work is O(m^1.5) regardless
       of skew (a star's hub receives its edges, it never self-joins);
    3. wedges: equi-self-join of the oriented list on the low endpoint
       (the (deg, id) order on the two high endpoints de-duplicates each
       wedge); close: equi-join wedge (x, y) against oriented edge
       (x, y).  Every join is an equi-join — no theta join anywhere —
       and each triangle is produced exactly once.

    Returns (node, deg, tri, lcc): degree, triangle count, and local
    clustering coefficient 2·tri/(deg·(deg−1)) rounded through the
    portable 6-dp floor form.  All counting is integer-exact.  (SCALING.md
    "Triangle-count orientation" measures the (deg, id) order against a
    plain u < v order on one star graph.)"""
    deg, oriented, wedges = oriented_wedges(edges)
    # r12 (guide §2.3): the close join shuffles EVERY wedge by its
    # (x, y) pair — the query's dominant exchange (O(m^1.5) wedge rows).
    # Packing the pair into one BIGINT (x<<32 | y; node ids are
    # 32-bit-positive suppkeys) halves the key bytes through that
    # exchange and joins on a single long; x/y are unpacked from the key
    # after the join, so the triangle set is bit-identical.
    # explicit BIGINT casts (ADVICE r12): Spark masks shift amounts per
    # type, so shiftleft(int32, 32) is a silent NO-OP — the cast makes the
    # pack correct for any integer column type; callers must still keep
    # ids in [0, 2^32) (TPC-H suppkeys are) or the pack collides.
    pk = lambda c1, c2: F.expr(  # noqa: E731
        f"shiftleft(CAST({c1} AS BIGINT), 32) | CAST({c2} AS BIGINT)"
    )
    wk = wedges.select("ctr", pk("x", "y").alias("k"))
    ck_join = oriented.select(pk("lo", "hi").alias("k"))
    tris = wk.join(ck_join, "k").select(
        "ctr",
        F.expr("shiftright(k, 32)").alias("x"),
        F.expr("k & 4294967295").alias("y"),
    )
    corners = (
        tris.select(F.col("ctr").alias("node"))
        .unionAll(tris.select(F.col("x").alias("node")))
        .unionAll(tris.select(F.col("y").alias("node")))
    )
    tri = corners.groupBy("node").agg(F.count(F.lit(1)).alias("tri"))
    # r12: tri is ≤|V| rows — broadcast it into the left join instead of
    # exchanging+sorting both |V|-row sides
    out = deg.join(F.broadcast(tri), "node", "left").select(
        "node",
        F.col("d").cast("long").alias("deg"),
        F.coalesce(F.col("tri"), F.lit(0)).cast("long").alias("tri"),
    )
    lcc = F.when(
        F.col("deg") > 1,
        F.floor(
            (2.0 * F.col("tri") / (F.col("deg") * (F.col("deg") - 1))) * 1e6
            + F.lit(0.5)
        )
        / 1e6,
    ).otherwise(F.lit(0.0))
    return out.select("node", "deg", "tri", lcc.alias("lcc"))


def oriented_wedges(edges: DataFrame):
    """The orientation + wedge-generation stages of triangle_counts.
    Returns (deg, oriented, wedges)."""
    # Materialize the edge list once: it feeds the degree agg, the
    # orientation join, and (through `oriented`) the wedge self-join —
    # without this every consumer re-runs the caller's whole edge-
    # generation subtree.
    edges = edges.localCheckpoint(eager=True)
    both = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = (
        both.groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)  # O(|V|), read three times below
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    # r12: BROADCAST the |V|-row degree table into both attach joins —
    # its checkpoint scans carry no stats, so the planner was SMJ-ing
    # the whole edge list against a 1000-row frame (two edge-list
    # exchanges + sorts, visible as the Exchange(6)/(10)/(14)/(19)
    # cluster in plans/r12/q_triangle_count_before.txt)
    e = (
        edges.join(F.broadcast(du), F.col("u") == F.col("du.node"))
        .join(F.broadcast(dv), F.col("v") == F.col("dv.node"))
        .select(
            "u", "v", F.col("du.d").alias("d_u"), F.col("dv.d").alias("d_v")
        )
    )
    u_first = (F.col("d_u") < F.col("d_v")) | (
        (F.col("d_u") == F.col("d_v")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(u_first, F.col("d_v")).otherwise(F.col("d_u")).alias("d_hi"),
    ).localCheckpoint(eager=True)  # O(|E|), read by both wedge sides + the closer
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    # the wedge pair (x, y) must be emitted in the SAME total order the
    # orientation used, so the closing lookup hits the oriented edge
    wedge_order = (F.col("e1.d_hi") < F.col("e2.d_hi")) | (
        (F.col("e1.d_hi") == F.col("e2.d_hi")) & (F.col("e1.hi") < F.col("e2.hi"))
    )
    wedges = e1.join(e2, F.col("e1.lo") == F.col("e2.lo")).where(wedge_order).select(
        F.col("e1.lo").alias("ctr"), F.col("e1.hi").alias("x"), F.col("e2.hi").alias("y")
    )
    return deg, oriented, wedges


@register(
    "q_triangle_count",
    oracle=f"""
WITH sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.s AS u, b.s AS v, count(*) AS shared
  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
),
thr AS (SELECT quantile_cont(shared, {_TRI_Q}) AS m FROM pairs),
und AS MATERIALIZED (SELECT u, v FROM pairs, thr WHERE shared >= m),
deg AS MATERIALIZED (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
  GROUP BY node
),
o AS MATERIALIZED (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS lo,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS hi,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN dv.d ELSE du.d END AS d_hi
  FROM und e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
w AS (
  SELECT e1.lo AS ctr, e1.hi AS x, e2.hi AS y
  FROM o e1 JOIN o e2 ON e1.lo = e2.lo
  WHERE (e1.d_hi < e2.d_hi) OR (e1.d_hi = e2.d_hi AND e1.hi < e2.hi)
),
tri3 AS MATERIALIZED (SELECT w.ctr, w.x, w.y FROM w JOIN o ON o.lo = w.x AND o.hi = w.y),
corners AS (
  SELECT ctr AS node FROM tri3
  UNION ALL SELECT x FROM tri3
  UNION ALL SELECT y FROM tri3
),
tcount AS (SELECT node, count(*) AS tri FROM corners GROUP BY node)
SELECT deg.node AS s_suppkey,
       CAST(deg.d AS BIGINT) AS deg,
       CAST(coalesce(tcount.tri, 0) AS BIGINT) AS tri,
       CASE WHEN deg.d > 1 THEN
         floor((2.0 * coalesce(tcount.tri, 0) / (deg.d * (deg.d - 1))) * 1000000 + 0.5) / 1000000
       ELSE 0.0 END AS lcc
FROM deg LEFT JOIN tcount ON tcount.node = deg.node
""",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficients over the
    supplier co-supply graph: suppliers are linked when the number of
    distinct parts they both supply is in the top decile of all
    co-supply strengths (the quantile threshold is computed IN-PLAN —
    self-normalizing across scale factors, where any absolute cutoff
    would make the graph empty at one SF and complete at another).
    Triangle structure is the community / link-spam signal in
    web-graph curation and the motif primitive for graph features.

    Scale shape: edge generation is the inverted-index co-occurrence
    join (sp ⋈ sp on part) — the same candidate-pair pattern as
    dedup.py's shingle index, with the same hot-key exposure (a part
    supplied by k suppliers emits C(k,2) pairs) and the same remedies
    (hot-bucket cap / drop-hot-then-correct) when k explodes; at TPC-H
    fan-outs it is bounded by parts-per-supplier.  (Measured choice:
    the codegen'd equi-self-join beats a groupBy(p)+collect_list+
    nested-transform pair expansion 2.0 s vs 3.4 s min5 at sf0.1 —
    the array churn costs more than the second exchange saves.)  Counting itself is
    triangle_counts' degree-oriented node-iterator: O(m^1.5) wedge work
    regardless of degree skew (the 'curse of the last reducer' fix),
    every step an equi-join or map-side-combinable agg.  All counts are
    integers, the threshold is Spark `percentile` ≡ DuckDB
    `quantile_cont` (the q_percentiles equivalence), and lcc rounds
    through the portable floor form — fully oracle-checked.  The
    oracle's multi-referenced CTEs are AS MATERIALIZED — the DuckDB
    twin of this function's localCheckpoints: without it DuckDB
    re-inlines the pair pipeline per reference and mis-plans the
    orientation join (measured >15 min at sf0.1 vs 3.8 s
    materialized)."""
    return triangle_counts(cosupply_edges(spark, sf_dir)).select(
        F.col("node").alias("s_suppkey"), "deg", "tri", "lcc"
    )


_LP_ROUNDS = 5  # fixed synchronous rounds (a deterministic snapshot, see below)


def label_prop(edges: DataFrame, rounds: int = _LP_ROUNDS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge list ``(u, v)``: every node starts labeled with its
    own id; each round, every node simultaneously adopts the most
    frequent label among its neighbors (ties → smallest label).
    Returns (node, label) after ``rounds`` rounds — nodes sharing a
    label form a community.  This is the community primitive BETWEEN
    connected components (q_dedup_components: too coarse on a connected
    graph — one label) and triangles/k-core (local density, no
    partition): LPA partitions a connected graph into dense regions.

    Determinism contract: all-integer voting, a total tie-break
    ((count DESC, label ASC) — both engines rank identically), and a
    FIXED round count.  Synchronous LPA famously need not converge
    (bipartite-ish structures oscillate with period 2) — the fixed
    round count makes the result a deterministic SNAPSHOT, which is
    exactly what an oracle can check; convergence-seeking variants
    (async sweeps, damping) trade that determinism away and are out of
    scope.  No floats anywhere, so no rounding contract is needed.

    Scale shape (the PageRank loop template): per round, ONE join of
    the symmetrized edge list against the |V|-row label state (label
    side broadcast-able; at billion-node scale use the copartition
    discipline of graph.pagerank) + one map-side-combinable (node,
    label) count agg + one (node) argmax agg.  Label state is
    localCheckpoint'ed per round.

    Invariants:

    - The symmetric edge list is hash-clustered on ``node`` ONCE and
      persisted (persist keeps the repartition's outputPartitioning; a
      localCheckpoint forgets it), so the broadcast label join keeps the
      clustering and the (node, label) vote count rides it: no per-round
      exchange over the 2|E|-row message volume.  The ghost rows are
      repartitioned the same way, so both union children share that
      clustering and the per-node argmax rides it too.  The only
      per-round shuffle is that |V|-row repartition, and no exchange is
      planned at the session's partition count: the loop never writes
      session conf.
    - A round that changes no label is a fixpoint: every remaining
      round is the identity, so stopping there returns the bits of the
      full fixed-round unroll (and hence of the oracle).  This only skips
      provably no-op rounds; it is not the convergence-seeking async
      variant the determinism contract rules out.  The changed-label
      count is an Observation filled by the round's own eager
      checkpoint, so the probe costs no job."""
    sym = (
        edges.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
        .repartition(PARTITIONS, "node")
        .persist()
    )
    # distinct rides sym's node-clustering (no exchange)
    labels = (
        sym.select("node").distinct().select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(rounds):
            msgs = sym.join(
                F.broadcast(labels.select(F.col("node").alias("nbr"), "label")), "nbr"
            ).select("node", "label")
            votes = msgs.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
            # prev label rides the argmax agg as a ghost row (cnt NULL),
            # clustered like votes so the union keeps the node clustering —
            # instead of a per-round broadcast-build job for a prev-label join
            aug = votes.unionByName(
                labels.repartition(PARTITIONS, "node").select(
                    "node", "label", F.lit(None).cast("long").alias("cnt")
                )
            )
            stepped, changed = settle(
                aug.groupBy("node")
                .agg(
                    F.min(
                        F.when(
                            F.col("cnt").isNotNull(),
                            F.struct((-F.col("cnt")).alias("nc"), F.col("label")),
                        )
                    ).alias("m"),
                    F.max(F.when(F.col("cnt").isNull(), F.col("label"))).alias("prev"),
                )
                .select("node", F.col("m.label").alias("label"), "prev"),
                F.col("label") != F.col("prev"),
            )
            labels = stepped.select("node", "label")
            if not changed:  # no label changed: fixpoint
                break
    finally:
        sym.unpersist()  # labels is an eager checkpoint — no lineage into sym
    return labels


def _unroll_stability_check(sql_builder, rounds: int, knob: str):
    """Fixpoint certificate FACTORY for fixed-unroll iterative queries
    (VERDICT r10 item 2, extending the _kcore_post_check discipline):
    re-run the query's own unrolled DuckDB oracle with ONE EXTRA round
    against the fixture being swept and require the result to be
    identical to the collected Spark rows.  If the fixed ``rounds``
    unroll ever stops short of fixpoint (a regenerated fixture needing
    deeper iteration), Spark and the identically-unrolled oracle would
    be wrong TOGETHER and still hash-match — but round ``rounds+1``
    would differ, and this check fails the sweep loudly instead.  The
    produced callable takes ``(rows, cols, sf_dir)`` (the 3-arg
    post_check form tools/oracle_check.py dispatches on) and runs only
    in the sweep, so production runs pay nothing."""

    def check(rows: list, cols: list, sf_dir: str):
        import duckdb

        from matrix_multiplication_bigdata_ind_assignments_spark.sources.io import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = con.execute(sql_builder(rounds + 1))
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()

        def norm(rws, cls):
            order = sorted(range(len(cls)), key=lambda i: cls[i])
            return sorted("|".join(str(r[i]) for i in order) for r in rws)

        if norm(rows, cols) != norm(drows, dcols):
            return (
                f"round {rounds + 1} of the unrolled oracle differs from the "
                f"{rounds}-round result — the fixed unroll stopped short of "
                f"fixpoint on this fixture; raise {knob}"
            )
        return None

    return check


def _lp_ctes(rounds: int = _LP_ROUNDS) -> list:
    """Shared CTE chain: co-supply edges (und) + the unrolled
    synchronous LPA rounds (l0..l{rounds}) — consumed by the
    q_label_prop oracle and reused by q_modularity's."""
    ctes = [
        """sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.s AS u, b.s AS v, count(*) AS shared
  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
),
thr AS (SELECT quantile_cont(shared, {q}) AS m FROM pairs),
und AS MATERIALIZED (SELECT u, v FROM pairs, thr WHERE shared >= m),
sym AS MATERIALIZED (SELECT u AS node, v AS nbr FROM und UNION ALL SELECT v, u FROM und),
l0 AS (SELECT DISTINCT node, node AS label FROM sym)""".replace("{q}", str(_TRI_Q))
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT s.node, l.label, count(*) AS cnt
    FROM sym s JOIN l{i - 1} l ON s.nbr = l.node
    GROUP BY s.node, l.label
  ) QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
)"""
        )
    return ctes


def _sql_label_prop(rounds: int = _LP_ROUNDS) -> str:
    """The identical synchronous LPA unrolled into DuckDB CTEs over the
    co-supply graph."""
    return (
        "WITH "
        + ",\n".join(_lp_ctes(rounds))
        + f"""
SELECT node AS s_suppkey, CAST(label AS BIGINT) AS community
FROM l{rounds}
"""
    )


@register(
    "q_label_prop",
    oracle=_sql_label_prop(),
    post_check=_unroll_stability_check(_sql_label_prop, _LP_ROUNDS, "_LP_ROUNDS"),
)
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the supplier co-supply graph
    (label_prop over cosupply_edges, 5 synchronous rounds): the
    community-partition primitive next to q_triangle_count's local
    density and q_kcore's dense cores.  ORACLE-CHECKED — all-integer
    voting with a total (count DESC, label ASC) tie-break and a fixed
    round count make the synchronous snapshot bit-reproducible in both
    engines (see label_prop's determinism contract)."""
    return label_prop(cosupply_edges(spark, sf_dir)).select(
        F.col("node").alias("s_suppkey"), F.col("label").cast("long").alias("community")
    )


_KCORE_K = 8  # sf0.01 peels 97 → 48 vertices in 4 rounds (measured)
_KCORE_ROUNDS = 6  # fixed unroll; fixpoint measured at ≤ 4 rounds on every SF


def kcore(edges: DataFrame, k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> DataFrame:
    """k-core decomposition by parallel peeling over an undirected edge
    list ``(u, v)`` (distinct, u < v): each round removes EVERY vertex
    whose current degree is < k (and its edges) simultaneously, until
    fixpoint.  Returns the surviving vertices with their degree inside
    the core: (node, core_deg), all core_deg ≥ k.

    Determinism/oracle contract (the PageRank recipe): integer-exact
    counting, a FIXED round count with rounds ≥ the measured fixpoint —
    peeling is monotone, so once the fixpoint is reached every further
    round is a no-op and both engines agree bit-for-bit; the unrolled
    DuckDB CTEs run the identical rounds.  Fixpoint-at-rounds-1 is
    asserted in tests/test_graph.py so a fixture regeneration that
    needs deeper peeling fails loudly instead of silently diverging.

    Scale shape: each round is one map-side-combinable degree agg over
    the live edges plus two equi-semi-joins against the ≥k vertex set —
    no theta joins, no per-vertex iteration.  The loop state (the live
    edge set) shrinks monotonically and is localCheckpoint'ed per round,
    as is the degree table through ``loop.settle`` (swap both for a
    reliable checkpoint on a cluster that can lose executors, as that
    docstring notes).  At 100 TB this is the standard distributed
    peeling: O(rounds) passes, each linear in the surviving edges.

    Fixpoint: a round whose degree table has NO vertex below the bound
    removes nothing, and so does every later round (peeling is
    monotone); that degree table IS the answer the closing agg would
    recompute, so it is returned directly, with the rows of the full
    fixed unroll (tests/test_graph.py::test_kcore_fixpoint_margin).  The
    below-bound count is an Observation filled by the degree table's own
    eager checkpoint, so the probe costs no job, and ``keep`` is a
    filter over the materialized degree blocks."""
    live = edges.localCheckpoint(eager=True)
    for _ in range(rounds):
        deg, below = settle(
            live.select(F.col("u").alias("node"))
            .unionAll(live.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d")),
            F.col("d") < k,
        )
        if not below:
            # fixpoint: every surviving vertex already has degree >= k,
            # so the final count-agg over live would reproduce deg exactly
            return deg.select("node", F.col("d").cast("long").alias("core_deg"))
        keep = deg.where(F.col("d") >= k).select("node")
        live = (
            live.join(keep.withColumnRenamed("node", "u"), "u", "leftsemi")
            .join(keep.withColumnRenamed("node", "v"), "v", "leftsemi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return (
        live.select(F.col("u").alias("node"))
        .unionAll(live.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
    )


def _sql_kcore(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    """The identical peeling unrolled into DuckDB CTEs over the
    co-supply graph (multi-referenced CTEs AS MATERIALIZED — the
    q_triangle_count lesson)."""
    ctes = [
        """sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
pairs AS MATERIALIZED (
  SELECT a.s AS u, b.s AS v, count(*) AS shared
  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
),
thr AS (SELECT quantile_cont(shared, {q}) AS m FROM pairs),
e0 AS MATERIALIZED (SELECT u, v FROM pairs, thr WHERE shared >= m)""".replace(
            "{q}", str(_TRI_Q)
        )
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS d
    FROM (SELECT u AS node FROM e{i - 1} UNION ALL SELECT v FROM e{i - 1})
    GROUP BY node
  ) WHERE d >= {k}
)"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN k{i} a ON e.u = a.node JOIN k{i} b ON e.v = b.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node AS s_suppkey, CAST(count(*) AS BIGINT) AS core_deg
FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
GROUP BY node
"""
    )


def _kcore_post_check(rows: list, cols: list) -> str | None:
    """Fixpoint certificate for the gate SFs (ADVICE r9): a k-core is
    valid iff every surviving vertex has degree ≥ k INSIDE the surviving
    subgraph — exactly min(core_deg) ≥ k over the result.  If the fixed
    {r}-round unroll ever stops short of fixpoint (e.g. a regenerated
    fixture needing deeper peeling), Spark and the identically-unrolled
    oracle would be wrong TOGETHER and still hash-match; this invariant
    is engine-independent and fails the sweep loudly instead.  Empty
    result (no {k}-core at this SF) is valid.""".replace(
        "{r}", str(_KCORE_ROUNDS)
    ).replace("{k}", str(_KCORE_K))
    i = cols.index("core_deg")
    bad = [r for r in rows if r[i] < _KCORE_K]
    if bad:
        return (
            f"{len(bad)} vertices below the core bound (min core_deg "
            f"{min(r[i] for r in bad)} < k={_KCORE_K}) — the fixed "
            f"{_KCORE_ROUNDS}-round unroll did not reach fixpoint; raise _KCORE_ROUNDS"
        )
    return None


@register("q_kcore", oracle=_sql_kcore(), post_check=_kcore_post_check)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {k}-core of the supplier co-supply graph (kcore over
    cosupply_edges — the graph q_triangle_count counts on): suppliers
    surviving simultaneous-peeling of all degree-<{k} vertices, with
    their in-core degree.  The dense-subgraph primitive next to
    triangle counting (community cores, spam/bot rings, influence
    backbones).  ORACLE-CHECKED via the fixed-round unrolled peeling —
    see kcore's determinism contract.""".replace("{k}", str(_KCORE_K))
    return kcore(cosupply_edges(spark, sf_dir)).select(
        F.col("node").alias("s_suppkey"), "core_deg"
    )


def cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier co-supply graph (u < v, distinct): suppliers linked
    when their shared-distinct-part count clears the in-plan p90
    threshold.  Shared by q_triangle_count, q_kcore, q_label_prop and
    q_modularity.

    r12 optimization (guide §2.3: narrower types through the hot agg):
    the co-occurrence self-join explodes to Σ C(k,2) ≈ 8.7M pair rows at
    sf0.1 (k = suppliers per part, median 29 in this fixture), all of
    which pass through the (u, v) count agg — the query's hottest hash
    map.  Packing the pair into ONE BIGINT (u<<32 | v; suppkeys are
    32-bit-positive) halves the key bytes and replaces the two-column
    struct hash with a single long hash for every one of those updates,
    unpacked only after the agg (bit-identical pairs, A/B'd ~8% off the
    warm pairs stage).  A wider repartition of the exploding stage was
    TRIED AND REJECTED: AQE runs it at ~5 tasks (input-byte sizing), but
    at 64 partitions the per-partition pair multiplicity (~17× global /
    64) drops below 1 and map-side combine collapses — measured shuffle
    36 → 89 MB and three of the four consumer queries slower; the
    combine-friendly narrow stage is also the 100 TB-correct shape
    (shuffle fewer bytes beats more tasks, guide §2.2)."""
    sp = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # both sides of the co-occurrence self-join
    )
    a, b = sp.alias("a"), sp.alias("b")
    pairs = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        # CAST AS BIGINT (ADVICE r12): shiftleft on an int32 column would
        # silently no-op (Java shift masking); explicit casts keep the
        # pack lossless for any integer input with ids < 2^32
        .select(F.expr("shiftleft(CAST(a.s AS BIGINT), 32) | CAST(b.s AS BIGINT)").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("shared"))
        .select(
            F.expr("shiftright(k, 32)").alias("u"),
            F.expr("k & 4294967295").alias("v"),
            "shared",
        )
        .localCheckpoint(eager=True)  # read twice: the quantile scalar + the filter
    )
    thr = pairs.agg(F.percentile("shared", F.lit(_TRI_Q)).alias("m"))
    return pairs.crossJoin(F.broadcast(thr)).where(F.col("shared") >= F.col("m")).select("u", "v")


def _sql_degree_powerlaw() -> str:
    """Degree-histogram power-law fit oracle over the trade graph
    (trade_edges' CTE text) + the shared regression tail from
    operators.regression."""
    from .regression import _GUARD, _POWERLAW_SELECTS, _SUMS, _micro_ln

    sums = ", ".join(f"{t} AS {k}" for k, t in _SUMS.items())
    return f"""
WITH e AS (
  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
  GROUP BY node
),
hist AS (SELECT d, count(*) AS cnt FROM deg GROUP BY d),
pts AS (SELECT {_micro_ln("CAST(d AS DOUBLE)")} AS x,
               {_micro_ln("CAST(cnt AS DOUBLE)")} AS y FROM hist),
g AS (SELECT {sums} FROM pts)
SELECT {", ".join(_POWERLAW_SELECTS)} FROM g WHERE {_GUARD}
"""


@register("q_degree_powerlaw", oracle=_sql_degree_powerlaw())
def q_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit over the supplier↔customer
    trade graph (trade_edges — the co-supply graph is thresholded into
    near-regularity, degree-degenerate at small SFs): the degree
    histogram (degree d → node count) in log-log space, OLS slope =
    the scale-free exponent −γ — the standard 'is this graph
    heavy-tailed' diagnostic that decides whether skew remedies
    (hot-key salting, degree orientation) are needed before the graph
    algorithms run.  Composition: the graph family's edge derivation +
    the regression family's shared-text fit (operators/regression.py)
    — two combinable aggs (degree, histogram) then the O(1) fit tail;
    nothing after the first exchange scales with |E|.  The TPC-H-ish
    trade graph is not scale-free (r² is the diagnostic, as with
    q_zipf_fit's fixture-honest slope); the fit reports what the
    histogram says."""
    from .regression import _POWERLAW_SELECTS, _fit, _micro_ln

    edges = trade_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hist = deg.groupBy("d").agg(F.count(F.lit(1)).alias("cnt"))
    points = hist.selectExpr(
        f"{_micro_ln('CAST(d AS DOUBLE)')} AS x",
        f"{_micro_ln('CAST(cnt AS DOUBLE)')} AS y",
    )
    return _fit(points, [], _POWERLAW_SELECTS)


_BFS_ROUNDS = 6  # fixed unroll; the trade graph settles in ≤3 (dense bipartite)
_WP_SEED_CAP = 1 << 40  # seed sentinel, far above any edge weight

#: semirings for ``relax``: (extend(v, w), aggregate, improves(cand, v),
#: seed(node) — the seed value as a column of the node id).  ``hops`` and
#: ``min_label`` ignore ``w``, and their edges carry no weight column.
_SEMIRINGS = {
    "hops": (lambda v, w: v + 1, F.min, lambda c, v: c < v, lambda n: F.lit(0)),
    "min_plus": (lambda v, w: v + w, F.min, lambda c, v: c < v, lambda n: F.lit(0)),
    "max_min": (
        lambda v, w: F.least(v, w), F.max, lambda c, v: c > v, lambda n: F.lit(_WP_SEED_CAP)
    ),
    "min_label": (lambda v, w: v, F.min, lambda c, v: c < v, lambda n: n),
}


def _relax_edges(edges: DataFrame, semiring: str) -> DataFrame:
    """The symmetric edge list hash-clustered on ``dst`` and persisted:
    persist keeps the output partitioning (localCheckpoint forgets it),
    so every round's aggregate on ``dst`` rides this one exchange."""
    carry = () if semiring in ("hops", "min_label") else ("w",)
    return symmetric(edges, *carry).repartition(PARTITIONS, "dst").persist()


def _relax_round(sym: DataFrame, state: DataFrame, frontier: DataFrame, semiring: str) -> DataFrame:
    """One relaxation round: the broadcast frontier ``(node, v)`` extended
    over ``sym`` and aggregated on ``dst``, then one full-outer merge
    with ``state``.  Returns ``(node, v, mmbd_new)``; ``mmbd_new`` marks
    the rows whose value improved (the next frontier)."""
    extend, aggregate, improves, _ = _SEMIRINGS[semiring]
    reached = (
        sym.join(F.broadcast(frontier.withColumnRenamed("node", "src")), "src")
        .select(F.col("dst").alias("node"), extend(F.col("v"), F.col("w")).alias("cand"))
        .groupBy("node")
        .agg(aggregate("cand").alias("cand"))
    )
    imp = F.col("cand").isNotNull() & (F.col("v").isNull() | improves(F.col("cand"), F.col("v")))
    return state.join(reached, "node", "full_outer").select(
        "node", F.when(imp, F.col("cand")).otherwise(F.col("v")).alias("v"), imp.alias("mmbd_new")
    )


def relax(edges: DataFrame, seeds: DataFrame, semiring: str, rounds: int) -> DataFrame:
    """Multi-source relaxation over an undirected edge list ``(src,
    dst[, w])`` from a ``(node)`` seed set under one of ``_SEMIRINGS``:
    ``hops`` (BFS hop count), ``min_plus`` (shortest path over cost
    ``w``), ``max_min`` (widest path: the best bottleneck weight ``w``),
    ``min_label`` (connected components: the least node id reachable).
    Returns ``(node, v)`` for every vertex reached.  Seeds start at the
    semiring's seed value: 0 for ``hops`` and ``min_plus``,
    ``_WP_SEED_CAP`` for ``max_min``, their own id for ``min_label``.

    Invariants:

    - Monotone: a value only moves in the aggregate's direction, and the
      merge keeps the settled value unless the candidate improves it, so
      the frontier (improved rows only) reaches the same fixpoint as the
      whole-vector relaxation the unrolled DuckDB oracles compute.  All
      integer, so the engines agree exactly.
    - An empty frontier proves the fixpoint: every value entered some
      round's frontier when it last improved and was extended over all
      its edges the round after, so once a round improves nothing, every
      (node → neighbour) relaxation has been offered and rejected.
    - If ``rounds`` run out before that, one more round is the
      certificate: by the same argument only the last frontier's edges
      can still improve anything, so it equals a full O(|E|) relaxation
      of the settled state.  Any improvement there raises
      ``AssertionError`` instead of returning a short unroll that the
      identically-unrolled oracle would match.
    - Plan per round: the frontier broadcasts into the persisted
      ``dst``-clustered edges, the aggregate on ``dst`` needs no
      exchange, and one full-outer merge is eagerly local-checkpointed.
      The improved-row count is an Observation filled inside the
      checkpoint's own job, so the fixpoint probe costs no extra job.
    - Round 0 broadcasts the whole seed set as its frontier.  Under
      ``min_label`` every vertex of the graph is a seed, so that build
      is |V| rows of the edge graph itself (for dedup, the candidate
      graph, not the corpus).

    Measured negative (OPTIMIZATION_r13.md): a persist-chained state
    instead of the eager checkpoint keeps ``node`` clustering, but each
    round's plan embeds the previous round's, so the plan grows per round
    (the plan string overflowed the Spark driver heap at 8 rounds in a
    bare session; widest path at sf0.1 ran 9.5-10.8 s chained vs 5.1 s
    with the flat checkpoint).
    Swap localCheckpoint for a reliable checkpoint cadence on a cluster
    that can lose executors."""
    seed = _SEMIRINGS[semiring][3](F.col("node"))
    sym = _relax_edges(edges, semiring)
    state = seeds.select("node", seed.cast("long").alias("v")).localCheckpoint(eager=True)
    frontier = state
    try:
        for r in range(rounds + 1):
            merged, improved = settle(
                _relax_round(sym, state, frontier, semiring), F.col("mmbd_new")
            )
            state = merged.select("node", "v")
            if not improved:
                break
            if r == rounds:
                raise AssertionError(
                    f"relax({semiring!r}): {improved} vertices still improvable after "
                    f"{rounds} rounds — raise the query's round constant for this fixture"
                )
            frontier = merged.where(F.col("mmbd_new")).select("node", "v")
    finally:
        sym.unpersist()  # state is a projection of an eager checkpoint
    return state


def _trade_seeds(edges: DataFrame) -> DataFrame:
    """The path queries' seed set: suppliers with suppkey % 10 == 0.
    Suppliers are the even ``src`` values, so ``dst`` is never read."""
    return edges.select(F.col("src").alias("node")).where(F.col("node") % 20 == 0).distinct()


def _decode_nodes(df: DataFrame, value) -> DataFrame:
    """(node, …) → (kind, key, value): undo trade_edges' 2k/2k+1 node
    encoding beside the ``value`` column expression."""
    return df.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier")).otherwise(F.lit("customer")).alias("kind"),
        (F.col("node") / 2).cast("long").alias("key"),
        value,
    )


def _sql_bfs_hops(rounds: int = _BFS_ROUNDS) -> str:
    """The identical BFS as unrolled min-relaxation CTEs over the trade
    graph (monotone integer relaxation: min-over-union per round equals
    the frontier algorithm's first-reach levels)."""
    ctes = [
        """e AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ed AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
d0 AS (SELECT DISTINCT src AS node, 0 AS dist FROM ed WHERE src % 20 = 0)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT ed.dst AS node, d.dist + 1 AS dist
    FROM ed JOIN d{i - 1} d ON ed.src = d.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(node // 2 AS BIGINT) AS key,
       CAST(dist AS BIGINT) AS dist
FROM d{rounds}
"""
    )


@register(
    "q_bfs_hops",
    oracle=_sql_bfs_hops(),
    post_check=_unroll_stability_check(_sql_bfs_hops, _BFS_ROUNDS, "_BFS_ROUNDS"),
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the supplier↔customer trade
    graph (relax 'hops' over trade_edges): every vertex's exact shortest
    hop count from the seed set (suppliers with suppkey % 10 == 0) —
    the graph-distance primitive beside q_pagerank's centrality and
    q_kcore's density (reachability tiers, blast-radius analysis,
    influence hops).  ORACLE-CHECKED via identically-unrolled
    min-relaxation CTEs (all-integer, monotone, fixed unroll — see
    relax's invariants).  Fixpoint is CERTIFIED in-query: one extra
    frontier expansion after the fixed rounds must reach nothing new,
    else the query raises instead of letting Spark and the
    identically-truncated oracle hash green wrong-together."""
    edges = trade_edges(spark, sf_dir)
    dist = relax(edges, _trade_seeds(edges), "hops", _BFS_ROUNDS)
    return _decode_nodes(dist, F.col("v").cast("long").alias("dist"))


_WP_ROUNDS = 8  # fixed unroll; max-min relaxation improves through longer
# paths than BFS levels — measured fixpoint: 5 rounds at sf0.001/0.01,
# 7 at sf0.1 (post-fixpoint rounds cost ~nothing: the frontier is empty);
# the in-query certificate fails loudly if a fixture ever needs >8


def trade_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trade_edges with the relationship strength kept: w = number of
    distinct orders linking the (supplier, customer) pair."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("o_custkey") * 2 + 1).alias("dst"),
        )
        .agg(F.count_distinct("l_orderkey").alias("w"))
    )


def _sql_widest_path(rounds: int = _WP_ROUNDS) -> str:
    """The identical max-min relaxation unrolled into DuckDB CTEs."""
    ctes = [
        f"""e AS MATERIALIZED (
  SELECT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst,
         count(DISTINCT l.l_orderkey) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY src, dst
),
ed AS MATERIALIZED (
  SELECT src, dst, w FROM e UNION ALL SELECT dst AS src, src AS dst, w FROM e
),
c0 AS (SELECT DISTINCT src AS node, CAST({_WP_SEED_CAP} AS BIGINT) AS cap
       FROM ed WHERE src % 20 = 0)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT node, max(cap) AS cap FROM (
    SELECT node, cap FROM c{i - 1}
    UNION ALL
    SELECT ed.dst AS node, least(c.cap, ed.w) AS cap
    FROM ed JOIN c{i - 1} c ON ed.src = c.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(node // 2 AS BIGINT) AS key,
       CAST(cap AS BIGINT) AS capacity
FROM c{rounds}
"""
    )


@register(
    "q_widest_path",
    oracle=_sql_widest_path(),
    post_check=_unroll_stability_check(_sql_widest_path, _WP_ROUNDS, "_WP_ROUNDS"),
)
def q_widest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-bottleneck capacity from the seed suppliers (suppkey %
    10 == 0) over the ORDER-WEIGHTED trade graph: each vertex's widest
    path back to a seed, where a path's capacity is its weakest link
    (distinct shared orders) — the supply-chain robustness metric
    beside q_bfs_hops' hop distance.  ORACLE-CHECKED via identically-
    unrolled max-min relaxation CTEs (all-integer, monotone); fixpoint
    CERTIFIED in-query with one extra relaxation, the q_bfs_hops
    discipline.  Seeds carry the 2^40 sentinel capacity."""
    ew = trade_edges_weighted(spark, sf_dir)
    cap = relax(ew, _trade_seeds(ew), "max_min", _WP_ROUNDS)
    return _decode_nodes(cap, F.col("v").cast("long").alias("capacity"))


_NJ_TOPK = 3

#: shared micro-Jaccard text (exact ints → one double divide, identical
#: IEEE op in both engines)
_NJ_EXPR = "CAST(floor(CAST(i AS DOUBLE) * 1000000 / un + 0.5) AS BIGINT)"


@register(
    "q_node_jaccard",
    oracle=f"""
WITH sp AS MATERIALIZED (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
deg AS MATERIALIZED (SELECT s, count(*) AS d FROM sp GROUP BY s),
inter AS (
  SELECT a.s AS u, b.s AS v, count(*) AS i
  FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
),
sym AS (
  SELECT u AS s, v AS partner, i FROM inter
  UNION ALL
  SELECT v AS s, u AS partner, i FROM inter
),
j AS (
  SELECT sym.s, sym.partner, sym.i, da.d + db.d - sym.i AS un
  FROM sym JOIN deg da ON sym.s = da.s JOIN deg db ON sym.partner = db.s
)
SELECT s AS s_suppkey, partner, CAST(i AS BIGINT) AS n_shared,
       CAST(un AS BIGINT) AS n_union, jac_micro, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT s, partner, i, un, {_NJ_EXPR} AS jac_micro,
         row_number() OVER (PARTITION BY s
           ORDER BY {_NJ_EXPR} DESC, partner) AS rk
  FROM j
) WHERE rk <= {_NJ_TOPK}
""",
)
def q_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard: each supplier's top-{k}
    most-similar suppliers by |parts(u)∩parts(v)| / |parts(u)∪parts(v)|
    over the bipartite supply graph — the classic who-competes-with-
    whom / collaborative-filtering-adjacent similarity.  Shape at
    scale: candidate pairs come from the shared-part INVERTED INDEX
    (only suppliers that actually co-occur on a part ever pair — the
    q_triangle_count join shape, work bounded by Σ part-degree², part
    degrees capped at 52 in the fixture; a web-scale hot part wants
    the q_dedup_ngram_jaccard drop-hot-then-correct cap), intersection
    and degree counts are combinable aggs, and the per-node top-k
    window totalizes with (jac DESC, partner ASC).  The micro-Jaccard
    is one shared expression text over exact integers.""".replace(
        "{k}", str(_NJ_TOPK)
    )
    sp = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=True)  # read by pairs AND degrees
    )
    deg = sp.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a, b = sp.alias("a"), sp.alias("b")
    # r12: the Σ C(k,2) pair fan-out all passes this count agg — pack the
    # pair into ONE BIGINT key (u<<32 | v, suppkeys are 32-bit-positive)
    # so the 8.7M-update hash map hashes a single long and the exchange
    # carries half the key bytes (the cosupply_edges move, guide §2.3);
    # unpacked right after the agg — pair set bit-identical.
    inter = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        # CAST AS BIGINT (ADVICE r12): see cosupply_edges — int32 inputs
        # would silently no-op the shift without the explicit cast
        .select(F.expr("shiftleft(CAST(a.s AS BIGINT), 32) | CAST(b.s AS BIGINT)").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("i"))
        .select(
            F.expr("shiftright(k, 32)").alias("u"),
            F.expr("k & 4294967295").alias("v"),
            "i",
        )
    )
    sym = inter.selectExpr("u AS s", "v AS partner", "i").unionAll(
        inter.selectExpr("v AS s", "u AS partner", "i")
    )
    j = (
        sym.join(F.broadcast(deg.selectExpr("s", "d AS da")), "s")
        .join(F.broadcast(deg.selectExpr("s AS partner", "d AS db")), "partner")
        .select("s", "partner", "i", (F.col("da") + F.col("db") - F.col("i")).alias("un"))
    )
    # order by the PROJECTED jac_micro column (identical values) instead
    # of re-evaluating the floor/divide expression inside the window sort
    w = Window.partitionBy("s").orderBy(F.col("jac_micro").desc(), F.col("partner"))
    return (
        j.withColumn("jac_micro", F.expr(_NJ_EXPR))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _NJ_TOPK)
        .select(
            F.col("s").alias("s_suppkey"),
            "partner",
            F.col("i").cast("long").alias("n_shared"),
            F.col("un").cast("long").alias("n_union"),
            "jac_micro",
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------- shortest path

_SP_ROUNDS = 10  # fixed unroll; min-plus can improve through paths LONGER
#                  than the hop diameter (many cheap edges beat one dear
#                  one) — certified at fixpoint in-query, q_widest_path
#                  discipline; fixtures settle in <= 5 (measured sf0.001/
#                  0.01/0.1)
_SP_COST = "1000000 // w + 1"  # inverse-strength latency: strong links cheap


def _sql_shortest_path(rounds: int = _SP_ROUNDS) -> str:
    """The identical min-plus relaxation unrolled into DuckDB CTEs."""
    ctes = [
        f"""e AS MATERIALIZED (
  SELECT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst,
         count(DISTINCT l.l_orderkey) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY src, dst
),
ed AS MATERIALIZED (
  SELECT src, dst, {_SP_COST} AS cost FROM e
  UNION ALL SELECT dst AS src, src AS dst, {_SP_COST} AS cost FROM e
),
c0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
       FROM ed WHERE src % 20 = 0)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM c{i - 1}
    UNION ALL
    SELECT ed.dst AS node, c.dist + ed.cost AS dist
    FROM ed JOIN c{i - 1} c ON ed.src = c.node
  ) GROUP BY node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS kind,
       CAST(node // 2 AS BIGINT) AS key,
       CAST(dist AS BIGINT) AS dist
FROM c{rounds}
"""
    )


@register(
    "q_shortest_path",
    oracle=_sql_shortest_path(),
    post_check=_unroll_stability_check(_sql_shortest_path, _SP_ROUNDS, "_SP_ROUNDS"),
)
def q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest-path (Bellman-Ford min-plus) distance from the
    seed suppliers (suppkey % 10 == 0) over the trade graph with
    inverse-strength costs (cost = 1e6//w + 1: the more shared orders,
    the cheaper the hop) — the trust/latency propagation primitive
    beside q_bfs_hops' unit hops and q_widest_path's bottleneck
    capacity; min-plus takes LONGER-than-diameter paths when many
    strong links beat one weak one, which hop BFS cannot express.
    ORACLE-CHECKED via identically-unrolled min-plus relaxation CTEs
    (all-integer, monotone decreasing); fixpoint CERTIFIED in-query
    with one extra relaxation (the q_widest_path discipline), so a
    fixture needing deeper search fails loudly instead of hashing
    green wrong-together."""
    ew = trade_edges_weighted(spark, sf_dir).selectExpr("src", "dst", f"{_SP_COST.replace('//', ' DIV ')} AS w")
    dist = relax(ew, _trade_seeds(ew), "min_plus", _SP_ROUNDS)
    return _decode_nodes(dist, F.col("v").cast("long").alias("dist"))


#: modularity closing text — shared verbatim by both engines: exact
#: integer numerator Σ_c (4m·m_c − d_c²) over 4m², one double divide,
#: half-up 6 dp.  Terms AND their sum stay in 128-bit exact types end
#: to end (Spark DECIMAL(38,0) with operands cast BEFORE the multiply,
#: DuckDB HUGEINT — its decimal multiply caps combined width at 38), so
#: the true bound is 4m·m_c < 1e38, i.e. m well past 1e18 edges; no
#: intermediate ever drops to int64 (ADVICE r11: the old form multiplied
#: in BIGINT before the cast and re-narrowed the sum, silently wrapping
#: past m ≈ 1.5e9 in non-ANSI Spark while DuckDB errored).
_MODULARITY_Q = (
    "(CAST(floor((CAST(num AS DOUBLE) / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)))"
    " * 1000000 + 0.5) AS DOUBLE) / 1000000)"
)


def _sql_modularity(rounds: int = _LP_ROUNDS) -> str:
    """Newman modularity of the LPA communities, unrolled over the SAME
    CTE chain as the q_label_prop oracle (edges `und`, labels
    `l{rounds}`)."""
    return (
        "WITH "
        + ",\n".join(_lp_ctes(rounds))
        + f""",
lp AS (SELECT node, label FROM l{rounds}),
deg AS (
  SELECT node, count(*) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und) GROUP BY node
),
dc AS (
  SELECT lp.label, CAST(sum(deg.d) AS BIGINT) AS d_c
  FROM deg JOIN lp ON deg.node = lp.node GROUP BY lp.label
),
mc AS (
  SELECT la.label, CAST(count(*) AS BIGINT) AS m_c
  FROM und e JOIN lp la ON e.u = la.node JOIN lp lb ON e.v = lb.node
  WHERE la.label = lb.label GROUP BY la.label
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
terms AS (
  SELECT dc.label,
         CAST(4 AS HUGEINT) * tot.m * coalesce(mc.m_c, 0)
           - CAST(dc.d_c AS HUGEINT) * dc.d_c AS term,
         tot.m AS m
  FROM dc LEFT JOIN mc ON dc.label = mc.label, tot
)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       CAST(max(m) AS BIGINT) AS m_edges,
       {_MODULARITY_Q.replace("num", "sum(term)").replace("CAST(m AS DOUBLE)", "CAST(max(m) AS DOUBLE)")} AS modularity
FROM terms
"""
    )


@register(
    "q_modularity",
    oracle=_sql_modularity(),
    post_check=_unroll_stability_check(_sql_modularity, _LP_ROUNDS, "_LP_ROUNDS"),
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the q_label_prop communities over the
    co-supply graph — the quality score that tells you whether the
    partition the engine just emitted is real structure or noise
    (Q ≈ 0: no better than random; Q ≳ 0.3: strong communities).

    Exact arithmetic: Q = Σ_c (m_c/m − (d_c/2m)²) is computed as the
    single integer numerator Σ_c (4m·m_c − d_c²) over 4m² — per-
    community terms are exact (DECIMAL(38,0) products), the sum is
    exact, and the ONE closing divide is shared IEEE text, so no
    cross-engine summation-order risk exists anywhere.  Shape: the LPA
    DAG + a degree agg, two label equi-joins (labels broadcast-able),
    and a communities-sized rollup — all map-side-combinable."""
    edges = cosupply_edges(spark, sf_dir).localCheckpoint(eager=True)
    return modularity(edges, label_prop(edges).localCheckpoint(eager=True))


def modularity(edges: DataFrame, lp: DataFrame) -> DataFrame:
    """Newman modularity over an undirected (u, v) edge list and a
    (node, label) partition — q_modularity's engine, exposed so tests
    can feed hand-checkable graphs (the fixture's LPA collapses to one
    community, whose Q is trivially 0)."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    dc = (
        deg.join(F.broadcast(lp), "node")
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    mc = (
        edges.join(F.broadcast(lp.select(F.col("node").alias("u"), F.col("label").alias("la"))), "u")
        .join(F.broadcast(lp.select(F.col("node").alias("v"), F.col("label").alias("lb"))), "v")
        .where(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("m_c"))
    )
    tot = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    terms = (
        dc.join(mc, "label", "left")
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "label",
            "CAST(4 AS DECIMAL(38,0)) * m * coalesce(m_c, 0)"
            " - CAST(d_c AS DECIMAL(38,0)) * d_c AS term",
            "m",
        )
    )
    return terms.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_communities"),
        F.max("m").cast("long").alias("m_edges"),
        F.expr(
            _MODULARITY_Q.replace("num", "sum(term)").replace(
                "CAST(m AS DOUBLE)", "CAST(max(m) AS DOUBLE)"
            )
        ).alias("modularity"),
    )


_ASSORT_SQL = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT l.l_suppkey * 2 AS src, o.o_custkey * 2 + 1 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
ed AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e),
deg AS MATERIALIZED (SELECT src AS node, count(*) AS d FROM ed GROUP BY src),
pairs AS (
  SELECT d1.d AS x, d2.d AS y
  FROM ed JOIN deg d1 ON ed.src = d1.node JOIN deg d2 ON ed.dst = d2.node
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS m,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sx2,
         sum(CAST(y AS HUGEINT) * y) AS sy2
  FROM pairs
)
SELECT CAST(m AS BIGINT) AS m_pairs,
       round(CAST(m * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m * sx2 - sx * sx AS DOUBLE)
                    * CAST(m * sy2 - sy * sy AS DOUBLE)), 6) AS assortativity
FROM s
"""


@register("q_assortativity", oracle=_ASSORT_SQL)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman, PRL 2002 "Assortative mixing in
    networks"): the Pearson correlation of endpoint degrees over every
    directed listing of the symmetric trade graph — do high-degree
    nodes attach to high-degree nodes (social nets, r > 0) or to leaves
    (technological/bipartite nets, r < 0)?  The diagnostic that decides
    whether hub-targeting remedies (degree orientation, hot-key
    salting) matter for the graph family, complementing
    q_degree_powerlaw's tail exponent.

    Exactness contract (the q_modularity DECIMAL discipline, ADVICE
    r11): every moment (Σx, Σxy, Σx², …) accumulates in Spark
    DECIMAL(38,0) with operands cast BEFORE multiplying, and the
    Newman-formula products (M·Σxy − Σx·Σy, …) stay 128-bit-exact;
    DuckDB mirrors in HUGEINT (its decimal multiply caps combined width
    at 38).  Both engines convert the SAME exact integers to DOUBLE for
    the one closing divide+sqrt, so results match bit-for-bit to the
    6-dp round.  Headroom: at M ~ 1e12 endpoint pairs and degrees ~1e4
    the largest product is ~1e32 — six orders inside DECIMAL(38,0).

    Scale shape: one distinct + two broadcast-degree joins + ONE
    combinable moment agg — nothing after the first exchange scales
    with |E|."""
    edges = trade_edges(spark, sf_dir)
    ed = symmetric(edges).localCheckpoint(eager=True)
    # r13: materialize the |V|-row degree table ONCE — it feeds TWO
    # broadcast builds below, and an unmaterialized deg re-ran the full
    # 2|E| aggregate (scan + exchange) inside each build (the duplicated
    # HashAggregate/Exchange pair in plans/r13/q_assortativity_before.txt)
    deg = (
        ed.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=True)
    )
    pairs = (
        ed.join(F.broadcast(deg.select(F.col("src").alias("node"), F.col("d").alias("x"))),
                ed.src == F.col("node"))
        .drop("node")
        .join(F.broadcast(deg.select(F.col("src").alias("node"), F.col("d").alias("y"))),
              ed.dst == F.col("node"))
        .select("x", "y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pairs.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum(dec("x")).cast("decimal(38,0)").alias("sx"),
        F.sum(dec("y")).cast("decimal(38,0)").alias("sy"),
        F.sum(dec("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(dec("x") * F.col("x")).cast("decimal(38,0)").alias("sx2"),
        F.sum(dec("y") * F.col("y")).cast("decimal(38,0)").alias("sy2"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den1 = F.col("m") * F.col("sx2") - F.col("sx") * F.col("sx")
    den2 = F.col("m") * F.col("sy2") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("m").cast("long").alias("m_pairs"),
        F.round(
            num.cast("double") / F.sqrt(den1.cast("double") * den2.cast("double")), 6
        ).alias("assortativity"),
    )

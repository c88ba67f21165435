"""Dedup operators on constructed corpora with known duplicates."""

from pyspark.sql import functions as F

from matrix_multiplication_bigdata_ind_assignments_spark.operators import dedup as D

from conftest import measured


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tonight"
    other = "completely different content about spark query engines at scale now"
    rows = [(0, base), (1, base), (2, near), (3, other)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    d = _docs(spark)
    sh = D._shingle_rows(d)
    # reuse the registered pipeline by monkey-running its core: identical
    # docs share every band, near-dups share ≥1 band with high probability
    seeds = spark.range(D._MINHASH_SEEDS).select(F.col("id").cast("int").alias("seed"))
    hashed = (
        sh.crossJoin(F.broadcast(seeds))
        .select(
            "doc_id", "seed",
            F.conv(F.substring(F.md5(F.concat(F.col("seed").cast("string"), F.lit(":"), "sh")), 1, 8), 16, 10)
            .cast("long").alias("h"),
        )
        .groupBy("doc_id", "seed").agg(F.min("h").alias("mh"))
    )
    bands = (
        hashed.withColumn("band", (F.col("seed") / D._BAND_SIZE).cast("long"))
        .groupBy("doc_id", "band")
        .agg(F.array_join(F.transform(F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                                      lambda s: s["mh"].cast("string")), "-").alias("band_key"))
    )
    a, b = bands.alias("a"), bands.alias("b")
    pairs = {
        (r["da"], r["db"])
        for r in a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
        .collect()
    }
    assert (0, 1) in pairs  # identical docs always collide
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_identical_docs_same_fingerprint(spark, sf_dir):
    df = D.q_dedup_simhash(spark, sf_dir)
    fps = {r["doc_id"]: r["simhash"] for r in df.collect()}
    assert len(fps) == 500
    assert all(0 <= v < 2**32 for v in fps.values())


def test_exact_dedup_groups(spark, sf_dir):
    res = D.q_dedup_exact(spark, sf_dir).collect()
    # events.props has ~100 distinct JSON payloads at this sf
    assert sum(r["n_copies"] for r in res) == 1000
    assert all(r["n_copies"] >= 1 for r in res)


def test_semantic_groups_cover_all_pair_endpoints(spark, sf_dir):
    """Every vector that appears in the exact cosine pair graph must land
    in a group, and group sizes must sum to the vertex count."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        q_dedup_embedding,
        q_dedup_semantic_groups,
    )

    pairs = q_dedup_embedding(spark, sf_dir).collect()
    verts = {r["va"] for r in pairs} | {r["vb"] for r in pairs}
    groups = q_dedup_semantic_groups(spark, sf_dir).collect()
    assert sum(r["n_members"] for r in groups) == len(verts)
    assert all(r["keeper_id"] == r["comp"] for r in groups)  # min-label == keeper


def test_star_contraction_matches_propagation(spark, sf_dir):
    """Large-star/small-star must produce identical groups to min-label
    propagation on the LSH candidate graph."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        q_dedup_components,
        q_dedup_components_star,
    )

    a = sorted(tuple(r) for r in q_dedup_components(spark, sf_dir).collect())
    b = sorted(tuple(r) for r in q_dedup_components_star(spark, sf_dir).collect())
    assert a == b


def test_star_contraction_handles_deep_chain(spark):
    """A 200-deep chain defeats capped propagation (diameter > rounds) but
    star contraction is diameter-independent: one 201-member component."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        connected_components_star,
    )

    chain = spark.createDataFrame([(i, i + 1) for i in range(200)], "va long, vb long")
    rows = connected_components_star(spark, chain, "va", "vb").collect()
    assert [(r["comp"], r["n_members"], r["keeper_id"]) for r in rows] == [(0, 201, 0)]


def test_propagation_raises_on_unconverged_cap(spark):
    """Capped-out min-label propagation must fail loud, never return wrong
    groups: a 60-deep chain is still improvable after 3 rounds."""
    import pytest

    from matrix_multiplication_bigdata_ind_assignments_spark.operators.graph import relax

    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], "src long, dst long")
    seeds = spark.createDataFrame([(i,) for i in range(61)], "node long")
    with pytest.raises(AssertionError, match="improvable"):
        relax(chain, seeds, "min_label", rounds=3)


def test_star_raises_on_unconverged_cap(spark, monkeypatch):
    """connected_components_star must also fail loud when the round cap is
    exhausted (ADVICE r2): a silently-partial contraction yields wrong
    groups."""
    import pytest

    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        connected_components_star,
    )

    monkeypatch.setattr(D, "_CC_ROUNDS", 1)
    chain = spark.createDataFrame([(i, i + 1) for i in range(60)], "va long, vb long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(spark, chain, "va", "vb").collect()


# jobs one q_dedup_components call launches at sf0.001 once the MinHash
# hot-bucket probe is memoized (pair checkpoint, seed checkpoint, one
# checkpoint per relax round with its fixpoint probe riding it as an
# Observation, then the result); the hand-written propagation loop with a
# count probe every third round launched 31
_CC_JOBS_SF0001 = 19


def test_components_query_job_count_bounded(spark, sf_dir):
    """One q_dedup_components call (plan build + collect) stays within two
    jobs of the probe-free count."""
    D.q_dedup_minhash(spark, sf_dir)  # memoizes the hot-bucket probe
    jobs = measured(spark, lambda: D.q_dedup_components(spark, sf_dir).collect())["jobs"]
    assert jobs <= _CC_JOBS_SF0001 + 2, jobs


def test_embedding_fixture_threshold_margin():
    """Fixture guard for q_dedup_embedding's oracle: the nearest cosine to
    the 0.35 threshold must stay far above float64 fold-order error
    (~1e-13), else GEMM-vs-sequential-dot rounding could flip a pair's
    membership between Spark and the DuckDB oracle (ADVICE r2)."""
    import duckdb
    import numpy as np

    for sf in ("0.001", "0.01"):
        vecs = duckdb.sql(
            f"select embedding from '/root/testdata/sf{sf}/embeddings.parquet' order by vec_id"
        ).fetchnumpy()["embedding"]
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        M /= np.linalg.norm(M, axis=1, keepdims=True)
        G = M @ M.T
        gap = np.abs(G[np.triu_indices(len(M), 1)] - 0.35).min()
        assert gap > 1e-9, f"sf{sf}: pair within {gap:.2e} of threshold"


def test_span_dedup_semantics(spark, tmp_path):
    """Span-level dedup keeps the first occurrence of a repeated 20-token
    span (cross-doc AND within-doc) and reassembles survivors in order."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        q_dedup_span_exact,
    )

    A = " ".join(f"a{i}" for i in range(20))
    B = " ".join(f"b{i}" for i in range(20))
    C = " ".join(f"c{i}" for i in range(20))
    rows = [
        (0, f"{A} {B}", "en", "s", 0),        # first occurrences of A, B
        (1, f"{B} {C}", "en", "s", 0),        # B is a dup; C survives
        (2, f"{C} {C} tail", "en", "s", 0),   # C dup twice; partial span survives
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in q_dedup_span_exact(spark, str(tmp_path)).collect()}
    assert (out[0]["clean_text"], out[0]["n_kept"], out[0]["n_dropped"]) == (f"{A} {B}", 2, 0)
    assert (out[1]["clean_text"], out[1]["n_kept"], out[1]["n_dropped"]) == (C, 1, 1)
    assert (out[2]["clean_text"], out[2]["n_kept"], out[2]["n_dropped"]) == ("tail", 1, 2)


def test_hot_bucket_cap_bounds_pair_counts(spark):
    """SCALING.md mega-bucket guard: a boilerplate bucket wider than the
    cap splits into sub-buckets, so per-bucket pair counts stay ~cap²
    instead of going quadratic in bucket width; below the cap results are
    untouched."""
    boiler = "shared boilerplate header repeated verbatim across the whole crawl corpus today"
    rows = [(i, boiler) for i in range(240)] + [
        (900, "one genuinely unique document about spark engines"),
        (901, "another unrelated document about duckdb oracles"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    full = 240 * 239 // 2

    # cap far above the bucket width → inert: the full quadratic pair set
    uncapped = D.minhash_pairs(d, bucket_cap=100000)
    assert uncapped.count() == full

    capped = D.minhash_pairs(d, bucket_cap=40).localCheckpoint(eager=True)
    n_pairs = capped.count()
    assert 0 < n_pairs < 0.5 * full  # bounded, not exploded
    # per-doc pair degree + 1 bounds the sub-bucket width: the md5 split
    # is uneven but must stay well under the unsplit width of 240
    deg = (
        capped.select(F.col("da").alias("x"))
        .unionAll(capped.select(F.col("db").alias("x")))
        .groupBy("x")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert deg + 1 <= 2 * 40
    assert capped.where((F.col("da") >= 900) | (F.col("db") >= 900)).count() == 0

    # shared-shingle inverted index (drop-hot + correct policy): pairs
    # whose shared shingles are ALL over-cap (pure boilerplate) are
    # dropped entirely — the documented loss class — so the quadratic
    # blow-up never happens
    jac = D.ngram_jaccard_pairs(d, bucket_cap=40)
    assert jac.count() == 0

    # ...but pairs that ALSO share any under-cap shingle are emitted with
    # EXACT jaccard: the hot shingles' contribution is added back to the
    # intersection count (r7 value-correction, replacing the r6 sub-split
    # whose surviving pairs had underestimated values)
    rows2 = rows + [
        (300, boiler + " rare unique tail phrase alpha"),
        (301, boiler + " rare unique tail phrase alpha"),
        (302, boiler + " rare unique tail phrase omega"),
    ]
    d2 = spark.createDataFrame(rows2, "doc_id long, text string")
    capped = {
        (r["da"], r["db"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(d2, bucket_cap=40).collect()
    }
    uncapped = {
        (r["da"], r["db"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(d2, bucket_cap=10**9).collect()
    }
    assert capped  # the rare-tail cluster must survive
    assert set(capped) <= set(uncapped)
    for pair, j in capped.items():  # exact values, not underestimates
        assert j == uncapped[pair], pair
    assert capped[(300, 301)] == 1.0  # identical docs stay jaccard 1.0
    # emitted pairs are exactly those sharing a cold shingle
    assert set(capped) == {(300, 301), (300, 302), (301, 302)}


def test_rolling_span_catches_unaligned_duplicate(spark, tmp_path):
    """A 30-token passage duplicated at offset 7 (not a multiple of the
    span width) escapes the fixed-boundary variant but is fully removed by
    the rolling 20-gram variant — the Lee et al. arbitrary-alignment
    property (VERDICT r5 item 2)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        q_dedup_span_exact,
        q_dedup_span_strided,
    )

    P = " ".join(f"p{i}" for i in range(30))
    fill0 = " ".join(f"f{i}" for i in range(20))
    junk = " ".join(f"j{i}" for i in range(7))
    fill1 = " ".join(f"g{i}" for i in range(13))
    rows = [
        (0, f"{P} {fill0}", "en", "s", 0),       # first occurrence of P
        (1, f"{junk} {P} {fill1}", "en", "s", 0),  # P again, offset 7
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    rolling = {r["doc_id"]: r for r in q_dedup_span_strided(spark, str(tmp_path)).collect()}
    assert rolling[0]["n_dropped"] == 0  # first occurrence untouched
    assert rolling[1]["n_dropped"] == 30  # the whole passage, exactly
    assert rolling[1]["clean_text"] == f"{junk} {fill1}"

    fixed = {r["doc_id"]: r for r in q_dedup_span_exact(spark, str(tmp_path)).collect()}
    assert fixed[1]["n_dropped"] == 0  # provably missed by fixed boundaries


def test_simhash_pairs_exact_recall_at_radius(spark, tmp_path):
    """Pigeonhole blocking (4 byte-blocks) has EXACT recall at Hamming
    radius 3: the operator's pair set must equal the brute-force all-pairs
    set computed from the fingerprints."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        q_dedup_simhash_pairs,
        simhash_fingerprints,
    )

    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(40):  # overlapping sliding-window vocab → clustered fps
        toks = vocab[d % 20 : d % 20 + 10] + [f"u{d}"] * (d % 3)
        rows.append((d, " ".join(toks), "en", "s", 0))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    fps = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(
        spark.read.parquet(str(tmp_path / "documents.parquet"))
    ).collect()}
    want = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r["da"], r["db"]) for r in q_dedup_simhash_pairs(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert want  # the fixture must actually exercise near-dup pairs

    # the 6-block/20-combination wide-key layout is exact at the same
    # radius, so it must emit the IDENTICAL pair set (incl. hamming)
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    p4 = sorted(tuple(r) for r in simhash_pairs(docs, blocks=4).collect())
    p6 = sorted(tuple(r) for r in simhash_pairs(docs, blocks=6).collect())
    assert p4 == p6


def test_per_row_band_expr_matches_batch_bands(spark, sf_dir):
    """minhash_band_structs (the stateless per-row streaming form) must
    produce the identical (doc_id, band, band_key) table as the batch
    explode+agg pipeline."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        minhash_band_structs,
        minhash_bands,
        minhash_base_hashes,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

    d = load(spark, sf_dir, "documents")
    batch = {tuple(r) for r in minhash_bands(d).collect()}
    per_row = {
        tuple(r)
        for r in d.withColumn("toks", F.filter(F.split("text", " "), lambda t: t != ""))
        .withColumn("mmbd_hs", minhash_base_hashes(F.col("toks")))
        .select("doc_id", F.explode(minhash_band_structs(F.col("mmbd_hs"))).alias("kb"))
        .select("doc_id", "kb.band", "kb.band_key")
        .collect()
    }
    assert batch == per_row


def test_keep_best_keeper_dominates_group(spark, sf_dir):
    """q_dedup_keep_best: every keeper's quality is the max of its
    group (ties by lowest doc_id), singletons keep themselves, and the
    groups partition the whole corpus."""
    best = {r["comp"]: r for r in D.q_dedup_keep_best(spark, sf_dir).collect()}
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.text import (
        quality_expr_6dp,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

    docs = {
        r["doc_id"]: r["q"]
        for r in load(spark, sf_dir, "documents")
        .select("doc_id", quality_expr_6dp().alias("q"))
        .collect()
    }
    labels = {
        r["doc_id"]: r["comp"]
        for r in D.component_labels(D.q_dedup_minhash(spark, sf_dir), "da", "db").collect()
    }
    assert sum(r["n_members"] for r in best.values()) == len(docs)
    for doc, q in docs.items():
        comp = labels.get(doc, doc)
        r = best[comp]
        assert r["keeper_quality"] >= q
        if q == r["keeper_quality"]:
            assert r["keeper_id"] <= doc or docs[r["keeper_id"]] > q


def test_levenshtein_pairs_bruteforce(spark, sf_dir):
    """Pairs must match an unblocked brute force RESTRICTED to the
    block (same last token) — i.e. blocking loses nothing inside the
    block — and every distance must be a true Levenshtein value."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        _LEV_MAX,
        q_levenshtein_pairs,
    )
    from matrix_multiplication_bigdata_ind_assignments_spark.sources import load

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    names = {}
    for r in load(spark, sf_dir, "part").select("p_name", "p_partkey").collect():
        names[r["p_name"]] = min(names.get(r["p_name"], 1 << 60), r["p_partkey"])
    expect = set()
    for a in names:
        for b in names:
            if a < b and a.split(" ")[-1] == b.split(" ")[-1] and lev(a, b) <= _LEV_MAX:
                expect.add((a, b, names[a], names[b], lev(a, b)))
    got = {
        (r["name_a"], r["name_b"], r["key_a"], r["key_b"], r["dist"])
        for r in q_levenshtein_pairs(spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0

"""Property-based tests: multiply() against numpy ground truth on
hypothesis-generated matrices — the cross-implementation check the
reference never had (SURVEY.md §5)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from matrix_multiplication_bigdata_ind_assignments_spark.operators import matrix as M

DIM = 6


def to_coo_df(spark, arr):
    rows = [
        (i, j, float(arr[i, j]))
        for i in range(arr.shape[0])
        for j in range(arr.shape[1])
        if arr[i, j] != 0.0
    ]
    if not rows:
        rows = [(0, 0, 0.0)]
    return spark.createDataFrame(rows, "i long, j long, v double")


matrices = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
    min_size=DIM * DIM,
    max_size=DIM * DIM,
).map(lambda xs: np.array(xs, dtype=np.float64).reshape(DIM, DIM))


@settings(max_examples=8, deadline=None)
@given(a=matrices, b=matrices)
def test_multiply_matches_numpy(spark, a, b):
    expected = a @ b
    got = {
        (r["i"], r["j"]): r["v"]
        for r in M.multiply(to_coo_df(spark, a), to_coo_df(spark, b), strategy="join").collect()
    }
    for i in range(DIM):
        for j in range(DIM):
            assert got.get((i, j), 0.0) == pytest.approx(round(expected[i, j], 6), abs=2e-6)


@settings(max_examples=4, deadline=None)
@given(a=matrices, b=matrices)
def test_blocked_matches_numpy(spark, a, b):
    expected = a @ b
    got = {
        (r["i"], r["j"]): r["v"]
        for r in M.multiply(
            to_coo_df(spark, a), to_coo_df(spark, b), strategy="blocked", block_size=4
        ).collect()
    }
    for i in range(DIM):
        for j in range(DIM):
            assert got.get((i, j), 0.0) == pytest.approx(round(expected[i, j], 6), abs=2e-6)


_VEC_DIM = 8

vec_tables = st.lists(
    st.lists(
        st.floats(min_value=-1, max_value=1, allow_nan=False, width=32),
        min_size=_VEC_DIM,
        max_size=_VEC_DIM,
    ).filter(lambda v: sum(x * x for x in v) > 1e-6),
    min_size=2,
    max_size=24,
)


@settings(max_examples=6, deadline=None)
@given(vecs=vec_tables)
def test_tiled_cosine_pairs_matches_bruteforce(spark, vecs):
    """The tiled cogrouped-GEMM join must emit exactly the brute-force
    cosine>=threshold pair set, at a tile size that forces a multi-tile
    grid."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import tiled_cosine_pairs

    arr = np.array(vecs, dtype=np.float64)
    n = arr / np.linalg.norm(arr, axis=1, keepdims=True)
    G = n @ n.T
    expected = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if G[i, j] >= 0.5
    }

    def make():
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<float>",
        )

    got = {
        (r["va"], r["vb"])
        for r in tiled_cosine_pairs(spark, make, threshold=0.5, block_rows=7).collect()
    }
    # float32 storage: exclude knife-edge pairs within 1e-5 of the threshold
    knife = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if abs(G[i, j] - 0.5) < 1e-5
    }
    assert got - knife == expected - knife


@settings(max_examples=6, deadline=None)
@given(
    toks=st.lists(st.integers(min_value=0, max_value=700), min_size=1, max_size=40),
    cap=st.integers(min_value=1, max_value=600),
)
def test_prefix_sum_packing_matches_cumsum(spark, toks, cap):
    """The two-pass distributed prefix sum must equal the serial exclusive
    cumsum for any token-count sequence and capacity."""
    import matrix_multiplication_bigdata_ind_assignments_spark.operators.pipeline as pmod

    # drive the same machinery on a synthetic documents table: text with
    # exactly tok[i] single-char words (manual patch/restore — hypothesis
    # runs many examples per monkeypatch fixture scope)
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * t) if t else "") for i, t in enumerate(toks)],
        "doc_id long, text string",
    )
    saved_cap, saved_load = pmod._PACK_CAPACITY, pmod.load
    pmod._PACK_CAPACITY = cap
    pmod.load = lambda spark_, sf_dir_, name_: docs
    try:
        rows = {r["doc_id"]: r for r in pmod.q_sequence_pack(spark, "unused").collect()}
    finally:
        pmod._PACK_CAPACITY, pmod.load = saved_cap, saved_load
    off = 0
    for i, t in enumerate(toks):
        r = rows[i]
        assert r["n_tokens"] == t
        assert r["seq_id"] == off // cap
        assert r["seq_offset"] == off % cap
        off += t


docs_strategy = st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=50).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=8, deadline=None)
@given(texts=docs_strategy)
def test_span_dedup_matches_python_reference(spark, texts):
    """span_dedup against a sequential-scan Python reference: identical
    keep-first semantics for every generated corpus (tiny vocab forces
    heavy span collisions)."""
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        _SPAN_W,
        span_dedup,
    )

    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
        for r in span_dedup(d).collect()
    }

    seen: set[str] = set()
    expected = {}
    for doc_id, text in enumerate(texts):
        toks = [t for t in text.split(" ") if t]
        kept, n_kept, n_dropped = [], 0, 0
        for s in range(0, len(toks), _SPAN_W):
            span = " ".join(toks[s : s + _SPAN_W])
            if span in seen:
                n_dropped += 1
            else:
                seen.add(span)
                kept.append(span)
                n_kept += 1
        if toks:
            expected[doc_id] = (" ".join(kept), n_kept, n_dropped)
    assert got == expected


@settings(max_examples=10, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abc'", min_size=1, max_size=10), min_size=1, max_size=20
    ),
    n_merges=st.integers(min_value=1, max_value=12),
)
def test_bpe_sql_replace_chain_matches_python_apply(words, n_merges):
    """The delimiter-wrapped SQL replace chain (the q_bpe_encode oracle's
    core) must produce the exact per-word symbol count of the Python
    apply loop for ANY corpus and learned rule list — including repeated
    symbols (the overlap case the delimiter trick exists for) and quotes
    (SQL literal escaping)."""
    import duckdb

    from matrix_multiplication_bigdata_ind_assignments_spark.operators.tokenizer import (
        _END,
        _bpe_sql_symcount_expr,
        _bpe_train_local,
    )

    freqs: dict[str, int] = {}
    for w in words:
        freqs[w] = freqs.get(w, 0) + 1
    rules = _bpe_train_local(freqs, n_merges)

    def py_count(w: str) -> int:
        syms = list(w) + [_END]
        for _, left, right, _ in rules:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    con = duckdb.connect()
    try:
        expr = _bpe_sql_symcount_expr(rules)
        for w in set(words):
            got = con.execute(f"SELECT {expr} FROM (SELECT ? AS w)", [w]).fetchone()[0]
            assert got == py_count(w), (w, rules)
    finally:
        con.close()


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=25,
    )
)
def test_components_closure_oracle_matches_spark_fixpoints(spark, edges):
    """The recursive-transitive-closure SQL (the components oracle) must
    agree with BOTH Spark fixpoints (min-label propagation and
    large-star/small-star contraction) on arbitrary graphs — chains,
    cliques, self-merging stars, everything hypothesis throws."""
    import duckdb

    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        _sql_components,
        connected_components,
        connected_components_star,
    )

    pairs = spark.createDataFrame(edges, "da long, db long")
    a = {
        (r["comp"], r["n_members"], r["keeper_id"])
        for r in connected_components(pairs, "da", "db").collect()
    }
    b = {
        (r["comp"], r["n_members"], r["keeper_id"])
        for r in connected_components_star(spark, pairs, "da", "db").collect()
    }
    vals = ", ".join(f"({x}, {y})" for x, y in edges)
    sql = _sql_components(f"SELECT * FROM (VALUES {vals}) t(da, db)", "da", "db")
    con = duckdb.connect()
    try:
        c = {(r[0], r[1], r[2]) for r in con.execute(sql).fetchall()}
    finally:
        con.close()
    assert a == b == c


# --- rolling-span dedup vs a pure-Python reference -----------------------

_span_docs = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=40),
    min_size=1,
    max_size=6,
)


def _ref_rolling_span(docs: list[list[str]], w: int):
    """Reference implementation of span_dedup_rolling's spec: a token is
    dropped iff covered by some w-gram whose text occurred at a strictly
    earlier (doc_id, pos)."""
    seen: set[tuple] = set()
    out = {}
    for doc_id, toks in enumerate(docs):
        dups = []
        for pos in range(max(len(toks) - w + 1, 0)):
            gram = tuple(toks[pos : pos + w])
            if gram in seen:
                dups.append(pos)
            else:
                seen.add(gram)
        dropped = [any(p <= i < p + w for p in dups) for i in range(len(toks))]
        if toks:  # empty docs are absent from the Spark output too
            kept = [t for t, d in zip(toks, dropped) if not d]
            out[doc_id] = (" ".join(kept), len(kept), sum(dropped))
    return out


@settings(max_examples=8, deadline=None)
@given(docs=_span_docs)
def test_rolling_span_dedup_matches_reference(spark, docs):
    from matrix_multiplication_bigdata_ind_assignments_spark.operators.dedup import (
        span_dedup_rolling,
    )

    w = 4  # small width so tiny corpora exercise real overlaps
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_dropped"])
        for r in span_dedup_rolling(df, w=w).collect()
    }
    assert got == _ref_rolling_span(docs, w)

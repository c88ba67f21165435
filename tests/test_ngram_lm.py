"""Interpolated Kneser–Ney bigram LM (operators/ngram_lm.py)."""

import math

from matrix_multiplication_bigdata_ind_assignments_spark.operators.ngram_lm import (  # noqa: E402
    _KN_D,
    doc_bigrams,
    q_lm_kn_perplexity,
)


def _write_docs(spark, tmp_path, texts):
    rows = [(i + 1, t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _ref_kn(texts):
    """Plain-Python replica of the exact pipeline (including micro-nat
    quantization) — an engine-independent third opinion."""
    from collections import Counter, defaultdict

    bg_by_doc = {}
    bt = Counter()
    for i, t in enumerate(texts):
        toks = [w for w in t.split(" ") if w]
        bgs = list(zip(toks, toks[1:]))
        if bgs:
            bg_by_doc[i + 1] = bgs
            bt.update(bgs)
    c1, nf, nb = defaultdict(int), defaultdict(int), defaultdict(int)
    for (w1, w2), c in bt.items():
        c1[w1] += c
        nf[w1] += 1
        nb[w2] += 1
    B = len(bt)
    lp = {
        k: math.floor(
            math.log(((c - _KN_D) / c1[k[0]]) + ((_KN_D * nf[k[0]] / c1[k[0]]) * (nb[k[1]] / B)))
            * 1e6
            + 0.5
        )
        for k, c in bt.items()
    }
    out = {}
    for d, bgs in bg_by_doc.items():
        s = sum(lp[b] for b in bgs)
        n = len(bgs)
        out[d] = (n, math.floor((-s / (n * 1e6)) * 1e6 + 0.5) / 1e6)
    return out


def test_kn_hand_fixture(spark, tmp_path):
    """3-doc corpus with hand-checkable KN numbers, plus a 1-token doc
    that must DROP (no bigrams): P(b|a) = (2−D)/3 + (D·2/3)(1/2) = 2/3,
    P(c|a) = 1/3 — the discounted mass flows to the rarer continuation."""
    texts = ["a b", "a b", "a c", "x"]
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in q_lm_kn_perplexity(spark, _write_docs(spark, tmp_path, texts)).collect()
    }
    assert set(got) == {1, 2, 3}  # doc 4 has no bigrams
    assert got == _ref_kn(texts)
    # the hand numbers themselves
    assert abs(got[1][1] - (-math.log(2 / 3))) < 1e-5
    assert abs(got[3][1] - (-math.log(1 / 3))) < 1e-5


def test_kn_matches_python_reference_on_fixture(spark, sf_dir):
    """Engine output == the plain-Python replica over the real fixture
    corpus (both include micro-nat quantization, so equality is exact)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").orderBy("doc_id").collect()
    texts = [r["text"] for r in docs]
    ids = [r["doc_id"] for r in docs]
    ref_seq = _ref_kn(texts)
    ref = {ids[k - 1]: v for k, v in ref_seq.items()}
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_nll"])
        for r in q_lm_kn_perplexity(spark, sf_dir).collect()
    }
    assert got == ref


def test_doc_bigrams_shape(spark):
    df = spark.createDataFrame([(1, "p q r"), (2, " "), (3, "solo")], "doc_id long, text string")
    rows = sorted(tuple(r) for r in doc_bigrams(df).collect())
    assert rows == [(1, "p", "q"), (1, "q", "r")]

"""Distributed BPE training vs a sequential pure-Python reference
(Sennrich et al.'s algorithm): identical merge tables and token counts."""

from collections import Counter

from matrix_multiplication_bigdata_ind_assignments_spark.operators import tokenizer as T


def _ref_bpe(word_freqs: dict[str, int], n_merges: int):
    """Sequential reference: the textbook BPE training loop."""
    seqs = {w: list(w) + [T._END] for w in word_freqs}
    rules = []
    for rank in range(n_merges):
        counts: Counter = Counter()
        for w, syms in seqs.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        # max count, lexicographic tie-break — must match the Spark orderBy
        (left, right), n = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        if n < 2:
            break
        rules.append((rank, left, right, n))
        for w, syms in seqs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            seqs[w] = out
    return rules, seqs


def test_bpe_train_matches_sequential_reference(spark, monkeypatch):
    """Both the local and the distributed training paths must produce the
    reference merge table exactly."""
    freqs = {
        "scan": 50, "scans": 20, "span": 30, "plan": 45, "plans": 15,
        "join": 60, "joins": 25, "jab": 3, "nap": 7,
    }
    words = spark.createDataFrame(list(freqs.items()), "w string, freq long")
    expected, _ = _ref_bpe(freqs, 12)
    assert T.bpe_train(words, n_merges=12) == expected  # local path
    monkeypatch.setenv("MMBD_BPE_LOCAL_VOCAB", "0")  # force distributed path
    assert T.bpe_train(words, n_merges=12) == expected
    # checkpointed distributed path: 12 merges over a 3-round checkpoint
    # cadence crosses 3 re-materialization boundaries and must still be
    # rule-for-rule identical (the delta-replay fix, VERDICT r3 item 3)
    monkeypatch.setattr(T, "_BPE_CKPT_EVERY", 3)
    assert T.bpe_train(words, n_merges=12) == expected


def test_bpe_queries_run_on_fixture(spark, sf_dir):
    rules = {(r["rank"], r["left"], r["right"]) for r in T.q_bpe_train(spark, sf_dir).collect()}
    assert len(rules) == T._BPE_MERGES  # fixture vocab is rich enough
    enc = T.q_bpe_encode(spark, sf_dir).collect()
    assert len(enc) == 500
    # merges only ever shrink the naive char+marker tokenization
    for r in enc:
        assert 0 < r["bpe_tokens"]
        assert r["bpe_tokens"] >= r["n_words"]  # at least one token per word


def _batched_local_bpe(word_freqs: dict[str, int], n_merges: int):
    """Driver-side simulation of the distributed trainer's batched scan
    loop: same pair counting as the reference, but accepting a
    _safe_merge_batch per scan — lets hypothesis hammer the batching
    proof on tie-heavy corpora without a Spark job per example."""
    seqs = {w: list(w) + [T._END] for w in word_freqs}
    rules = []
    while len(rules) < n_merges:
        counts: Counter = Counter()
        for w, syms in seqs.items():
            f = word_freqs[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        ranked_all = sorted(
            ((left, right, n) for (left, right), n in counts.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )
        window = ranked_all[: T._BPE_BATCH_TOPM]
        ranked = [t for t in window if t[2] >= 2]
        if not ranked:
            break
        batch = T._safe_merge_batch(
            ranked,
            exhaustive=len(window) < T._BPE_BATCH_TOPM,
            limit=n_merges - len(rules),
        )
        for left, right, n in batch:
            rules.append((len(rules), left, right, n))
            for w, syms in seqs.items():
                out, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                seqs[w] = out
    return rules


def test_batched_merge_selection_matches_sequential_hypothesis():
    """The batched scan loop must be rule-for-rule identical to the
    sequential textbook loop on tie-heavy tiny-alphabet corpora (where
    created-pair counts routinely tie the next candidate — exactly the
    case the strict-count trim exists for)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    words = st.text(alphabet="ab", min_size=1, max_size=6)

    @settings(max_examples=300, deadline=None)
    @given(st.dictionaries(words, st.integers(min_value=1, max_value=9), min_size=1, max_size=8))
    def check(freqs):
        assert _batched_local_bpe(freqs, 10) == _ref_bpe(freqs, 10)[0]

    check()


def test_safe_merge_batch_guards():
    """Unit cases for the batch selector: conflict stops acceptance, the
    strict-count trim drops candidates tied with the first conflict, the
    global top survives even when tied, and the window bound applies
    when no conflict is seen."""
    # conflict at rank 2 (shares 'b'), bound 5 → p2 (n=5) trimmed, p1 kept
    ranked = [("a", "b", 9), ("c", "d", 5), ("b", "e", 5)]
    assert T._safe_merge_batch(ranked, exhaustive=True, limit=10) == [("a", "b", 9)]
    # strictly above the conflict bound → both kept
    ranked = [("a", "b", 9), ("c", "d", 7), ("b", "e", 5)]
    assert T._safe_merge_batch(ranked, exhaustive=True, limit=10) == [
        ("a", "b", 9),
        ("c", "d", 7),
    ]
    # no conflict, exhaustive list → bound 0, all kept (limit respected)
    ranked = [("a", "b", 4), ("c", "d", 4), ("e", "f", 2)]
    assert T._safe_merge_batch(ranked, exhaustive=True, limit=2) == [
        ("a", "b", 4),
        ("c", "d", 4),
    ]
    # no conflict but the window CUT the list → last fetched count bounds
    # the unseen tail, trimming the tied tail candidate
    ranked = [("a", "b", 9), ("c", "d", 4), ("e", "f", 4)]
    assert T._safe_merge_batch(ranked, exhaustive=False, limit=10) == [("a", "b", 9)]
    # hub symbol shared on the RIGHT is not a conflict: merging (e, w)
    # cannot change the count of (t, w) — the natural-text case where one
    # end-of-word symbol dominates the top ranks
    ranked = [("e", "w", 9), ("t", "w", 8), ("w", "x", 7)]
    assert T._safe_merge_batch(ranked, exhaustive=True, limit=10) == [
        ("e", "w", 9),
        ("t", "w", 8),
    ]  # (w, x) IS affected: left == accepted right symbol w
    # a pair naming an accepted CONCAT string is affected (its count grows)
    ranked = [("a", "b", 9), ("ab", "c", 8), ("d", "e", 7)]
    assert T._safe_merge_batch(ranked, exhaustive=True, limit=10) == [("a", "b", 9)]
    # ^ (ab,c) skipped as affected with count 8, so (d,e) at 7 ≤ cmax stops
    # the window-cut tie guard must never reject the global top pair
    assert T._safe_merge_batch([("a", "b", 9)], exhaustive=False, limit=10) == [
        ("a", "b", 9)
    ]


def test_batched_merge_self_pair_regression():
    """Hypothesis-found counterexample for the self-pair hole: merging
    (b,b) over runs creates (bb,b) at count 5, outranking the naively
    batched (a,</w>) at 4 — the batch must stop after a self-pair."""
    freqs = {"a": 2, "bbb": 3, "bbba": 2}
    assert _batched_local_bpe(freqs, 12) == _ref_bpe(freqs, 12)[0]
    # unit form: accepting (b,b) folds its own count into the bound
    ranked = [("b", "b", 10), ("a", "w", 4), ("b", "w", 3)]
    assert T._safe_merge_batch(ranked, exhaustive=True, limit=10) == [("b", "b", 10)]

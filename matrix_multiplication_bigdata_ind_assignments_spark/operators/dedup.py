"""Deduplication operators (SURVEY.md §2.3 / north-star: exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup).

Scale posture: every near-dup operator is candidate-generation-first —
pairs are only ever formed inside an LSH bucket / shared-shingle block,
never via an O(n²) cross join on the full corpus.  Hashes are md5-derived
(portable across Spark and DuckDB), so even the MinHash/SimHash pipelines
are oracle-checked, not just rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.loop import PARTITIONS, pinned, settle
from ..registry import register
from ..sources import load
from .graph import relax, symmetric

# Portable hashing convention used throughout: first 8 hex chars of an
# md5 as an integer — Spark conv(hex,16,10), DuckDB ('0x'||hex)::BIGINT —
# so the same hash family exists in both engines and LSH pipelines stay
# fully oracle-checkable.


def _lsh_bucket_cap() -> int:
    """Hot-bucket width cap for LSH candidate generation (SCALING.md
    'mega-hot band bucket' guard).  A bucket (band signature / shared
    shingle) holding W members emits W·(W-1)/2 candidate pairs — at crawl
    scale one boilerplate bucket shared by millions of docs turns the
    whole equi-join quadratic.  Per-pipeline policy (r7):

    - MinHash bands (_split_hot_buckets): over-cap buckets SPLIT into
      ceil(W/cap) sub-buckets by a secondary member hash — pairs
      straddling a split are lost, acceptable because each pair has
      _MINHASH_SEEDS//_BAND_SIZE independent band chances elsewhere and
      mega-bucket members share boilerplate exact/span dedup catches.
    - Shingle postings (ngram_jaccard_pairs): over-cap shingles are
      DROPPED from candidate generation and added back to emitted
      pairs' intersection counts — values stay exact (see there).
    - SimHash pigeonhole index: NOT capped — capping would break the
      exact-recall guarantee; the scale lever is the wider 6-block key
      space (simhash_pairs(blocks=6)).

    The cap is far above any fixture bucket width, so oracle results
    are bit-identical below it."""
    import os

    return int(os.environ.get("MMBD_LSH_BUCKET_CAP", "10000"))


# (source plan, cap) → does the corpus have any over-cap bucket?  The
# probe verdict is a pure function of the immutable fixture, so repeated
# calls (bench repeats, serving) skip the stat job
# (functions.memo.plan_memo).
_HOT_PROBE_MEMO: dict[int, list] = {}


def _split_hot_buckets(
    df: DataFrame,
    bucket_cols: list[str],
    member_col: str,
    cap: int,
    memo_src: DataFrame | None = None,
) -> DataFrame:
    """Append a ``sub`` column: 0 for buckets within ``cap``; a secondary
    md5-derived hash of the member id in [0, ceil(W/cap)) for wider ones.
    Both sides of the candidate self-join must then also match on ``sub``.

    Shape, adaptive: a map-side-combinable width aggregate FILTERED to
    the over-cap buckets is probed once (`isEmpty`, one small job on the
    materialized frame) — in the common no-mega-bucket case the split is
    a CONSTANT column and the candidate join plan is untouched; only
    when hot buckets exist does the plan grow a broadcast-left width
    join + per-member hash split.  (Two rejected forms: a window count
    paid a full per-bucket sort every run, and an unconditional
    broadcast-left join paid 2 extra broadcast builds + stage barriers
    per self-join side — each ~+0.7 s on q_dedup_minhash at sf0.1, to
    compute widths that are almost always ≤ cap.)  The hot set is
    bounded by corpus_rows/cap buckets; at 10k cap even a 100 TB crawl's
    boilerplate set stays broadcastable.  Call on a MATERIALIZED frame
    (checkpointed): the width probe and the main branch both re-read it,
    and an unmaterialized lineage would be recomputed twice."""
    # the probe is a stat job: quarter parallelism halves its task-
    # scheduling overhead locally (0.45s → 0.22s at sf0.1) while still
    # scaling with the cluster (250 tasks at 1000 cores); the agg is
    # map-side combinable so the fan-in is per-task distinct buckets
    n_probe = max(8, df.sparkSession.sparkContext.defaultParallelism // 4)
    width_hot = (
        df.coalesce(n_probe)
        .groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("mmbd_w"))
        .where(F.col("mmbd_w") > cap)
    )
    if memo_src is not None:
        from ..functions.memo import plan_memo

        has_hot = plan_memo(
            _HOT_PROBE_MEMO,
            memo_src,
            (cap, tuple(bucket_cols)),
            lambda: not width_hot.isEmpty(),
            max_entries=64,
        )
    else:
        has_hot = not width_hot.isEmpty()
    if not has_hot:
        return df.withColumn("sub", F.lit(0).cast("long"))
    # md5-derived secondary hash (not F.hash: engine-portable convention,
    # and independent of the primary bucket hash by construction)
    member_h = F.conv(F.substring(F.md5(F.col(member_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        df.join(F.broadcast(width_hot), bucket_cols, "left")
        .withColumn(
            "sub",
            F.when(F.col("mmbd_w").isNull(), F.lit(0).cast("long")).otherwise(
                F.pmod(member_h, F.ceil(F.col("mmbd_w") / cap))
            ),
        )
        .drop("mmbd_w")
    )


def _shingle_rows(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh) rows: distinct word-level n-gram shingles per document.

    Tokens are materialized in their own projection first — inlining the
    split() into every transform() element makes Spark re-tokenize the
    text once per shingle (O(tokens²) per doc, measured 8× slower).

    Repartition by doc_id up front: the corpus often arrives as few
    parquet files (locally: one → one partition), and every consumer
    groups/joins by doc_id anyway — moving that shuffle BEFORE the
    hash-heavy shingle/minhash work spreads it across all cores instead
    of serializing it on the scan partition."""
    n_parts = d.sparkSession.sparkContext.defaultParallelism
    toked = d.repartition(n_parts, "doc_id").select(
        "doc_id", F.filter(F.split("text", " "), lambda t: t != "").alias("toks")
    )
    idx = F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0)))
    return toked.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice("toks", i + 1, n), " ")))
        ).alias("sh"),
    )


_SQL_SHINGLES = """
  SELECT doc_id, unnest(list_distinct(
    list_transform(
      range(greatest(len(list_filter(string_split(text, ' '), t -> t <> '')) - 2, 1)),
      i -> array_to_string(list_filter(string_split(text, ' '), t -> t <> '')[i + 1 : i + 3], ' ')
    ))) AS sh
  FROM documents
"""


@register(
    "q_dedup_exact",
    oracle="""
WITH keyed AS (
  SELECT event_id, md5(props) AS k FROM events
)
SELECT k, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(event_id) AS BIGINT) AS keeper_id
FROM keyed GROUP BY k
""",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, keep-first: hash-groupBy, the map-side
    combinable form that scales linearly (no sort, no window over the full
    corpus).  Runs on events.props, which has real duplicates."""
    e = load(spark, sf_dir, "events")
    return (
        e.select("event_id", F.md5("props").alias("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("event_id").alias("keeper_id"),
        )
    )


_SPAN_W = 20  # tokens per dedup span


@register(
    "q_dedup_span_exact",
    oracle=f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
sp AS (
  SELECT doc_id,
         list_transform(range(CAST(ceil(len(toks) / {_SPAN_W}.0) AS BIGINT)),
                        i -> array_to_string(toks[i * {_SPAN_W} + 1 : i * {_SPAN_W} + {_SPAN_W}], ' ')) AS spans
  FROM t
),
s AS (
  SELECT doc_id, unnest(range(len(spans))) AS sidx, unnest(spans) AS span FROM sp
),
m AS (
  SELECT doc_id, sidx, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, sidx) AS rk
  FROM s
)
SELECT doc_id,
       COALESCE(string_agg(span, ' ' ORDER BY sidx) FILTER (WHERE rk = 1), '') AS clean_text,
       CAST(count(*) FILTER (WHERE rk = 1) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE rk > 1) AS BIGINT) AS n_dropped
FROM m GROUP BY doc_id
""",
)
def q_dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-SPAN removal — the relational form of ExactSubstr dedup
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): documents are segmented into fixed 20-token spans, every
    span that already occurred earlier in the corpus (by (doc_id, sidx)
    order, including earlier in the same document) is dropped, and each
    document is reassembled from its surviving spans.  This removes
    boilerplate/quote repetition that document-level dedup can't touch.

    Scale shape: one shuffle keyed on the span text (window keep-first),
    one hash agg to reassemble — both linear in corpus token count; the
    reassembly list per doc is bounded by doc length.  The suffix-array
    exactness of Lee et al. (arbitrary-offset substrings) trades into
    fixed-boundary spans, the standard relational approximation."""
    return span_dedup(load(spark, sf_dir, "documents"))


def span_dedup(d: DataFrame) -> DataFrame:
    """Core of q_dedup_span_exact over any (doc_id, text) frame — split
    out so the scaling probe can run it on blown-up corpora."""
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    base = d.select("doc_id", toks.alias("toks"))
    n_spans = F.ceil(F.size("toks") / _SPAN_W).cast("int")
    span_arr = F.when(
        F.size("toks") > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda s: F.array_join(F.slice("toks", s * _SPAN_W + 1, _SPAN_W), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = base.select("doc_id", F.posexplode(span_arr).alias("sidx", "span"))
    w = Window.partitionBy("span").orderBy("doc_id", "sidx")
    marked = spans.withColumn("rk", F.row_number().over(w))
    kept_struct = F.when(F.col("rk") == 1, F.struct("sidx", "span"))
    return marked.groupBy("doc_id").agg(
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s["span"]
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.sum((F.col("rk") == 1).cast("long")).alias("n_kept"),
        F.sum((F.col("rk") > 1).cast("long")).alias("n_dropped"),
    )


def sql_span_rolling_ctes(src: str) -> str:
    """The rolling-span dedup pipeline as reusable SQL CTEs over any
    (doc_id, text) relation ``src`` — shared by q_dedup_span_strided's
    oracle and composites (q_corpus_clean_strict).  Exposes the final
    per-doc relation as ``span_out (doc_id, clean_text, n_kept,
    n_dropped)``."""
    return f"""
t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM {src}
),
sp AS (
  SELECT doc_id,
         list_transform(range(greatest(len(toks) - {_SPAN_W - 1}, 0)),
                        i -> md5(array_to_string(toks[i + 1 : i + {_SPAN_W}], ' '))) AS hs
  FROM t
),
g AS (SELECT doc_id, unnest(range(len(hs))) AS pos, unnest(hs) AS h FROM sp),
m AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rk
  FROM g
),
dups AS (SELECT doc_id, list(pos ORDER BY pos) AS dps FROM m WHERE rk > 1 GROUP BY doc_id),
tok AS (SELECT doc_id, unnest(range(len(toks))) AS i, unnest(toks) AS tk FROM t),
j AS (
  SELECT tok.doc_id AS doc_id, i, tk,
         COALESCE(len(list_filter(d.dps, p -> p <= i AND i < p + {_SPAN_W})) > 0, FALSE) AS dropped
  FROM tok LEFT JOIN dups d ON tok.doc_id = d.doc_id
),
span_out AS (
  SELECT doc_id,
         COALESCE(string_agg(tk, ' ' ORDER BY i) FILTER (WHERE NOT dropped), '') AS clean_text,
         CAST(count(*) FILTER (WHERE NOT dropped) AS BIGINT) AS n_kept,
         CAST(count(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped
  FROM j GROUP BY doc_id
)"""


@register(
    "q_dedup_span_strided",
    oracle="WITH "
    + sql_span_rolling_ctes("documents")
    + "\nSELECT doc_id, clean_text, n_kept, n_dropped FROM span_out",
)
def q_dedup_span_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-free duplicated-span removal — closes q_dedup_span_exact's
    fidelity gap (VERDICT r5 item 2): fixed non-overlapping spans miss a
    duplicated passage offset by <20 tokens from a span boundary, because
    the cut points differ between occurrences.  Here spans are emitted at
    EVERY token position (rolling 20-gram, the stride-1 limit of the
    strided family — md5 plays the rolling hash): a token is dropped iff
    it is covered by some 20-gram whose text already occurred earlier in
    the corpus (by (doc_id, pos) order).  Any duplicated passage of ≥20
    tokens is caught at ARBITRARY alignment — the Lee et al. ExactSubstr
    semantics (min match length = 20) in relational form.

    Scale shape: |tokens| gram rows (same order as the 3-gram shingle
    pipeline) keyed on a 16-byte hash — one window shuffle on the gram
    hash, one per-doc agg; the per-doc duplicate-position list is bounded
    by doc length, and the coverage test is an array `exists` over that
    list, never a corpus-sized join."""
    return span_dedup_rolling(load(spark, sf_dir, "documents"))


def span_dedup_rolling(d: DataFrame, w: int = _SPAN_W) -> DataFrame:
    """Core of q_dedup_span_strided over any (doc_id, text) frame."""
    n_parts = d.sparkSession.sparkContext.defaultParallelism
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    base = d.repartition(n_parts, "doc_id").select("doc_id", toks.alias("toks"))
    ng = F.size("toks") - (w - 1)
    gram_arr = F.when(
        ng > 0,
        F.transform(
            F.sequence(F.lit(0), ng - 1),
            lambda i: F.md5(F.array_join(F.slice("toks", i + 1, w), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select("doc_id", F.posexplode(gram_arr).alias("pos", "h"))
    win = Window.partitionBy("h").orderBy("doc_id", "pos")
    dups = (
        grams.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") > 1)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("dps"))
    )
    toks_rows = base.select("doc_id", F.posexplode("toks").alias("i", "tk"))
    covered = F.exists(
        F.coalesce(F.col("dps"), F.array().cast("array<int>")),
        lambda p: (p <= F.col("i")) & (F.col("i") < p + w),
    )
    marked = toks_rows.join(dups, "doc_id", "left").withColumn("dropped", covered)
    kept_struct = F.when(~F.col("dropped"), F.struct("i", "tk"))
    return marked.groupBy("doc_id").agg(
        F.coalesce(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s["tk"]), " "
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.sum((~F.col("dropped")).cast("long")).alias("n_kept"),
        F.sum(F.col("dropped").cast("long")).alias("n_dropped"),
    )


@register(
    "q_dedup_keep_first",
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, keep-first-row form (sha/row_number shape from
    SURVEY.md §2.3) — returns the surviving rows themselves."""
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).select("doc_id", "lang")
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
WITH sh AS ({_SQL_SHINGLES}),
hs AS (SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) AS h FROM sh),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM hs GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, CAST(count(*) AS BIGINT) AS inter
  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.da AS da, i.db AS db,
       round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.da
JOIN sizes sb ON sb.doc_id = i.db
WHERE i.inter / (sa.sz + sb.sz - i.inter) >= 0.03
""",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: candidate pairs are generated by joining on
    shared shingles (inverted-index blocking — at 100 TB you'd drop the
    most-frequent shingles first), then exact Jaccard on the candidates.

    The inverted-index join runs on a 60-bit md5 prefix of the shingle,
    not the string: fixed 8-byte shuffle keys instead of ~20-char strings.
    Both engines compute the identical hash, so results (even a
    theoretical collision, ~|shingles|²/2⁶⁰) stay oracle-exact.  Jaccard
    is a ratio of integers so the threshold compare is exact too."""
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


def ngram_jaccard_pairs(d: DataFrame, bucket_cap: int | None = None) -> DataFrame:
    """q_dedup_ngram_jaccard's pipeline over an arbitrary (doc_id, text)
    frame.  ``bucket_cap`` bounds the shared-shingle inverted-index
    posting-list width (see _lsh_bucket_cap) so one boilerplate shingle
    can't emit a quadratic pair list.

    Over-cap handling (r7 — replaces the r6 sub-bucket split, whose
    intra-sub intersection counts UNDERESTIMATED jaccard on surviving
    pairs): shingles whose posting list exceeds the cap are EXCLUDED
    from candidate generation (the production "drop top-frequency
    shingles" move — they carry no discriminative signal), and their
    contribution is ADDED BACK to every emitted pair's intersection
    count afterwards via two linear joins of the pair list against the
    per-doc hot-shingle sets (each pair side carries only its own few
    boilerplate shingles).  Emitted pairs therefore get EXACT jaccard
    values even above the cap; the only loss class is pairs whose shared
    shingles are ALL over-cap — pure-boilerplate pairs that exact/span
    dedup already catches.  Below the cap (every fixture) the plan is
    the uncapped exact join, bit-identical to the oracle."""
    cap = _lsh_bucket_cap() if bucket_cap is None else bucket_cap
    # consumed three times below (sizes + both sides of the inverted-index
    # join) — materialize once via localCheckpoint: unlike .cache(), whose
    # entry lives in the session CacheManager until explicitly uncached,
    # checkpoint blocks are context-cleaned when the result is dropped, so
    # nothing leaks into the driver's long-lived session
    sh = (
        _shingle_rows(d)
        .select("doc_id", F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long").alias("h"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))

    # adaptive hot probe (same discipline as _split_hot_buckets: one
    # memoized isEmpty on a map-side-combinable width agg; the common
    # no-mega-bucket case keeps the plan untouched)
    n_probe = max(8, d.sparkSession.sparkContext.defaultParallelism // 4)
    hot = (
        sh.coalesce(n_probe)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("mmbd_w"))
        .where(F.col("mmbd_w") > cap)
        .select("h")
    )
    from ..functions.memo import plan_memo

    has_hot = plan_memo(
        _HOT_PROBE_MEMO, d, (cap, ("h",)), lambda: not hot.isEmpty(), max_entries=64
    )

    if not has_hot:
        pair_sh = sh
        hot_mem = None
    else:
        # the hot set is ≤ rows/cap buckets → broadcast; cold shingles
        # drive candidate generation, hot memberships only correct values.
        # Materialize the tiny hot set ONCE (r7 ADVICE: embedded as a
        # subtree it was re-aggregated twice per action — once under the
        # left_anti, once under the left_semi)
        hot = hot.localCheckpoint(eager=True)
        pair_sh = sh.join(F.broadcast(hot), "h", "left_anti")
        hot_mem = sh.join(F.broadcast(hot), "h", "left_semi")

    a = pair_sh.alias("a")
    b = pair_sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if hot_mem is not None:
        # per-pair count of hot shingles BOTH docs hold: pair list joined
        # to each side's hot set — O(|pairs| · hot-shingles-per-doc), never
        # a hot self-join
        ha = hot_mem.select(F.col("doc_id").alias("da"), "h")
        hb = hot_mem.select(F.col("doc_id").alias("db"), "h")
        hot_inter = (
            inter.select("da", "db")
            .join(ha, "da")
            .join(hb, ["db", "h"])
            .groupBy("da", "db")
            .agg(F.count(F.lit(1)).alias("hot_inter"))
        )
        inter = inter.join(hot_inter, ["da", "db"], "left").select(
            "da",
            "db",
            (F.col("inter") + F.coalesce(F.col("hot_inter"), F.lit(0))).alias("inter"),
        )
    sa = sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb"))
    jac = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    return (
        inter.join(sa, "da")
        .join(sb, "db")
        .where(jac >= 0.03)
        .select("da", "db", F.round(jac, 6).alias("jaccard"))
    )


_MINHASH_SEEDS = 16
_BAND_SIZE = 4  # 4 bands × 4 rows

# Carter-Wegman universal-hash constants: mh_s(x) = (a_s·h(x) + b_s) mod p
# with h(x) the 32-bit md5 prefix.  One md5 per shingle instead of one per
# (shingle × seed) — 16× fewer md5 evaluations (measured sf0.1: 1.9s →
# 1.1s).  a_s,b_s < 2²⁸ and h < 2³², so a·h+b < 2⁶⁰: exact BIGINT
# arithmetic in both engines (no overflow even under ANSI mode).
_MH_PRIME = 4294967311  # smallest prime > 2^32


def _mh_constants() -> list[tuple[int, int]]:
    import hashlib

    out = []
    for s in range(_MINHASH_SEEDS):
        ha = hashlib.md5(f"mh-a:{s}".encode()).hexdigest()
        hb = hashlib.md5(f"mh-b:{s}".encode()).hexdigest()
        out.append((int(ha[:7], 16) | 1, int(hb[:7], 16)))  # 28-bit, a odd
    return out


#: the shingle → minhash → band pipeline as reusable CTEs (exposes
#: ``bands (doc_id, band, band_key)``) — shared by the pair query and the
#: streaming near-dup oracle
_SQL_MINHASH_BANDS_CTES = f"""sh AS ({_SQL_SHINGLES}),
base AS (
  SELECT doc_id, CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh
),
hashed AS (
  SELECT doc_id, s.seed AS seed, min((s.a * h + s.b) % {_MH_PRIME}) AS mh
  FROM base, (VALUES {", ".join(f"({s}, {a}, {b})" for s, (a, b) in enumerate(_mh_constants()))}) s(seed, a, b)
  GROUP BY doc_id, s.seed
),
bands AS (
  SELECT doc_id, seed // {_BAND_SIZE} AS band,
         string_agg(mh, '-' ORDER BY seed) AS band_key
  FROM hashed GROUP BY doc_id, band
)"""

_SQL_MINHASH_PAIRS = f"""
WITH {_SQL_MINHASH_BANDS_CTES}
SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(count(*) AS BIGINT) AS n_shared_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


@register("q_dedup_minhash", oracle=_SQL_MINHASH_PAIRS)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: shingle → 32-bit md5 base hash → 16
    universal-hash minhashes → 4 bands of 4 → candidate pairs share an
    identical band.  The full pipeline is oracle-checked because the hash
    family is md5+integer-mix (engine-neutral).  At scale the band-bucket
    join is the only pairing step — O(candidates), never O(n²)."""
    return minhash_pairs(load(spark, sf_dir, "documents"))


def minhash_pairs(d: DataFrame, bucket_cap: int | None = None) -> DataFrame:
    """q_dedup_minhash's pipeline over an arbitrary (doc_id, text) frame —
    shared with the scaling probe so blow-up corpora run the identical
    plan.  ``bucket_cap`` bounds band-bucket width (see _lsh_bucket_cap —
    the SCALING.md mega-bucket guard); buckets wider than the cap split
    into sub-buckets by a secondary doc hash before pairing."""
    cap = _lsh_bucket_cap() if bucket_cap is None else bucket_cap
    bands = minhash_bands(d)
    # the LSH self-join consumes bands twice; materialize the (tiny:
    # docs×4 rows) band table once, eagerly — localCheckpoint, not
    # .cache(), so no CacheManager entry outlives the query in the
    # driver's session.  At 100 TB the signature table is persisted to
    # parquet between stages instead.  The hot-bucket guard goes ON TOP
    # of the checkpoint (its width agg re-reads the materialized bands,
    # not the shingle pipeline) and is lazy — sub assignment is identical
    # on both self-join sides because the widths are.
    bands = _split_hot_buckets(
        bands.localCheckpoint(eager=True), ["band", "band_key"], "doc_id", cap, memo_src=d
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_bands(d: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) LSH band table over a (doc_id, text)
    frame — the index half of the MinHash pipeline, shared by
    minhash_pairs and the streaming near-dup filter's static history.

    Single-pass signature: all 16 minhashes as columns of ONE hash-agg
    (one shuffle keyed on doc_id; no seed crossJoin, no second shuffle)
    — the shape that scales: |shingles| rows in, |docs| rows out."""
    sh = _shingle_rows(d)
    base = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long").alias("h"),
    )
    sig = base.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MH_PRIME)).alias(f"mh{s}")
            for s, (a, b) in enumerate(_mh_constants())
        ]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-", *[F.col(f"mh{b * _BAND_SIZE + i}").cast("string") for i in range(_BAND_SIZE)]
            ).alias("band_key"),
        )
        for b in range(_MINHASH_SEEDS // _BAND_SIZE)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_structs)).alias("kb")).select(
        "doc_id", F.col("kb.band").alias("band"), F.col("kb.band_key").alias("band_key")
    )


def minhash_base_hashes(toks):
    """32-bit md5 base hash per distinct 3-gram shingle of a token-array
    column, as one stateless per-row expression.  MATERIALIZE this into
    its own column (a separate projection) before feeding it to
    minhash_band_structs: higher-order expressions evaluate interpreted,
    with no common-subexpression elimination — embedding this subtree
    once per seed re-ran the shingle+md5 work 16× (measured 3.2 s →
    0.5 s for the sf0.1 stream half after the split, r8).  The alias is
    safe from CollapseProject re-inlining precisely because the
    downstream projection references it 16 times and it is not cheap."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - 3, F.lit(0)))
    shs = F.array_distinct(F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, 3), " ")))
    return F.transform(shs, lambda sh: F.conv(F.substring(F.md5(sh), 1, 8), 16, 10).cast("long"))


def minhash_band_structs(hs):
    """The SAME band signature as minhash_bands, but as a stateless
    per-row expression — the form a STREAMING pipeline needs (no
    explode+groupBy per doc, so no state).  ``hs`` is the
    PRE-MATERIALIZED base-hash array column (minhash_base_hashes, its
    own projection — see there for why); the 16 array_min minhashes over
    it are cheap affine arithmetic, and the 4 band structs evaluate in
    one projection.  Equivalence with the batch table is asserted in
    tests/test_dedup.py."""
    mhs = [
        F.array_min(F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_MH_PRIME)))
        for (a, b) in _mh_constants()
    ]
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-", *[mhs[b * _BAND_SIZE + i].cast("string") for i in range(_BAND_SIZE)]
                ).alias("band_key"),
            )
            for b in range(_MINHASH_SEEDS // _BAND_SIZE)
        ]
    )


_SQL_SIMHASH = """
toks AS (
  SELECT doc_id, unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS tok
  FROM documents
),
bits AS (
  SELECT doc_id, b.b AS b,
         CASE WHEN (CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) >> b.b) & 1 = 1
              THEN 1 ELSE -1 END AS contrib
  FROM toks, (SELECT unnest(range(32)) AS b) b
),
perbit AS (
  SELECT doc_id, b, CASE WHEN sum(contrib) > 0 THEN 1 ELSE 0 END AS bit
  FROM bits GROUP BY doc_id, b
),
fp AS (
  SELECT doc_id, CAST(sum(bit * (1 << b)) AS BIGINT) AS simhash
  FROM perbit GROUP BY doc_id
)"""


@register(
    "q_dedup_simhash",
    oracle="WITH " + _SQL_SIMHASH + "\nSELECT doc_id, simhash FROM fp",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from md5 token hashes: per-bit majority
    vote over the token set, assembled back into one integer.  Candidate
    pairing over the fingerprints is q_dedup_simhash_pairs."""
    return simhash_fingerprints(load(spark, sf_dir, "documents"))


def simhash_fingerprints(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) over any (doc_id, text) frame."""
    toks = d.repartition(d.sparkSession.sparkContext.defaultParallelism, "doc_id").select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(F.split("text", " "), lambda t: t != ""))
        ).alias("tok"),
    )
    hashed = toks.select(
        "doc_id", F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h")
    )
    # single-pass: 32 per-bit majority sums as columns of one hash-agg
    # (no 32× bit explode — |tokens| rows in, |docs| rows out, one shuffle)
    bit_sums = [
        F.sum(F.when(F.expr(f"(h >> {b}) & 1") == 1, 1).otherwise(-1)).alias(f"s{b}")
        for b in range(32)
    ]
    perdoc = hashed.groupBy("doc_id").agg(*bit_sums)
    simhash = sum(
        [F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(0) for b in range(1, 32)],
        F.when(F.col("s0") > 0, F.lit(1)).otherwise(0),
    )
    return perdoc.select("doc_id", simhash.cast("long").alias("simhash"))


_SIMHASH_HAM_MAX = 3  # Hamming radius (Manku et al.'s k=3 convention)
_SIMHASH_BLOCKS = 4  # 4 byte-blocks of the 32-bit fingerprint


_SQL_SIMHASH_PAIRS = (
    "WITH "
    + _SQL_SIMHASH
    + f""",
k AS (
  SELECT doc_id, simhash, b.b AS blk, (simhash >> (8 * b.b)) & 255 AS key
  FROM fp, (SELECT unnest(range({_SIMHASH_BLOCKS})) AS b) b
),
cand AS (
  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
         a.simhash AS ha, b.simhash AS hb
  FROM k a JOIN k b ON a.blk = b.blk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT da, db, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {_SIMHASH_HAM_MAX}
"""
)


@register("q_dedup_simhash_pairs", oracle=_SQL_SIMHASH_PAIRS)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (closes the fingerprint→candidates gap):
    all doc pairs within Hamming distance 3 of each other's 32-bit
    SimHash, found without an all-pairs join via Manku et al.'s
    pigeonhole blocking ("Detecting Near-Duplicates for Web Crawling",
    WWW 2007): split the fingerprint into 4 byte-blocks — any pair
    differing in ≤3 bits leaves at least one block UNTOUCHED, so the
    equi-join on (block idx, block value) has exact recall at radius 3;
    candidates then pay one cheap bit_count(xor) verify.

    Scale shape: the index is 4 rows/doc keyed by a byte value; the
    self-join is an equi-join (never O(n²)).  The pigeonhole index is
    deliberately NOT width-capped: _split_hot_buckets would silently
    drop true ≤3-bit pairs the moment a (blk, key) bucket exceeds the
    cap — and with only 4×256 buckets that happens at ~cap·256 docs —
    breaking both the exactness guarantee and oracle equality (r6
    ADVICE).  The scale answer is a WIDER key space, not a lossy cap:
    q_dedup_simhash_c6 indexes the same fingerprints under 20
    three-block combinations with 15-17-bit keys (buckets ~256× narrower
    at equal corpus size), provably emits the identical pair set, and is
    checked against the same oracle.  Fully oracle-checked
    (bit_count/xor exist in both engines)."""
    return simhash_pairs(load(spark, sf_dir, "documents"))


def _is_first_block(x, blk, masks: list[int]):
    """True iff ``blk`` is the FIRST index whose mask is untouched by the
    fingerprint XOR ``x`` — i.e. no earlier mask j has (x & m_j) == 0.
    Shape matters at 1e9-candidate volume: a bitmap of untouched masks
    (Σ_j 2^j·[x & m_j == 0], ~20 flat integer terms evaluated once per
    row) tested against 2^blk − 1.  Measured on the 100x growth probe's
    1.4e9-row candidate stream (c6 leg wall): this form 17 s; an array
    transform (per-row 20-slot allocation + lambda scan) 132 s; a
    per-branch when-chain 703 s — its O(B²)-node CASE blows past the
    codegen method limit and drops the predicate to interpreted
    evaluation."""
    untouched = None
    for j, m in enumerate(masks):
        term = (x.bitwiseAND(F.lit(m)) == 0).cast("int") * F.lit(1 << j)
        untouched = term if untouched is None else (untouched + term)
    # 2^blk − 1 via a constant-folded lookup (shiftleft needs a literal
    # bit count in the Python API)
    below = F.element_at(F.array(*[F.lit((1 << i) - 1) for i in range(len(masks))]), blk + 1)
    return untouched.bitwiseAND(below) == 0


def simhash_pairs(d: DataFrame, blocks: int = _SIMHASH_BLOCKS) -> DataFrame:
    """All doc pairs within Hamming ≤ _SIMHASH_HAM_MAX of each other's
    32-bit SimHash, via pigeonhole equi-join blocking (Manku et al.).

    ``blocks`` selects the index layout — both layouts emit the SAME
    pair set (exact recall at the radius), they differ only in bucket
    granularity:

    - ``4``  (default): 4 single-byte blocks; any pair differing in ≤3
      bits leaves ≥1 byte untouched → join on (blk, key), 4 index
      rows/doc, 4×256 buckets.  Right for corpora ≪ 256·cap docs.
    - ``6``: 6 blocks (bit widths 6,6,5,5,5,5); ≤3 flipped bits touch
      ≤3 blocks, so ≥3 blocks are untouched and at least one of the
      C(6,3)=20 three-block combinations is FULLY untouched → join on
      (combo id, concatenated 3-block key).  20 index rows/doc, 20×2^15..17
      buckets — per-bucket width shrinks ~256× vs the byte layout, which
      is the 100 TB posture (bucket width grows as corpus/2^16 instead
      of corpus/256) without giving up exact recall."""
    fps = simhash_fingerprints(d).localCheckpoint(eager=True)
    if blocks == _SIMHASH_BLOCKS:
        key_structs = [
            F.struct(
                F.lit(b).alias("blk"),
                F.shiftright("simhash", 8 * b).bitwiseAND(F.lit(255)).alias("key"),
            )
            for b in range(_SIMHASH_BLOCKS)
        ]
        block_masks = [255 << (8 * b) for b in range(_SIMHASH_BLOCKS)]
    elif blocks == 6:
        from itertools import combinations

        widths = [6, 6, 5, 5, 5, 5]  # Σ = 32
        offs = [sum(widths[:x]) for x in range(6)]

        def block_val(x: int):
            return F.shiftright("simhash", offs[x]).bitwiseAND(F.lit((1 << widths[x]) - 1))

        key_structs = []
        block_masks = []
        for cid, combo in enumerate(combinations(range(6), 3)):
            # concatenate the 3 block values into one ≤17-bit key
            key = F.lit(0)
            shift = 0
            for x in combo:
                key = key + F.shiftleft(block_val(x), shift)
                shift += widths[x]
            key_structs.append(F.struct(F.lit(cid).alias("blk"), key.alias("key")))
            block_masks.append(
                sum(((1 << widths[x]) - 1) << offs[x] for x in combo)
            )
    else:
        raise ValueError(f"unsupported simhash block layout {blocks!r} (4 or 6)")
    k = fps.select("doc_id", "simhash", F.explode(F.array(*key_structs)).alias("kb")).select(
        "doc_id", "simhash", F.col("kb.blk").alias("blk"), F.col("kb.key").alias("key")
    )
    a, b = k.alias("a"), k.alias("b")
    # A qualifying pair matches in EVERY fully-untouched block/combo (up
    # to 4 resp. C(6,3)=20 of them — near-identical fingerprints match in
    # all), so the naive join emits it that many times and a distinct
    # must exchange the whole duplicated candidate set (SCALING.md
    # "simhash c6 banding": the pre-distinct exchange at 100x was
    # ~10 GB for a 202M-row final pair set).  Instead, emit each pair
    # ONLY from its FIRST matching block — blk == position of the first
    # block mask untouched by ha XOR hb, a per-row integer test in the
    # join stage — which makes the emitted set duplicate-free by
    # construction: the distinct (and its corpus-scale exchange) is gone,
    # and the Hamming radius filter runs in the same stage.
    x = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ham = F.bit_count(x)
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where((ham <= _SIMHASH_HAM_MAX) & _is_first_block(x, F.col("a.blk"), block_masks))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            ham.cast("long").alias("hamming"),
        )
    )


# Same oracle as q_dedup_simhash_pairs: exact recall at the radius means
# the 6-block combination index provably emits the IDENTICAL pair set —
# the layouts differ only in bucket granularity.
@register("q_dedup_simhash_c6", oracle=_SQL_SIMHASH_PAIRS)
def q_dedup_simhash_c6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_simhash_pairs on the 6-block/20-combination pigeonhole
    index (15-17-bit keys) — the wide-key-space layout that keeps exact
    recall at Hamming ≤3 while holding bucket width to corpus/2^16
    (vs corpus/256 for the byte layout): the 100 TB posture for SimHash
    candidate generation, per Manku et al.'s multi-block scheme
    ("Detecting Near-Duplicates for Web Crawling", WWW 2007, §3).
    Checked against the SAME oracle as the 4-block form — identical
    output is the exactness guarantee made testable."""
    return simhash_pairs(load(spark, sf_dir, "documents"), blocks=6)


@register(
    "q_fuzzy_match",
    oracle="""
WITH names AS (
  SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS keeper_key
  FROM part GROUP BY p_name
),
w AS (
  SELECT p_name, unnest(list_distinct(string_split(p_name, ' '))) AS word
  FROM names
),
cand AS (
  SELECT DISTINCT a.p_name AS na, b.p_name AS nb
  FROM w a JOIN w b ON a.word = b.word AND a.p_name <> b.p_name
),
scored AS (
  SELECT na, nb, levenshtein(na, nb) AS d FROM cand WHERE levenshtein(na, nb) <= 2
)
SELECT s.na AS p_name, s.nb AS match_name, CAST(s.d AS BIGINT) AS dist,
       k.keeper_key AS match_keeper
FROM (
  SELECT na, nb, d, row_number() OVER (PARTITION BY na ORDER BY d, nb) AS rk
  FROM scored
) s JOIN names k ON k.p_name = s.nb
WHERE s.rk = 1
""",
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record linkage, canonicalize-first: collapse parts to their
    DISTINCT names (each with a keeper key), block candidate name pairs
    by shared word (equi-join inverted index), verify with levenshtein,
    and keep each name's nearest other name within edit distance 2
    (deterministic (dist, name) tie-break).

    The canonicalize-first step IS the scale lesson: p_name draws from a
    tiny pool (64 distinct names across 20k parts at sf0.1), so row-
    level shared-word blocking explodes into 94M candidate pairs of
    which all but ~4k are byte-identical string comparisons — linking at
    the distinct-value level does the same work on |V| rows (one hash
    agg to get there) and joins keepers back.  The same shape holds for
    any low-cardinality attribute linkage at 100 TB; high-cardinality
    names keep the word index, which is hot-bucket-capped like the
    shingle index (see fuzzy_match_names; SCALING.md "high-cardinality
    fuzzy linkage" probes it at 10k distinct names).  Levenshtein is
    integer-exact in both engines → fully oracle-checked."""
    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    names = part.groupBy("p_name").agg(F.min("p_partkey").cast("long").alias("keeper_key"))
    return fuzzy_match_names(names)


def fuzzy_match_names(names: DataFrame, bucket_cap: int | None = None) -> DataFrame:
    """q_fuzzy_match's linkage over an arbitrary ``(p_name, keeper_key)``
    frame of DISTINCT names: shared-word inverted-index blocking →
    levenshtein ≤2 verify → per-name best match (deterministic
    (dist, name) tie-break).

    ``bucket_cap`` bounds the word-posting width (the _lsh_bucket_cap
    guard): with high-cardinality names a stop-word shared by millions
    of names would turn the word self-join quadratic — over-cap word
    buckets split into sub-buckets by a secondary name hash, keeping
    only intra-sub candidates.  The honest loss class (r7 ADVICE): any
    pair whose EVERY shared word is over-cap and whose secondary hashes
    straddle a sub-bucket.  Usually those are stop-word-only collisions
    the levenshtein ≤2 verify would reject anyway, but a TRUE edit-close
    pair is lost if its only shared word is hot (e.g. "brand u1" vs
    "brand u2" when 'brand' is corpus-wide and u-words are unique) —
    a real recall loss above the cap, unlike ngram_jaccard_pairs'
    drop-hot-then-correct policy, whose only loss is pure-boilerplate
    pairs.  (The asymmetry is inherent: jaccard can ADD BACK a dropped
    shingle's contribution arithmetically; a blocking index has nothing
    to add back — a pair not co-bucketed is never scored.)  Below the
    cap (every fixture) the plan is untouched and oracle-exact."""
    cap = _lsh_bucket_cap() if bucket_cap is None else bucket_cap
    cand = fuzzy_candidates(names, cap)
    scored = cand.select("na", "nb", F.levenshtein("na", "nb").alias("d")).where(F.col("d") <= 2)
    rk = F.row_number().over(Window.partitionBy("na").orderBy("d", "nb"))
    best = scored.withColumn("rk", rk).where(F.col("rk") == 1)
    keepers = names.select(F.col("p_name").alias("nb"), "keeper_key")
    return best.join(keepers, "nb").select(
        F.col("na").alias("p_name"),
        F.col("nb").alias("match_name"),
        F.col("d").cast("long").alias("dist"),
        F.col("keeper_key").alias("match_keeper"),
    )


def fuzzy_candidates(names: DataFrame, cap: int) -> DataFrame:
    """(na, nb) candidate name pairs from the width-capped shared-word
    inverted index — the stage whose row count the SCALING.md
    high-cardinality probe measures (kept separate so probe and query
    run the IDENTICAL plan)."""
    w = _split_hot_buckets(
        names.select(
            "p_name", F.explode(F.array_distinct(F.split("p_name", " "))).alias("word")
        ).localCheckpoint(eager=True),
        ["word"],
        "p_name",
        cap,
        memo_src=names,
    )
    a, b = w.alias("a"), w.alias("b")
    return (
        a.join(
            b,
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.p_name") != F.col("b.p_name")),
        )
        .select(F.col("a.p_name").alias("na"), F.col("b.p_name").alias("nb"))
        .distinct()
    )


# round cap of min-label propagation and of the star contraction: LSH
# cliques settle in 2-3 propagation rounds, a chain needs one per hop
_CC_ROUNDS = 50


def connected_components(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """component_labels aggregated to groups: (comp, n_members,
    keeper_id) with keeper = min doc_id per component."""
    labels = component_labels(pairs, a, b)
    return labels.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"), F.min("doc_id").alias("keeper_id")
    )


def component_labels(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Min-label propagation to a fixpoint over an undirected pair list:
    ``graph.relax`` under its ``min_label`` semiring, seeded with every
    endpoint labeled by its own id.  Deterministic; the rounds are bounded
    by the graph diameter, and a graph deeper than ``_CC_ROUNDS`` raises
    instead of returning partial groups (connected_components_star is
    diameter-independent).  Each round works on the candidate graph,
    orders of magnitude smaller than the corpus.  Returns the PER-NODE
    labels (doc_id, comp) — consumed by connected_components' group
    rollup and by q_dedup_keep_best's quality-argmax keeper selection."""
    # checkpointed once: the seed set and the relaxation edges both read it
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = edges.localCheckpoint(eager=True)
    # the distinct rides an explicit clustering, not the session's count
    seeds = (
        symmetric(edges).select(F.col("src").alias("node"))
        .repartition(PARTITIONS, "node")
        .distinct()
    )
    return relax(edges, seeds, "min_label", _CC_ROUNDS).select(
        F.col("node").alias("doc_id"), F.col("v").alias("comp")
    )


def connected_components_star(spark: SparkSession, pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Connected components via alternating large-star/small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log²ish n) rounds regardless of graph diameter, which is
    the 100 TB path where plain min-label propagation pays O(diameter)
    rounds.  Each round is two groupBy-min + join passes over the edge
    list; joins are hinted shuffle_hash so no broadcast-build stack forms
    across rounds (stacked broadcast futures starve the exchange pool:
    identical 4-join plans measured 1 s → 9 s → never returned).
    Returns (comp, n_members, keeper_id),
    identical to connected_components (property-tested equivalent).

    A round whose edge set equals the previous one has formed the stars.
    The test rides the round's checkpoint: a full-outer compare of the
    new edges against the previous set on (u, v), counting the rows one
    side misses.  Both sides are distinct canonical edge sets, so a
    count of 0 holds exactly when the sets are equal (a hash-sum
    signature could collide and stop early with wrong components)."""

    def canon(e: DataFrame) -> DataFrame:
        # canonical (hi, lo) direction, no self-loops, deduped
        return (
            e.select(
                F.greatest(F.col("u"), F.col("v")).alias("u"),
                F.least(F.col("u"), F.col("v")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def large_star(e: DataFrame) -> DataFrame:
        # neighbors in both directions; m(u) = min(N(u) ∪ {u}); connect
        # every STRICTLY LARGER neighbor to m
        nbrs = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return canon(
            nbrs.join(m.hint("shuffle_hash"), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # directed hi→lo; m(u) = min(smaller-neighbors ∪ {u}); connect u
        # and every smaller neighbor to m
        m = e.groupBy("u").agg(F.min("v").alias("m"))  # v < u always ⇒ min ≤ u
        j = e.join(m.hint("shuffle_hash"), "u")
        to_m = j.select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_m = m.select("u", F.col("m").alias("v"))
        return canon(to_m.unionByName(self_m))

    edges = canon(
        pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    ).localCheckpoint(eager=True)

    # The rounds' groupBy, distinct and join exchanges are planned at the
    # session partition count, so the loop pins it.  An explicit
    # repartition before each distinct instead forfeits the partial
    # distinct: 110,488 vs 76,538 B at sf0.1.
    with pinned(spark):
        for _ in range(_CC_ROUNDS):
            new = small_star(large_star(edges)).withColumn("mmbd_new", F.lit(True))
            old = edges.withColumn("mmbd_old", F.lit(True))
            merged, changed = settle(
                new.join(old, ["u", "v"], "full_outer"),
                F.col("mmbd_new").isNull() | F.col("mmbd_old").isNull(),
            )
            edges = merged.where(F.col("mmbd_new")).select("u", "v")
            if not changed:
                break  # edge set stable ⇒ stars formed
        else:
            raise RuntimeError(
                f"connected_components_star did not converge in {_CC_ROUNDS} "
                "rounds; raise _CC_ROUNDS"
            )
    # stars: every edge is (member, root); roots label themselves
    labels = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("comp")).unionByName(
        edges.select(F.col("v").alias("doc_id"), F.col("v").alias("comp"))
    ).distinct()
    return labels.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"), F.min("doc_id").alias("keeper_id")
    )


def _sql_components(pairs_sql: str, a: str, b: str) -> str:
    """DuckDB oracle for connected components over a SQL-expressible pair
    graph: recursive transitive closure (UNION-deduped, so it terminates)
    + min-label per node.  The iterative Spark fixpoints were rows-only
    because SQL can't express a *bounded-round* contraction — but it CAN
    express the closure itself, and at the oracle scales the candidate
    graphs are tiny (≤ thousands of edges), so the |component|²-row reach
    table is cheap.  The closure is an independent algorithm (path
    enumeration vs label propagation / star contraction), which is
    exactly what an oracle should be."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT {a} AS u, {b} AS v FROM pairs
  UNION ALL
  SELECT {b} AS u, {a} AS v FROM pairs
),
reach(n, m) AS (
  SELECT DISTINCT u AS n, u AS m FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
),
lbl AS (SELECT n, min(m) AS comp FROM reach GROUP BY n)
SELECT comp, CAST(count(*) AS BIGINT) AS n_members, min(n) AS keeper_id
FROM lbl GROUP BY comp
"""


@register("q_dedup_components_star", oracle=_sql_components(_SQL_MINHASH_PAIRS, "da", "db"))
def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup groups over the MinHash-LSH candidate graph via
    large-star/small-star contraction — the diameter-independent twin of
    q_dedup_components (same result, O(log n) rounds; see
    connected_components_star)."""
    return connected_components_star(spark, q_dedup_minhash(spark, sf_dir), "da", "db")


@register("q_dedup_components", oracle=_sql_components(_SQL_MINHASH_PAIRS, "da", "db"))
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate graph — the
    step that turns pairwise matches into dedup groups (see
    connected_components for the fixpoint machinery)."""
    return connected_components(q_dedup_minhash(spark, sf_dir), "da", "db")


from .text import _STOPWORDS as _KB_STOPWORDS  # noqa: E402  (shared quality vocabulary)

_SQL_KEEP_BEST = f"""
WITH RECURSIVE pairs AS ({_SQL_MINHASH_PAIRS}),
edges AS (
  SELECT da AS u, db AS v FROM pairs
  UNION ALL
  SELECT db AS u, da AS v FROM pairs
),
reach(n, m) AS (
  SELECT DISTINCT u AS n, u AS m FROM edges
  UNION
  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
),
lbl AS (SELECT n, min(m) AS comp FROM reach GROUP BY n),
q AS (
  SELECT doc_id,
         round(0.4 * least(len(list_filter(string_split(text, ' '), x -> x <> '')) / 100.0, 1.0)
             + 0.3 * (1 - CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT) / greatest(n_chars, 1))
             + 0.3 * (len(list_filter(string_split(text, ' '), x -> x IN {_KB_STOPWORDS!r}))
                      / greatest(len(list_filter(string_split(text, ' '), x -> x <> '')), 1)), 6) AS quality
  FROM documents
),
dl AS (
  SELECT q.doc_id, coalesce(l.comp, q.doc_id) AS comp, q.quality
  FROM q LEFT JOIN lbl l ON q.doc_id = l.n
),
ranked AS (
  SELECT comp, doc_id, quality,
         row_number() OVER (PARTITION BY comp ORDER BY quality DESC, doc_id) AS rn,
         count(*) OVER (PARTITION BY comp) AS n_members
  FROM dl
)
SELECT comp, CAST(n_members AS BIGINT) AS n_members,
       doc_id AS keeper_id, quality AS keeper_quality
FROM ranked WHERE rn = 1
"""


@register("q_dedup_keep_best", oracle=_SQL_KEEP_BEST)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup groups with QUALITY-ARGMAX keeper selection — what a
    production dedup actually ships: q_dedup_components keeps the
    min-id member per group (a positional accident), but a pretraining
    pipeline keeps the BEST member (Lee et al. keep one; CCNet keeps
    by quality bucket).  Composition: MinHash-LSH candidate pairs →
    per-node component labels (component_labels) → EVERY corpus doc
    joined in (singletons form their own group) → per-group argmax of
    the q_quality_score composite, ties broken by lowest doc_id.

    Determinism contract: quality is the 6-dp-rounded portable
    composite (quality_expr_6dp — identical rounding in the oracle),
    so the DESC ranking compares identical decimals in both engines;
    the (quality DESC, doc_id ASC) order is total.  Expressed as one
    min(struct(-quality, doc_id)) agg — map-side combinable, no window
    over the corpus.

    Scale shape: the label fixpoint runs on the CANDIDATE graph
    (orders of magnitude under the corpus); the corpus-sized work is
    one left join against the |V(candidates)|-row label table
    (broadcast at any realistic dup fraction) + one hash agg keyed on
    comp."""
    from .text import quality_expr_6dp

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", quality_expr_6dp().alias("quality")
    )
    labels = component_labels(q_dedup_minhash(spark, sf_dir), "da", "db")
    dl = (
        docs.join(
            F.broadcast(labels.withColumnRenamed("comp", "lcomp")), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce("lcomp", "doc_id").alias("comp"),
            "quality",
        )
    )
    best = dl.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(F.struct((-F.col("quality")).alias("nq"), F.col("doc_id").alias("id"))).alias("m"),
    )
    return best.select(
        "comp",
        "n_members",
        F.col("m.id").alias("keeper_id"),
        (-F.col("m.nq")).alias("keeper_quality"),
    )


# oracle is a CALLABLE only because _SQL_EMB_PAIRS is defined further down
# the module (shared with q_dedup_embedding); it resolves at gate time
@register("q_dedup_semantic_groups", oracle=lambda sf_dir: _sql_components(_SQL_EMB_PAIRS, "va", "vb"))
def q_dedup_semantic_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic dedup: the EXACT cosine-threshold pair graph
    (tiled GEMM join, q_dedup_embedding) collapsed into groups, one
    keeper per group — what a pipeline actually deletes on.  Uses the
    large-star/small-star contraction: threshold graphs form long chains
    (measured ~24 propagation rounds on the fixture; unbounded in
    general), and star contraction is diameter-independent.  The pair
    graph is exact, so group membership is too (no LSH recall caveat)."""
    return connected_components_star(spark, q_dedup_embedding(spark, sf_dir), "va", "vb")


@register("q_dedup_near_ml", oracle=None)  # ml hash family ≠ portable → rows-only
def q_dedup_near_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup via pyspark.ml.feature MinHashLSH (SURVEY.md §2.3): token
    count-vectors → seeded MinHashLSH → approxSimilarityJoin under Jaccard
    distance 0.5.  Deterministic (fixed seed) but the JVM hash family isn't
    reproducible in DuckDB → rows-only; the portable md5 pipeline
    (q_dedup_minhash) is the oracle-checked twin."""
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # vectorize over 3-gram shingles, not unigrams: the fixture docs share
    # one small vocabulary, so unigram Jaccard marks nearly every pair as
    # similar (measured at sf0.1: 3.9M candidate pairs, 380s); shingle
    # overlap is selective — and it matches the md5 twin's granularity
    shingled = _shingle_rows(d).groupBy("doc_id").agg(F.collect_set("sh").alias("shingles"))
    cv = CountVectorizer(inputCol="shingles", outputCol="features", binary=True).fit(shingled)
    # consumed by lsh.fit + BOTH sides of approxSimilarityJoin: materialize
    # once, GC-scoped (localCheckpoint), so the shingle pipeline doesn't run
    # 3× and no cache entry outlives the query in the driver's session
    feats = cv.transform(shingled).select("doc_id", "features").localCheckpoint(eager=True)
    # fixed arbitrary seed: the hash family must be stable run-to-run
    # (rows-only repeatability), any constant works
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=1789)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("da"),
            F.col("datasetB.doc_id").alias("db"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


@register("q_dedup_near", oracle=None)  # approximate LSH → rows-only
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection (SURVEY.md §2.3's q_dedup_near): the
    ml.feature MinHashLSH pipeline — see q_dedup_near_ml; q_dedup_minhash
    is the portable, oracle-checked equivalent."""
    return q_dedup_near_ml(spark, sf_dir)


_SQL_EMB_PAIRS = """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS va, b.vec_id AS vb,
       round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / (a.nrm * b.nrm), 6) AS cos
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / (a.nrm * b.nrm) >= 0.35
"""


@register("q_dedup_embedding", oracle=_SQL_EMB_PAIRS)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all pairs with cosine ≥ 0.35 — EXACT,
    via a 2-D tiled block join (the blocked-matmul shape, not a theta
    self-join).

    Why not LSH-prefilter: the fixture's qualifying pairs sit at cos
    0.35-0.51 (59-69°) over angularly diffuse vectors (label-centroid
    radii ≈85°), so any hyperplane/centroid blocking with guaranteed
    recall at this threshold admits ~all pairs — no asymptotic win.  For
    an exact threshold this low, all-pairs work is information-
    theoretically required; the scale problem is making that work
    *distributed and vectorized*, exactly like dense matmul:

    - rows are hashed into k row-blocks (k = ceil(n / block_rows));
    - the tile grid {(bi, bj) : bi <= bj} is a tiny broadcast;
    - each tile is ONE cogrouped-Arrow task computing a numpy GEMM
      (block × block), emitting only pairs over threshold.

    Plan shape: two broadcast equi-joins + one cogroup shuffle keyed on
    (bi, bj) — no CartesianProduct / BroadcastNestedLoopJoin node, no
    per-row array lambdas.  Work is O(n²·d) flops at GEMM rate spread
    over k(k+1)/2 uniform tasks; shuffle volume O(n·k) = O(n²/B).  The
    *approximate* scale path (recall < 1, candidates only) is q_ann_lsh.
    Tune MMBD_EMB_BLOCK_ROWS so a tile (2·B·d doubles + B² scores) fits
    executor memory.

    Oracle knife-edge assumption: the Spark side scores via normalized
    float64 numpy GEMM, the DuckDB oracle via sequential float64
    list_dot_product — different fold orders, so a pair whose cosine sits
    within float64 accumulation error (~d·eps ≈ 1e-13 for these dims) of
    the 0.35 threshold could be admitted by one side and rejected by the
    other.  The fixtures' nearest pair-to-threshold gap is ≥1e-6 at every
    SF (measured 2.9e-5 at the gate's sf0.01), 7+ orders of magnitude
    above that error — asserted by tests/test_dedup.py::
    test_embedding_fixture_threshold_margin so a regenerated fixture
    can't silently land on the boundary."""
    return tiled_cosine_pairs(
        spark, lambda: load(spark, sf_dir, "embeddings"), threshold=0.35
    )


def tiled_cosine_pairs(
    spark: SparkSession,
    make_vectors,
    threshold: float,
    block_rows: int | None = None,
) -> DataFrame:
    """Exact cosine-threshold pair join as a 2-D tiled block join.

    ``make_vectors`` is a zero-arg factory returning the (vec_id,
    embedding) DataFrame — called once per cogroup side, because the two
    sides need independent lineage (cogroup rejects ambiguous self-join
    attribute refs).  See q_dedup_embedding for the full scale rationale."""
    import math
    import os

    import numpy as np
    import pandas as pd

    n_rows = make_vectors().count()  # one metadata-cheap action to size the grid
    if block_rows is None:
        block_rows = int(os.environ.get("MMBD_EMB_BLOCK_ROWS", "4096"))
    k = max(1, math.ceil(n_rows / block_rows))

    def side(join_key: str):
        base = make_vectors().select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
            F.pmod(F.hash("vec_id"), F.lit(k)).alias("blk"),
        )
        # tile grid from ONE range (bi = id div k, bj = id mod k): pure
        # projection, so the whole plan stays free of nested-loop joins
        grid = (
            spark.range(k * k)
            .select((F.col("id") / k).cast("long").alias("bi"), F.pmod("id", F.lit(k)).alias("bj"))
            .where(F.col("bi") <= F.col("bj"))
        )
        return base.join(F.broadcast(grid), base.blk == grid[join_key]).select(
            "bi", "bj", "vec_id", "emb"
        )

    def tile(key, la: pd.DataFrame, rb: pd.DataFrame) -> pd.DataFrame:
        bi, bj = key
        if la.empty or rb.empty:
            return pd.DataFrame({"va": [], "vb": [], "cos": []}).astype(
                {"va": "int64", "vb": "int64", "cos": "float64"}
            )
        A = np.stack(la["emb"].to_numpy())
        Bm = np.stack(rb["emb"].to_numpy())
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
        G = A @ Bm.T  # (|bi|, |bj|) cosine tile — one GEMM per task
        ia, jb = np.nonzero(G >= threshold)
        va = la["vec_id"].to_numpy()[ia]
        vb = rb["vec_id"].to_numpy()[jb]
        cos = G[ia, jb]
        if bi == bj:  # diagonal tile: keep strict upper triangle
            keep = va < vb
        else:  # off-diagonal: every cross pair once; normalize order
            keep = va != vb
            va, vb = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame(
            {"va": va[keep], "vb": vb[keep], "cos": np.round(cos[keep], 6)}
        )

    return (
        side("bi")
        .groupBy("bi", "bj")
        .cogroup(side("bj").groupBy("bi", "bj"))
        .applyInPandas(tile, schema="va long, vb long, cos double")
    )


_LEV_MAX = 4


@register(
    "q_levenshtein_pairs",
    oracle=f"""
WITH names AS (
  SELECT p_name, min(p_partkey) AS keeper
  FROM part GROUP BY p_name
),
blocked AS (
  SELECT p_name, keeper,
         string_split(p_name, ' ')[len(string_split(p_name, ' '))] AS block
  FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(a.keeper AS BIGINT) AS key_a, CAST(b.keeper AS BIGINT) AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_LEV_MAX}
""",
)
def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage with BLOCKING: distinct part names
    pair only within their head-noun block (the last name token), and
    survive at Levenshtein distance <= {m} — the bounded fuzzy-match
    primitive (q_fuzzy_match's canonicalize-first discipline, with an
    edit-distance verifier instead of exact equality).  The blocking
    key is what makes this 100 TB-shaped: the quadratic verifier runs
    only inside name-noun buckets (bounded by the adjective
    vocabulary), never across the corpus, and the pair join is a plain
    equi-join on the block with the edit distance as a residual.
    Canonicalize-first keeps the pair space over DISTINCT names (the
    catalog's true size), each carrying its min-key keeper.  Integer
    distances, lexicographic a < b dedup — no FP anywhere.""".replace(
        "{m}", str(_LEV_MAX)
    )
    p = load(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(F.min("p_partkey").alias("keeper"))
    blocked = names.select(
        "p_name",
        "keeper",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    ).localCheckpoint(eager=True)  # tiny distinct-name table; feeds both join sides
    a = blocked.select(
        F.col("p_name").alias("name_a"), F.col("keeper").alias("key_a"), "block"
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"), F.col("keeper").alias("key_b"), F.col("block").alias("block_b")
    )
    return (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("name_a") < F.col("name_b")))
        .where(F.levenshtein("name_a", "name_b") <= _LEV_MAX)
        .select(
            "name_a",
            "name_b",
            F.col("key_a").cast("long"),
            F.col("key_b").cast("long"),
            F.levenshtein("name_a", "name_b").cast("long").alias("dist"),
        )
    )

"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All hot-path expressions are pure Catalyst (``pyspark.sql.functions`` —
JVM-side, whole-stage codegen); nothing here crosses into Python at
runtime. These go beyond the reference (a per-document validator) as the
engine-level operators the north rule's pipeline context requires.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Token counting
# ---------------------------------------------------------------------------

#: BPE-ish token pattern: word pieces OR single non-space punctuation.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def whitespace_token_count(col: Column | str) -> Column:
    """Number of whitespace-separated tokens."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(col: Column | str) -> Column:
    """Approximate subword token count: alpha runs + digit runs + each
    punctuation char — a cheap, deterministic proxy for BPE vocab size
    estimation at corpus scale."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.regexp_count(c, F.lit(TOKEN_PATTERN)), F.lit(0))


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS_EN = (
    "the", "of", "and", "to", "in", "a", "is", "that", "it", "for",
    "was", "on", "are", "with", "as", "be", "this", "at", "by",
)


def quality_features(col: Column | str) -> Column:
    """struct(n_chars, n_tokens, alpha_ratio, punct_ratio, digit_ratio,
    stopword_ratio, avg_token_len, uppercase_ratio) — the classic cheap
    quality signals (C4/Gopher-style heuristics) as one projection.

    ASCII-centric on purpose: ``[A-Za-z]`` / Java's ASCII word class
    (backslash-w without UNICODE_CHARACTER_CLASS) mean
    accented letters (é, ü, ñ) count as neither alpha nor word chars,
    so non-English prose in the languages lang_id supports is penalized
    by alpha_ratio and punct_ratio. Kept as-is because the DuckDB
    oracle twins (RE2) share exactly these ASCII classes — a
    Unicode-aware fix must change BOTH engines in lockstep (and the
    score recalibration that follows), not just this one."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    safe = F.greatest(n_chars, F.lit(1.0))
    n_alpha = F.coalesce(F.regexp_count(c, F.lit(r"[A-Za-z]")), F.lit(0))
    n_punct = F.coalesce(
        F.regexp_count(c, F.lit(r"[^\w\s]")), F.lit(0)
    )
    n_digit = F.coalesce(F.regexp_count(c, F.lit(r"[0-9]")), F.lit(0))
    n_upper = F.coalesce(F.regexp_count(c, F.lit(r"[A-Z]")), F.lit(0))
    n_tokens = whitespace_token_count(c).cast("double")
    safe_tokens = F.greatest(n_tokens, F.lit(1.0))
    stopword_pattern = r"(?i)\b(" + "|".join(_STOPWORDS_EN) + r")\b"
    n_stop = F.coalesce(
        F.regexp_count(c, F.lit(stopword_pattern)), F.lit(0)
    )
    return F.struct(
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        (n_alpha / safe).alias("alpha_ratio"),
        (n_punct / safe).alias("punct_ratio"),
        (n_digit / safe).alias("digit_ratio"),
        (n_stop / safe_tokens).alias("stopword_ratio"),
        (n_chars / safe_tokens).alias("avg_token_len"),
        (n_upper / F.greatest(n_alpha.cast("double"), F.lit(1.0)))
        .alias("uppercase_ratio"),
    )


def quality_score(col: Column | str) -> Column:
    """Scalar [0,1] quality score from :func:`quality_features` — a
    monotone blend tuned so clean prose scores high and
    punctuation/digit soup scores low."""
    c = F.col(col) if isinstance(col, str) else col
    f = quality_features(c)
    length_ok = F.least(f["n_tokens"].cast("double") / F.lit(20.0), F.lit(1.0))
    alpha = f["alpha_ratio"]
    not_punct = F.lit(1.0) - F.least(f["punct_ratio"] * 4, F.lit(1.0))
    not_digit = F.lit(1.0) - F.least(f["digit_ratio"] * 4, F.lit(1.0))
    stop = F.least(f["stopword_ratio"] * 3, F.lit(1.0))
    score = (
        length_ok * 0.2 + alpha * 0.3 + not_punct * 0.2
        + not_digit * 0.15 + stop * 0.15
    )
    # NULL text scores NULL, not 0.55: F.least SKIPS nulls, so the null
    # n_tokens ratio would silently take full length credit and a null
    # document would outscore an empty one (0.35) — let callers decide
    # what a missing document means instead of laundering it to "fair"
    return F.when(c.isNotNull(), F.round(score, 6))


# ---------------------------------------------------------------------------
# Language ID (n-gram / stopword heuristic)
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "that", "with", "this", "have"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "pour"),
    "es": ("el", "los", "las", "una", "por", "con", "para", "este"),
    "it": ("il", "che", "di", "della", "per", "con", "sono", "una"),
}


def lang_scores(col: Column | str) -> Column:
    """struct(<lang>: double …) — per-language marker-word hit rate."""
    c = F.col(col) if isinstance(col, str) else col
    n_tokens = F.greatest(
        whitespace_token_count(c).cast("double"), F.lit(1.0)
    )
    scores = []
    for lang, words in _LANG_MARKERS.items():
        pat = r"(?i)\b(" + "|".join(words) + r")\b"
        hits = F.coalesce(F.regexp_count(c, F.lit(pat)), F.lit(0))
        scores.append((hits / n_tokens).alias(lang))
    return F.struct(*scores)


def lang_id(col: Column | str) -> Column:
    """Best-scoring language code, or 'und' when nothing scores at
    least 0.01. Pure Catalyst argmax via a when-chain."""
    s = lang_scores(col)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[s[l] for l in langs])
    expr = F.lit("und")
    # reversed so earlier languages win ties (stable priority order)
    for lang in reversed(langs):
        expr = F.when(
            (s[lang] >= F.lit(0.01)) & (s[lang] == best), F.lit(lang)
        ).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# Fingerprinting
# ---------------------------------------------------------------------------

def normalized_text(col: Column | str) -> Column:
    """Canonical form for exact-dup detection: lowercase, punctuation
    stripped, whitespace collapsed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), r"[^\w\s]", ""),
            r"\s+",
            " ",
        )
    )


def doc_fingerprint(col: Column | str) -> Column:
    """64-bit content fingerprint over the normalized text (xxhash64 —
    a rolling-hash-class digest computed JVM-side)."""
    return F.xxhash64(normalized_text(col))


def _hash15(x: Column) -> Column:
    """int64 hash = first 15 hex chars of md5 — DuckDB computes the
    identical value (strpos hex-parse), so everything built on it is
    oracle-checkable in SQL. 15 chars (60 bits) keeps the conv→long
    cast exact (16 would overflow int64)."""
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("long")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    *,
    k: int = 8,
    window: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS rolling-hash scheme): hash every k-char gram
    of the normalized text, slide a window of ``window`` hashes, keep
    the minimum of each window, dedupe. Unlike the whole-document
    :func:`doc_fingerprint`, shared fingerprints survive partial edits,
    so joining on exploded fingerprints finds documents with COPIED
    PASSAGES, not just exact clones.

    All Catalyst (transform/slice/array_min over materialized columns —
    the k-gram hash array is a column so the window lambda never
    re-evaluates the tokenizer; round-2 CSE lesson). Cost per doc is
    O(len·window) element ops JVM-side; ``window`` is the selectivity
    knob (larger → fewer fingerprints, lower recall on short overlaps).

    Documents shorter than ``k`` (after normalization) get an empty
    fingerprint list; shorter than one window, the single minimum."""
    n_grams = F.greatest(
        F.length(F.col("_w_norm")) - F.lit(k - 1), F.lit(0)
    )
    out = (
        df
        .withColumn("_w_norm", normalized_text(text_col))
        .withColumn(
            "_w_kh",
            F.when(n_grams > 0, F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: _hash15(F.col("_w_norm").substr(i, F.lit(k))),
            )).otherwise(F.array().cast("array<long>")),
        )
    )
    n_h = F.size(F.col("_w_kh"))
    windows = F.transform(
        F.sequence(F.lit(1), n_h - F.lit(window - 1)),
        lambda j: F.array_min(F.slice(F.col("_w_kh"), j, window)),
    )
    fps = (
        F.when(n_h >= window, F.array_distinct(windows))
        .when(n_h > 0, F.array(F.array_min(F.col("_w_kh"))))
        .otherwise(F.array().cast("array<long>"))
    )
    return out.withColumn(out_col, fps).drop("_w_norm", "_w_kh")


def shared_passage_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 8,
    window: int = 4,
    min_shared: int = 2,
    max_fp_group: int | None = 500,
) -> DataFrame:
    """(id_a, id_b, n_shared) for documents sharing ≥ ``min_shared``
    winnowing fingerprints — copied-passage discovery. Shuffle carries
    only (fingerprint, id) pairs. A degenerate fingerprint (boilerplate
    shared by a huge share of the corpus) would cost |group|² in the
    self-join, so fingerprints carried by more than ``max_fp_group``
    documents are DROPPED before joining (same mitigation as the
    MinHash bucket cap: a passage that common is template noise, not
    plagiarism signal). ``None`` disables the cap.

    PRECONDITION: ``id_col`` is unique per row (true of the documents
    table; NOT of the generated interleaved table, whose doc_ids plant
    duplicates — CLAUDE.md). Duplicate ids would multiply-count a
    single shared fingerprint across their physical rows (inflating
    ``n_shared`` past ``min_shared``) and same-id pairs are dropped by
    the ``a.id < b.id`` predicate; deduplicate or re-key first."""
    # explode_OUTER, then drop the null rows: a plain explode makes the
    # optimizer infer `size(fingerprints) > 0` and predicate pushdown
    # re-expands the whole fingerprint HOF tree into that Filter
    # (CLAUDE.md trap) — the filter then re-runs the O(len·window)
    # chain per row with the k-gram array re-inlined per window
    # position, i.e. O(len²) regex+md5 evals per document. The
    # post-Generate isNotNull filter cannot be pushed below the
    # Generate, so the fingerprint projection evaluates exactly once.
    from ..sources.layout import spread_for_compute
    from .dedup import _key_pairs

    # the per-doc md5 k-gram chain is the map-side cost; one small
    # input file would serialize it on a single task (no-op at scale)
    fps = winnow_fingerprints(
        spread_for_compute(df), text_col, k=k, window=window
    ).select(
        F.col(id_col), F.explode_outer("fingerprints").alias("fp")
    ).where(F.col("fp").isNotNull())
    return (
        _key_pairs(fps, id_col, ["fp"], max_fp_group)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def repetition_features(col: Column | str) -> Column:
    """struct(n_words, distinct_ratio, top_word_share, dup_bigram_ratio)
    — Gopher-style within-document repetition signals (templated or
    looping text scores low distinct ratios / high top-word share).

    All row-local Catalyst. ``top_word_share`` (the most frequent
    word's share) is computed as the longest equal-run over the SORTED
    word array via a sequential fold — O(n log n) per row, not the
    O(n^2) count-per-distinct-word formulation.
    """
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(F.trim(c), r"\s+")

    # bind the split ONCE: the features below reference the word array
    # ~6 times, and CSE does not dedupe across HOF lambdas (CLAUDE.md),
    # so inlining `words` everywhere re-runs the regex split per
    # reference. A transform over a 1-element array binds the computed
    # array to a lambda variable — every reference inside is a cheap
    # bound-value read (the same trick winnow_fingerprints does with a
    # materialized column, shaped for an expression-returning API).
    def _feats(ws: Column) -> Column:
        n = F.when(
            F.length(F.trim(c)) == 0, F.lit(0)
        ).otherwise(F.size(ws))
        safe_n = F.greatest(n, F.lit(1)).cast("double")
        distinct_ratio = F.size(F.array_distinct(ws)) / safe_n

        init = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        )

        def step(acc: Column, w: Column) -> Column:
            run = F.when(
                acc["prev"] == w, acc["run"] + 1
            ).otherwise(F.lit(1))
            return F.struct(
                w.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
            )

        top_count = F.aggregate(
            F.array_sort(ws), init, step, lambda acc: acc["best"]
        )
        bigrams = F.zip_with(
            F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))),
            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        n_bi = F.size(bigrams)
        dup_bigram_ratio = F.when(n_bi > 0,
            1.0 - F.size(F.array_distinct(bigrams))
            / n_bi.cast("double")
        ).otherwise(F.lit(0.0))
        zero = n == 0
        return F.struct(
            n.alias("n_words"),
            F.when(zero, 0.0).otherwise(distinct_ratio)
            .alias("distinct_ratio"),
            F.when(zero, 0.0).otherwise(top_count / safe_n)
            .alias("top_word_share"),
            dup_bigram_ratio.alias("dup_bigram_ratio"),
        )

    return F.try_element_at(F.transform(F.array(words), _feats), F.lit(1))


def char_entropy(col: Column | str) -> Column:
    """Shannon entropy (nats) of the document's character distribution
    — low entropy flags repetitive/boilerplate text (CCNet-style
    filter signal). Exact and row-local: fold over the SORTED char
    array accumulating ``sum(run * ln(run))`` per equal-run, then
    ``H = ln(n) - sum / n``. O(n log n) per row, pure Catalyst.
    """
    c = F.col(col) if isinstance(col, str) else col
    # Codepoint-aware split: Java Pattern's `.` matches one CODE POINT
    # (surrogate pairs stay whole), matching DuckDB's str_split(x, '')
    # and Spark's own length() (both codepoint counts). A lookahead
    # split `(?!^)` would cut astral chars into two UTF-16 surrogate
    # halves and diverge on emoji/rare-CJK text (r3 ADVICE).
    chars = F.regexp_extract_all(c, F.lit(r"(?s)."), 0)
    n = F.length(c)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0.0).alias("run"),
        F.lit(0.0).alias("s"),
    )

    def step(acc: Column, ch: Column) -> Column:
        same = acc["prev"] == ch
        closed = F.when(
            same | (acc["run"] == 0.0), acc["s"]
        ).otherwise(acc["s"] + acc["run"] * F.log(acc["run"]))
        run = F.when(same, acc["run"] + 1.0).otherwise(F.lit(1.0))
        return F.struct(
            ch.alias("prev"), run.alias("run"), closed.alias("s")
        )

    def finish(acc: Column) -> Column:
        return F.when(
            acc["run"] > 0.0, acc["s"] + acc["run"] * F.log(acc["run"])
        ).otherwise(acc["s"])

    total = F.aggregate(F.array_sort(chars), init, step, finish)
    return F.when(
        n > 0, F.log(n.cast("double")) - total / n.cast("double")
    ).otherwise(F.lit(0.0))


def tfidf_top_terms(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 5,
    min_term_len: int = 3,
) -> DataFrame:
    """Top-``k`` terms per group by TF-IDF: (group, term, tf, df_docs,
    tfidf) — corpus-level vocabulary characterization (e.g. per-language
    signature terms for a training mix report).

    Terms are lowercase alpha runs of length >= ``min_term_len``;
    ``tfidf = tf * ln((N_docs + 1) / (df_docs + 1))`` with N the corpus
    document count, rounded to 5 places (ranking uses the rounded value
    so cross-engine float noise cannot reorder near-ties).

    Scale shape: the token explosion never leaves the map side — the
    ``groupBy(group, term)`` partial aggregation collapses duplicates
    per partition before its (small, per-term) shuffle; the corpus doc
    count joins in as a broadcast single row; the final top-k window
    shuffles only the aggregated term table on ``group``.
    """
    terms = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("_id"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit("[a-z]+"), 0
            )
        ).alias("term"),
    ).where(F.length("term") >= min_term_len)
    freqs = terms.groupBy("grp", "term").agg(
        F.count(F.lit(1)).alias("tf"),
        F.count_distinct("_id").alias("df_docs"),
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("_n"))
    scored = freqs.join(F.broadcast(n_docs)).select(
        "grp", "term", "tf", "df_docs",
        F.round(
            F.col("tf")
            * F.log((F.col("_n") + 1.0) / (F.col("df_docs") + 1.0)),
            5,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            F.col("grp").alias(group_col), "term", "tf", "df_docs", "tfidf"
        )
    )


def with_text_analysis(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Convenience: df + (quality struct, quality_score, lang, n_tokens,
    n_bpe_tokens, fingerprint) in one projection."""
    return df.select(
        "*",
        quality_features(text_col).alias("quality"),
        quality_score(text_col).alias("quality_score"),
        lang_id(text_col).alias("lang_pred"),
        whitespace_token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        doc_fingerprint(text_col).alias("fingerprint"),
    )

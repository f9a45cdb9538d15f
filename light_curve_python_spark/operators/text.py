"""Text analysis operators (training-data pipeline primitives).

All JVM-side (split/regexp/aggregate HOFs) — no Python in the hot path.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["with_word_tokens", "text_quality", "language_id",
           "token_count_bpe_ish", "rolling_fingerprint", "quality_filter",
           "word_ngrams", "word_bigrams", "pii_scrub", "repetition_signals"]

# PII patterns restricted to the regex subset Java regex and RE2 share
# (no backreferences / lookaround), so the DuckDB oracle twin runs the
# IDENTICAL expressions
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
              "<EMAIL>"),
    "phone": (r"\+?[0-9][0-9() -]{7,}[0-9]", "<PHONE>"),
    "ipv4": (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
}

# tiny per-language stopword lists for the n-gram/stopword language heuristic
LANG_STOPWORDS: Dict[str, Sequence[str]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "und", "das", "ist", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est"),
    "es": ("el", "la", "y", "los", "es", "una"),
    "zh": ("的", "是", "了", "在", "和"),
}

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
# (the GPT-2 pretokenizer family, simplified to what both regex engines share)
BPE_ISH = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def with_word_tokens(df: DataFrame, text_col: str = "text",
                     out_col: str = "words",
                     _internal: bool = False) -> DataFrame:
    if _internal and out_col in df.columns:
        # the calling operator will DROP this column on the way out —
        # overwriting a user's same-named column would silently destroy
        # it (the reserved-name convention used across the engine)
        raise ValueError(
            f"this operator reserves the '{out_col}' column name; "
            f"rename it first")
    return df.withColumn(
        out_col, F.filter(F.split(F.col(text_col), r"\s+"),
                          lambda w: w != ""))


def word_ngrams(words, k: int):
    """Column: the word ``k``-grams of the array column ``words`` (each
    ``k`` consecutive words joined by one space), an empty array below
    ``k`` words.  Pass a column reference, not an expression: ``words``
    is read inside the per-gram lambda.  element_at, not slice(): the
    per-element slice allocated a k-array per gram inside the
    interpreted HOF (3x the whole stage at sf1: 1.73 s -> 0.59 s for
    2.6M shingles)."""
    n = F.size(words) - (k - 1)
    return F.when(n >= 1, F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", *[F.element_at(words, i + j)
                                     for j in range(k)]))
    ).otherwise(F.array())


def _quality_signals(text_col: str):
    """The shared signal expressions (over a ``words`` column produced by
    with_word_tokens): single source of truth for text_quality,
    quality_filter, and the DuckDB oracle twin's closed forms."""
    words = F.col("words")
    n_words = F.size(words)
    n_chars = F.length(text_col)
    stop = F.size(F.filter(
        words, lambda w: w.isin(*LANG_STOPWORDS["en"])))
    n_punct = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    # empty/whitespace-only docs: NULL ratios, not DIVIDE_BY_ZERO —
    # Spark 4 runs ANSI-on by default, so an unguarded x/0 kills the
    # whole job on the first degenerate doc
    avg_word_len = F.when(n_words > 0, F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)) / n_words)
    return {
        "n_words": n_words,
        "n_chars": n_chars,
        "avg_word_len": avg_word_len,
        "stopword_ratio": F.when(n_words > 0, stop / n_words),
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars),
    }


def text_quality(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality metrics: word/char counts, mean word length,
    punctuation + uppercase + stopword ratios, type-token ratio."""
    d = with_word_tokens(df, text_col, _internal=True)
    words = F.col("words")
    sig = _quality_signals(text_col)
    n_chars = sig["n_chars"]
    n_upper = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[A-Z]", ""))
    return d.select(
        id_col,
        sig["n_words"].alias("n_words"),
        n_chars.alias("n_chars"),
        F.size(F.array_distinct(words)).alias("n_distinct_words"),
        sig["avg_word_len"].alias("avg_word_len"),
        sig["stopword_ratio"].alias("stopword_ratio"),
        sig["punct_ratio"].alias("punct_ratio"),
        F.when(n_chars > 0, n_upper / n_chars).alias("upper_ratio"),
        F.when(sig["n_words"] > 0,
               F.size(F.array_distinct(words)) / sig["n_words"])
        .alias("type_token_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language heuristic: argmax of per-language stopword
    counts, ties broken by language code (deterministic)."""
    d = with_word_tokens(df, text_col, _internal=True)

    def _score(lang, sw):
        # factory closure: a default-arg lambda would be mistaken for the
        # two-parameter (element, index) HOF form by PySpark
        return F.struct(
            F.size(F.filter(F.col("words"),
                            lambda w: w.isin(*list(sw)))).alias("hits"),
            F.lit(lang).alias("lang"))

    # F.greatest compares structs field-by-field (hits, then lang), so
    # ties pick the lexicographically GREATEST language code — the
    # DuckDB twin mirrors this with ORDER BY hits DESC, lang DESC; the
    # list order below is irrelevant to the (commutative) max
    scores = [_score(lang, sw)
              for lang, sw in sorted(LANG_STOPWORDS.items())]
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    # zero (or NULL-text) stopword hits carry NO language evidence: the
    # all-zero tie used to pick the greatest language code ('zh'),
    # labeling every stopword-free English headline / code snippet /
    # URL-heavy doc Chinese — map it to 'und' instead
    hits = best.getField("hits")
    return d.select(id_col,
                    F.when(hits > 0, best.getField("lang"))
                    .otherwise(F.lit("und")).alias("predicted_lang"),
                    hits.alias("stopword_hits"))


def token_count_bpe_ish(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Whitespace + BPE-ish regex token counts (cheap token budget
    estimation for training pipelines)."""
    return df.select(
        id_col,
        F.size(F.filter(F.split(F.col(text_col), r"\s+"),
                        lambda w: w != "")).alias("n_whitespace_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH), 0))
        .alias("n_bpe_ish_tokens"),
    )


def quality_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 5, max_words: int = 100000,
                   min_avg_word_len: float = 2.0,
                   max_avg_word_len: float = 12.0,
                   max_punct_ratio: float = 0.3,
                   min_stopword_ratio: float = 0.0,
                   langs: Sequence[str] = (),
                   lang_col: str = "lang") -> DataFrame:
    """One-pass corpus quality gate (the Gopher/C4-style heuristic
    filter family): length, mean word length, punctuation density,
    stopword presence, and an optional language allowlist, all as JVM
    expressions over a single scan.  Returns the input rows plus the
    signal columns and a ``keep`` flag — filter on ``keep`` (kept as a
    column so reject-reason analytics stay one groupBy away)."""
    d = with_word_tokens(df, text_col, _internal=True)
    sig = _quality_signals(text_col)
    d = (d.withColumn("n_words", sig["n_words"])
         .withColumn("avg_word_len", sig["avg_word_len"])
         .withColumn("punct_ratio", sig["punct_ratio"])
         .withColumn("stopword_ratio", sig["stopword_ratio"]))
    keep = ((F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words)
            & (F.col("avg_word_len") >= min_avg_word_len)
            & (F.col("avg_word_len") <= max_avg_word_len)
            & (F.col("punct_ratio") <= max_punct_ratio)
            & (F.col("stopword_ratio") >= min_stopword_ratio))
    if langs:
        keep = keep & F.col(lang_col).isin(*list(langs))
    return d.drop("words").withColumn("keep", keep)


def word_bigrams(df: DataFrame, text_col: str = "text",
                 min_count: int = 2) -> DataFrame:
    """Corpus-level word bigram counts ``(bigram, count)`` — vocabulary /
    collocation statistics for training-data analysis.  One explode + one
    map-side-combined count shuffle; ``min_count`` prunes the long tail
    before the result leaves the aggregation."""
    d = with_word_tokens(df, text_col)
    bg = d.select(F.explode(word_ngrams(F.col("words"), 2)).alias("bigram"))
    return (bg.groupBy("bigram").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= min_count))


def pii_scrub(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """PII redaction pass: replace emails / phone-like numbers / IPv4
    addresses with placeholder tokens and count each per document
    (training pipelines need both the cleaned text and the incidence
    stats for auditing).  Pure JVM regexp expressions, one scan; patterns
    are applied in PII_PATTERNS order, and each count is measured on the
    text AFTER the previous redactions — so ``n_phone`` counts exactly
    the ``<PHONE>`` tokens placed (a digit run inside an email would
    otherwise be counted as a phone yet redacted as ``<EMAIL>``, making
    the audit stats disagree with the cleaned corpus)."""
    counts = []
    clean = F.col(text_col)
    for name, (pat, tok) in PII_PATTERNS.items():
        counts.append(F.size(F.regexp_extract_all(
            clean, F.lit(pat), 0)).alias(f"n_{name}"))
        clean = F.regexp_replace(clean, pat, tok)
    return df.select(id_col, *counts, clean.alias("text_clean"))


def rolling_fingerprint(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        prime: int = 2147483647) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash of the
    word sequence (xxhash64 per word folded left, mod prime)."""
    d = with_word_tokens(df, text_col)
    return d.select(
        id_col,
        F.aggregate(
            F.col("words"), F.lit(0).cast("long"),
            lambda acc, w: F.pmod(acc * 31 + F.pmod(F.xxhash64(w),
                                                    F.lit(prime)),
                                  F.lit(prime))).alias("fingerprint"))


def repetition_signals(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       ngram_n: int = 2) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1's
    repetitious-text family), per document:

    - ``dup_line_frac``: 1 − distinct lines / lines (fraction of line
      OCCURRENCES that are repeats of an earlier line);
    - ``dup_line_char_frac``: same, weighted by characters;
    - ``top_ngram_char_frac``: characters covered by occurrences of the
      single most frequent word ``ngram_n``-gram ÷ total characters
      (boilerplate detector; count ties broken deterministically by the
      lexicographically GREATEST gram — struct-max semantics);
    - ``dup_ngram_char_frac``: Σ over grams occurring ≥2× of
      occurrences×gram_chars ÷ total characters (the simple
      occurrence-weighted form — Gopher's overlap-deduplicated char
      coverage is noted as a divergence).

    Filter these at the Gopher thresholds (e.g. dup_line_frac > 0.30,
    top_2gram_char_frac > 0.20) alongside ``quality_filter``.

    Scale shape: the line signals are pure JVM HOFs (zero shuffle); the
    n-gram signals are one explode + per-(doc, gram) count with map-side
    combine + one per-doc aggregation — the same shape as word_bigrams.
    """
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")
    chars_of = F.aggregate(lines, F.lit(0),
                           lambda acc, x: acc + F.length(x))
    dchars = F.aggregate(F.array_distinct(lines), F.lit(0),
                         lambda acc, x: acc + F.length(x))
    n_lines = F.size(lines)
    base = df.select(
        id_col, F.col(text_col).alias("_txt"),
        F.when(n_lines > 0,
               1.0 - F.size(F.array_distinct(lines)) / n_lines)
        .otherwise(0.0).alias("dup_line_frac"),
        F.when(chars_of > 0, 1.0 - dchars / chars_of)
        .otherwise(0.0).alias("dup_line_char_frac"),
        F.length(text_col).alias("_n_chars"))

    ws = F.filter(F.split(F.col("_txt"), r"\s+"), lambda w: w != "")
    grams = (base.select(id_col, "_n_chars", ws.alias("_ws"))
             .select(id_col, "_n_chars", F.explode(
                 word_ngrams(F.col("_ws"), ngram_n)).alias("g")))
    counts = (grams.groupBy(id_col, "_n_chars", "g")
              .agg(F.count("*").alias("_c")))
    per_doc = counts.groupBy(id_col, "_n_chars").agg(
        # struct max: count first, then gram string (deterministic ties)
        F.max(F.struct(F.col("_c"),
                       F.col("g").alias("_g"))).alias("_top"),
        F.sum(F.when(F.col("_c") >= 2,
                     F.col("_c") * F.length("g")).otherwise(0))
        .alias("_dup_chars"))
    out = (base.select(id_col, "dup_line_frac", "dup_line_char_frac",
                       "_n_chars")
           .join(per_doc.select(
               id_col,
               (F.col("_top._c") * F.length("_top._g")).alias("_top_chars"),
               "_dup_chars"), id_col, "left"))
    return out.select(
        id_col, "dup_line_frac", "dup_line_char_frac",
        F.when(F.col("_n_chars") > 0,
               F.coalesce(F.col("_top_chars"), F.lit(0))
               / F.col("_n_chars")).otherwise(0.0)
        .alias("top_ngram_char_frac"),
        F.when(F.col("_n_chars") > 0,
               F.coalesce(F.col("_dup_chars"), F.lit(0))
               / F.col("_n_chars")).otherwise(0.0)
        .alias("dup_ngram_char_frac"))

"""Text analysis operators: token counting, quality scoring, language-ID
heuristic, document fingerprinting, PII scrubbing, n-gram heavy hitters.
Pure Catalyst expressions end to end — every per-document operator is a
projection (no shuffle; the corpus-level ``top_ngrams`` adds one map-side
combined count agg), so they compose with scans at full codegen speed and
their semantics reproduce exactly in ANSI SQL (DuckDB oracles in
__spark_entry__).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# small deterministic stopword lists for the language-ID heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "que", "pour", "dans"],
    "es": ["el", "la", "y", "de", "un", "una", "es", "que", "por", "para"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"],
}
LANG_ORDER = ["en", "fr", "es", "de"]  # deterministic tie-break order

FINGERPRINT_MOD = 1_000_000_007


def _words(text_col):
    return F.split(text_col, " ")


def word_ngrams(text_col: str, n: int):
    """Column: the ``n``-word windows of ``text_col`` (split on single
    spaces, joined by one space), in order. Short texts short-circuit to
    an empty array: ``sequence(0, x)`` DESCENDS for x < 0."""
    words = _words(text_col)
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_words_regex): whitespace tokens plus a BPE-ish regex
    token count (letter runs / digit runs / single other chars)."""
    words = _words(F.col(text_col))
    regex_tokens = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    return df.select(
        F.col(id_col).alias("id"),
        F.size(words).alias("n_tokens"),
        regex_tokens.cast("long").alias("n_words_regex"),
    )


def quality_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality metrics: length, token count, mean word length,
    alpha ratio, stopword(en) ratio, and a composite quality score in [0,1].

    The score is a deterministic blend a training-data filter would use:
    penalize very short/very long docs, reward alpha-heavy text with a sane
    stopword rate."""
    text = F.col(text_col)
    words = _words(text)
    n_tokens = F.size(words)
    n_chars = F.length(text)
    mean_word_len = (n_chars - (n_tokens - 1)) / n_tokens  # chars minus separators
    alpha_ratio = F.regexp_count(text, F.lit("[A-Za-z]")) / F.greatest(n_chars, F.lit(1))
    en_list = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(words, lambda w: F.array_contains(en_list, w)))
    stop_ratio = stop_hits / F.greatest(n_tokens, F.lit(1))
    len_score = F.when(n_tokens < 5, n_tokens / 5.0).when(
        n_tokens > 1000, F.lit(0.5)
    ).otherwise(F.lit(1.0))
    score = F.round(
        len_score * (0.6 * alpha_ratio + 0.4 * F.least(stop_ratio * 5, F.lit(1.0))), 6
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-hit language-ID heuristic: count hits per language list,
    argmax with deterministic tie-break (LANG_ORDER, 'und' when zero hits)."""
    words = _words(F.col(text_col))

    def _contains(lst):
        # single-arg lambda: F.filter treats a 2-arg lambda as (elem, index)
        return lambda w: F.array_contains(lst, w)

    hit_cols = []
    for lang in LANG_ORDER:
        lst = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        hit_cols.append(F.size(F.filter(words, _contains(lst))).alias(f"hits_{lang}"))
    scored = df.select(F.col(id_col).alias("id"), *hit_cols)
    # argmax: compute the max, then the first language (LANG_ORDER) reaching it
    max_hits = F.greatest(*[F.col(f"hits_{lang}") for lang in LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(LANG_ORDER):
        pred = F.when(
            (F.col(f"hits_{lang}") == max_hits) & (max_hits > 0), F.lit(lang)
        ).otherwise(pred)
    return scored.select(
        "id", *[f"hits_{lang}" for lang in LANG_ORDER], pred.alias("pred_lang")
    )


def gopher_rules(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    max_dup_line_ratio: float = 0.3,
) -> DataFrame:
    """Gopher-style quality filter flags (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): the standard per-document repetition/format
    heuristics an LLM data pipeline applies before training, as one pure
    Catalyst projection — (id, metrics..., flag_*, pass_gopher).

    Rules: word count within [min_words, max_words]; mean word length
    within [min, max]; symbol-to-word ratio ('#' chars + '...' runs per
    word) below the cap; fraction of lines starting with a bullet below
    the cap; fraction of lines ending in an ellipsis below the cap;
    fraction of words containing an alphabetic character above the floor;
    duplicate-line fraction (the repetition signal: 1 - distinct/total
    lines) below the cap. Flags are per-rule so a pipeline can
    tune/ablate; ``pass_gopher`` is their conjunction. Shuffle-free and
    exactly reproducible in ANSI SQL.
    """
    text = F.col(text_col)
    words = _words(text)
    n_words = F.size(words)
    n_chars = F.length(text)
    mean_wl = (n_chars - (n_words - 1)) / n_words
    n_hash = n_chars - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        n_chars - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis) / F.greatest(n_words, F.lit(1))
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("•"),
        )
    )
    ellipsis_end = F.size(F.filter(lines, lambda l: l.endswith("...")))
    bullet_ratio = bullet / F.greatest(n_lines, F.lit(1))
    ellipsis_ratio = ellipsis_end / F.greatest(n_lines, F.lit(1))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    alpha_word_ratio = alpha_words / F.greatest(n_words, F.lit(1))
    dup_line_ratio = (n_lines - F.size(F.array_distinct(lines))) / F.greatest(
        n_lines, F.lit(1)
    )

    flag_words = (n_words >= min_words) & (n_words <= max_words)
    flag_mean_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    flag_symbol = symbol_ratio <= max_symbol_ratio
    flag_bullet = bullet_ratio <= max_bullet_ratio
    flag_ellipsis = ellipsis_ratio <= max_ellipsis_ratio
    flag_alpha = alpha_word_ratio >= min_alpha_word_ratio
    flag_dup_lines = dup_line_ratio <= max_dup_line_ratio
    return df.select(
        F.col(id_col).alias("id"),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(bullet_ratio, 6).alias("bullet_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        F.round(alpha_word_ratio, 6).alias("alpha_word_ratio"),
        F.round(dup_line_ratio, 6).alias("dup_line_ratio"),
        flag_words.alias("flag_word_count"),
        flag_mean_wl.alias("flag_mean_word_len"),
        flag_symbol.alias("flag_symbol_ratio"),
        flag_bullet.alias("flag_bullet_ratio"),
        flag_ellipsis.alias("flag_ellipsis_ratio"),
        flag_alpha.alias("flag_alpha_words"),
        flag_dup_lines.alias("flag_dup_lines"),
        (
            flag_words & flag_mean_wl & flag_symbol
            & flag_bullet & flag_ellipsis & flag_alpha & flag_dup_lines
        ).alias("pass_gopher"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Position-weighted rolling document fingerprint:
    sum_i (i+1) * length(word_i) mod 1e9+7 — order-sensitive (re-ordered
    words change it), cheap, and exactly reproducible in SQL (unnest WITH
    ORDINALITY). Computed here with an indexed transform + aggregate: no
    explode, no shuffle."""
    words = _words(F.col(text_col))
    weighted = F.transform(words, lambda w, i: (i + 1).cast("long") * F.length(w))
    fp = F.aggregate(
        weighted, F.lit(0).cast("long"), lambda acc, v: (acc + v) % FINGERPRINT_MOD
    )
    return df.select(F.col(id_col).alias("id"), fp.alias("fingerprint"))


#: PII redaction patterns, applied in order. Each is dialect-portable
#: (identical semantics in Java regex and RE2/DuckDB: \b is the ASCII word
#: boundary in both, no backrefs/lookaround). Counts are per-pattern
#: matches on the ORIGINAL text; nested matches are possible (an ipv4 or
#: +digit run inside an email, e.g. 'a@1.2.3.4.com', counts n_ipv4=1 even
#: though the sequential scrub redacts it as part of <EMAIL>), so n_ipv4 /
#: n_phone over-count relative to "matches surviving earlier scrubs". The
#: SQL oracle counts on the original text the same way, so the gate holds
#: for exactly the semantics documented here.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    ("phone", r"\+\d{9,15}\b", "<PHONE>"),
]


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact common PII (emails, IPv4s, SSN-shaped ids, +international
    phone runs) from a text column — the scrubbing pass a training-data
    pipeline runs before anything leaves the raw zone. Output:
    ``(id, clean_text, n_email, n_ipv4, n_ssn, n_phone)``.

    Pure Catalyst projection (chained ``regexp_replace`` + per-pattern
    ``regexp_count``): no shuffle, no Python, composes with the scan at
    codegen speed — at 100 TB this runs at scan throughput like the other
    text operators. Counts are per-pattern matches on the ORIGINAL input
    text — a match nested inside an earlier pattern's redaction still
    counts (see :data:`PII_PATTERNS`)."""
    text = F.col(text_col)
    clean = text
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}"))
        clean = F.regexp_replace(clean, pat, repl)
    return df.select(F.col(id_col).alias("id"), clean.alias("clean_text"), *counts)


def top_ngrams(df: DataFrame, text_col: str, n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-wide most-frequent word n-grams — the heavy-hitters diagnostic
    a pipeline runs to spot template boilerplate and degenerate sources
    before dedup. Output: ``(ngram, cnt)``, the global top-``k`` ordered by
    count desc then ngram asc (fully deterministic, ties included).

    Scale shape: the explode is a projection; ``groupBy(ngram).count()`` is
    a Catalyst partial+final hash agg, so the only exchange carries one row
    per DISTINCT n-gram (map-side combine folds each task's repeats first —
    boilerplate, the very thing being hunted, compresses best). The global
    top-k executes as ``TakeOrderedAndProject``: each task keeps a k-heap
    and the driver merges tasks×k rows — no global sort shuffle, ever."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    return (
        df.select(F.explode(word_ngrams(text_col, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram").asc())
        .limit(k)
    )

"""Text-analysis kernels for large-scale training-data pipelines.

All pure Column expressions (JVM-side, codegen-friendly): tokenizing,
token counting, shingling, quality scoring, n-gram language ID, and
rolling-hash document fingerprints. Designed so the same computation is
expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and dependency-free.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}

EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
]


def tokens(text: Column | str, pattern: str = r"\s+") -> Column:
    """Whitespace tokenization -> array<string>; empty/null -> empty
    array (not ['']).

    The edge trim strips ALL whitespace (regexp), not F.trim's
    spaces-only: with F.trim a trailing "\\n" or "\\t" survives into
    split and mints a phantom '' token (r3 property-test catch) —
    and the Arrow kernels' python str.strip() never had that bug, so
    the expression and Arrow paths would disagree on such inputs."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.regexp_replace(
        F.coalesce(c, F.lit("")), r"^\s+|\s+$", ""
    )
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, pattern)
    )


def lower_tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens. Lowercases the WHOLE string first
    (one codegen'd `lower` call) rather than `transform(tokens, lower)`
    — higher-order functions evaluate interpreted per element, and
    lowercasing never creates or removes whitespace, so the outputs are
    identical at a fraction of the cost (measured on the sf0.1 near-dup
    path)."""
    c = F.col(text) if isinstance(text, str) else text
    return tokens(F.lower(c))


def token_count(text: Column | str) -> Column:
    """Whitespace token count as long."""
    return F.size(tokens(text)).cast("long")


def char_shingles(text: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles of the lowercased text as
    array<string>. Built with sequence+transform (higher-order
    functions, no explode needed at the caller)."""
    c = F.col(text) if isinstance(text, str) else text
    s = F.lower(F.coalesce(c, F.lit("")))
    n = F.length(s)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.substring(s, i, F.lit(k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of the lowercased text."""
    return word_ngrams_from_tokens(lower_tokens(text), n)


_SLICE_ALL = 1 << 30  # "to the end" length for F.slice


def word_ngrams_from_tokens(toks: Column | str, n: int = 3) -> Column:
    """Distinct space-joined n-grams from an already-lowercased token
    array.

    Built as n-1 zip_with passes over shifted copies of the array
    (gram_i = tk[i] + ' ' + tk[i+1] + ...), then trimmed to the valid
    prefix. Higher-order functions evaluate interpreted (outside
    codegen), so the naive transform(sequence(1, m-n+1), i ->
    array_join(slice(tk, i, n))) costs an O(m) slice per element —
    O(m^2) per row, measured ~6x slower than this shape."""
    return F.array_distinct(word_ngrams_ordered(toks, n))


def word_ngrams_ordered(toks: Column | str, n: int = 3) -> Column:
    """Space-joined n-grams in DOCUMENT ORDER (duplicates kept) — the
    positional form winnowing and repetition metrics need; same
    zip_with construction as word_ngrams_from_tokens."""
    tk = F.col(toks) if isinstance(toks, str) else toks
    out = tk
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(tk, i + 1, _SLICE_ALL), lambda a, b: F.concat_ws(" ", a, b)
        )
    m = F.size(tk)
    return F.when(m >= n, F.slice(out, 1, m - F.lit(n - 1))).otherwise(
        F.array().cast("array<string>")
    )


def stopword_ratio_from_tokens(
    toks: Column | str, stopwords: list[str] | None = None
) -> Column:
    """Fraction of an already-lowercased token array that is (English)
    stopwords; 0.0 for empty.  The shared-token-array form: callers
    computing several token statistics should project lower_tokens()
    ONCE and feed the array here — higher-order functions evaluate
    interpreted, with no codegen subexpression elimination, so each
    text-rooted stat re-runs the whole split pipeline (the r12 plan
    audit measured tokenization as ~2/3 of q15's cost)."""
    sw = stopwords or EN_STOPWORDS
    tk = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(tk)
    hits = F.size(F.filter(tk, lambda t: t.isin(sw)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords; 0.0 for empty."""
    return stopword_ratio_from_tokens(lower_tokens(text), stopwords)


def punct_ratio(text: Column | str) -> Column:
    """Punctuation characters / total characters; 0.0 for empty."""
    c = F.col(text) if isinstance(text, str) else text
    s = F.coalesce(c, F.lit(""))
    n = F.length(s)
    punct = F.regexp_count(s, F.lit(r"[^\w\s]"))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite document-quality heuristic in [0,1]: rewards moderate
    length and penalizes extreme punctuation/stopword ratios. Weights
    are arbitrary but fixed; used for corpus filtering at scale."""
    n = token_count(text).cast("double")
    length_term = F.least(n / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_term = F.lit(1.0) - F.abs(sw - F.lit(0.4))
    p_term = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    return F.round(
        F.greatest(
            F.least(
                length_term * 0.4 + sw_term * 0.3 + p_term * 0.3, F.lit(1.0)
            ),
            F.lit(0.0),
        ),
        6,
    )


def lang_id_from_tokens(toks: Column | str) -> Column:
    """Marker-word language ID over an already-lowercased token array;
    see lang_id.  The shared-token-array form for callers that project
    lower_tokens() once (same rationale as
    stopword_ratio_from_tokens)."""
    toks = F.col(toks) if isinstance(toks, str) else toks

    def is_marker(markers: list[str]):
        # one-arg lambda: a second parameter would be bound to the
        # array index by Spark's higher-order-function protocol
        return lambda t: t.isin(markers)

    langs = list(LANG_MARKERS)
    hits = F.array(
        *[
            F.size(F.filter(toks, is_marker(LANG_MARKERS[lang])))
            for lang in langs
        ]
    )
    best = F.array_max(hits)
    pick = F.element_at(
        F.array(*[F.lit(lang) for lang in langs]),
        F.array_position(hits, best).cast("int"),
    )
    return F.when(best > 0, pick).otherwise(F.lit("und"))


def lang_id(text: Column | str) -> Column:
    """Marker-word language ID: count hits from each language's marker
    list over the lowercased token set; highest count wins, ties break
    by language order; no hits -> 'und'.

    Hit counts live in ONE array so the expression tree stays linear in
    the number of languages — the chained when(hits > best) formulation
    duplicates the running-best subtree per language (2^n copies of the
    higher-order filter expressions), which bloats analysis/codegen.
    array_position returns the FIRST index of the max, preserving the
    dict-order tie-break of the strict-> chain."""
    return lang_id_from_tokens(lower_tokens(text))


def fingerprint(text: Column | str) -> Column:
    """Deterministic 31-BIT document fingerprint: polynomial rolling
    hash over the text bytes, computed with aggregate() so it stays
    JVM-side. Same recurrence is expressible in ANSI SQL:
    h = (h*31 + ascii(char)) mod 2^31-1.

    31 bits means birthday collisions near ~2^15.5 ≈ 65k documents —
    this is a cheap ORACLE-REPRODUCIBLE locality/chunking signal, NOT
    an identity proxy.  For content identity use
    `dedup.exact_dedup`'s sha2-256 grouping; the modulus stays 2^31-1
    because the per-char multiply must not overflow DuckDB's BIGINT
    for the SQL replay to stay exact.
    """
    c = F.col(text) if isinstance(text, str) else text
    s = F.coalesce(c, F.lit(""))
    chars = F.split(s, "")
    mod = F.lit(2147483647)
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % mod,
    )


# ---------------------------------------------------------------------------
# Curation / scrubbing kernels (training-data hygiene). All regexp_
# replace chains — JVM-side, codegen-friendly, and mirrored 1:1 by
# DuckDB's regexp_replace(..., 'g') for oracle checks.
# ---------------------------------------------------------------------------

# pattern -> replacement token, applied in order (URL first so email
# hosts inside URLs don't get half-redacted). Phone patterns are
# SHAPE-specific (international +CC..., US (xxx) / xxx-xxx-xxxx) rather
# than "digits with separators" — the loose form also matched ISO
# dates and timestamps, silently redacting clinical record content.
# In the parenthesized form BOTH trailing separators are optional
# ("(555) 1234567" is unambiguously a phone — the literal parens carry
# the shape); in the bare form both are mandatory, or any 10-digit run
# would redact.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+\d{1,3}[\s.-]?\(?\d{2,4}\)?[\s.-]?\d{3}[\s.-]?\d{3,4}\b", "<PHONE>"),
    (r"\(\d{3}\)[\s.-]?\d{3}[\s.-]?\d{4}\b", "<PHONE>"),
    (r"\b\d{3}[\s.-]\d{3}[\s.-]\d{4}\b", "<PHONE>"),
    (r"\b\d{9,}\b", "<ID>"),
]


def dup_token_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token
    (1 - distinct/total); 0.0 for empty. Pure array expressions —
    no explode, no shuffle."""
    toks = lower_tokens(text)
    n = F.size(toks)
    return F.when(
        n > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n.cast("double"),
    ).otherwise(F.lit(0.0))


def dup_ngram_ratio(text: Column | str, n: int = 3) -> Column:
    """Gopher/C4-style repetition signal: fraction of word n-grams that
    are repeats of an earlier n-gram in the SAME document
    (1 - distinct/total); 0.0 when the doc has fewer than n tokens.
    Highly repetitive boilerplate scores near 1, natural prose near 0.
    Pure array expressions — no explode, no shuffle."""
    toks = lower_tokens(text)
    total = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    distinct = F.size(word_ngrams_from_tokens(toks, n))
    return F.when(
        total > 0,
        F.lit(1.0) - distinct.cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def redact_pii(text: Column | str, patterns: list[tuple[str, str]] | None = None) -> Column:
    """Replace URL / email / phone / long-id spans with placeholder
    tokens. Order matters and is fixed; each pattern is one JVM
    regexp_replace, so the whole chain stays in codegen and scales as a
    map-only pass."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.coalesce(c, F.lit(""))
    for pat, repl in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def normalize_text(text: Column | str) -> Column:
    """Canonicalize whitespace for stable downstream hashing: strip
    ASCII control characters, collapse whitespace runs to single
    spaces, trim. Idempotent.

    The collapse class is pinned to the explicit [ \\t\\n\\r]+ rather
    than \\s+ — engine-portable by construction: Java's \\s includes
    \\x0B and \\f while DuckDB/RE2's does not, so a \\s oracle would
    silently diverge on texts containing either. Here both characters
    are removed by the control strip FIRST, making the explicit class
    equivalent to Java \\s on the stripped string and exactly
    mirrorable in the q59 oracle SQL."""
    c = F.col(text) if isinstance(text, str) else text
    s = F.coalesce(c, F.lit(""))
    s = F.regexp_replace(s, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    s = F.regexp_replace(s, r"[ \t\n\r]+", " ")
    return F.trim(s)


def gopher_quality_flags(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_stop_hits: int = 2,
    stopwords: list[str] | None = None,
    min_alpha_ratio: float = 0.8,
    round_dp: int = 6,
) -> Column:
    """Gopher-style rule-based quality filter as a STRUCT of named
    boolean flags plus the conjunction `keep` — the per-rule
    attribution is the point: a curation dashboard needs to know WHY
    documents die, not just that they did.

    Rules (each flag is True when the rule PASSES):
      word_count      min_words <= n <= max_words
      mean_word_len   mean token length in [min, max]
      symbol_ratio    ('#' or '...') occurrences / words <= max
      bullet_lines    lines starting with a bullet <= max ratio
      ellipsis_lines  lines ending in '...' <= max ratio
      stop_hits       >= min_stop_hits DISTINCT stopwords present
      alpha_ratio     fraction of tokens containing a letter >= min

    Everything is a map-side column expression (one struct per row,
    no shuffle, no UDF) — the filter folds into the scan stage at any
    scale. Thresholds and the stoplist are per-corpus knobs.
    """
    c = F.col(text) if isinstance(text, str) else text
    s = F.coalesce(c, F.lit(""))
    toks = lower_tokens(s)
    n = F.size(toks)
    nd = n.cast("double")
    sw = [w.lower() for w in (stopwords or EN_STOPWORDS)]

    mean_len = F.when(
        n > 0,
        F.aggregate(
            toks, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / nd,
    ).otherwise(F.lit(0.0))
    symbol_ratio = F.when(
        n > 0, F.regexp_count(s, F.lit(r"#|\.\.\.")).cast("double") / nd
    ).otherwise(F.lit(0.0))
    lines = F.split(s, "\n")
    n_lines = F.size(lines).cast("double")
    bullet_ratio = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("double") / n_lines
    ellipsis_ratio = F.size(
        F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))
    ).cast("double") / n_lines
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in sw])
        )
    )
    alpha_ratio = F.when(
        n > 0,
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double") / nd,
    ).otherwise(F.lit(0.0))

    flags = {
        "word_count": (n >= min_words) & (n <= max_words),
        "mean_word_len_ok": (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len),
        "symbol_ratio": symbol_ratio <= max_symbol_ratio,
        "bullet_lines": bullet_ratio <= max_bullet_line_ratio,
        "ellipsis_lines": ellipsis_ratio <= max_ellipsis_line_ratio,
        "stop_hits": stop_hits >= min_stop_hits,
        "alpha_ratio": alpha_ratio >= min_alpha_ratio,
    }
    keep = None
    for f in flags.values():
        keep = f if keep is None else (keep & f)
    return F.struct(
        n.cast("bigint").alias("n_words"),
        F.round(mean_len, round_dp).alias("mean_word_len"),
        *[v.alias(k) for k, v in flags.items()],
        keep.alias("keep"),
    )

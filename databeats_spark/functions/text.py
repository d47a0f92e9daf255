"""Text-analysis column functions for document pipelines.

All pure Column expressions (JVM-side, whole-stage-codegen'd): no
Python UDFs in any hot path. These power the training-data-pipeline
operators (dedup, quality scoring, language ID) that a 100 TB corpus
run needs; the reference has no text surface beyond string equality
filters, so this extends SURVEY.md §2 per the north-star brief.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# language-ID heuristic. Deliberately small + deterministic so the
# scoring is reproducible in plain SQL on any engine.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ist"),
    "zh": ("de5", "shi4", "le5", "zai4", "he2"),  # romanized markers
}

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}<>/\\|@#$%^&*_+=~`-]"


def tokens(text: str | Column) -> Column:
    """Whitespace tokenization (the canonical split for token counts)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def token_count(text: str | Column) -> Column:
    return F.size(tokens(text))


# BPE-ish pre-tokenization pattern (the GPT-2-style split distilled to
# the subset Java regex and RE2 treat identically): runs of letters,
# runs of digits, runs of other non-space symbols.
BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+"


def bpe_tokens(text: str | Column) -> Column:
    """BPE-style pre-tokens (word/number/symbol runs) — the unit a
    byte-pair tokenizer would merge from; counting them approximates
    LLM token budgets far better than whitespace words."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def bpe_token_count(text: str | Column) -> Column:
    return F.size(bpe_tokens(text))


def punct_ratio(text: str | Column) -> Column:
    """Punctuation chars / total chars — a quality-score component."""
    c = F.col(text) if isinstance(text, str) else text
    kept = F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    return (F.length(c) - kept) / F.greatest(F.length(c), F.lit(1))


def stopword_count(text: str | Column, stopwords: tuple[str, ...]) -> Column:
    """How many tokens are in ``stopwords`` (duplicates counted)."""
    toks = tokens(text)
    arr = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def stopword_ratio(text: str | Column) -> Column:
    """English marker tokens / tokens — a quality-score component."""
    return stopword_count(text, LANG_MARKERS["en"]) / F.greatest(token_count(text), F.lit(1))


def mean_token_length(text: str | Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(text: str | Column) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme punctuation,
    reward plausible token lengths and some stopword presence.
    Deterministic arithmetic only — oracle-reproducible."""
    mtl = mean_token_length(text)
    len_component = F.when((mtl >= 3) & (mtl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_component = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    stop_component = F.least(stopword_ratio(text) * 10, F.lit(1.0))
    return F.round((len_component + punct_component + stop_component) / 3, 6)


def lang_guess(text: str | Column) -> Column:
    """Argmax language by marker count; ties and zero-evidence fall back
    to 'und' → deterministic. (An n-gram-frequency language IDer
    distilled to something a SQL oracle can replicate.)

    Shape note: the obvious when-chain accumulator nests ``best_score``
    into BOTH branches of every later when(), so each earlier language's
    marker-filter expression is duplicated ~2^k times and codegen
    re-evaluates every copy (measured ~7 s for one sf0.1 pass). Folding
    an array of (score, lang) structs instead evaluates each filter
    exactly once — fold variables are bound values, not expressions —
    with identical first-wins strictly-greater semantics."""

    def from_tokens(tk):
        entries = [
            F.struct(
                F.size(
                    F.filter(tk, lambda t: F.array_contains(F.array(*[F.lit(m) for m in marks]), t))
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, marks in LANG_MARKERS.items()
        ]
        zero = F.struct(F.lit(0).alias("score"), F.lit("und").alias("lang"))
        best = F.aggregate(
            F.array(*entries),
            zero,
            lambda acc, e: F.when(e["score"] > acc["score"], e).otherwise(acc),
        )
        return best["lang"]

    # bind the token array once as a HOF variable (single tokenization)
    return F.element_at(F.transform(F.array(tokens(text)), from_tokens), 1)


def normalized(text: str | Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse spaces."""
    c = F.col(text) if isinstance(text, str) else text
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(text: str | Column) -> Column:
    """Content fingerprint: md5 of the normalized text (md5 chosen for
    cross-engine reproducibility; xxhash64 is faster but Spark-only)."""
    return F.md5(normalized(text))


# PII scrubbing — the redaction pass every training-data pipeline runs
# before a corpus ships. Patterns restricted to the regex subset Java
# (Spark) and RE2 (DuckDB oracle) treat identically, ordered so earlier
# rewrites can't create later matches (URLs may contain '@', so URLs
# scrub first).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9()\s-]{6,}[0-9]", "<PHONE>"),
)


def scrub_pii(text: str | Column) -> Column:
    """Redact URLs, emails, then phone-like digit runs with typed
    placeholder tokens. Pure chained regexp_replace — codegen'd,
    no UDF; order is load-bearing (see PII_PATTERNS)."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pattern, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pattern, repl)
    return c


def pii_counts(text: str | Column) -> dict[str, Column]:
    """Match count per PII class — the audit metric that goes next to
    the scrub (counts BEFORE any rewriting, all on the raw text)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        name: F.size(F.regexp_extract_all(c, F.lit(pattern), 0))
        for name, pattern, _ in PII_PATTERNS
    }


def word_ngrams(text: str | Column, n: int = 2) -> Column:
    """ALL word n-grams in order (duplicates kept — unlike
    :func:`word_shingles`): the unit of the duplicate-n-gram repetition
    metric. Same bind-tokens-once HOF discipline as word_shingles."""
    def from_tokens(toks: Column) -> Column:
        n_grams = F.size(toks) - (n - 1)
        starts = F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1)))
        grams = F.transform(
            starts,
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + off) for off in range(n)]),
        )
        return F.when(n_grams >= 1, grams).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(text)), from_tokens), 1)


def dup_ngram_fraction(text: str | Column, n: int = 2) -> Column:
    """Fraction of n-grams that are repeats of an earlier n-gram —
    the Gopher-style repetition quality signal (high = boilerplate /
    degenerate text). 0 for docs shorter than n tokens."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(total > 0, (total - distinct) / total).otherwise(F.lit(0.0))


def top_token_fraction(text: str | Column) -> Column:
    """Frequency of the most common token / total tokens — degenerate
    docs repeat one token. O(distinct × total) per doc in pure array
    expressions; fine at document token counts, and the token array is
    bound once (HOF CSE rule)."""
    def from_tokens(toks: Column) -> Column:
        counts = F.transform(
            F.array_distinct(toks),
            lambda d: F.size(F.filter(toks, lambda t: t == d)),
        )
        return F.array_max(counts) / F.greatest(F.size(toks), F.lit(1))

    return F.element_at(F.transform(F.array(tokens(text)), from_tokens), 1)


def word_shingles(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles — the MinHash/Jaccard unit.

    Pure array expressions: split → sequence of start offsets →
    slice+join. Runs entirely in codegen, no UDF.
    """
    def from_tokens(toks: Column) -> Column:
        n_shingles = F.size(toks) - (n - 1)
        # sequence(1, 0) would produce a DESCENDING [1, 0] — guard short docs
        starts = F.sequence(F.lit(1), F.greatest(n_shingles, F.lit(1)))
        # element_at (O(1)) rather than slice() (O(n) array copy per shingle)
        sh = F.transform(
            starts,
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + off) for off in range(n)]),
        )
        return F.when(n_shingles >= 1, F.array_distinct(sh)).otherwise(
            F.array().cast("array<string>")
        )

    # bind the token array ONCE as a higher-order-function variable:
    # expressions inside HOF lambdas get no common-subexpression
    # elimination, so referencing tokens(text) directly re-runs the
    # regex split for EVERY element_at (measured ~50ms/doc → ~0.2ms/doc)
    return F.element_at(F.transform(F.array(tokens(text)), from_tokens), 1)

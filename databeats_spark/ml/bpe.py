"""Distributed BPE vocabulary training — learn merge rules from a
corpus the way LLM tokenizers do (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units").

Scale shape: the corpus is touched ONCE — a single hash aggregate
reduces it to the (word, freq) vocabulary table, which is what every
merge round iterates over (unique words ≪ corpus tokens, the Heaps-law
gap; at 100 TB the vocab table is gigabytes, not terabytes). Each
round is:

  1. explode adjacent symbol pairs from the (already-merged) word
     symbols, weighted by word freq — one map + hash aggregate;
  2. take the most frequent pair (deterministic lexicographic
     tie-break) — a 1-row driver action, the only one per round;
  3. apply the merge to every word via a single regexp_replace
     (left-to-right non-overlapping — exactly BPE's greedy pass).

``localCheckpoint`` every few rounds keeps the plan from growing with
the merge count (the iterative-DataFrame trap). No Python UDFs: words
are space-joined symbol strings, so pair extraction and merging are
split/transform/regexp column expressions end to end.

Semantics pinned against a pure-Python reference implementation in
tests/test_bpe.py.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

# rounds between lineage truncations
_CHECKPOINT_EVERY = 8


def _literal_repl(s: str) -> str:
    """Escape a regexp_replace REPLACEMENT string. Java's
    Matcher.replaceAll treats ``$`` (group reference) and ``\\``
    specially; a merged symbol containing ``$1`` would substitute a
    capture group — or throw — instead of the literal token, diverging
    from the Python re.sub reference pinned in tests/test_bpe.py.
    Equivalent to java.util.regex.Matcher.quoteReplacement."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def _word_vocab(docs: DataFrame) -> DataFrame:
    """One corpus pass: space-tokenize ``text``, count word frequencies, and
    seed each word's symbol string (chars + </w> terminator)."""
    words = docs.select(F.explode(F.split(F.col("text"), r"\s+")).alias("w")).filter(
        F.col("w") != ""
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    # "abc" -> "a b c </w>": symbols separated by single spaces.
    # split("", ...) yields clean chars in Spark (no empty fragments).
    chars = F.split(F.col("w"), "")
    symbols = F.concat_ws(" ", F.concat(chars, F.array(F.lit("</w>"))))
    return vocab.select("w", "freq", symbols.alias("syms"))


def _pair_counts(vocab: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word frequency. The token
    array is bound ONCE before the transform (expressions inside HOF
    lambdas get no common-subexpression elimination — the split would
    otherwise re-run per element)."""
    with_toks = vocab.select(
        "freq", F.split(F.col("syms"), " ").alias("toks")
    ).filter(F.size("toks") >= 2)
    pairs = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> struct(element_at(toks, i) AS a, element_at(toks, i + 1) AS b))"
    )
    return (
        with_toks.select("freq", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def train_bpe(
    docs: DataFrame, n_merges: int
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merge rules; returns (merges, vocab)
    where vocab is the final (word, freq, syms) table. Stops early when
    no pair occurs at least twice (merging hapax pairs is noise)."""
    vocab = _word_vocab(docs).localCheckpoint()
    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # merge " a b " -> " ab " with boundary anchors; regexp_replace
        # scans left-to-right non-overlapping — BPE's greedy pass
        pat = rf"(?<!\S){re.escape(a)} {re.escape(b)}(?!\S)"
        merged = F.regexp_replace(F.col("syms"), pat, _literal_repl(a + b))
        vocab = vocab.withColumn("syms", merged)
        if (i + 1) % _CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges, vocab


def apply_bpe(
    docs: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """Tokenize a corpus with learned merges: per distinct word, apply
    every merge in order, then re-attach to documents by word — the
    vocabulary table is the unit of work, never the corpus."""
    vocab = _word_vocab(docs.select("text")).select("w", "syms")
    syms = F.col("syms")
    for a, b in merges:
        pat = rf"(?<!\S){re.escape(a)} {re.escape(b)}(?!\S)"
        syms = F.regexp_replace(syms, pat, _literal_repl(a + b))
    return vocab.select(
        "w", F.split(syms, " ").alias("pieces"), F.size(F.split(syms, " ")).alias("n_pieces")
    )

"""Text-analysis column builders (EXT operators, BASELINE.json north star).

All builders return Catalyst Column expressions — JVM-side, codegen'd,
zero Python in the hot path. Tokenization is the shared substrate for
dedup (shingles -> MinHash/SimHash) and text stats.

Cross-engine determinism: tokenize/shingle semantics are mirrored in
DuckDB oracle SQL (string_split_regex + list_filter + list_transform);
fingerprints use md5 (identical hex in both engines) instead of
engine-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny language-marker stopword lists for the heuristic language-ID
# operator. Deliberately small: the operator's value is its *shape*
# (token-set votes -> argmax with deterministic tie-break), not lexical
# coverage.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to", "in", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
    "es": ("el", "los", "las", "es", "un", "una", "y"),
}

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")


def tokens(text: Column | str) -> Column:
    """Lowercase, split on non-word runs, drop empties. Mirrors DuckDB
    ``list_filter(string_split_regex(lower(text),'\\W+'), t -> t <> '')``.

    Cross-engine contract verified on a Unicode corpus (accents,
    ligatures, fullwidth forms, Cyrillic, CJK, emoji, German sharp s —
    tests/test_unicode_parity.py). Known single-codepoint deviation:
    U+0130 (Turkish İ) lowercases per Unicode SpecialCasing in the JVM
    ('i' + combining dot, which then splits on the mark) but to plain
    'i' in DuckDB — pinned by test_u0130_divergence_is_pinned."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), r"\W+"), lambda t: t != "")


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from a token array, via sequence+transform
    (pure higher-order functions — no explode blowup until needed).
    Empty when the doc has < n tokens."""
    # NB: Spark's sequence(1, k) is DESCENDING for k < 1, so guard the
    # short-doc case explicitly with an empty array.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )


# Portable ASCII-whitespace class. Java's bare \s is [ \t\n\x0B\f\r]
# while RE2 (DuckDB) \s is [ \t\n\f\r] — NO \x0B — so any
# oracle-mirrored regex written with \s silently diverges on
# vertical-tab input (found by the control-whitespace sweep,
# tests/test_ctrlws_parity.py). Every whitespace-sensitive regex in
# this engine and in its DuckDB oracles spells the class out instead;
# the sweep greps the source to keep bare \s from creeping back in.
WS = r" \t\n\x0B\f\r"


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish pre-tokenizer count: word runs + individual non-space
    punctuation, the standard GPT-style pre-split regex shape."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(rf"\w+|[^\w{WS}]"), 0))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.length(F.regexp_replace(c, rf"[\w{WS}]", ""))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(toks: Column) -> Column:
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def lang_votes(toks: Column, lang: str) -> Column:
    markers = F.array(*[F.lit(s) for s in LANG_MARKERS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))


def predict_lang(votes: dict[str, Column]) -> Column:
    """Argmax over per-language votes with deterministic priority-order
    tie-break (en > de > fr > es); 'unknown' when all votes are 0."""
    order = ["en", "de", "fr", "es"]
    best = F.greatest(*[votes[lang] for lang in order])
    pred = F.lit("unknown")
    for lang in reversed(order):
        pred = F.when(votes[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best > 0, pred).otherwise(F.lit("unknown"))


def doc_fingerprint(text: Column | str) -> Column:
    """Whole-document fingerprint: md5 of the whitespace-normalized,
    lowercased text (engine-portable — DuckDB md5 produces identical hex)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(c), rf"[{WS}]+", " ")))


def min_shingle_fingerprint(shingles: Column) -> Column:
    """Winnowing-lite content fingerprint: lexicographic min of the
    shingle md5 set — a 1-permutation MinHash, stable across engines."""
    return F.array_min(F.transform(shingles, F.md5))

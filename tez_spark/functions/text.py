"""Text-analysis column functions for large-scale corpus pipelines.

All built from pyspark.sql.functions — JVM-side, codegen'd, no Python in
the hot path. These extend the reference's capability surface (Tez has no
scalar function library at all — SURVEY.md §2.4; row logic lives in user
processors): the operations a 100TB training-data pipeline needs over a
`documents`-shaped table.

Design rules:
- every function is a Column -> Column transform so it composes with any
  scan and stays inside whole-stage codegen (token_grams, the one
  DataFrame -> DataFrame helper, only composes them); the DuckDB oracles
  in text_queries.py mirror the exact same arithmetic.
- tokenize ONCE: the `*_of` metric functions take a pre-materialized token
  array column. Catalyst has no subexpression elimination across lambda
  scopes, so deriving each metric from its own `tokens(text)` call
  re-splits the document per metric (~10 splits/row in the round-1
  text_metrics — the measured hot-path waste). Callers project
  `tokens(text).alias("_toks")` in its own select stage first; because the
  alias is referenced more than once by non-cheap expressions,
  CollapseProject keeps the stage boundary and the split runs once.
- avoid interpreted higher-order functions where a set/string built-in
  exists: token-length totals via length(array_join(...)) rather than an
  F.aggregate lambda (HOF lambdas evaluate interpreted, ~100x slower than
  codegen for per-element arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small english/function-word list used by both language-ID and quality
# scoring. Deliberately tiny + hard-coded: it must be reproducible in the
# DuckDB oracle verbatim.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "on", "for", "with", "as", "at", "by", "from", "that", "this", "be",
)


def tokens(text: str | Column) -> Column:
    """Whitespace tokenization, empty tokens dropped (same convention as
    Q03's wordcount — split on single space, filter '')."""
    return F.filter(F.split(text, " "), lambda t: t != "")


def gram_windows(length: int, toks_col: str = "_toks") -> Column:
    """Word n-gram windows of a token-array column: array of the
    space-joined L-token windows (size - L + 1 of them), or the EMPTY
    array when the document is shorter than one window. THE shared
    windowing kernel for winnow fingerprints, text_dup_spans and
    decontaminate_ngram (r11 review: three hand-copied versions of this
    expression meant a windowing change could silently diverge the
    engines' candidate schemes); each DuckDB oracle mirrors it with
    list_slice + array_to_string over the same token list. The helper is
    total (ADVICE r11): without the size guard, sequence(0, size - L)
    with size < L emits a DESCENDING sequence (step defaults to -1) and
    fabricates bogus short grams."""
    return F.expr(
        f"CASE WHEN size({toks_col}) >= {length} THEN"
        f" transform(sequence(0, size({toks_col}) - {length}),"
        f" i -> array_join(slice({toks_col}, i + 1, {length}), ' '))"
        f" ELSE CAST(array() AS array<string>) END"
    )


def gram_hash(gram: str | Column, width: int = 16) -> Column:
    """Gram -> md5-hex prefix (width hex chars): grams travel hashed
    through every exchange (8x smaller than raw token strings); the
    oracles recompute substring(md5(...), 1, width) identically. A
    width-16 (64-bit) prefix collision needs ~2^32 distinct grams per
    false match; at that scale switch to the full digest."""
    col = F.col(gram) if isinstance(gram, str) else gram
    return F.substring(F.md5(col.cast("binary")), 1, width)


def token_grams(
    df: DataFrame, length: int, *keep: str, pos: bool = False, width: int = 16
) -> DataFrame:
    """(*keep, [pos,] g) — one row per length-token window of df's `text`
    column, g its gram_hash(width). THE token-gram extractor of every
    gram consumer (decontaminate_ngram and its stream, text_dup_spans,
    winnow fingerprints): tokens are projected in their own stage (the
    tokenize-once rule above), documents shorter than one window are
    dropped before the explode, and pos=True adds each window's 0-based
    position (posexplode) for consumers that order windows."""
    base = df.select(*keep, tokens("text").alias("_toks")).filter(
        F.size("_toks") >= length
    )
    gen = F.posexplode if pos else F.explode
    names = ("pos", "gram") if pos else ("gram",)
    return base.select(*keep, gen(gram_windows(length)).alias(*names)).select(
        *keep, *names[:-1], gram_hash("gram", width).alias("g")
    )


def char_count(text: str | Column) -> Column:
    return F.length(text).cast("long")


def alpha_ratio(text: str | Column) -> Column:
    """Fraction of characters that are ASCII letters or space — a
    punctuation/noise proxy for quality filtering."""
    col = text if isinstance(text, Column) else F.col(text)
    clean = F.regexp_replace(col, "[^a-zA-Z ]", "")
    return F.when(F.length(col) > 0, F.length(clean) / F.length(col)).otherwise(
        F.lit(0.0)
    )


# --- metrics over a pre-materialized token array ---------------------------

def token_count_of(toks: Column) -> Column:
    """Token count from a materialized token array (BPE-ish subword
    counting is a tokenizer choice; whitespace count is the stable
    cross-engine baseline)."""
    return F.size(toks).cast("long")


def stopword_count_of(toks: Column) -> Column:
    """Number of tokens that are function words (case-sensitive: the
    fixtures are lowercase; keeps the oracle SQL trivially identical).
    One interpreted membership filter per row — the only HOF left in the
    metrics path."""
    return F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")


def token_char_sum_of(toks: Column) -> Column:
    """Sum of token lengths, as length(array_join(toks, '')) — pure
    codegen'd string ops, replacing the interpreted F.aggregate lambda."""
    return F.length(F.array_join(toks, "")).cast("long")


def ratio_of(numer: Column, denom: Column) -> Column:
    """numer/denom with 0.0 when the denominator is 0 (division of longs
    yields double in both Spark and the DuckDB oracle)."""
    return F.when(denom > 0, numer / denom).otherwise(F.lit(0.0))


def quality_score_of(stop_r: Column, alpha_r: Column, avg_tok_len: Column) -> Column:
    """Composite quality heuristic in [0,1] over already-computed signal
    columns: rewards function-word density (natural-language-ness) and
    alphabetic cleanliness, penalizes degenerate token lengths. Weights
    are arbitrary but fixed — the value is the *pipeline* (filter at
    scale), not the constants."""
    return (
        F.least(stop_r * 4.0, F.lit(1.0)) * 0.4
        + alpha_r * 0.4
        + F.when((avg_tok_len >= 3) & (avg_tok_len <= 10), 0.2).otherwise(F.lit(0.0))
    )


def fingerprint(text: str | Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted distinct
    token multiset — the classic shingle-free near-dup prefilter
    (catches reorderings/exact dups; MinHash in operators/dedup.py covers
    fuzzier overlap)."""
    toks = F.array_sort(F.array_distinct(tokens(text)))
    return F.md5(F.array_join(toks, " ").cast("binary"))

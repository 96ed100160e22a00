"""Text-analysis functions for large-scale training-data pipelines.

All pure JVM column expressions (split/regexp/aggregate) — no Python in the hot
path. Tokenization contract (shared with the DuckDB oracles in __spark_entry__):
tokens = lowercase, split on single spaces, empty tokens dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]


def tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return stop.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def avg_token_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length band + stopword presence +
    token-length sanity. A training-data filter, not a model."""
    n = token_count(text)
    length_ok = F.when((n >= 10) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text) >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    avg = avg_token_len(text)
    len_ok = F.when((avg >= 2.0) & (avg <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(length_ok + stop_ok + len_ok, 2)


def lang_id(text: Column) -> Column:
    """n-gram-free heuristic language ID: English-stopword hit ratio ≥ 5% → 'en',
    any non-ASCII → 'other', else 'unk'. Deterministic + SQL-portable."""
    non_ascii = F.length(F.regexp_replace(text, "[\\x00-\\x7F]", "")) > 0
    return (
        F.when(non_ascii, F.lit("other"))
        .when(stopword_ratio(text) >= 0.05, F.lit("en"))
        .otherwise(F.lit("unk"))
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams joined by single spaces (shingles for dedup)."""
    toks = tokens(text)
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.when(cnt >= n, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def doc_annotations(text: Column) -> Column:
    """struct(quality, lang, bpe_tokens, ws_tokens) with ONE tokenization.

    Bit-identical to :func:`quality_score` / :func:`lang_id` /
    :func:`bpe_token_count` / :func:`token_count` (same arithmetic, test-locked)
    but the token array is built once and bound as a higher-order-function
    lambda variable instead of being re-derived per sub-expression — the
    separate column functions tokenize ~8× per doc (tokens/stopword-filter/
    aggregate each inline their own ``split``), which interpreted HOF
    evaluation does not common-subexpression-eliminate. The curation
    pipeline's annotation stage uses this fused form.
    """
    non_ascii = F.length(F.regexp_replace(text, "[\\x00-\\x7F]", "")) > 0
    bpe = bpe_token_count(text)

    def feats(ts):
        n = F.size(ts)
        stop = F.size(F.filter(ts, lambda t: t.isin(STOPWORDS)))
        ratio = stop.cast("double") / F.greatest(n, F.lit(1)).cast("double")
        total = F.aggregate(ts, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
        avg = total.cast("double") / F.greatest(n, F.lit(1)).cast("double")
        length_ok = F.when((n >= 10) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        stop_ok = F.when(ratio >= 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
        len_ok = F.when((avg >= 2.0) & (avg <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
        lang = (
            F.when(non_ascii, F.lit("other"))
            .when(ratio >= 0.05, F.lit("en"))
            .otherwise(F.lit("unk"))
        )
        return F.struct(
            F.round(length_ok + stop_ok + len_ok, 2).alias("quality"),
            lang.alias("lang"),
            bpe.cast("long").alias("bpe_tokens"),
            n.cast("long").alias("ws_tokens"),
        )

    # single-element-array bind: the lambda variable ts is evaluated once per
    # row; every reference inside feats reuses the bound array
    return F.element_at(F.transform(F.array(tokens(text)), feats), 1)


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive document fingerprint: xxhash64 rolling over the token stream
    (content-defined identity for exact/near-exact dedup bookkeeping)."""
    return F.xxhash64(F.concat_ws(" ", tokens(text)))


# GPT-2-style pre-tokenizer shape (the public BPE pre-split regex, ASCII-class
# form): contractions, letter runs, digit runs, punctuation runs — each with an
# optional leading space — plus whitespace runs. A subword tokenizer's unit
# count is ~proportional to these pre-tokens, which is what a token-budget
# estimator needs; no vocabulary/merges are applied (those are model-specific).
# The whitespace class is spelled EXPLICITLY (not \s): Java's \s includes
# vertical tab \x0B but RE2's (DuckDB) does not, and the oracle comparison
# needs both engines to lex identically.
_WS = " \\t\\n\\x0B\\f\\r"
BPE_PRETOKEN_RE = (
    f"('s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9{_WS}]+|[{_WS}]+)"
)


def bpe_pretokens(text: Column) -> Column:
    """Array of BPE-style pre-tokens (JVM ``regexp_extract_all`` — no Python).

    Whitespace-only matches are kept (they carry token-budget weight in
    byte-level BPE); use :func:`bpe_token_count` for the usual estimate that
    drops pure-whitespace runs.
    """
    return F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 1)


def bpe_token_count(text: Column) -> Column:
    """Estimated subword token count: BPE pre-tokens excluding pure-whitespace
    runs. The whitespace-split ``token_count`` undercounts text with punctuation
    or digit runs; this tracks what a real byte-level BPE tokenizer charges."""
    return F.size(F.filter(bpe_pretokens(text), lambda t: ~t.rlike(f"^[{_WS}]+$")))

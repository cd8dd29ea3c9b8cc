"""Distributed BPE ENCODE with a fixed merge table — the last-mile cost
every training pipeline pays after the tokenizer is learned.

The catalog already computes the statistic BPE *learning* maximizes
(``bpe_pair_merges``: weighted adjacent-pair frequencies); this module
applies a pinned, ordered merge table to tokenize the corpus. Encoding is
a fold: start from characters, apply each merge (left-to-right,
non-overlapping — the standard BPE step) in table order.

Engine-portable, UDF-free representation: a document's token sequence is
carried as a single string with every token wrapped in a sentinel byte —
``\\x1f a \\x1f \\x1f b \\x1f …`` — so one literal ``replace(s,
SEP+a+SEP+SEP+b+SEP, SEP+a+b+SEP)`` per merge applies that merge to every
occurrence with exactly BPE's greedy left-to-right non-overlap semantics
(SQL ``replace`` continues scanning after each substitution; the doubled
sentinel between tokens makes cross-token and intra-token false matches
impossible, and unwrapped spaces — never part of a merge — block merges
across word boundaries). Both Spark and DuckDB share these ``replace``
semantics, so the oracle replays the identical merge table.

Scale shape: ``len(MERGES)`` chained codegen'd string replaces per row —
no Python boundary, no HOF lambda re-evaluation, no shuffle until the
caller aggregates. A production 50k-merge vocab would compile the same
fold into a linear-scan Arrow UDF (merge table broadcast); the pinned
table here keeps the whole path inside Tungsten and the oracle exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SEP = "\x1f"

#: Pinned ordered merge table (a job parameter, like chunk sizes): common
#: English character pairs first, then second-order merges over the
#: results. Order matters and is replayed identically by the oracles.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"),
    ("i", "n"),
    ("e", "r"),
    ("a", "n"),
    ("o", "n"),
    ("r", "e"),
    ("th", "e"),
    ("e", "n"),
    ("a", "t"),
    ("e", "s"),
    ("o", "r"),
    ("an", "d"),
    ("in", "g"),
    ("t", "o"),
    ("i", "s"),
    ("o", "u"),
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize(col: Column | str) -> Column:
    """Lowercase, keep ``[a-z ]`` only — the fixed pre-tokenization the
    merge table was pinned against."""
    return F.regexp_replace(F.lower(_c(col)), "[^a-z ]", "")


def bpe_encode(col: Column | str) -> Column:
    """Apply the pinned merge table to normalized text; returns the
    wrapped-token string (each token as ``SEP token SEP``)."""
    enc = F.regexp_replace(normalize(col), "(.)", f"{SEP}$1{SEP}")
    for a, b in BPE_MERGES:
        enc = F.replace(
            enc, F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}"), F.lit(f"{SEP}{a}{b}{SEP}")
        )
    return enc


def bpe_token_count(col: Column | str) -> Column:
    """Number of BPE tokens per row (spaces excluded) as BIGINT."""
    norm = normalize(col)
    enc = bpe_encode(col)
    wrapped = (F.length(enc) - F.length(F.replace(enc, F.lit(SEP)))) / 2
    spaces = F.length(norm) - F.length(F.replace(norm, F.lit(" ")))
    return (wrapped - spaces).cast("long")


def bpe_tokens(col: Column | str) -> Column:
    """Array of BPE tokens (spaces excluded) in document order."""
    enc = bpe_encode(col)
    # strip the leading/trailing sentinel, split on the doubled sentinel
    stripped = F.when(
        F.length(enc) >= 2, enc.substr(F.lit(2), F.length(enc) - 2)
    ).otherwise(F.lit(""))
    toks = F.split(stripped, f"{SEP}{SEP}")
    return F.filter(toks, lambda t: (t != "") & (t != " "))


# ---- DuckDB twins -----------------------------------------------------------

SEP_SQL = "chr(31)"


def normalize_sql(expr: str) -> str:
    return f"regexp_replace(lower({expr}), '[^a-z ]', '', 'g')"


def bpe_encode_sql(expr: str) -> str:
    enc = f"regexp_replace({normalize_sql(expr)}, '(.)', {SEP_SQL} || '\\1' || {SEP_SQL}, 'g')"
    for a, b in BPE_MERGES:
        pat = f"{SEP_SQL} || '{a}' || {SEP_SQL} || {SEP_SQL} || '{b}' || {SEP_SQL}"
        rep = f"{SEP_SQL} || '{a}{b}' || {SEP_SQL}"
        enc = f"replace({enc}, {pat}, {rep})"
    return enc


def bpe_token_count_sql(expr: str) -> str:
    norm = normalize_sql(expr)
    enc = bpe_encode_sql(expr)
    return (
        f"(((length({enc}) - length(replace({enc}, {SEP_SQL}, ''))) // 2)"
        f" - (length({norm}) - length(replace({norm}, ' ', ''))))::BIGINT"
    )


def bpe_tokens_sql(expr: str) -> str:
    enc = bpe_encode_sql(expr)
    stripped = (
        f"CASE WHEN length({enc}) >= 2"
        f" THEN substr({enc}, 2, length({enc}) - 2) ELSE '' END"
    )
    return (
        f"list_filter(string_split({stripped}, {SEP_SQL} || {SEP_SQL}),"
        f" t -> t <> '' AND t <> ' ')"
    )

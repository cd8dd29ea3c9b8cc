"""Text-analysis scalar functions for training-data pipelines.

All are built-in-expression compositions (JVM codegen, no Python UDFs) so
they run at full scan speed over 100 TB, and each has an exact DuckDB-SQL
twin (``*_sql``) for oracle checking. Tokenization is deliberately simple
and portable: lowercase, split on runs of non-alphanumerics, drop empties.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny built-in stopword lexicons for the language-ID heuristic: a few
# high-frequency function words per language. Deterministic and portable.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es"],
    "zh": ["de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "he2"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Lowercased alphanumeric tokens, empties removed."""
    arr = F.split(F.lower(_c(col)), TOKEN_SPLIT_RE, -1)
    return F.filter(arr, lambda x: x != F.lit(""))


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), '{TOKEN_SPLIT_RE}'), x -> x <> '')"
    )


def token_count(col: Column | str) -> Column:
    """Whitespace-ish token count (long)."""
    return F.size(tokens(col)).cast("long")


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})::BIGINT"


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish sub-token estimate: alpha runs contribute ceil(len/4)
    sub-tokens (≈ a 4-chars-per-token BPE heuristic), digit runs and
    punctuation 1 each. Portable across engines."""
    toks = tokens(col)
    alpha = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.ceil(F.length(x) / F.lit(4.0)).cast("long"),
    )
    punct = F.length(F.regexp_replace(_c(col), r"[\w\s]", ""))
    return (alpha + punct).cast("long")


def bpe_ish_token_count_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    return (
        f"(list_sum(list_transform({toks}, x -> ceil(length(x) / 4.0)::BIGINT))"
        f" + length(regexp_replace({expr}, '[\\w\\s]', '', 'g')))::BIGINT"
    )


def _punct_ratio_raw(c: Column) -> Column:
    n_punct = F.length(F.regexp_replace(c, r"[\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are punctuation (non-word, non-space)."""
    return F.round(_punct_ratio_raw(_c(col)), 6)


def punct_ratio_sql(expr: str) -> str:
    return (
        f"round(length(regexp_replace({expr}, '[\\w\\s]', '', 'g'))"
        f" / greatest(length({expr}), 1), 6)"
    )


def _stopword_ratio_raw(c: Column, stopwords: list[str]) -> Column:
    toks = tokens(c)
    hits = F.size(F.filter(toks, _isin_filter(stopwords)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def _isin_filter(words: list[str]):
    """Single-arg lambda factory for F.filter (a two-param lambda would be
    treated as the (element, index) form)."""
    return lambda x: x.isin(words)


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English, by default) stopwords."""
    sw = stopwords or LANG_STOPWORDS["en"]
    return F.round(_stopword_ratio_raw(_c(col), sw), 6)


def stopword_ratio_sql(expr: str, stopwords: list[str] | None = None) -> str:
    sw = stopwords or LANG_STOPWORDS["en"]
    inlist = ", ".join(f"'{w}'" for w in sw)
    toks = tokens_sql(expr)
    return (
        f"round(len(list_filter({toks}, x -> x IN ({inlist})))"
        f" / greatest(len({toks}), 1), 6)"
    )


def quality_score(col: Column | str) -> Column:
    """Composite document-quality score: rewards reasonable length and
    stopword presence, penalizes punctuation density. The exact formula is
    arbitrary but fixed; what matters is deterministic portability — it is
    computed from *unrounded* ratios and rounded exactly once (summing
    pre-rounded terms can land on exact decimal ties where engines'
    rounding modes diverge)."""
    c = _c(col)
    len_score = F.least(F.length(c) / F.lit(400.0), F.lit(1.0))
    sw = _stopword_ratio_raw(c, LANG_STOPWORDS["en"])
    pr = _punct_ratio_raw(c)
    return F.round(F.lit(0.5) * len_score + F.lit(0.5) * sw - pr, 6)


def _stopword_ratio_raw_sql(expr: str, stopwords: list[str]) -> str:
    inlist = ", ".join(f"'{w}'" for w in stopwords)
    toks = tokens_sql(expr)
    return f"(len(list_filter({toks}, x -> x IN ({inlist}))) / greatest(len({toks}), 1))"


def _punct_ratio_raw_sql(expr: str) -> str:
    return (
        f"(length(regexp_replace({expr}, '[\\w\\s]', '', 'g'))"
        f" / greatest(length({expr}), 1))"
    )


def quality_score_sql(expr: str) -> str:
    return (
        f"round(0.5 * least(length({expr}) / 400.0, 1.0)"
        f" + 0.5 * {_stopword_ratio_raw_sql(expr, LANG_STOPWORDS['en'])}"
        f" - {_punct_ratio_raw_sql(expr)}, 6)"
    )


def bag_fingerprint(col: Column | str) -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token bag. Near-identical docs that only reorder words collide —
    the classic "bag fingerprint" dedup key."""
    toks = F.array_sort(F.array_distinct(tokens(col)))
    return F.md5(F.array_join(toks, " "))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; empty when < n tokens.
    The shingle unit for MinHash/Jaccard dedup.

    The token array is BOUND ONCE via a single-element-array transform
    (``transform(array(toks), t -> ...)``) before the shingle lambda
    indexes into it. Referencing the raw ``tokens(col)`` expression from
    inside the shingle transform instead would re-evaluate the regex split
    per ``element_at`` — n evaluations per shingle, O(tokens²) total per
    row (measured ~25 s just to shingle 5000 docs at sf0.1; ~1 s bound)."""
    toks = tokens(col)

    def mk(t: Column) -> Column:
        k = F.size(t) - F.lit(n - 1)
        idx = F.when(k > 0, F.sequence(F.lit(1), k)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: F.concat_ws(" ", *[F.element_at(t, i + F.lit(j)) for j in range(n)]),
        )

    return F.element_at(F.transform(F.array(toks), mk), 1)


def word_shingles_sql(expr: str, n: int = 3) -> str:
    toks = tokens_sql(expr)
    parts = " || ' ' || ".join(f"t[i+{j}]" for j in range(n))
    return (
        f"(SELECT list_transform(range(1, greatest(len(t) - {n - 1}, 0) + 1),"
        f" i -> {parts}) FROM (SELECT {toks} AS t))"
    )

"""Filters / predicates (SURVEY §2.2 P2-P6).

All plain Column predicates — Catalyst pushes them into the parquet/ES scan
(verify with ``.explain``: they appear under ``PushedFilters``). Placed
*before* the annotate UDF barrier so no document pays the NLP cost only to
be discarded (SURVEY §4.1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from annotations_ingester_spark.types import MIN_TEXT_LEN


def valid_text_filter(
    df: DataFrame, text_field: str = "text", min_len: int = MIN_TEXT_LEN
) -> DataFrame:
    """P3: drop rows whose text is NULL or shorter than ``min_len``
    (reference: ingester/annotations_indexer.py:244-247, MIN_TEXT_LEN=5)."""
    c = F.col(text_field)
    return df.filter(c.isNotNull() & (F.length(c) >= min_len))


def range_filter(
    df: DataFrame, date_field: str, date_begin: str, date_end: str, fmt: str | None = None
) -> DataFrame:
    """S3/P5: both-ends-inclusive date range scan
    (reference: ingester/es_common.py:303-330 — gte/lte). Pushes down to
    parquet row-group stats / the ES range query."""
    c = F.to_date(F.col(date_field), fmt) if fmt else F.to_date(F.col(date_field))
    return df.filter(c.between(F.lit(date_begin).cast("date"), F.lit(date_end).cast("date")))


def match_predicate(df: DataFrame, criteria: dict[str, object]) -> DataFrame:
    """P4: conjunction of equality predicates (the reference's ES ``match``
    used on id/keyword fields — exact equality is the semantic intent,
    reference: ingester/es_common.py:254-271)."""
    cond: Column | None = None
    for k, v in criteria.items():
        c = F.col(k) == F.lit(v)
        cond = c if cond is None else (cond & c)
    return df.filter(cond) if cond is not None else df


def exists(df: DataFrame, criteria: dict[str, object]) -> bool:
    """A2: predicate-existence check — ``count > 0`` via a LIMIT-1 probe
    (cheaper than a full count; reference compares a full filtered count,
    es_common.py:261-271)."""
    return match_predicate(df, criteria).limit(1).count() > 0


def response_shape_guard(df: DataFrame) -> DataFrame:
    """P6: drop rows whose enrichment produced no well-formed payload
    (NULL entities — reference guards ingester/annotations_indexer.py:266-289).
    Rows dropped here stay unprocessed and are retried by the next run's
    anti-join (B3)."""
    return df.filter(F.col("entities").isNotNull())

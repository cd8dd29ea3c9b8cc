"""J1: skip-already-processed anti-join (SURVEY §2.3).

The reference probes the sink per document (one ES query per doc,
ingester/annotations_indexer.py:80-101) — O(N) point lookups. The Spark-first
form is a single distributed ``left_anti`` join against the distinct set of
processed ids, which Catalyst/AQE executes as a broadcast anti-join when the
processed-id set is small and a shuffle anti-join otherwise. Placed before
the annotate barrier so skipped docs never pay the NLP call (SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skip_processed(
    source: DataFrame,
    processed_ids: DataFrame | None = None,
    docid_field: str = "doc_id",
    annotations_col: str | None = None,
) -> DataFrame:
    """Drop source docs that were already processed.

    Two modes, mirroring the reference:

    - separate-index: ``processed_ids`` is the sink's ``meta.{docid}``
      column (wildcard across split indices — in Spark just the union read
      of the partitioned sink) → left_anti join
      (reference: annotations_indexer.py:90-99).
    - same-index: the doc's own ``annotations`` array is non-empty →
      filter (reference: annotations_indexer.py:85-89).

    Note: the reference gates this behind an *inverted* flag
    (``skip_doc_check`` True ⇒ check runs, annotations_indexer.py:252) —
    callers here pass the already-resolved decision; no flag inversion.
    """
    if annotations_col is not None:
        c = F.col(annotations_col)
        return source.filter(c.isNull() | (F.size(c) == 0))
    if processed_ids is None:
        return source
    keys = processed_ids.select(docid_field).distinct()
    return source.join(keys, on=docid_field, how="left_anti")


def sink_doc_ids(written: DataFrame, docid_field: str) -> DataFrame | None:
    """The J1 processed-id set of a sink frame: its distinct doc ids under
    ``docid_field``, or None when it carries no id column. Flat sinks carry
    the id as ``meta.<docid>``; the W4 nested sink keeps the bare docid
    groupBy key."""
    for col in (f"meta.{docid_field}", docid_field):
        if col in written.columns:
            return written.select(F.col(f"`{col}`").alias(docid_field)).distinct()
    return None

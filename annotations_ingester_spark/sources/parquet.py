"""Parquet source/sink — the hermetic test backend and the lake-side twin
of the reference's Elasticsearch indices (SURVEY §1.5: index ↔ table).

Scans benefit from Catalyst pushdown automatically: id/range predicates and
column pruning reach the parquet reader (S1/S3/S4/P1 for free). At 100 TB,
``maxPartitionBytes`` (session.py) sizes scan tasks; a W2 split sink is
``partitionBy``-laid out, so readers of one type prune the rest.
"""

from __future__ import annotations

from typing import Any

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from annotations_ingester_spark.config import ConnectorConfig
from annotations_ingester_spark.operators.antijoin import sink_doc_ids


def _is_path_missing(exc: Exception) -> bool:
    """True only for the 'sink has never been written' AnalysisException.
    Anything else (corrupt footer, FS hiccup, permission error) must
    propagate — treating it as a first run would silently reprocess (and,
    on an append sink, duplicate) the whole corpus."""
    msg = str(exc)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def check(conf: ConnectorConfig) -> None:
    """No endpoint to reach: a missing path fails the read itself."""


def read(
    spark: SparkSession, conf: ConnectorConfig, query: dict[str, Any] | None = None
) -> DataFrame:
    """The table at ``conf.index_name``. ``query`` (Elasticsearch DSL) has
    no parquet form; the caller scopes the frame Spark-side instead (the
    CLI's ``range_filter``)."""
    return spark.read.parquet(conf.index_name)


def done_ids(spark: SparkSession, conf: ConnectorConfig, docid_field: str) -> DataFrame | None:
    """Distinct doc ids already in the sink; None when the path was never
    written."""
    try:
        written = spark.read.parquet(conf.index_name)
    except AnalysisException as exc:
        if _is_path_missing(exc):
            return None
        raise
    return sink_doc_ids(written, docid_field)


def stored(
    df: DataFrame, *, mapping_id: str | None, split_suffix_field: str | None
) -> DataFrame:
    """The rows :func:`write` appends: one per ``(mapping_id,
    split_suffix_field)``. Files carry no document ids, so unlike an
    Elasticsearch ``_id`` the sink cannot absorb a repeated row id (a doc
    the source holds twice); the ``dropDuplicates`` Exchange does it
    (U2). Keyed on the id alone, it carries one short string per row, and
    it also covers map-typed columns (``meta_anns``) that a whole-record
    ``dropDuplicates`` cannot compare."""
    if not mapping_id:
        return df
    keys = [mapping_id] + ([split_suffix_field] if split_suffix_field else [])
    return df.dropDuplicates(keys)


def write(
    df: DataFrame,
    conf: ConnectorConfig,
    *,
    mapping_id: str | None,
    upsert: bool,
    split_suffix_field: str | None,
) -> None:
    """W1/W4: append :func:`stored` rows. W2: ``partitionBy(split_suffix_field)``,
    the parquet twin of the ES dynamic resource ``sink-{type}``. An append
    cannot replace what an earlier run stored, so ``upsert`` has no parquet
    form: a re-run avoids duplicates only through the J1 resume read
    (``skip-processed-doc-check``)."""
    writer = stored(
        df, mapping_id=mapping_id, split_suffix_field=split_suffix_field
    ).write.mode("append")
    if split_suffix_field:
        writer = writer.partitionBy(split_suffix_field)
    writer.parquet(conf.index_name)

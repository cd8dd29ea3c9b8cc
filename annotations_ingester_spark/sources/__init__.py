"""Source/sink backends (SURVEY §2.1), one module per
``ConnectorConfig.backend`` value. Each module has the same functions,
with the same signatures:

- ``check(conf)``: reach the endpoint before the Spark session starts;
- ``read(spark, conf, query=None)``: the source frame;
- ``done_ids(spark, conf, docid_field)``: the distinct doc ids already in
  the sink, or None on a first run (each backend decides what "never
  written" looks like);
- ``stored(df, *, mapping_id, split_suffix_field)``: the rows ``write``
  stores, one per ``(mapping_id, split_suffix_field)`` (Elasticsearch keys
  each doc on ``_id``, so the frame as given; parquet ``dropDuplicates``);
- ``write(df, conf, *, mapping_id, upsert, split_suffix_field)``.
"""

from annotations_ingester_spark.sources import elasticsearch, es_rest, parquet

BACKENDS = {
    "parquet": parquet,
    "elasticsearch": elasticsearch,  # the connector jar
    "elasticsearch-rest": es_rest,  # the jar-free stdlib REST fallback
}

__all__ = ["BACKENDS"]

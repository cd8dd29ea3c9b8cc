"""Sink-side merge operators (SURVEY §2.8, W3/W4); plain writes are each
backend's ``write`` in ``sources``."""

from annotations_ingester_spark.sinks.writers import merge_annotation_sets

__all__ = ["merge_annotation_sets"]

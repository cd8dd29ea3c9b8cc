"""annotations_ingester_spark — a PySpark-native analytics/ETL engine.

A brand-new engine with the query and data-processing capabilities of the
reference ETL pipeline (CogStack/annotations-ingester, surveyed in
repo:SURVEY.md): document corpora in, NLP-annotation rows out, expressed as
idiomatic Spark DataFrame / Structured Streaming plans, plus a
large-scale-training-data operator library (dedup, similarity search,
text analysis, multimodal columns) designed for 100 TB workloads.

Layout
------
- ``session``    : tuned SparkSession builder
- ``config``     : typed PipelineConfig (same YAML surface as the reference)
- ``types``      : MedCAT / GATE annotation StructTypes (SURVEY §1.3)
- ``functions``  : scalar function library (names, text analysis, vectors)
- ``annotator``  : the enrichment UDTF — pluggable NLP client + mapInPandas
- ``operators``  : filters, anti-join, windows, explode, dedup, similarity
- ``sources``    : parquet + Elasticsearch backends (reads, W1-W4 writes)
- ``sinks``      : mapping DDL, physical layouts, shard export
- ``plans``      : end-to-end batch pipeline assembly
- ``streaming``  : Structured Streaming variant
- ``multimodal`` : binary media columns with typed metadata
"""

__version__ = "0.1.0"

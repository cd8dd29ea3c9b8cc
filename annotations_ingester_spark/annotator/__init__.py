"""The enrichment UDTF: pluggable NLP annotator clients + the Spark stage.

This formalizes the reference's only extension point — the NLP REST call
(reference: ingester/nlp_service.py:40-136) — as a typed interface with a
``mapInPandas``-backed Spark operator (SURVEY §2.9).
"""

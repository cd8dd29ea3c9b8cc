"""Structured Streaming variant of the annotation pipeline (SURVEY §7.2.6)."""

"""Scalar function library (SURVEY §2.6) + portable hashing + text/vector ops."""

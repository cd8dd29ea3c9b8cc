"""Relational + pipeline operators (SURVEY §2) and north-star extensions."""

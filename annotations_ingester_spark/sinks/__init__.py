"""Sink-side merge operators (SURVEY §2.8, W3/W4); plain writes are each
backend's ``write`` in ``sources``."""

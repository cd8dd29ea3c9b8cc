"""Sink-side helpers beside the writes: S8 mapping DDL (``mappings``),
physical layouts (``layout``) and packed-shard export (``sharding``).
The W1-W4 writes themselves are each backend's ``write`` in ``sources``."""

"""Multimodal columns: opaque binary media + typed metadata (north-star).

Media (image/audio/video) ride through the engine as ``binary`` columns
with a typed metadata struct — the Spark-side plumbing (schema, batch
shape, partitioning, UDF signatures) is real and tested; the actual codec
work is stubbed (``decode_fn`` injectable; the container has no
image/audio libraries) behind deterministic fakes.
"""

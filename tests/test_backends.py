"""Every backend in ``sources.BACKENDS`` offers the same functions with
the same signatures, so the CLI can pick one module per end and call it
without knowing which backend it holds."""

from __future__ import annotations

import inspect

from annotations_ingester_spark.sources import BACKENDS

FUNCTIONS = ("check", "read", "done_ids", "stored", "write")


def test_every_backend_has_the_same_signatures():
    for fn in FUNCTIONS:
        sigs = {name: inspect.signature(getattr(mod, fn)) for name, mod in BACKENDS.items()}
        assert len(set(sigs.values())) == 1, f"{fn} signatures differ: {sigs}"

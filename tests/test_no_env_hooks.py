"""The engine reads no A/B environment hooks.

Settled experiments leave one code path behind, not an env var that picks
between two. The only environment the package reads is deployment sizing
in ``session.py``; a new ``os.environ``/``getenv`` read anywhere else (or
of any other name) fails here.
"""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "annotations_ingester_spark"

#: (file, variable) pairs the package may read
ALLOWED = {
    ("session.py", "SPARK_GRAFT_CPUS"),
    ("session.py", "SPARK_DRIVER_MEM"),
}


def test_package_reads_only_deployment_env_vars():
    reads = set()
    for f in sorted(PKG.rglob("*.py")):
        for n, line in enumerate(f.read_text().splitlines(), 1):
            if re.search(r"os\.environ|getenv", line):
                names = re.findall(r"""["']([A-Za-z_][A-Za-z0-9_]*)["']""", line)
                name = names[0] if names else f"<line {n}>"
                reads.add((f.relative_to(PKG).as_posix(), name))
    unexpected = sorted(reads - ALLOWED)
    assert not unexpected, f"environment reads outside the allowlist: {unexpected}"
    assert reads == ALLOWED, f"scan missed an allowed read: {sorted(ALLOWED - reads)}"

"""Engine-portable 60-bit hashing built on md5.

Dedup/LSH operators (MinHash, SimHash, LSH banding) need a hash function
that any ANSI-SQL engine can recompute so results are oracle-checkable:
``xxhash64``/``hash`` differ across engines, but md5 is universal. We take
the first 15 hex chars of md5 (60 bits, always fits a signed int64).

Cost note for 100 TB: md5 is a JVM-side codegen'd expression — no Python
boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_HEX_CHARS = 15  # 60 bits < 2^63


def md5_hash64(col: Column | str) -> Column:
    """Portable 60-bit hash of a string column.

    DuckDB equivalent: ``('0x' || substr(md5(x), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, HASH_HEX_CHARS), 16, 10).cast("long")


def seeded_hash64(col: Column | str, seed: Column | int) -> Column:
    """Seeded portable hash: hash of ``"{seed}:{value}"`` — the MinHash
    family {h_seed} (one permutation per seed).

    DuckDB equivalent:
    ``('0x' || substr(md5(seed || ':' || x), 1, 15))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    s = F.lit(seed) if isinstance(seed, int) else seed
    return md5_hash64(F.concat_ws(":", s.cast("string"), c))


def md5_hash64_sql(expr: str) -> str:
    """DuckDB-SQL rendering of :func:`md5_hash64` for oracle queries."""
    return f"(('0x' || substr(md5({expr}), 1, {HASH_HEX_CHARS}))::BIGINT)"

"""sf0.1 -> sf1 scaling rehearsal for named catalog queries: per query,
bench.time_query's noop-sink timing at both scale factors, printed as the
BENCH_SCALING.md row format. Run it on an otherwise-idle machine
(concurrent Spark sessions skew timings ~2x).

Usage: python tools/sf1_rehearsal.py <query> [...]
  (env: SPARK_GRAFT_SF01_DIR=/root/testdata/sf0.1,
        SPARK_GRAFT_SF1_DIR=./testdata_sf1)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print(__doc__)
        return 2
    lo = os.environ.get("SPARK_GRAFT_SF01_DIR", "/root/testdata/sf0.1")
    hi = os.environ.get("SPARK_GRAFT_SF1_DIR", "./testdata_sf1")
    from annotations_ingester_spark.plans.queries import REGISTRY
    from annotations_ingester_spark.session import get_spark
    from bench import time_query

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    spark = get_spark("sf1-rehearsal")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warm JVM

    print("| query | sf0.1 | sf1 | ratio @10x data |")
    print("|---|---|---|---|")
    for n in names:
        a = time_query(spark, n, lo)
        b = time_query(spark, n, hi)
        ratio = b / a if a > 0 else float("nan")
        print(f"| `{n}` | {a:.2f} s | {b:.2f} s | {ratio:.1f} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

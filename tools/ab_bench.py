"""A/B measurement harness: per-query timing through bench.time_query (noop
sink, median-of-3, median-of-5 under 5 s, blocks freed per query) over a
named subset, with optional runtime SQL conf overrides — for guide-§1
measure-first experiments.

Usage:
  python tools/ab_bench.py name1 name2 ... [--conf k=v[,k=v...]] [--out F]
  python tools/ab_bench.py --list top20     # predefined subsets
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    argv = sys.argv[1:]
    conf: dict[str, str] = {}
    out = None
    if "--conf" in argv:
        i = argv.index("--conf")
        for kv in argv[i + 1].split(","):
            k, _, v = kv.partition("=")
            conf[k] = v
        argv = argv[:i] + argv[i + 2 :]
    if "--out" in argv:
        i = argv.index("--out")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    names = argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from annotations_ingester_spark.session import get_spark
    from bench import time_query

    spark = get_spark("ab_bench")
    for k, v in conf.items():
        spark.conf.set(k, v)
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings = {}
    for n in names:
        timings[n] = time_query(spark, n, sf_dir)
        print(f"{n:44s} {timings[n]:7.3f}", flush=True)
    print(f"TOTAL {sum(timings.values()):.2f}s over {len(timings)} queries")
    if out:
        Path(out).write_text(json.dumps({"conf": conf, "timings": timings}) + "\n")


if __name__ == "__main__":
    main()

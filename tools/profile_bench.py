"""Per-query decomposition profiler for the bench headline set.

For each query: time the Python-side builder call (which includes any
eager jobs like localCheckpoint), the first noop execution (plan +
execute), and a second noop execution (warm). Also count plan features
(Exchange / Arrow-Python nodes / joins) from the executed plan string.

Usage: python tools/profile_bench.py [name ...] [--out FILE]
Defaults to the full bench HEADLINE list at $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    argv = sys.argv[1:]
    out = None
    if "--out" in argv:
        i = argv.index("--out")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import HEADLINE
    from annotations_ingester_spark.materialize import Scope
    from annotations_ingester_spark.plans.queries import REGISTRY
    from annotations_ingester_spark.session import get_spark

    names = args or HEADLINE
    spark = get_spark("profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    sc = spark.sparkContext

    rows = {}
    for name in names:
        spec = REGISTRY[name]
        spark.catalog.clearCache()
        sc._jvm.System.gc()
        with Scope(spark):
            # warm-up (uncounted)
            spec.spark(spark, sf_dir).write.format("noop").mode("overwrite").save()

            t0 = time.perf_counter()
            df = spec.spark(spark, sf_dir)
            t_build = time.perf_counter() - t0

            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t_exec1 = time.perf_counter() - t0

            # second full cycle to match bench's repeated-build methodology
            t0 = time.perf_counter()
            df2 = spec.spark(spark, sf_dir)
            df2.write.format("noop").mode("overwrite").save()
            t_cycle2 = time.perf_counter() - t0

            try:
                plan = df._jdf.queryExecution().executedPlan().toString()
            except Exception:
                plan = ""

        feats = {
            "exchange": plan.count("Exchange"),
            "aqeread": plan.count("AQEShuffleRead"),
            "pyeval": plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
            + plan.count("MapInArrow"),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
            "nlj": plan.count("BroadcastNestedLoopJoin"),
            "cart": plan.count("CartesianProduct"),
            "window": plan.count("Window"),
            "scan": plan.count("FileScan") + plan.count("Scan parquet"),
        }
        rows[name] = {
            "build": round(t_build, 3),
            "exec1": round(t_exec1, 3),
            "cycle2": round(t_cycle2, 3),
            "total": round(t_build + t_exec1, 3),
            **feats,
        }
        print(
            f"{name:42s} build={t_build:6.3f} exec={t_exec1:6.3f} "
            f"cyc2={t_cycle2:6.3f} ex={feats['exchange']:2d} py={feats['pyeval']}",
            flush=True,
        )

    if out:
        Path(out).write_text(json.dumps(rows, indent=1) + "\n")
    tot_b = sum(r["build"] for r in rows.values())
    tot_e = sum(r["exec1"] for r in rows.values())
    print(f"TOTAL build={tot_b:.1f}s exec={tot_e:.1f}s n={len(rows)}")


if __name__ == "__main__":
    main()

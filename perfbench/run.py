"""Benchmark entry point; see ``perfbench/README.md``.

    python3 perfbench/run.py --workload ingest_nlp_bound --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it stamps the settings and the load average.
``--scale`` shrinks every input (the smoke test uses 0.1).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

INGEST = ("ingest_nlp_bound", "ingest_resume")
WORKLOADS = INGEST + ("catalog_mix",)


def since_process_start() -> float:
    """Seconds from this process's start to ``T0`` (clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK") - (time.perf_counter() - T0))


def per_layer_names() -> list[str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer"]]


def units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def run(args, work: str) -> tuple[dict, dict, int, int]:
    """Returns (end-to-end metrics, per-layer metrics, attempted, failed)."""
    import harness

    start_offset = since_process_start()
    e2e: dict[str, float] = {}
    layers: dict[str, float] = {}
    prov: dict = {"load_avg_before": os.getloadavg()}
    cpu_before = harness.cpu_times()
    phases = prov["phases"] = {"imported": time.perf_counter() - T0}
    spark = ingest_run = None
    with harness.MemorySampler() as mem:
        try:
            if args.workload in INGEST:
                import ingest

                ingest_run = ingest.IngestRun(args.workload, args.seed, work, args.scale)
                mem.exclude.add(ingest_run.load.proc.pid)  # the load is not the program
                spark, start_s = harness.start_spark(work)
                phases["spark_up"] = time.perf_counter() - T0
                ingest_run.setup()
                setup_s = start_offset + time.perf_counter() - T0
                passes = ingest_run.timed(args.seconds)
                n_docs = ingest_run.w.docs
                load_cpu = sum(p["load_cpu_s"] for p in passes)
                prov["ingest"] = {**ingest_run.w.__dict__, "nlp_calls_in_flight_cap": harness.cores()}
                prov["ingest"]["failures"] = ingest_run.failures
            else:
                import catalog

                cat = catalog.CatalogRun(args.seed, work, args.scale)
                spark, start_s = harness.start_spark(work)
                phases["spark_up"] = time.perf_counter() - T0
                cat.setup(spark)
                setup_s = start_offset + time.perf_counter() - T0
                passes = cat.timed(spark, args.seconds)
                n_docs = len(catalog.MIX)
                load_cpu = 0.0
                prov["catalog"] = {"mix": catalog.MIX, "sf": cat.sf}
            phases["timed_done"] = time.perf_counter() - T0
            prov["cpu_steal_share"] = harness.steal_share(cpu_before, harness.cpu_times())
            walls = [p["wall_s"] for p in passes]
            wall = statistics.median(walls)
            e2e["setup_s"] = setup_s
            e2e["wall_s"] = wall
            e2e["docs_per_s"] = n_docs / wall
            e2e["peak_pss_mb"] = mem.peak / 2**20
            layers["session.start_s"] = start_s
            layers["load.cpu_share"] = load_cpu / sum(walls)
            if args.workload not in INGEST:
                cat.check()
                attempted, failed = cat.attempted, cat.failed
                prov["catalog"]["errors"] = cat.errors
            phases["checked"] = time.perf_counter() - T0
            if args.trace:
                harness.stop_spark(spark)
                spark = None
                shutil.rmtree(f"{work}/events", ignore_errors=True)
                spark, _ = harness.start_spark(work, event_log=True)
                if ingest_run is not None:
                    staged = ingest_run.staged_layers(spark)
                else:
                    cat.one_pass(spark)  # the new session starts cold
                    rows, traced_wall = cat.traced_pass(spark)
                harness.stop_spark(spark)
                spark = None
                log = harness.parse_event_log(f"{work}/events")
                if ingest_run is not None:
                    layers.update(ingest_run.layer_metrics(staged, log, wall))
                    trace_rows = [{k: v for k, v in staged["cli"].items()
                                   if k not in ("calls", "before", "after")}]
                else:
                    layers.update(catalog.CatalogRun.layer_metrics(rows, traced_wall, wall, log))
                    trace_rows = rows
            if ingest_run is not None:
                attempted, failed = ingest_run.attempted, ingest_run.failed
            e2e["ok_frac"] = 1.0 - failed / attempted
        finally:
            if spark is not None:
                harness.stop_spark(spark)
            if ingest_run is not None:
                ingest_run.close()
    phases["stopped"] = time.perf_counter() - T0
    prov.update({
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{harness.cores()}]",
        "nproc": harness.nproc(),
        "driver_memory": harness.DRIVER_MEM,
        "passes": walls,
        "load_cpu_share": layers["load.cpu_share"],
        "load_avg_after": os.getloadavg(),
    })
    if args.trace:
        for name in per_layer_names():
            layers.setdefault(name, 0.0)  # a layer this workload does not run
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        u = units()
        with open(path, "w") as f:
            json.dump({
                "provenance": prov,
                "layers": layers,
                "rows": trace_rows,
                "untraced": {k: {"value": v, "unit": u[k]} for k, v in e2e.items()},
            }, f, indent=1, default=str)
        prov["trace_file"] = os.path.relpath(path, ROOT)
    print(json.dumps({"provenance": prov}, default=str))
    return e2e, layers, attempted, failed


def main() -> int:
    ap = argparse.ArgumentParser("perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    args = ap.parse_args()

    # the program under test and its tests' ES stub come from the checkout
    sys.path[:0] = [ROOT, HERE]
    import annotations_ingester_spark  # noqa: F401  (fail fast outside a checkout)

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # everything the program and Spark write stays inside the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    import harness

    os.environ["SPARK_GRAFT_CPUS"] = str(harness.cores())
    os.environ["SPARK_DRIVER_MEM"] = harness.DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, spark-submit's launcher too, keeps its perf counters in
    # memory instead of a file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:+PerfDisableSharedMem"
    try:
        e2e, layers, attempted, failed = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    u = units()
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The ``catalog_mix`` workload: a fixed list of catalog queries, each built
through ``REGISTRY`` and forced with a noop write, one after another.

The warm-up pass runs the same builders over the same tables and collects
their rows, which are checked against each query's DuckDB oracle after the
timed phase. Nothing frees the checkpoint blocks between queries, as for
any library caller.
"""

from __future__ import annotations

import time

import catalog_data
import harness

# chosen by layer: eager builder jobs (a checkpoint-cycled connected-
# components loop); a shuffle join; windows; a checkpoint-pinned
# multi-consumer frame
MIX = (
    "er_entity_clusters",
    "q5_nation_revenue",
    "window_topk_per_customer",
    "events_sessionization",
    "bm25_match_ranking",
)
SF = 0.01


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


class CatalogRun:
    def __init__(self, seed: int, work: str, scale: float) -> None:
        self.seed = seed
        self.data = f"{work}/data"
        self.sf = SF * scale
        self.rows: dict = {}
        self.errors: dict[str, str] = {}
        self.queries = list(MIX)
        self.attempted = 0
        self.failed = 0

    def setup(self, spark) -> None:
        """Generate the tables, then warm up: one pass over the mix that
        keeps each query's rows for the oracle check, and one timed-path
        pass."""
        from annotations_ingester_spark.plans.queries import REGISTRY

        catalog_data.generate(self.data, self.seed, self.sf)
        for name in MIX:
            try:
                self.rows[name] = REGISTRY[name].spark(spark, self.data).toPandas()
            except Exception as exc:  # a failing query is counted, not fatal
                self.errors[name] = repr(exc)
        # a query that raised is counted by the check and left out after
        self.queries = [name for name in MIX if name not in self.errors]
        self.one_pass(spark)

    def one_pass(self, spark) -> dict:
        from annotations_ingester_spark.plans.queries import REGISTRY

        t0 = time.perf_counter()
        leaked = 0
        for name in self.queries:
            harness.noop(REGISTRY[name].spark(spark, self.data))
            leaked += persistent_rdds(spark)
        return {"wall_s": time.perf_counter() - t0, "persistent_rdds": leaked}

    def timed(self, spark, seconds: float) -> list[dict]:
        passes: list[dict] = []
        while not passes or sum(p["wall_s"] for p in passes) < seconds:
            passes.append(self.one_pass(spark))
        return passes

    def check(self) -> None:
        """Each query's warm-up rows against its DuckDB oracle, compared as
        ``tools/parity.py`` compares them."""
        import duckdb

        from annotations_ingester_spark.plans.queries import REGISTRY
        from tools.parity import frame_canon

        con = duckdb.connect()
        try:
            for t in catalog_data.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for name in MIX:
                self.attempted += 1
                if name in self.errors:
                    self.failed += 1
                    continue
                try:
                    oracle = con.execute(REGISTRY[name].oracle).fetchdf()
                except duckdb.Error as exc:
                    self.errors[name] = f"oracle: {exc!r}"
                    self.failed += 1
                    continue
                if frame_canon(self.rows[name]) != frame_canon(oracle):
                    self.errors[name] = "rows differ from the oracle"
                    self.failed += 1
        finally:
            con.close()

    def traced_pass(self, spark) -> tuple[list[dict], float]:
        """One pass with each query's layers timed apart: the builder call,
        the QueryExecution tracker's phases, and the noop action."""
        from annotations_ingester_spark.plans.queries import REGISTRY

        rows = []
        t_pass = time.perf_counter()
        for name in self.queries:
            harness.tag(spark, "catalog_mix", "plans.build", query=name)
            t0 = time.perf_counter()
            df = REGISTRY[name].spark(spark, self.data)
            build_s = time.perf_counter() - t0
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            catalyst_ms = 0
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined():
                    catalyst_ms += summary.get().durationMs()
            harness.tag(spark, "catalog_mix", "plans.action", query=name)
            t1 = time.perf_counter()
            harness.noop(df)
            action_s = time.perf_counter() - t1
            harness.tag(spark, "catalog_mix", None)
            rows.append({
                "query": name,
                "build_s": build_s,
                "catalyst_s": catalyst_ms / 1000.0,
                "action_s": action_s,
                "persistent_rdds": persistent_rdds(spark),
            })
        return rows, time.perf_counter() - t_pass

    @staticmethod
    def layer_metrics(rows: list[dict], traced_wall: float, untraced_wall: float,
                      log: harness.EventLog) -> dict[str, float]:
        for r in rows:
            build_jobs = log.jobs_tagged(f"q.{r['query']}.plans.build")
            all_jobs = build_jobs + log.jobs_tagged(f"q.{r['query']}.plans.action")
            r["eager_jobs"] = len(build_jobs)
            r["eager_job_s"] = sum(
                log.jobs[j].end_ms - log.jobs[j].start_ms for j in build_jobs
            ) / 1000.0
            r["construct_s"] = r["build_s"] - r["eager_job_s"]
            r["tasks"] = log.total(log.stage_tasks, all_jobs)
            r["shuffle_bytes"] = log.total(log.shuffle, all_jobs)
            r["spill_bytes"] = log.total(log.spill, all_jobs)
            r["gc_s"] = log.total(log.gc_ms, all_jobs) / 1000.0
        keys = ("build_s eager_jobs eager_job_s construct_s catalyst_s action_s tasks "
                "shuffle_bytes spill_bytes gc_s persistent_rdds").split()
        out = {f"plans.{k}": sum(r[k] for r in rows) for k in keys}
        out["trace.overhead_s"] = traced_wall - untraced_wall
        out["trace.residual_s"] = traced_wall - (
            out["plans.build_s"] + out["plans.catalyst_s"] + out["plans.action_s"]
        )
        return out

"""Query catalog registry: named (Spark builder, DuckDB oracle) pairs.

Every operator the engine claims (SURVEY §2 inventory + north-star
extensions) registers here; ``__spark_entry__.py`` exposes the registry to
the driver's correctness gate. Parity rules that keep value-hashes equal
across engines:

- alias every computed column identically on both sides;
- cast Spark's narrow ints to BIGINT (DuckDB's default int width);
- never SUM raw doubles — sum DECIMAL(18,2/6) then cast to DOUBLE
  (deterministic regardless of accumulation order);
- round derived doubles in-query;
- make every ORDER BY/LIMIT and row_number total (tie-break on a key).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from annotations_ingester_spark.streaming.pipeline import file_stream


@dataclass
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over pre-registered table views; None → rows-only check
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name=name, spark=fn, oracle=oracle, doc=doc)
        return fn

    return deco


#: Inferred parquet schema per concrete path. Metadata only — never rows:
#: every query still computes from the parquet files on every run. Keyed on
#: the full path because the same logical table can ship different physical
#: schemas per sf dir (events ``ts`` encodings). At 100 TB the same move —
#: an explicit read schema instead of per-query footer sampling — is the
#: standard posture (guide §6: schema-on-read inference costs a listing +
#: footer read per query).
_SCHEMA_CACHE: dict[str, object] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def table_schema(spark: SparkSession, sf_dir: str, name: str):
    """Cached StructType of a base table (same cache as :func:`table`) —
    for ``readStream`` and other sites that need an explicit schema.
    A fresh ``spark.read.parquet(path).schema`` costs a listing + footer
    read (~0.15-0.5 s) on EVERY plan build; the streaming builders each
    paid it once per timed bench rep. Metadata only — rows are never
    cached, and the caller's session confs (``nanosAsLong``) still govern
    the one inference that populates the entry."""
    path = f"{sf_dir}/{name}.parquet"
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[path] = schema
    return schema


#: Logical operators that compile to an exchange (or a materialization
#: point Spark can reuse across consumers of one physical plan): below any
#: of these, re-deriving the subtree from a second consumer re-reads
#: shuffle files instead of re-running the scan.
_CKPT_BARRIERS = frozenset(
    {
        "Aggregate",
        "Join",
        "Window",
        "Deduplicate",
        "Distinct",
        "Intersect",
        "Except",
        "Repartition",
        "RepartitionByExpression",
        "RebalancePartitions",
        "Sort",
        "GlobalLimit",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
    }
)

#: Topmost barriers whose post-shuffle tail is ~O(input rows) per re-run
#: (dedup's reduce-side agg, a window over the full frame): re-deriving
#: that tail once per consumer is as expensive as the subtree itself, so
#: an eager one-time materialization wins (measured: an all-lazy sweep
#: cost dedup_minhash_containment 2.5→4.3 s on its distinct()-rooted site).
_CKPT_HEAVY_TAILS = frozenset({"Deduplicate", "Distinct", "Window"})


def _topmost_barriers(df: DataFrame) -> set[str]:
    """Node names of the shallowest shuffle barriers in the analyzed plan
    (exploration stops below a barrier — only the re-derivable tail above
    the first exchange matters for the eager/lazy choice)."""
    found: set[str] = set()
    stack = [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name in _CKPT_BARRIERS:
            found.add(name)
            continue
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return found


def ckpt_eager(df: DataFrame) -> bool:
    """The :func:`ckpt` verdict: eager for a narrow subtree or a heavy
    tail, lazy for a cheap tail above a reusable exchange."""
    barriers = _topmost_barriers(df)
    return not barriers or bool(barriers & _CKPT_HEAVY_TAILS)


def ckpt(df: DataFrame) -> DataFrame:
    """Materialization point for a subtree consumed by several branches of
    one query plan (``df.transform(ckpt)``). Behavior-preserving — a
    localCheckpoint never changes rows — the classification only decides
    WHEN the subtree materializes, per site from the plan shape instead of
    hard-coded eager:

    - **Aggregate/join/limit-rooted subtree → lazy.** Consumers of the
      checkpointed RDD re-derive at most the cheap post-shuffle tail
      (shuffle files are reused across stages of the one job), so the
      separate eager materialization job — paid on EVERY plan build,
      4-6x per benched query — is avoidable overhead.
    - **Narrow subtree (no exchange below) → eager.** Under lazy, the N
      consumer branches of the first job race to compute the same
      partitions and each re-runs the full scan+project lineage (nothing
      to reuse — there are no shuffle files), so the subtree runs ~N
      times. Eager materializes once, every consumer reads blocks.
    - **Distinct/window-rooted subtree → eager.** There is a reusable
      exchange, but the tail above it (dedup's reduce-side aggregation, a
      window over the whole frame) is ~O(input) per re-derivation.

    Paired interleaved A/B at sf0.1 (alternating modes within one session
    so machine drift cancels — sequential mode-per-session runs on this
    box showed spurious 2-6x swings in BOTH directions that vanish under
    pairing; see OPTIMIZATION_r12.md) measures auto ≈ eager-everywhere on
    warm medians across 20 ckpt-heavy queries, with auto issuing fewer
    build-time jobs. The win is job-count and posture, not local wall
    time: at 100 TB the eager job is a full extra pass over the subtree's
    input, paid once per plan build.

    Each call walks its own plan: over every non-streaming builder at
    sf0.01 on 4 vCPUs, 166 walks took a median 0.93 ms (p90 3.5 ms), 0.25 s
    against 141 s of build, and each of the 129 call sites got one verdict
    on every call. The blocks live until the caller's
    ``materialize.Scope`` exits.
    """
    return df.localCheckpoint(eager=ckpt_eager(df))


def run_concurrently(*thunks):
    """Run independent Spark actions from one thread pool (guide §2.6 —
    overlap independent jobs so the later job's tasks back-fill the
    earlier one's straggler tail). Returns results in submission order.
    ALL futures are awaited even when one fails, so a caller's cleanup
    (``DROP TABLE`` / ``rmtree`` in a ``finally``) never races a
    still-running write, and every failure is surfaced instead of only
    the first future's (r12 advice)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        results: list = []
        errors: list[Exception] = []
        for fut in futures:
            try:
                results.append(fut.result())
            except Exception as exc:  # await every future before raising
                errors.append(exc)
    if len(errors) == 1:
        raise errors[0]
    if errors:
        raise ExceptionGroup("concurrent Spark actions failed", errors)
    return results


def utc_label(col, fmt: str = "yyyy-MM-dd HH:mm:ss"):
    """Render a timestamp instant as a UTC wall-clock string regardless of
    ``spark.sql.session.timeZone``: convert to TIMESTAMP_NTZ in UTC first
    (``convert_timezone``), then format — NTZ rendering ignores the session
    zone. Lets window queries be timezone-independent instead of mutating
    session state as a plan-construction side effect."""
    from pyspark.sql import functions as F

    return F.date_format(F.convert_timezone(None, F.lit("UTC"), F.col(col)), fmt)


def events_ts_seconds(ts_dtype: str):
    """Epoch-seconds (BIGINT) expression for the events ``ts`` column,
    adaptive to how the parquet encodes it. The generated testdata has
    shipped two encodings: TIMESTAMP(NANOS) (read as raw INT64 nanos under
    ``nanosAsLong``) and plain TIMESTAMP/TIMESTAMP_NTZ(MICROS). DuckDB twin
    for both: ``floor(epoch(ts))::BIGINT`` — for the NTZ encoding
    ``unix_timestamp`` treats the naive wall clock as UTC, exactly like
    DuckDB's ``epoch``, independent of ``spark.sql.session.timeZone``."""
    from pyspark.sql import functions as F

    if ts_dtype == "bigint":
        return (F.col("ts") / F.lit(1_000_000_000)).cast("long")
    return F.unix_timestamp(F.col("ts"))


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream table; exposes ``ts_s`` (epoch seconds, BIGINT —
    DuckDB twin: ``floor(epoch(ts))::BIGINT``) alongside the raw column,
    adapting to either historical ``ts`` parquet encoding."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = table(spark, sf_dir, "events")
    return df.withColumn("ts_s", events_ts_seconds(dict(df.dtypes)["ts"]))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of :func:`events_table`: a file-source stream
    over the events parquet (read with the cached schema, which the same
    ``nanosAsLong`` conf populates), with the same ``ts_s`` column."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = table_schema(spark, sf_dir, "events")
    df = file_stream(spark, f"{sf_dir}/events.parquet", schema)
    return df.withColumn("ts_s", events_ts_seconds(dict(df.dtypes)["ts"]))


#: DuckDB CTE twin of :func:`daily_cents` — compose as f"WITH {DAILY_CENTS_CTE}, ..."
DAILY_CENTS_CTE = """e AS (
         SELECT (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                round(value * 100)::BIGINT AS cents
         FROM events),
       d AS (SELECT day, sum(cents)::BIGINT AS x FROM e GROUP BY day)"""

#: DuckDB CTE twin of :func:`daily_type_counts`
DAILY_TYPE_COUNTS_CTE = """e AS (
         SELECT (floor(epoch(ts))::BIGINT // 86400)::BIGINT AS day,
                event_type
         FROM events),
       d AS (SELECT day,
                    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      ::BIGINT AS x,
                    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      ::BIGINT AS y
             FROM e GROUP BY day)"""


def daily_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue series ``(day BIGINT, x BIGINT cents)`` — the shared
    input of the time-series statistics family (ACF, CUSUM, seasonal
    indexes, forecast backtest). One map-side-combinable aggregate over
    the event stream, bounded by the date domain and localCheckpoint'ed
    so every consumer branch re-reads the tiny frame, not the scan."""
    from pyspark.sql import functions as F

    return (
        events_table(spark, sf_dir)
        .select(
            F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("long").alias("x"))
        .transform(ckpt)
    )


def daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily paired metric series ``(day, x = clicks, y = purchases)`` —
    the shared input of the rank-correlation family (Spearman, Kendall).
    Same boundedness/checkpoint discipline as :func:`daily_cents`."""
    from pyspark.sql import functions as F

    return (
        events_table(spark, sf_dir)
        .select(
            F.expr("CAST(ts_s DIV 86400 AS BIGINT)").alias("day"), "event_type"
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .transform(ckpt)
    )

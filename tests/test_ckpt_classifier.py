"""The ckpt() materialization-point classifier (plans/catalog.py).

r12 optimization: checkpoint sites in the query builders are classified
per plan shape instead of hard-coded eager — lazy when the subtree roots
in a reusable exchange with a cheap tail (aggregate/join/limit), eager
when the subtree is narrow (lazy would recompute it once per consumer)
or roots in a heavy tail (distinct/window re-run ~O(input) per consumer).
These tests pin the classification and the results-identity contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from annotations_ingester_spark.plans import catalog
from annotations_ingester_spark.plans.catalog import ckpt


def _verdict(df) -> str:
    return "eager" if catalog.ckpt_eager(df) else "lazy"


def test_narrow_subtree_classified_eager(spark):
    base = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("x")
    )
    assert _verdict(base) == "eager"


def test_aggregate_rooted_classified_lazy(spark):
    agg = (
        spark.range(100)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    assert _verdict(agg) == "lazy"


def test_projection_over_aggregate_still_lazy(spark):
    # a cheap tail above the exchange keeps the lazy verdict
    agg = (
        spark.range(100)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.sum("id").alias("s"))
        .select("k", (F.col("s") + 1).alias("s1"))
        .filter(F.col("s1") > 0)
    )
    assert _verdict(agg) == "lazy"


def test_distinct_rooted_classified_eager(spark):
    # heavy tail: dedup's reduce-side aggregation is ~O(input) per re-run
    d = spark.range(100).select((F.col("id") % 7).alias("k")).distinct()
    assert _verdict(d) == "eager"


def test_window_rooted_classified_eager(spark):
    from pyspark.sql import Window

    w = Window.partitionBy(F.col("id") % 5).orderBy("id")
    df = spark.range(100).select("id", F.row_number().over(w).alias("rn"))
    assert _verdict(df) == "eager"


def test_join_rooted_classified_lazy(spark):
    a = spark.range(100).select("id", (F.col("id") * 2).alias("x"))
    b = spark.range(50).select("id", (F.col("id") * 3).alias("y"))
    assert _verdict(a.join(b, "id")) == "lazy"


def test_ckpt_preserves_rows(spark):
    agg = (
        spark.range(1000)
        .groupBy((F.col("id") % 13).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    expect = {(r.k, r.s) for r in agg.collect()}
    got = {(r.k, r.s) for r in agg.transform(ckpt).collect()}
    assert got == expect


def test_temp_dir_sites_stay_explicitly_eager():
    """Every checkpoint that materializes data read from a builder's
    mkdtemp lifecycle must stay ``localCheckpoint(eager=True)`` — a lazy
    read after the rmtree is a FILE_NOT_EXIST task failure (observed on
    streaming_cdc_apply when these sites were swept to lazy)."""
    import pathlib
    import re

    plans = pathlib.Path(catalog.__file__).parent
    for f in plans.glob("queries_*.py"):
        lines = f.read_text().splitlines()
        mk = [i for i, l in enumerate(lines) if "mkdtemp(" in l]
        rm = [i for i, l in enumerate(lines) if "rmtree(" in l]
        ck = [i for i, l in enumerate(lines) if re.search(r"transform\(ckpt\)", l)]
        for m in mk:
            r = min([x for x in rm if x > m], default=None)
            if r is None:
                continue
            bad = [c + 1 for c in ck if m < c <= r]
            assert not bad, (
                f"{f.name}:{bad} uses auto-classified ckpt inside a "
                "mkdtemp/rmtree lifecycle; use localCheckpoint(eager=True)"
            )

"""Block lifetime (annotations_ingester_spark/materialize.py): a query run
inside a ``Scope`` leaves no persistent RDD behind and returns the same
rows; scopes nest and release on an exception; only materialize.py reads
the context's persistent-RDD map."""

from __future__ import annotations

from pathlib import Path

import pytest

from annotations_ingester_spark.materialize import Scope, live_rdd_ids, release
from annotations_ingester_spark.plans.queries import REGISTRY

REPO = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize(
    "name",
    [
        "er_entity_clusters",
        "bm25_match_ranking",
        "stats_esd_outliers",
        "graph_degree_assortativity",
    ],
)
def test_scoped_query_frees_its_blocks_and_keeps_its_rows(spark, sf_dir, name):
    # Only what the scope promises is compared: blocks an earlier test
    # leaked may be freed by the ContextCleaner at any time, so the whole
    # live set is not. A block this test holds stands for the older ones.
    build = REGISTRY[name].spark
    before = live_rdd_ids(spark)
    held = spark.range(10).localCheckpoint(eager=True)
    (held_id,) = live_rdd_ids(spark) - before
    opened = live_rdd_ids(spark)
    with Scope(spark):
        scoped = build(spark, sf_dir).collect()
    assert not live_rdd_ids(spark) - opened  # none created inside survives
    assert held_id in live_rdd_ids(spark)  # an older block is left alone
    assert held.count() == 10

    unscoped = build(spark, sf_dir).collect()
    release(spark, live_rdd_ids(spark) - before)
    assert sorted(map(repr, scoped)) == sorted(map(repr, unscoped))


@pytest.mark.parametrize(
    "name, tables, max_jobs",
    [("er_entity_clusters", ["customer"], 2), ("bm25_match_ranking", ["documents"], 0)],
)
def test_builder_starts_few_jobs_and_leaves_no_blocks(spark, sf_dir, name, tables, max_jobs):
    """Building the query starts at most ``max_jobs`` Spark jobs: the
    connected-components probe's pair-generation shuffle and its collect;
    none for BM25, whose scores come from one projection. With no scope,
    build + action pin no block."""
    from annotations_ingester_spark.plans.catalog import table_schema

    for t in tables:  # a table's first read infers its schema in a job
        table_schema(spark, sf_dir, t)
    sc = spark.sparkContext
    group = f"build.{name}"
    before = live_rdd_ids(spark)
    sc.setJobGroup(group, group)
    try:
        df = REGISTRY[name].spark(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    df.write.format("noop").mode("overwrite").save()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= max_jobs
    assert not live_rdd_ids(spark) - before


def test_checkpoint_from_before_an_inner_scope_survives_it(spark):
    before = live_rdd_ids(spark)
    with Scope(spark):
        outer = spark.range(100).localCheckpoint(eager=True)
        with Scope(spark):
            inner = spark.range(10).localCheckpoint(eager=True)
            assert inner.count() == 10
        assert outer.selectExpr("sum(id)").first()[0] == 4950
    assert live_rdd_ids(spark) == before


def test_scope_exited_by_an_exception_releases_its_blocks(spark):
    before = live_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with Scope(spark):
            spark.range(10).localCheckpoint(eager=True)
            assert live_rdd_ids(spark) - before
            raise RuntimeError("boom")
    assert live_rdd_ids(spark) == before


def test_cli_run_leaves_no_persistent_rdd(spark, tmp_path):
    from annotations_ingester_spark.__main__ import main
    from tests.test_cli import _cfg, _corpus

    src = _corpus(spark, tmp_path)
    before = live_rdd_ids(spark)
    assert main(["--config", _cfg(tmp_path, src, str(tmp_path / "sink"))]) == 0
    assert live_rdd_ids(spark) == before


def test_only_materialize_reads_the_persistent_rdd_map():
    """Block lifetime has one owner: every other module frees blocks by
    opening a Scope, never by walking the context's RDD map."""
    files = [
        *(REPO / "annotations_ingester_spark").rglob("*.py"),
        *(REPO / "tools").rglob("*.py"),
        *(REPO / "tests").rglob("*.py"),
        REPO / "bench.py",
    ]
    owners = {Path(__file__).resolve(), REPO / "annotations_ingester_spark" / "materialize.py"}
    offenders = sorted(
        f.relative_to(REPO).as_posix()
        for f in files
        if f.resolve() not in owners and "getPersistentRDDs" in f.read_text()
    )
    assert not offenders, f"read the persistent-RDD map outside materialize.py: {offenders}"

"""Plan-shape regression tests: the scale properties the engine claims
(pushdown, pruning, broadcast-only dim joins, map-side partial aggregation)
asserted against the actual executed plans — so a refactor that silently
turns a broadcast join into a sort-merge join or un-pushes a filter fails
CI, not a 100 TB run."""

from __future__ import annotations

import pytest
import yaml

from annotations_ingester_spark.plans.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_prunes_columns(spark):
    p = plan_of(spark, "s1_scan_doc_ids")
    assert "ReadSchema: struct<doc_id:bigint>" in p  # P1: ids only


def test_range_filter_pushed_to_parquet(spark):
    p = plan_of(spark, "s3_range_scan_orders")
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual" in p


def test_q3_joins_broadcast_not_sortmerge(spark):
    p = plan_of(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_q5_all_dims_broadcast(spark):
    p = plan_of(spark, "q5_nation_revenue")
    assert p.count("BroadcastHashJoin") == 5 and "SortMergeJoin" not in p


def test_anti_join_is_broadcast(spark):
    p = plan_of(spark, "j1_anti_join_skip_processed")
    assert "LeftAnti" in p and "BroadcastHashJoin" in p


def test_minhash_partial_aggregation(spark):
    p = plan_of(spark, "minhash_signatures")
    assert "partial_min" in p  # map-side combine before the shuffle


@pytest.mark.parametrize("name", ["q1_pricing_summary", "b1_tumbling_date_windows"])
def test_aggs_have_partial_phase(spark, name):
    assert "partial_" in plan_of(spark, name)


def test_u2_dedup_exchange_keys_on_row_id_only(spark):
    # U2 keys the hot-path dedup on the deterministic row_id, so the dedup
    # exchange hashes one short string — not the full sink payload
    # (VERDICT r1 #2). pipeline_idempotent_rerun applies it explicitly, as
    # the parquet sink does (parquet.stored).
    import re

    p = plan_of(spark, "pipeline_idempotent_rerun")
    m = re.search(r"hashpartitioning\(([^)]*)\)", p)
    assert m, p
    keys = [k.strip().split("#")[0] for k in m.group(1).split(",")[:-1]]
    assert keys == ["row_id"], keys


def test_explode_skew_salted_two_phase(spark):
    # phase 1 shuffles on (doc_id, _salt) — the hot key is spread over the
    # salt space before any reducer sees it; phase 2 combines per doc_id
    import re

    p = plan_of(spark, "explode_skew_salted")
    parts = [
        [k.strip().split("#")[0] for k in m.group(1).split(",")[:-1]]
        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p)
    ]
    assert ["doc_id", "_salt"] in parts, parts
    assert "partial_" in p  # map-side combine in both phases


def test_pipeline_filter_upstream_of_python_stage(spark):
    # SURVEY §4.1: the P3 filter must run before the mapInPandas barrier so
    # invalid docs never pay the (NLP) enrichment cost
    p = plan_of(spark, "pipeline_w1_flat_medcat")
    map_pos = p.index("MapInPandas")
    scan_pos = p.index("Scan parquet")
    filter_pos = p.index("length(text")
    assert map_pos < filter_pos  # executed-plan strings print top-down
    assert map_pos < scan_pos


def test_window_queries_timezone_independent(spark):
    """Window-label queries must render identical UTC labels under any
    session timezone and must NOT mutate session state as a side effect of
    building/running the plan (advice r2: q_sliding leaked UTC into the
    session, silently changing later timestamp-dependent queries)."""
    from annotations_ingester_spark.plans.catalog import REGISTRY

    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.session.timeZone")
    utc_rows = sorted(map(tuple, REGISTRY["window_tumbling_events"].spark(spark, sf).collect()))
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny_rows = sorted(map(tuple, REGISTRY["window_tumbling_events"].spark(spark, sf).collect()))
        assert ny_rows == utc_rows
        assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"  # not clobbered
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_hash_split_and_downsample_are_scan_fused(spark):
    """Split assignment and weighted downsampling must stay pure
    projections/filters — zero Exchange operators, so at 100 TB they fuse
    with the scan instead of adding a shuffle."""
    for name in ("split_hash_assign", "weighted_downsample"):
        p = plan_of(spark, name)
        assert "Exchange" not in p, f"{name} plan has a shuffle:\n{p}"


def test_stratified_sample_single_shuffle(spark):
    """Stratified sampling is one hash exchange on the strata key feeding
    the ranked window — no second shuffle, no global sort."""
    p = plan_of(spark, "split_stratified_sample")
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "rangepartitioning" not in p.lower(), p


def test_runtime_bloom_filter_available_for_selective_joins(spark):
    """AQE runtime row-level filtering: a selective dim-side predicate must
    be able to inject a bloom filter into the fact-side scan (the 100 TB
    scan-reduction lever when partition pruning can't apply). Production
    defaults gate injection on a >=10 GB probe side, so the test lowers the
    local scan-size threshold to exercise the mechanism; the assertion that
    matters is that the session leaves the feature ON and this Spark build
    injects might_contain under it."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    prev_scan = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = spark.read.parquet(f"{SF}/orders.parquet")
        c = spark.read.parquet(f"{SF}/customer.parquet").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        j = o.join(c, o["o_custkey"] == c["c_custkey"])
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
        assert "bloom_filter_agg" in plan, plan
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prev_scan,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)


def test_shard_manifest_scan_prunes_to_id_and_text(spark):
    """The shard manifest needs only (doc_id, text); lang/source/n_chars
    must be pruned out of the parquet ReadSchema — at 100 TB reading two
    unused string columns is real I/O."""
    p = plan_of(spark, "corpus_shard_manifest")
    import re

    m = re.search(r"ReadSchema: ([^\n]*)", p)
    assert m, p
    assert "doc_id" in m.group(1) and "text" in m.group(1)
    assert "lang" not in m.group(1) and "source" not in m.group(1)


def test_line_dedup_single_scan_partial_agg(spark):
    """Line dedup is one explode into one combinable aggregate: exactly
    one documents scan, a partial_ phase, and no join anywhere."""
    p = plan_of(spark, "dedup_duplicate_lines")
    assert p.count("FileScan") == 1
    assert "partial_" in p
    assert "Join" not in p


def test_ivm_delta_agg_has_partial_phase(spark):
    """The IVM maintenance path must combine the delta map-side before
    its group-key shuffle — a final-only aggregate would ship raw
    changelog rows."""
    p = plan_of(spark, "ivm_agg_maintenance")
    assert "partial_" in p


def test_unpivot_is_zero_shuffle_fanout(spark):
    """unpivot/melt is a projection (Expand), not a shuffle: the only
    Exchange in the plan belongs to the upstream aggregate, and the
    Expand node sits above it."""
    p = plan_of(spark, "unpivot_priority_metrics")
    assert "Expand" in p
    # one exchange for the groupBy; none introduced by the reshape
    assert p.count("Exchange") <= 2  # agg shuffle (+ AQE read wrapper)


def test_substring_dedup_flagging_join_broadcasts_dupes_dim(spark):
    """The r10 exact-substring pass flags duplicated grams via an
    equi-join of the gram stream against the (aggregated, filtered)
    duplicated-gram dim. At test scale the dim must BROADCAST — the
    gram stream never shuffles for the flagging (hot boilerplate keys
    ride the broadcast probe side for free; at dim sizes beyond the
    broadcast threshold the documented fallback is SMJ under AQE skew
    handling, covered by the catalog-wide audit)."""
    p = plan_of(spark, "dedup_substring_exact")
    assert "BroadcastHashJoin" in p, p[:800]
    # gaps-and-islands windows are doc-partitioned, never global
    assert "Window" in p


def test_survivors_interval_fold_evaluated_once(spark):
    """The survivors cut fold (operators/dedup.py _cut_interval_survivors)
    must appear exactly ONCE in the physical plan: higher-order functions
    are CodegenFallback, so if CollapseProject ever inlines the fold into
    the three output columns that consume it, it runs interpreted 3x per
    row (measured 4.3 -> 18 s at sf0.1 when it happened). The fold is
    identifiable by its accumulator field over the island array."""
    for name in ("dedup_substring_survivors", "dedup_substring_bpe_survivors"):
        p = plan_of(spark, name)
        assert p.count("aggregate(_ivs") == 1, (
            f"{name}: fold inlined {p.count('aggregate(_ivs')}x"
        )


def _dry_run_plan(capsys, cfg: dict, tmp_path, *flags: str) -> str:
    from annotations_ingester_spark.__main__ import main

    path = tmp_path / "cfg_plan.yml"
    path.write_text(yaml.safe_dump(cfg))
    assert main(["--config", str(path), "--dry-run", *flags]) == 0
    return capsys.readouterr().out


def _plan_cfg(source: dict, sink: dict) -> dict:
    # the perfbench ingest config's shape, with the fake:// annotator
    return {
        "source": source,
        "sink": sink,
        "nlp-service": {"endpoints-url": ["fake://medcat"], "protocol-mode": "medcat",
                        "max-retries-on-failure": 1, "max-in-flight": 1},
        "mapping": {"source": {"text-field": "text", "docid-field": "doc_id",
                               "persist-fields": ["doc_id", "dct"], "batch": {"threads": 1}}},
        "logging-level": 30,
    }


def _assert_rest_to_rest_plan_writes_from_the_annotate_stage(capsys, tmp_path, mapping_sink):
    from annotations_ingester_spark.config import ConnectorConfig
    from annotations_ingester_spark.sources.es_rest import EsRestClient
    from tests.es_stub import start_es_stub

    server, _, url = start_es_stub()
    try:
        EsRestClient(ConnectorConfig(hosts=[url], index_name="src")).bulk(
            [{"_id": str(i), "doc_id": i, "text": f"plan doc {i} body!", "dct": "2020-01-01"}
             for i in range(4)]
        )

        def es(index):
            return {"backend": "elasticsearch-rest", "es": {"hosts": [url], "index-name": index}}

        cfg = _plan_cfg(es("src"), es("sink"))
        cfg["mapping"]["sink"] = mapping_sink
        plan = _dry_run_plan(capsys, cfg, tmp_path)
    finally:
        server.shutdown()
    tree = plan.split("\n\n")[0].splitlines()
    exchanges = [ln for ln in tree if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    annotate = next(i for i, ln in enumerate(tree) if "MapInPandas" in ln)
    assert "Exchange" in tree[annotate + 1], plan  # round-robin, then annotate
    assert "RoundRobinPartitioning" in plan
    assert not any("Aggregate" in ln for ln in tree[:annotate]), plan


def test_rest_to_rest_plan_writes_from_the_annotate_stage(spark, capsys, tmp_path):
    """The REST→REST ingest plan has one Exchange, the round-robin one that
    feeds the annotate MapInPandas, and no aggregate after that node: each
    annotate task explodes, projects and bulk-writes its own rows (the ES
    ``_id`` absorbs a repeated row id)."""
    _assert_rest_to_rest_plan_writes_from_the_annotate_stage(capsys, tmp_path, {})


def test_rest_to_rest_nested_plan_writes_from_the_annotate_stage(spark, capsys, tmp_path):
    """W4 too: each annotate task bulk-writes its doc rows, with no
    explode, no group and no aggregate (the ES ``_id`` absorbs a repeated
    ``ann_doc_id``)."""
    _assert_rest_to_rest_plan_writes_from_the_annotate_stage(
        capsys, tmp_path, {"ingest-mode": "nested"}
    )


def test_parquet_flat_plan_keeps_its_row_id_dedup(spark, capsys, tmp_path):
    """Files carry no ids, so the parquet sink's plan still ends in the
    ``dropDuplicates(row_id)`` Exchange (``parquet.stored``)."""
    import re

    src = str(tmp_path / "plan_src")
    spark.createDataFrame(
        [(i, f"plan doc {i} body!", "2020-01-01") for i in range(4)],
        "doc_id long, text string, dct string",
    ).write.parquet(src)
    cfg = _plan_cfg({"backend": "parquet", "path": src},
                    {"backend": "parquet", "path": str(tmp_path / "plan_sink")})
    plan = _dry_run_plan(capsys, cfg, tmp_path)
    keys = [m.group(1).split("#")[0] for m in re.finditer(r"hashpartitioning\(([^,)]*)", plan)]
    assert keys == ["row_id"], plan


def test_parquet_nested_plan_has_one_ann_doc_id_exchange(spark, capsys, tmp_path):
    """W4 rows come from the annotate stage, so the parquet sink's
    keep-one-row-per-``ann_doc_id`` (``parquet.stored``) is the plan's one
    hash Exchange."""
    import re

    src = str(tmp_path / "nested_plan_src")
    spark.createDataFrame(
        [(i, f"plan doc {i} body!", "2020-01-01") for i in range(4)],
        "doc_id long, text string, dct string",
    ).write.parquet(src)
    cfg = _plan_cfg({"backend": "parquet", "path": src},
                    {"backend": "parquet", "path": str(tmp_path / "nested_plan_sink")})
    cfg["mapping"]["sink"] = {"ingest-mode": "nested"}
    plan = _dry_run_plan(capsys, cfg, tmp_path)
    keys = [m.group(1).split("#")[0] for m in re.finditer(r"hashpartitioning\(([^,)]*)", plan)]
    assert keys == ["ann_doc_id"], plan


@pytest.mark.parametrize("flags", [[], ["--segmented"], ["--stream"]], ids=["batch", "segmented", "stream"])
@pytest.mark.parametrize("ingest_mode", ["separate-index", "same-index", "nested"])
def test_dry_run_builds_every_ingest_mode(spark, capsys, tmp_path, ingest_mode, flags):
    """Batch, ``--segmented`` and ``--stream`` each build the annotate plan
    for every ingest mode."""
    src = str(tmp_path / "mode_src")
    spark.createDataFrame(
        [(i, f"plan doc {i} body!", f"2020-0{i + 1}-01") for i in range(4)],
        "doc_id long, text string, dct string",
    ).write.parquet(src)
    cfg = _plan_cfg({"backend": "parquet", "path": src},
                    {"backend": "parquet", "path": str(tmp_path / "mode_sink")})
    cfg["mapping"]["source"]["batch"] |= {
        "date-field": "dct", "interval": 30, "date-start": "2020-01-01", "date-end": "2020-04-30"
    }
    cfg["mapping"]["sink"] = {"ingest-mode": ingest_mode}
    assert "MapInPandas" in _dry_run_plan(capsys, cfg, tmp_path, *flags)

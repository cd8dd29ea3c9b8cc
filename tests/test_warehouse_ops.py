"""Unit tests for the round-5 warehouse/change-data operators: SCD2
interval invariants, changelog apply vs a naive replay, snapshot diff on
hand-built snapshots, market-basket metrics, RRF fusion arithmetic, and
frame sampling byte-exactness.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


# ---- SCD2 -------------------------------------------------------------------


def test_scd2_intervals_invariants(spark):
    from annotations_ingester_spark.operators.changefeed import scd2_intervals

    feed = spark.createDataFrame(
        [
            # user 1: a, a, b, a — three runs
            (1, "a", 10, 1),
            (1, "a", 20, 2),
            (1, "b", 30, 3),
            (1, "a", 40, 4),
            # user 2: single run
            (2, "x", 5, 5),
            (2, "x", 6, 6),
            # user 3: tie on ts broken by event id
            (3, "p", 7, 8),
            (3, "q", 7, 9),
        ],
        "user_id long, state string, ts_s long, event_id long",
    )
    rows = (
        scd2_intervals(feed, "user_id", "state", "ts_s", "event_id")
        .orderBy("user_id", "version")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)

    u1 = [(r.version, r.state, r.valid_from, r.valid_to, r.n_events) for r in by_user[1]]
    assert u1 == [
        (1, "a", 10, 30, 2),
        (2, "b", 30, 40, 1),
        (3, "a", 40, None, 1),
    ]
    assert [(r.state, r.valid_from, r.valid_to, r.n_events) for r in by_user[2]] == [
        ("x", 5, None, 2)
    ]
    # event-id tiebreak splits the equal-ts observations into two runs
    assert [(r.state, r.valid_to) for r in by_user[3]] == [("p", 7), ("q", None)]
    for intervals in by_user.values():
        # intervals chain: each valid_to equals the next valid_from; only
        # the last is open; consecutive states differ (runs are maximal)
        for a, b in zip(intervals, intervals[1:]):
            assert a.valid_to == b.valid_from
            assert a.state != b.state
        assert intervals[-1].valid_to is None
    assert sum(r.n_events for r in rows) == feed.count()


# ---- changelog apply --------------------------------------------------------


def test_apply_changelog_matches_naive_replay(spark):
    from annotations_ingester_spark.operators.changefeed import apply_changelog

    base = spark.createDataFrame(
        [(k, k * 100) for k in range(1, 8)], "k long, v long"
    )
    changes = spark.createDataFrame(
        [
            (2, 999, 1, "U"),
            (3, 111, 1, "U"),
            (3, 333, 2, "U"),  # later seq wins
            (4, 0, 1, "D"),
            (5, 555, 2, "U"),
            (5, 0, 3, "D"),  # delete after update → gone
            (9, 900, 1, "I"),  # insert of a new key
        ],
        "k long, v long, seq long, op string",
    )
    got = {
        (r.k, r.v)
        for r in apply_changelog(base, changes, ["k"], "seq").select("k", "v").collect()
    }
    # naive replay
    state = {k: k * 100 for k in range(1, 8)}
    for k, v, _seq, op in sorted(
        [(2, 999, 1, "U"), (3, 111, 1, "U"), (3, 333, 2, "U"), (4, 0, 1, "D"),
         (5, 555, 2, "U"), (5, 0, 3, "D"), (9, 900, 1, "I")],
        key=lambda t: t[2],
    ):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == set(state.items())


def test_apply_changelog_handles_nested_map_columns(spark):
    # Regression (r6 ADVICE): the deterministic tiebreak used to put every
    # "orderable" value column in the window ORDER BY, detecting maps by a
    # dtype-string prefix — so NESTED maps (array<map<..>>) slipped through
    # and Spark raised AnalysisException. The hash tiebreak casts columns
    # to string, which handles any type.
    from annotations_ingester_spark.operators.changefeed import apply_changelog

    base = spark.createDataFrame(
        [(1, [{"a": 1}]), (2, [{"b": 2}])],
        "k long, tags array<map<string,int>>",
    )
    changes = spark.createDataFrame(
        [(2, [{"b": 9}], 1, "U"), (1, None, 1, "D")],
        "k long, tags array<map<string,int>>, seq long, op string",
    )
    rows = {
        r.k: r.tags
        for r in apply_changelog(base, changes, ["k"], "seq").collect()
    }
    assert set(rows) == {2} and rows[2] == [{"b": 9}]


def test_kmeans_fit_string_centroid_ids(spark):
    # Regression (r6 ADVICE): the driver loop once hardcoded the rebuilt
    # centroid schema as `<id> long`, so string centroid ids failed. The
    # id type is now taken from the input.
    from annotations_ingester_spark.operators.similarity import kmeans_fit

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5)]) for i in range(30)],
        "vec_id long, emb array<double>",
    )
    cents = spark.createDataFrame(
        [("ca", [0.0, 0.0]), ("cb", [2.0, 4.0])],
        "centroid_id string, emb array<double>",
    )
    assign, iters = kmeans_fit(
        emb, cents, id_col="vec_id", vec_col="emb",
        centroid_id_col="centroid_id", max_iterations=3,
    )
    got = assign.collect()
    assert len(got) == 30 and iters >= 1
    assert {r.centroid_id for r in got} <= {"ca", "cb"}


# ---- snapshot diff ----------------------------------------------------------


def test_snapshot_diff_classes(spark):
    from annotations_ingester_spark.operators.changefeed import snapshot_diff

    old = spark.createDataFrame(
        [(1, "A", 10), (2, "B", 20), (3, "C", 30), (4, "D", 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(2, "B", 20), (3, "C", 99), (4, "E", 40), (5, "F", 50)],
        "k long, s string, v long",
    )
    got = {
        r.change_type: (r.n, r.key_checksum)
        for r in snapshot_diff(old, new, ["k"], ["s", "v"]).collect()
    }
    assert got == {
        "removed": (1, 1),
        "unchanged": (1, 2),
        "changed": (2, 7),  # value change (3) + attribute change (4)
        "added": (1, 5),
    }


# ---- market basket ----------------------------------------------------------


def test_market_basket_metrics(spark):
    from annotations_ingester_spark.operators.association import market_basket_pairs

    # 4 baskets; pair (1,2) in 3 of them, (1,3) in 1, (2,3) in 1
    facts = spark.createDataFrame(
        [(10, 1), (10, 2), (20, 1), (20, 2), (30, 1), (30, 2), (30, 3),
         (40, 3), (40, 1), (40, 1)],  # dup item in basket 40 must not double-count
        "b long, i long",
    )
    rows = market_basket_pairs(facts, "b", "i", top_k=10).collect()
    by_pair = {(r.item_a, r.item_b): r for r in rows}
    top = by_pair[(1, 2)]
    assert top.n_pair == 3
    assert top.support == round(3 / 4, 8)
    assert top.confidence_ab == round(3 / 4, 6)  # n(1)=4
    assert top.lift == round(3 * 4 / (4 * 3), 6)  # n(2)=3
    assert by_pair[(1, 3)].n_pair == 2  # baskets 30 and 40
    assert rows[0].item_a == 1 and rows[0].item_b == 2  # ordered by n_pair desc


# ---- RRF fusion -------------------------------------------------------------


def test_rrf_fuse_arithmetic_and_outer_union(spark):
    from annotations_ingester_spark.operators.search import rrf_fuse

    l1 = spark.createDataFrame([(100, 1), (200, 2)], "doc_id long, rank long")
    l2 = spark.createDataFrame([(200, 1), (300, 2)], "doc_id long, rank long")
    rows = rrf_fuse([l1, l2], k=60, top_n=10).orderBy("fused_rank").collect()
    # doc 200 appears in both lists → highest fused score
    assert [r.doc_id for r in rows] == [200, 100, 300]
    assert rows[0].rrf == round(1 / 62 + 1 / 61, 6)
    assert rows[1].rrf == round(1 / 61, 6)
    assert rows[1].rank_2 is None and rows[2].rank_1 is None
    assert [r.fused_rank for r in rows] == [1, 2, 3]


# ---- frame sampling ---------------------------------------------------------


def test_sample_frames_byte_exact(spark):
    from annotations_ingester_spark.multimodal.media import sample_frames

    blob = bytes(range(256)) * 3  # 768 bytes → 7 full 100-byte frames
    df = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"short")), (3, None)],
        "media_id long, payload binary",
    )
    rows = sample_frames(df, frame_len=100, stride=3).collect()
    got = {(r.media_id, r.frame_idx): r for r in rows}
    # media 1: frames 0,3,6 of 7; media 2 (5 bytes) and 3 (null) emit none
    assert set(got) == {(1, 0), (1, 3), (1, 6)}
    for fi in (0, 3, 6):
        r = got[(1, fi)]
        assert r.byte_offset == fi * 100
        assert r.n_frames == 7
        assert r.frame_digest == hashlib.md5(blob[fi * 100 : fi * 100 + 100]).hexdigest()


def test_sample_frames_rejects_bad_params(spark):
    import pytest

    from annotations_ingester_spark.multimodal.media import sample_frames

    df = spark.range(1).select(
        F.col("id").alias("media_id"), F.lit(b"x").alias("payload")
    )
    with pytest.raises(ValueError):
        sample_frames(df, frame_len=0, stride=1)
    with pytest.raises(ValueError):
        sample_frames(df, frame_len=4, stride=-1)


# ---- streaming CDC apply ----------------------------------------------------


def test_streaming_cdc_apply_invariant_to_batch_split(spark, monkeypatch):
    """The tombstone-retaining merge must produce the batch MERGE INTO
    result under a DIFFERENT micro-batch split than the registered query
    uses (maxFilesPerTrigger=1 → 8 single-file batches instead of 3-file
    batches) — the commutativity claim, tested rather than asserted."""
    from annotations_ingester_spark.plans.queries import REGISTRY

    sf = "/root/testdata/sf0.001"
    batch = {
        (r.o_orderkey, r.total_cents, r.last_seq, r.op)
        for r in REGISTRY["cdc_apply_changelog"].spark(spark, sf).collect()
    }

    import annotations_ingester_spark.plans.queries_warehouse as qw

    orig_read_stream = type(spark.readStream)
    # force 1-file batches by patching the option the query sets
    real_option = orig_read_stream.option

    def one_file_option(self, key, value):
        if key == "maxFilesPerTrigger":
            value = "1"
        return real_option(self, key, value)

    monkeypatch.setattr(orig_read_stream, "option", one_file_option)
    streamed = {
        (r.o_orderkey, r.total_cents, r.last_seq, r.op)
        for r in REGISTRY["streaming_cdc_apply"].spark(spark, sf).collect()
    }
    assert streamed == batch


def test_constraint_suite_counts_each_rule(spark, tmp_path):
    """Three rows engineered so every rule has exactly one violation:
    a clean row, a dup-key row violating domain/range/format/price, and
    a null-key row referencing a missing customer."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": [1, 1, None],
            "o_custkey": [1, 2, 99],
            "o_orderstatus": ["O", "X", "F"],
            "o_totalprice": [10.0, -5.0, 1.0],
            "o_orderdate": pd.to_datetime(
                ["1995-06-01", "1993-01-01", "1996-01-01"]
            ).astype("datetime64[us]"),
            "o_orderpriority": ["1-URGENT", "bad", "5-LOW"],
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame({"c_custkey": [1, 2]}).to_parquet(tmp_path / "customer.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.constraint_name: r
        for r in REGISTRY["quality_constraint_suite"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert len(out) == 7
    assert all(r.n_checked == 3 for r in out.values())
    assert all(r.n_violations == 1 and not r.passed for r in out.values())


def test_value_reconciliation_classes(spark, tmp_path):
    """Four orders: lines summing exactly, within 1%, off by 50%, and
    absent — one order per reconciliation class."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": [1, 2, 3, 4],
            "o_custkey": [1, 1, 1, 1],
            "o_orderstatus": ["O"] * 4,
            "o_totalprice": [10.0, 10.0, 10.0, 5.0],
            "o_orderdate": pd.to_datetime(["1996-01-01"] * 4).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": ["5-LOW"] * 4,
        }
    ).to_parquet(tmp_path / "orders.parquet")
    pd.DataFrame(
        {
            "l_orderkey": [1, 2, 3],
            "l_extendedprice": [10.0, 9.95, 5.0],
            "l_discount": [0.0, 0.0, 0.0],
            "l_tax": [0.0, 0.0, 0.0],
        }
    ).to_parquet(tmp_path / "lineitem.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.recon_class: r
        for r in REGISTRY["quality_value_reconciliation"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert {k: v.n_orders for k, v in out.items()} == {
        "exact": 1,
        "within_1pct": 1,
        "mismatch": 1,
        "missing_lines": 1,
    }
    assert out["exact"].abs_diff_cents == 0
    assert out["within_1pct"].abs_diff_cents == 5
    assert out["mismatch"].abs_diff_cents == 500
    assert out["missing_lines"].abs_diff_cents == 0

"""Unit + property tests for the round-5 analytics operators: prefix-filter
set-similarity join (completeness vs the naive join), graph census /
PageRank (hand-computable graphs), time-series gap-fill + anomaly flags,
blocked entity resolution, inverted index, and semantic dedup invariants.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


# ---- ssjoin: prefix filter completeness -------------------------------------


def _naive_jaccard_pairs(sets: dict[int, set], tau: float):
    out = set()
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = sets[a], sets[b]
            inter = len(sa & sb)
            if inter and inter / (len(sa) + len(sb) - inter) >= tau:
                out.add((a, b))
    return out


def _random_size_corpus(seed: int):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for doc_id in range(60):
        base = rng.sample(vocab, rng.randint(3, 12))
        rows.append((doc_id, " ".join(base)))
        if rng.random() < 0.4:  # planted near-duplicate: mutate one token
            mut = list(base)
            mut[rng.randrange(len(mut))] = rng.choice(vocab)
            rows.append((1000 + doc_id, " ".join(mut)))
    return rows


def _equal_size_corpus(seed: int, m: int):
    """Every set has exactly m tokens; variants swap 1-3 tokens for unused
    ones, so sizes stay equal and some pairs sit exactly on the τ
    boundary."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for doc_id in range(40):
        base = rng.sample(vocab, m)
        rows.append((doc_id, " ".join(base)))
        for k in (1, 2, 3):
            if rng.random() < 0.5:
                mut = list(base)
                fresh = rng.sample([w for w in vocab if w not in base], k)
                for i, w in zip(rng.sample(range(m), k), fresh):
                    mut[i] = w
                rows.append((1000 * k + doc_id, " ".join(mut)))
    return rows


#: set size m at which the PPJoin position bound τ/(1+τ)·(m_a+m_b) lands
#: on an integer for equal-size pairs (4, 3 and 8 overlap tokens)
_INTEGER_BOUND_SIZE = {0.5: 6, 0.6: 4, 0.8: 9}


@pytest.mark.parametrize("tau", [0.5, 0.8, 0.6])
def test_prefix_filter_join_equals_naive(spark, tau):
    """The AllPairs prefix filter plus the PPJoin position filter is
    exact: zero false negatives (and the verify step removes all false
    positives), so the operator must return EXACTLY the naive all-pairs
    result — on random token sets from several seeds, and on equal-size
    sets whose position bound is an exact integer (where float rounding
    of τ/(1+τ) could wrongly prune a true pair)."""
    from annotations_ingester_spark.operators.linkage import jaccard_prefix_join

    corpora = [_random_size_corpus(seed) for seed in (42, 7, 2024)]
    corpora.append(_equal_size_corpus(5, _INTEGER_BOUND_SIZE[tau]))
    for rows in corpora:
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_a, r.doc_b)
            for r in jaccard_prefix_join(df, threshold=tau).collect()
        }
        sets = {doc_id: set(text.split()) for doc_id, text in rows}
        assert got == _naive_jaccard_pairs(sets, tau)


def test_prefix_filter_jac_values(spark):
    from annotations_ingester_spark.operators.linkage import jaccard_prefix_join

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z")],
        "doc_id long, text string",
    )
    rows = jaccard_prefix_join(df, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b, r.inter) == (1, 2, 3)
    assert r.jac == 0.6  # |∩|=3, |∪|=5


# ---- graph census -----------------------------------------------------------


def test_triangle_stats_known_graph(spark):
    """K4 plus a pendant edge: 4 triangles; wedges = Σ deg(deg−1)/2 with
    degrees (3,3,3,4,1) = 3+3+3+6+0 = 15; transitivity = 12/15 = 0.8."""
    from annotations_ingester_spark.operators.graph import triangle_stats

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    edges = spark.createDataFrame(k4, "src long, dst long")
    row = triangle_stats(edges).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (5, 7, 15, 4)
    assert row.transitivity == 0.8


def test_undirected_canonical(spark):
    from annotations_ingester_spark.operators.graph import undirected_canonical

    raw = spark.createDataFrame(
        [(2, 1), (1, 2), (3, 3), (4, 5)], "src long, dst long"
    )
    got = {(r.src, r.dst) for r in undirected_canonical(raw).collect()}
    assert got == {(1, 2), (4, 5)}  # dedup both orientations, drop self-loop


def test_pagerank_matches_python_reference(spark):
    """2 unrolled iterations on a weighted digraph vs the same arithmetic
    (round-to-10dp contributions) computed in plain Python."""
    from annotations_ingester_spark.operators.graph import pagerank_iterations

    edges = [(1, 2, 2.0), (1, 3, 1.0), (2, 3, 1.0), (3, 1, 1.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r.node: r.rank
        for r in pagerank_iterations(df, n_iters=2, damping=0.85, weight="w").collect()
    }

    out_w = {1: 3.0, 2: 1.0, 3: 1.0}
    ranks = {1: 1.0, 2: 1.0, 3: 1.0}
    for _ in range(2):
        contrib: dict[int, float] = {}
        for s, d, w in edges:
            contrib[d] = contrib.get(d, 0.0) + round(ranks[s] * w / out_w[s], 10)
        ranks = {
            n: round(0.15 + 0.85 * contrib.get(n, 0.0), 10) for n in ranks
        }
    assert got == pytest.approx(ranks, abs=1e-9)


# ---- time series ------------------------------------------------------------


def test_gapfill_locf_carries_and_flags(spark):
    from annotations_ingester_spark.operators.timeseries import gapfill_locf

    # key 1: observations in buckets 0 and 7200 (gap at 3600)
    rows = [(1, 100, 10.0), (1, 150, 20.0), (1, 7250, 99.0)]
    df = spark.createDataFrame(rows, "user_id long, ts_s long, value double")
    out = {
        r.bucket_s: (r.value_filled, r.is_gap)
        for r in gapfill_locf(df, key_col="user_id").collect()
    }
    assert out[0] == (15.0, False)  # mean of the two bucket-0 obs
    assert out[3600] == (15.0, True)  # carried forward across the gap
    assert out[7200] == (99.0, False)
    assert len(out) == 3  # grid spans [min,max] buckets only


def test_rolling_zscore_flags_spike_not_constant(spark):
    from annotations_ingester_spark.operators.timeseries import (
        rolling_zscore_anomalies,
    )

    base = [(1, t, t, 10.0 + (t % 3) * 0.1) for t in range(30)]
    spike = [(1, 30, 30, 500.0)]
    const = [(2, t, t, 5.0) for t in range(30)] + [(2, 30, 30, 5.0)]
    df = spark.createDataFrame(
        base + spike + const, "user_id long, ts_s long, event_id long, value double"
    )
    flagged = rolling_zscore_anomalies(
        df, key_col="user_id", order_cols=("ts_s", "event_id"), value_col="value"
    ).collect()
    assert [(r.key, r.event_id) for r in flagged] == [(1, 30)]
    assert abs(flagged[0].z) >= 3


# ---- entity resolution ------------------------------------------------------


def test_blocked_levenshtein_respects_blocks_and_bound(spark):
    from annotations_ingester_spark.operators.linkage import blocked_levenshtein_pairs

    rows = [
        (1, "smith john", "A"),
        (2, "smith jon", "A"),  # lev 1, same block → match
        (3, "smith john", "B"),  # identical name, different block → no pair
        (4, "totally different", "A"),  # lev > 2 → no pair
    ]
    df = spark.createDataFrame(rows, "id long, name string, blk string")
    got = blocked_levenshtein_pairs(
        df, id_col="id", name_col="name", block_cols=[F.col("blk")], max_distance=2
    ).collect()
    assert [(r.id_a, r.id_b, r.lev) for r in got] == [(1, 2, 1)]


# ---- inverted index ---------------------------------------------------------


def test_inverted_index_first_positions_sorted(spark):
    from annotations_ingester_spark.operators.search import inverted_index

    df = spark.createDataFrame(
        [(2, "b a b a"), (1, "a x a b")], "doc_id long, text string"
    )
    got = {r.term: (r.df, r.postings) for r in inverted_index(df, min_df=2).collect()}
    # 'a': doc 1 first at pos 0, doc 2 first at pos 1; postings sorted by doc
    assert got["a"] == (2, "1:0,2:1")
    assert got["b"] == (2, "1:3,2:0")
    assert "x" not in got  # df 1 < min_df


# ---- semantic dedup ---------------------------------------------------------


def test_semantic_dedup_within_cell_only(spark):
    from annotations_ingester_spark.operators.similarity import semantic_dedup_pairs

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.99, 0.01]),  # near-dup of 1, same cell
            (3, [0.0, 1.0]),  # other cell
            (4, [0.01, 0.99]),  # near-dup of 3, other cell
        ],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(100, [1.0, 0.0]), (200, [0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )
    got = {
        (r.id_a, r.id_b): (r.centroid_id, r.cos)
        for r in semantic_dedup_pairs(emb, cents, threshold=0.9).collect()
    }
    assert set(got) == {(1, 2), (3, 4)}
    assert got[(1, 2)][0] == 100 and got[(3, 4)][0] == 200
    assert all(cos >= 0.9 for _, cos in got.values())


# ---- format round-trip: adversarial content ---------------------------------


def test_csv_roundtrip_survives_embedded_delimiters(spark, tmp_path):
    """The catalog's format_roundtrip_checksum runs on clean corpus text;
    this pins the CSV option set (quote/escape/multiLine) against the
    adversarial content that silently corrupts naive CSV pipelines:
    embedded commas, double quotes, newlines, empty strings, and NULLs
    (the CSV default reads an empty field back as NULL — the nullValue
    sentinel keeps the two distinct)."""
    rows = [
        (1, 'a,b,"c"\nnewline', "en", "s,rc", 10),
        (2, "", "xx", 'quote"inside', 0),
        (3, "plain", None, "src0", 5),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "csv")
    opts = {
        "header": "true",
        "quote": '"',
        "escape": '"',
        "multiLine": "true",
        "nullValue": "\\N",
    }
    w = df.write.mode("overwrite")
    r = spark.read
    for k, v in opts.items():
        w = w.option(k, v)
        r = r.option(k, v)
    w.format("csv").save(path)
    back = r.schema(schema).format("csv").load(path)
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_t_closeness_uniform_class_zero(spark, tmp_path):
    """A class whose lang mix equals the corpus mix has TVD = 0; a
    single-lang class in a 50/50 corpus has TVD = 0.5."""
    import pandas as pd

    # source 'a': 2 en + 2 fr (matches global 50/50 → tvd 0)
    # source 'b': 4 en only (tvd = |4*8(wait)| ...) compute: class n=4,
    # N=8, g_en=6, g_fr=2 → dev_en=|4*8-6*4|=8, dev_fr=|0-2*4|=8 →
    # tvd=16/(2*4*8)=0.25
    rows = [("a", "en"), ("a", "en"), ("a", "fr"), ("a", "fr"),
            ("b", "en"), ("b", "en"), ("b", "en"), ("b", "en")]
    pd.DataFrame(
        {
            "doc_id": range(8),
            "lang": [r[1] for r in rows],
            "source": [r[0] for r in rows],
            "text": ["x"] * 8,
            "n_chars": [1] * 8,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.source: r
        for r in REGISTRY["privacy_t_closeness"].spark(spark, str(tmp_path)).collect()
    }
    # class 'a' mix (2en/2fr of 4) vs global (6en/2fr of 8):
    # dev_en=|2*8-6*4|=8, dev_fr=|2*8-2*4|=8 → tvd=16/(2*4*8)=0.25
    assert out["a"].tvd == 0.25 and out["b"].tvd == 0.25
    assert not out["a"].close_t20 and not out["b"].close_t20


def test_ngram_novelty_duplicate_doc_scores_zero(spark, tmp_path):
    """An exact duplicate of an earlier doc has novelty 0; the first
    occurrence scores 1."""
    import pandas as pd

    text = "the quick brown fox jumps over the lazy dog"
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "text": [text, text],
            "n_chars": [len(text)] * 2,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.doc_id: r
        for r in REGISTRY["corpus_ngram_novelty"].spark(spark, str(tmp_path)).collect()
    }
    assert out[1].novelty == 1.0 and out[2].novelty == 0.0
    assert out[1].n_shingles == out[2].n_shingles == 7


def test_domain_caps_determinism_and_counts(spark, tmp_path):
    """A 200-doc source keeps exactly the cap; rerunning on the same
    corpus keeps the identical survivor checksum (stable hash order)."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": range(200),
            "lang": ["en"] * 200,
            "source": ["big"] * 200,
            "text": ["x"] * 200,
            "n_chars": [1] * 200,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    r1 = REGISTRY["curation_domain_caps"].spark(spark, str(tmp_path)).collect()[0]
    r2 = REGISTRY["curation_domain_caps"].spark(spark, str(tmp_path)).collect()[0]
    assert r1.n_docs == 200 and r1.n_kept == 120 and r1.n_dropped == 80
    assert r1.kept_xor == r2.kept_xor


def test_k_core_peels_pendants_keeps_triangle(spark):
    """Triangle {1,2,3} + pendant edge 3-4 + isolated edge 5-6: the
    2-core is exactly the triangle (every node degree 2); the pendant
    and the pair peel away in round one."""
    from annotations_ingester_spark.operators.graph import k_core_subgraph

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6)], ["src", "dst"]
    )
    out = {r.node: r.deg for r in k_core_subgraph(edges, k=2, n_iters=4).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def _write_events(tmp_path, rows):
    """rows: list of (user_id, minute_offset, event_type)."""
    import pandas as pd

    base = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base + pd.Timedelta(minutes=m) for _, m, _ in rows],
            "user_id": [u for u, _, _ in rows],
            "event_type": [t for _, _, t in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")


def test_attribution_credits_only_converted_paths(spark, tmp_path):
    """view->click->purchase then a trailing view: the converted path
    credits view (first touch) and click (last touch) 0.5 linear each;
    the trailing unconverted view earns nothing."""
    _write_events(
        tmp_path,
        [(1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"), (1, 3, "view")],
    )
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.channel: r
        for r in REGISTRY["events_attribution_credit"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {"view", "click"}
    assert (out["view"].first_touch, out["view"].last_touch) == (1, 0)
    assert (out["click"].first_touch, out["click"].last_touch) == (0, 1)
    assert out["view"].linear_credit == out["click"].linear_credit == 0.5
    assert out["view"].n_touches == out["click"].n_touches == 1


def test_top_paths_purchase_terminates_and_truncates(spark, tmp_path):
    """One user: the purchase closes path 0 ('view>click>purchase',
    converted) and the trailing view opens unconverted path 1."""
    _write_events(
        tmp_path,
        [(1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"), (1, 3, "view")],
    )
    from annotations_ingester_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["events_top_paths"].spark(spark, str(tmp_path)).collect()
    )
    got = {(r.path, r.converted): r.n_paths for r in rows}
    assert got == {("view>click>purchase", 1): 1, ("view", 0): 1}


def test_concurrency_overlap_and_midnight_carry(spark, tmp_path):
    """u1 session [0,600], u2 [300,300] overlap -> day-1 peak 2; u3's
    session spans midnight (23:50 -> 00:05 next day, one 900 s gap), so
    day 2 opens with carry_in 1 and peak 1 (its only boundary is the
    -1 close)."""
    _write_events(
        tmp_path,
        [
            (1, 0, "view"),
            (1, 10, "view"),
            (2, 5, "view"),
            (3, 23 * 60 + 50, "view"),
            (3, 24 * 60 + 5, "view"),
        ],
    )
    from annotations_ingester_spark.plans.queries import REGISTRY

    rows = (
        REGISTRY["events_concurrency_profile"].spark(spark, str(tmp_path)).collect()
    )
    assert len(rows) == 2 and rows[1].day == rows[0].day + 1
    d0, d1 = rows
    assert (d0.n_starts, d0.n_ends, d0.carry_in, d0.peak_concurrency) == (3, 2, 0, 2)
    assert (d1.n_starts, d1.n_ends, d1.carry_in, d1.peak_concurrency) == (0, 1, 1, 1)


def test_fs_weights_hand_block(spark, tmp_path):
    """One block of four: two matched pairs (lev 1), four unmatched
    cross pairs (lev 4). Segment agreement: 1 of 2 matched, 2 of 4
    unmatched → m = u = 0.5, weight log2(1) = 0."""
    import pandas as pd

    p = "AAAAAAAAAAAAAAA"  # 15-char blocking prefix
    pd.DataFrame(
        {
            "c_custkey": [1, 2, 3, 4],
            "c_name": [p + "XX1", p + "XX2", p + "YYYY", p + "YYYZ"],
            "c_nationkey": [1, 1, 1, 1],
            "c_acctbal": [1.0, 2.0, 3.0, -4.0],
            "c_mktsegment": ["S1", "S1", "S1", "S2"],
        }
    ).to_parquet(tmp_path / "customer.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.field: r
        for r in REGISTRY["er_fellegi_sunter_weights"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    seg = out["mktsegment"]
    assert (seg.n_match, seg.n_nonmatch) == (2, 4)
    assert (seg.n_agree_match, seg.n_agree_nonmatch) == (1, 2)
    assert (seg.m_rate, seg.u_rate, seg.log2_weight) == (0.5, 0.5, 0.0)
    assert out["acctbal_sign"].n_match == 2


def test_activity_streaks_islands(spark, tmp_path):
    """u1 active on days 0,1,2,5 (longest streak 3 — duplicate events on
    a day must not inflate it); u2 on days 0,2 (longest 1)."""
    import pandas as pd

    rows = [(1, 0), (1, 0), (1, 1), (1, 2), (1, 5), (2, 0), (2, 2)]
    base = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base + pd.Timedelta(days=d, minutes=i) for i, (_, d) in enumerate(rows)],
            "user_id": [u for u, _ in rows],
            "event_type": ["click"] * len(rows),
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    got = {
        r.streak_days: r.n_users
        for r in REGISTRY["events_activity_streaks"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert got == {1: 1, 3: 1}


def test_rake_degree_rewards_collocations(spark, tmp_path):
    """'the quick fox and the lazy dog' yields 2-word phrases (score 2
    per word); 'of cat' yields the singleton 'cat' (score 1)."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "text": ["the quick fox and the lazy dog", "of cat"],
            "n_chars": [31, 6],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    got = {
        r.keyword: (r.freq, r.degree, r.rake_score)
        for r in REGISTRY["text_rake_keywords"].spark(spark, str(tmp_path)).collect()
    }
    for w in ("quick", "fox", "lazy", "dog"):
        assert got[w] == (1, 2, 2.0)
    assert got["cat"] == (1, 1, 1.0)
    assert "the" not in got and "and" not in got and "of" not in got


def test_join_cardinality_exact_tier(spark, tmp_path):
    """Counts {3, 1} per key: exact self-join size is 9 + 1 = 10; the
    estimate is a 16x-scaled subset sum, so it is 0, 16*9, 16*1 or
    16*10 and the reported rel_error matches it."""
    import pandas as pd

    pd.DataFrame({"l_partkey": [7, 7, 7, 9]}).to_parquet(
        tmp_path / "lineitem.parquet"
    )
    from annotations_ingester_spark.plans.queries import REGISTRY

    r = REGISTRY["eval_join_cardinality_est"].spark(spark, str(tmp_path)).collect()[0]
    assert (r.n_keys, r.exact_pairs) == (2, 10)
    assert r.est_pairs in (0, 16, 144, 160)
    assert r.rel_error == round(abs(r.est_pairs - 10) / 10, 6)


def test_heaps_law_new_types_per_decile(spark, tmp_path):
    """doc 0 ('a b') lands in decile 0, doc 1 ('a c') in decile 5: the
    second bucket adds 2 tokens but only 1 new type."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "text": ["a b", "a c"],
            "n_chars": [3, 3],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    rows = REGISTRY["vocab_heaps_law"].spark(spark, str(tmp_path)).collect()
    assert [(r.bkt, r.cum_tokens, r.cum_vocab) for r in rows] == [
        (0, 2, 2),
        (5, 4, 3),
    ]
    assert rows[0].heaps_beta_upper == 1.0
    assert rows[1].heaps_beta_upper == 0.792481


def test_mann_kendall_strict_increase(spark, tmp_path):
    """Five strictly increasing months: S = C(5,2) = 10, no ties, var =
    5*4*15/18, z = 9/sqrt(var) = 2.2045."""
    import pandas as pd

    pd.DataFrame(
        {
            "o_orderkey": range(1, 6),
            "o_custkey": [1] * 5,
            "o_orderstatus": ["O"] * 5,
            "o_totalprice": [float(m) for m in range(1, 6)],
            "o_orderdate": pd.to_datetime(
                [f"1995-0{m}-01" for m in range(1, 6)]
            ).astype("datetime64[us]"),
            "o_orderpriority": ["5-LOW"] * 5,
        }
    ).to_parquet(tmp_path / "orders.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    r = REGISTRY["stats_mann_kendall"].spark(spark, str(tmp_path)).collect()[0]
    assert (r.n_points, r.s_stat, r.trend) == (5, 10, "increasing")
    assert r.var_s == 16.6667
    assert r.z_stat == 2.2045


def test_seasonal_strength_pure_weekly_signal(spark, tmp_path):
    """Two weeks where revenue is a pure function of weekday: the
    remainder variance is exactly 0, so seasonal strength is 1."""
    import pandas as pd

    rows = [(d, float(d % 7 + 1)) for d in range(14)]
    base = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base + pd.Timedelta(days=d) for d, _ in rows],
            "user_id": [1] * len(rows),
            "event_type": ["click"] * len(rows),
            "value": [v for _, v in rows],
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    r = (
        REGISTRY["timeseries_seasonal_strength"]
        .spark(spark, str(tmp_path))
        .collect()[0]
    )
    assert r.n_days == 14
    assert r.var_remainder == 0.0
    assert r.var_detrended > 0
    assert r.seasonal_strength == 1.0


def test_count_min_never_underestimates(spark, tmp_path):
    """Corpus 'x x x y': CMS estimates must dominate the exact counts and
    the exact tier must be exact."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1],
            "lang": ["en"],
            "source": ["s"],
            "text": ["x x x y"],
            "n_chars": [7],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.token: r
        for r in REGISTRY["sketch_count_min_certified"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert out["x"].exact_count == 3 and out["y"].exact_count == 1
    for r in out.values():
        assert r.cms_estimate >= r.exact_count
        assert r.overestimate == r.cms_estimate - r.exact_count


def test_code_detect_separates_code_from_prose(spark, tmp_path):
    """A function body with symbols, indentation and identifiers flags as
    code; flat prose does not."""
    import pandas as pd

    code = "def foo_bar(x):\n    return {x: 1};"
    prose = "the cat sat on the mat and looked around quietly"
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "text": [code, prose],
            "n_chars": [len(code), len(prose)],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.doc_id: r
        for r in REGISTRY["text_code_detect"].spark(spark, str(tmp_path)).collect()
    }
    assert out[1].is_code and not out[2].is_code
    assert out[1].n_indent == 1 and out[1].n_ident >= 1 and out[1].n_sym == 5
    assert out[2].n_sym == 0 and out[2].n_indent == 0


def test_cohort_ltv_cells_and_running_total(spark, tmp_path):
    """u1 (cohort week 0) spends 1.00 at age 0 and 2.00 at age 1; u2
    (cohort week 1) spends 3.00 at age 0 — running totals per cohort."""
    import pandas as pd

    rows = [(1, 0, 1.0), (1, 8, 2.0), (2, 7, 3.0)]
    base = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base + pd.Timedelta(days=d) for _, d, _ in rows],
            "user_id": [u for u, _, _ in rows],
            "event_type": ["purchase"] * len(rows),
            "value": [v for _, _, v in rows],
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = REGISTRY["events_cohort_ltv"].spark(spark, str(tmp_path)).collect()
    w0 = out[0].cohort_week
    got = [
        (r.cohort_week - w0, r.age_week, r.revenue_cents, r.cum_revenue_cents)
        for r in out
    ]
    assert got == [(0, 0, 100, 100), (0, 1, 200, 300), (1, 0, 300, 300)]


def test_epoch_plan_sqrt_temperature(spark, tmp_path):
    """Sources with 9 and 16 tokens: sqrt weights 3 and 4, target shares
    3/7 and 4/7, epochs (3/7)/(9/25) and (4/7)/(16/25)."""
    import pandas as pd

    t9 = " ".join(f"w{i}" for i in range(9))
    t16 = " ".join(f"v{i}" for i in range(16))
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "lang": ["en", "en"],
            "source": ["small", "big"],
            "text": [t9, t16],
            "n_chars": [len(t9), len(t16)],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.source: r
        for r in REGISTRY["curation_epoch_plan"].spark(spark, str(tmp_path)).collect()
    }
    s, b = out["small"], out["big"]
    assert (s.n_tokens, b.n_tokens) == (9, 16)
    assert s.target_share == round(3 / 7, 6) and b.target_share == round(4 / 7, 6)
    assert s.epochs == round((3 / 7) / (9 / 25), 4)
    assert b.epochs == round((4 / 7) / (16 / 25), 4)
    assert s.planned_tokens + b.planned_tokens in (1_000_000, 1_000_001)


def test_assortativity_star_is_minus_one(spark):
    """A star graph is maximally disassortative: every directed edge
    pairs the hub degree with a leaf degree, r = -1 exactly."""
    from annotations_ingester_spark.operators.graph import degree_assortativity

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "src long, dst long"
    )
    r = degree_assortativity(edges).collect()[0]
    assert r.n_directed_edges == 8
    assert r.assortativity == -1.0


def test_domain_kl_zero_for_identical_distributions(spark, tmp_path):
    """Two sources with the identical token distribution ('a b'): the
    corpus distribution equals each source's, so KL = 0 for both; a
    skewed third source earns the hand-computed positive KL."""
    import math

    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "lang": ["en"] * 3,
            "source": ["s1", "s2", "s3"],
            "text": ["a b", "a b", "a a a b"],
            "n_chars": [3, 3, 7],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.source: r
        for r in REGISTRY["lm_domain_kl_divergence"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    # corpus: a=5, b=3 of 8
    t_a = round(0.75 * math.log(0.75 / (5 / 8)), 12)
    t_b = round(0.25 * math.log(0.25 / (3 / 8)), 12)
    assert out["s3"].n_tokens == 4
    assert out["s3"].kl_nats == round(t_a + t_b, 6)
    ua = round(0.5 * math.log(0.5 / (5 / 8)), 12)
    ub = round(0.5 * math.log(0.5 / (3 / 8)), 12)
    assert out["s1"].kl_nats == out["s2"].kl_nats == round(ua + ub, 6)


def test_redaction_cert_clears_seeded_pii(spark, tmp_path):
    """A doc with an email and a long number plus the seeded doc-7 email:
    before-counts are positive, after-counts are zero, all_clear holds."""
    import pandas as pd

    pd.DataFrame(
        {
            "doc_id": [7, 8],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "text": ["call 12345 or mail a.b@example.com", "plain words only"],
            "n_chars": [34, 16],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    r = REGISTRY["privacy_redaction_cert"].spark(spark, str(tmp_path)).collect()[0]
    assert r.n_docs == 2
    assert r.emails_before == 2  # the literal one + the seeded doc-7 one
    assert r.longnums_before == 1
    assert r.emails_after == 0 and r.longnums_after == 0 and r.all_clear


def test_interarrival_constant_gaps_cv_zero(spark, tmp_path):
    """One user, events every 60 s: all gaps equal, CV exactly 0."""
    import pandas as pd

    n = 10
    base = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [base + pd.Timedelta(minutes=i) for i in range(n)],
            "user_id": [1] * n,
            "event_type": ["click"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
    ).to_parquet(tmp_path / "events.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    r = REGISTRY["events_interarrival_stats"].spark(spark, str(tmp_path)).collect()[0]
    assert (r.n_gaps, r.min_gap_s, r.max_gap_s, r.mean_gap_s, r.cv) == (
        9,
        60,
        60,
        60.0,
        0.0,
    )


def test_ccf_detects_planted_two_day_lead(spark, tmp_path):
    """Purchases replay the click counts shifted two days: lag-2
    correlation is exactly 1; lag 0 is below it."""
    import pandas as pd

    rows = []
    for d in range(10):
        for _ in range((d % 5) + 1):
            rows.append((d, "click"))
    for d in range(2, 12):
        for _ in range(((d - 2) % 5) + 1):
            rows.append((d, "purchase"))
    base = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [base + pd.Timedelta(days=d, minutes=i)
                   for i, (d, _) in enumerate(rows)],
            "user_id": [1] * len(rows),
            "event_type": [t for _, t in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    ).to_parquet(tmp_path / "events.parquet")
    from annotations_ingester_spark.plans.queries import REGISTRY

    out = {
        r.lag: r.ccf
        for r in REGISTRY["timeseries_cross_correlation"]
        .spark(spark, str(tmp_path))
        .collect()
    }
    assert out[2] == 1.0
    assert out[0] < 1.0


def test_k_core_retires_checkpoint_generations(spark):
    """The r8 verdict's storage-posture item: a 4-round peel must NOT
    leave one pinned localCheckpoint RDD per round. With the
    materialize.Scope routing, each round's retire_previous() frees the
    prior edge-set generation once the new one materializes, so after
    the peel completes at most 2 checkpoint generations introduced by
    the call are still live (the kept final generation, plus transient
    slack for the in-flight one)."""
    from annotations_ingester_spark.materialize import live_rdd_ids
    from annotations_ingester_spark.operators.graph import k_core_subgraph

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6), (4, 7), (6, 8)],
        ["src", "dst"],
    )
    before = live_rdd_ids(spark)
    out = k_core_subgraph(edges, k=2, n_iters=4)
    assert out.count() == 3  # the triangle survives
    introduced = live_rdd_ids(spark) - before
    assert len(introduced) <= 2, (
        f"k-core peel left {len(introduced)} checkpoint generations pinned "
        "(expected <=2: the scope retires each previous round)"
    )

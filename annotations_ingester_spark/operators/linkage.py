"""Record linkage / entity resolution: blocked fuzzy matching and exact
set-similarity joins with prefix filtering.

Both follow the one rule that makes fuzzy matching feasible at 100 TB:
**never compare all pairs** — generate a small, provably sufficient
candidate set with an equi-join on a cheap key, then verify candidates
exactly.

- **Blocked edit-distance matching**: candidates share a blocking key
  (deterministic projection of the record — here nation + name prefix);
  the expensive ``levenshtein`` runs only inside blocks. Recall is
  governed by block design, cost by block size (the join is an equi-join
  on the block key, so skew = one oversized block — visible in
  profile_key_skew, fixable by refining the key).
- **Set-similarity join (AllPairs/PPJoin prefix filter)**: for Jaccard ≥
  τ, two token SETS must share at least one token among each set's first
  ``|s| − ⌈τ·|s|⌉ + 1`` tokens under a GLOBAL canonical token order
  (rarest-first) — a theorem, not a heuristic, so the candidate equi-join
  on prefix tokens loses NO true pair (verified by property test against
  the naive join). Ordering rarest-first makes prefix tokens the least
  frequent, which is what keeps candidate lists short.

Reference parity: the reference has no fuzzy-match surface; this extends
the dedup family (operators/dedup.py) with the edit-distance and
exact-Jaccard tiers of a production entity-resolution stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from annotations_ingester_spark.functions import text as tx


def blocked_levenshtein_pairs(
    records: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list,
    max_distance: int = 2,
) -> DataFrame:
    """Within-block record pairs (``id_a < id_b``) whose names are within
    ``max_distance`` edits. ``block_cols`` are column *expressions* (the
    blocking key); the join is an equi-join on them."""
    blocked = records.select(
        F.col(id_col), F.col(name_col), *[c.alias(f"_bk{i}") for i, c in enumerate(block_cols)]
    )
    keys = [f"_bk{i}" for i in range(len(block_cols))]
    a = blocked.select(
        F.col(id_col).alias("id_a"), F.col(name_col).alias("_na"), *keys
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"), F.col(name_col).alias("_nb"), *keys
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            # bounded edit distance (Spark 3.5+ threshold arg): the banded
            # DP touches O(len·k) cells instead of O(len²) and
            # short-circuits to -1 past the bound (including the free
            # |len_a − len_b| > k case), so the verify step's cost tracks
            # the threshold, not the name length. Exact inside the bound —
            # kept rows and their lev values are identical to the
            # unbounded form (pairs past the bound were filtered out
            # before; they now surface as -1 and are filtered by the
            # between()).
            F.levenshtein("_na", "_nb", max_distance).cast("long").alias("lev"),
        )
        .filter(F.col("lev").between(0, max_distance))
    )


def jaccard_prefix_join(
    docs: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 1,
) -> DataFrame:
    """Exact set-Jaccard join: all pairs with ``J(a,b) ≥ threshold``,
    discovered via AllPairs prefix filtering (candidates = pairs sharing a
    prefix element under the global rarest-first order), then verified with
    the exact intersection. Returns ``(doc_a, doc_b, inter, jac)`` with
    ``jac`` rounded to 6 dp. ``ngram > 1`` compares word-shingle sets
    instead of unigram token sets — the discriminative choice for document
    dedup (unigram vocabularies overlap heavily across any same-domain
    corpus; shingle sets only overlap under real near-duplication).

    Plan: token-df table → per-doc token array sorted by ``(df, tok)``
    (the rarest-first total order, no global rank window needed) →
    prefix explode → candidate equi-join on token → pair-distinct →
    verify via ``array_intersect`` on the two full sorted arrays (each
    doc's set rides along the join — no second lookup pass).
    """
    from annotations_ingester_spark.operators.dedup import (
        _disable_infer_filters_from_generate,
    )

    # the explodes below would otherwise get an inferred pre-Generate filter
    # that replays the tokenizer/shingler per row (see dedup.py:44)
    _disable_infer_filters_from_generate(docs)
    elems = (
        tx.word_shingles(text_col, n=ngram) if ngram > 1 else tx.tokens(text_col)
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(elems).alias("_tset"),
    ).filter(F.size("_tset") > 0)

    tok = toks.select("doc_id", F.explode("_tset").alias("tok"))
    df_tab = tok.groupBy("tok").agg(F.count("*").alias("df"))
    # Global canonical order (rarest first, token tie-break) WITHOUT
    # materializing a rank: row_number over (df asc, tok asc) is
    # order-isomorphic to sorting by the (df, tok) pair itself — tok is
    # unique in the vocab, so the pair is a total order and the per-doc
    # array_sort below yields byte-identical stoks. This removes the
    # unpartitioned vocabulary window (a single-task sort — the one piece
    # of this plan that did NOT scale with the cluster) and its exchange;
    # df rides the candidate join the tokens already needed.
    joined_toks = tok.join(df_tab, "tok").select(
        "doc_id", F.struct("df", "tok").alias("_st")
    )

    ranked = (
        joined_toks.groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("_st")),
                lambda s: s.tok,
            ).alias("stoks")
        )
        .withColumn("m", F.size("stoks"))
        # prefix length for Jaccard τ: m - ceil(τ*m) + 1
        .withColumn(
            "plen", F.col("m") - F.ceil(F.lit(float(threshold)) * F.col("m")) + 1
        )
    )

    pref = ranked.select(
        "doc_id",
        "stoks",
        "m",
        # 0-based position of each prefix token — feeds the PPJoin
        # position filter below
        F.posexplode(F.slice("stoks", 1, F.col("plen"))).alias("_p", "tok"),
    )
    a = pref.select(
        F.col("doc_id").alias("doc_a"),
        F.col("stoks").alias("_sa"),
        F.col("m").alias("_ma"),
        F.col("_p").alias("_pa"),
        "tok",
    )
    b = pref.select(
        F.col("doc_id").alias("doc_b"),
        F.col("stoks").alias("_sb"),
        F.col("m").alias("_mb"),
        F.col("_p").alias("_pb"),
        "tok",
    )
    # PPJoin length filter: J(a,b) ≥ τ forces max(m) ≤ min(m)/τ — prune
    # length-incompatible candidates before the pair-dedup shuffle. Safe:
    # fl(τ) ≤ τ only loosens the bound (never drops a true pair).
    tau = F.lit(float(threshold))
    # PPJoin POSITION filter (Xiao et al., WWW'08): a shared prefix token
    # at 0-based positions (pa, pb) bounds the overlap by
    # 1 + min(m_a - pa - 1, m_b - pb - 1) — this token plus everything
    # after it on the shorter remaining side. Jaccard ≥ τ needs overlap
    # ≥ τ/(1+τ)·(m_a+m_b), so occurrences whose bound falls short cannot
    # be the FIRST shared token of a qualifying pair. Safe per pair: the
    # first shared token of any true pair lies inside both prefixes
    # (prefix-filter theorem) and all shared tokens follow it in the
    # canonical order on both sides, so that occurrence always passes and
    # survives the dropDuplicates. The 1e-9 slack keeps a float rounding
    # of τ/(1+τ)·(m) from ever tipping an exact integer boundary toward
    # dropping (over-keeping is harmless — the exact verify below is the
    # arbiter).
    ubound = 1 + F.least(
        F.col("_ma") - F.col("_pa") - 1, F.col("_mb") - F.col("_pb") - 1
    )
    alpha = tau / (F.lit(1.0) + tau) * (F.col("_ma") + F.col("_mb"))
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.col("_mb") <= F.col("_ma") / tau)
            & (F.col("_ma") <= F.col("_mb") / tau)
        )
        .filter(ubound >= alpha - F.lit(1e-9))
        .select("doc_a", "doc_b", "_sa", "_sb", "_ma", "_mb")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect("_sa", "_sb"))
    jac = inter / (F.col("_ma") + F.col("_mb") - inter)
    return (
        cand.withColumn("inter", inter.cast("long"))
        .withColumn("jac", F.round(jac, 6))
        .filter(
            F.col("inter")
            * F.lit(1.0)
            / (F.col("_ma") + F.col("_mb") - F.col("inter"))
            >= F.lit(float(threshold))
        )
        .select("doc_a", "doc_b", "inter", "jac")
    )

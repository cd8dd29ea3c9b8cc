"""Custom mergeable sketches the built-in surface lacks.

Spark ships HLL (approx_count_distinct / hll_sketch_agg) and KLL-style
quantiles (percentile_approx) — both certified in the catalog
(sketch_mergeable_rollup, quantile_disc_certified, approx_sketch_certified).
The classic FREQUENT-ITEMS summary (Misra-Gries / Space-Saving) has no
built-in; this module implements it the way the task brief's "novel
sketch" seam prescribes: an Arrow-batched ``mapInPandas`` stage computes a
bounded k-counter summary per input batch, and the summaries merge with
plain relational algebra (a groupBy sum), preserving the MG guarantee.

Guarantee carried through the merge: each batch summary under-counts any
item by at most n_batch/k, so the summed estimate under-counts by at most
N/k in total — hence every item with true frequency > N/k MUST appear in
the merged summary, and its estimate sits within [true − N/k, true].
These two properties are THEOREMS, not stream-order accidents, which is
what lets an exact-SQL oracle certify the sketch deterministically
(the certification query emits only guarantee-backed facts).

Scale shape: the sketch state is k counters per Arrow batch — O(k) memory
regardless of stream size, the whole point at 100 TB; the merge shuffles
≤ batches × k counter rows, never the stream. A coordinator re-prune back
to k entries (subtract the (k+1)-th largest) is a 1-row-per-item
aggregate away if the summary itself must stay ≤ k.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from annotations_ingester_spark.pyfiles import map_in_pandas

MG_FIELDS = T.StructType(
    [
        T.StructField("item", T.LongType(), False),
        T.StructField("mg_count", T.LongType(), False),
    ]
)


def misra_gries_batch(items: list[int], k: int) -> dict[int, int]:
    """Textbook Misra-Gries over one in-memory stream: maintain ≤ k
    counters; an unmatched item with full counters decrements ALL
    counters (evicting zeros). Estimates under-count by ≤ len(items)/k."""
    counters: dict[int, int] = {}
    for x in items:
        if x in counters:
            counters[x] += 1
        elif len(counters) < k:
            counters[x] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


def misra_gries_summaries(
    df: DataFrame, item_col: str, k: int = 32
) -> DataFrame:
    """Distributed MG: per-Arrow-batch k-counter summaries, merged by a
    relational sum — returns (item, mg_count) with the N/k guarantee
    (module docstring). One mapInPandas stage + one tiny aggregate."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # Vectorized pre-count (pandas value_counts), then WEIGHTED MG
            # over the distinct items — O(distinct) Python instead of
            # O(rows): processing an item with multiplicity w either
            # credits its counter, or (counters full) burns min(w, min_c)
            # from every counter. Each burned unit removes k+1 units of
            # stream mass, so total undercount ≤ n_batch/(k+1) — the same
            # (slightly tighter) bound the unit-step Misra-Gries proof
            # gives, and the only property the certified queries rely on.
            counts = pdf["_item"].value_counts()
            counters: dict[int, int] = {}
            for x, w in zip(counts.index, counts.to_numpy()):
                x, w = int(x), int(w)
                if x in counters:
                    counters[x] += w
                elif len(counters) < k:
                    counters[x] = w
                else:
                    m = min(counters.values())
                    if w > m:
                        counters = {
                            y: c - m for y, c in counters.items() if c > m
                        }
                        counters[x] = w - m
                    else:
                        counters = {
                            y: c - w for y, c in counters.items() if c > w
                        }
            yield pd.DataFrame(
                {
                    "item": pd.Series(list(counters.keys()), dtype="int64"),
                    "mg_count": pd.Series(list(counters.values()), dtype="int64"),
                }
            )

    from pyspark.sql import functions as F

    slim = df.select(F.col(item_col).alias("_item"))
    partial = map_in_pandas(slim, run, MG_FIELDS)
    return partial.groupBy("item").agg(
        F.sum("mg_count").cast("long").alias("mg_count")
    )

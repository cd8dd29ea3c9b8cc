"""Lifetime of materialized blocks: one scope frees what a query pinned.

``localCheckpoint`` persists its blocks as an internal cached RDD that
neither ``DataFrame.unpersist()`` nor ``clearCache`` reaches; without help
the blocks live until driver GC and the ContextCleaner get to them. At
100 TB that is the difference between a bounded footprint and an eviction
storm. This is the only module that reads ``getPersistentRDDs`` or
unpersists a raw RDD.

``with Scope(spark):`` releases, on exit and even on an exception, every
persistent RDD created since the scope opened, whatever made it
(``catalog.ckpt``, a bare ``localCheckpoint``, a forgotten ``persist``).
Older blocks are untouched, so scopes nest. Exit only after the last
action over the scope's frames: a freed checkpoint cannot be recomputed.

Iterative loops keep an unclosed scope: :meth:`Scope.checkpoint` tracks
each round's generation and :meth:`Scope.retire_previous` frees all but
the newest, so at most two are live and the caller's scope frees the last.
A loop whose result no longer reads its checkpoints (connected components
finished on the driver) calls :meth:`Scope.close` itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def live_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently persisted in ``spark``'s context."""
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def release(spark: SparkSession, ids: set[int]) -> None:
    """Unpersist (non-blocking) the persistent RDDs among ``ids``; ids no
    longer persisted are skipped."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


class Scope:
    """Persistent-RDD lifetime bound to a ``with`` block, plus round-to-round
    checkpoint generations for iterative loops."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._before = live_rdd_ids(spark)
        self._gens: list[set[int]] = []

    def __enter__(self) -> Scope:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def close(self) -> None:
        """Release every persistent RDD created since the scope opened."""
        release(self._spark, live_rdd_ids(self._spark) - self._before)

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """localCheckpoint ``df`` and track the blocks it creates.
        Does NOT free older generations — the caller may still read them
        (e.g. old-vs-new centroid shift); call :meth:`retire_previous`
        once every read of the older generations has executed.

        ``eager=False`` registers the checkpoint RDD (persist happens at
        the localCheckpoint call, so the id is tracked here) but defers
        materialization to the caller's next action — the CC loop fuses
        its convergence aggregate with the materialization this way, one
        job per round instead of two. A first action that reads only some
        partitions (a limit probe) is followed by one job of Spark's own
        that computes the rest, so a later sequential reader finds every
        block. What the caller must avoid is two legs of one job reading
        the frame before it is materialized: they race to compute the
        same partitions (the measured r12 negative)."""
        before = live_rdd_ids(self._spark)
        out = df.localCheckpoint(eager=eager)
        self._gens.append(live_rdd_ids(self._spark) - before)
        return out

    def retire_previous(self) -> None:
        """Free every tracked generation except the newest. Only call once
        all reads of the older generations have executed — freed blocks
        cannot be recomputed (localCheckpoint truncates lineage)."""
        while len(self._gens) > 1:
            release(self._spark, self._gens.pop(0))

"""Custom stateful streaming operators (SURVEY §7.2.6 upgrades).

- ``running_user_totals``: an ``applyInPandasWithState`` accumulator — the
  template for custom per-key streaming state (the engine's answer to
  operators Structured Streaming lacks natively). State is one counter per
  key; memory is O(keys), not O(events).
- ``watermarked_dedup``: bounded-state streaming dedup
  (``dropDuplicatesWithinWatermark``) — the B2/B3 upgrade. An unbounded
  ``dropDuplicates`` would grow state forever at 100 TB; the watermark
  gives the state store a TTL (SURVEY §7.4.4).

Spark 4's newer ``transformWithStateInPandas`` API (the successor with
typed value/list/map state, timers, and TTL) was evaluated in round 6 and
is NOT usable in this container: its state-server protocol requires
``google.protobuf`` (``descriptor`` import), absent/broken here — the
streaming Python runner crashes at init
(STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). On a normally
provisioned cluster ``running_user_totals`` ports mechanically: ValueState
"n BIGINT" + one emit per key per batch from ``handleInputRows``. Until
then ``applyInPandasWithState`` is the certified custom-state surface.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from annotations_ingester_spark.pyfiles import ensure_worker_imports

RUNNING_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), False),
        T.StructField("batch_events", T.LongType(), False),
        T.StructField("total_events", T.LongType(), False),
    ]
)

_STATE_SCHEMA = T.StructType([T.StructField("total", T.LongType(), False)])


def _accumulate(
    key: tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n = 0
    for pdf in batches:
        n += len(pdf)
    (total,) = state.get if state.exists else (0,)
    total += n
    state.update((total,))
    yield pd.DataFrame(
        [{"user_id": key[0], "batch_events": n, "total_events": total}]
    )


def running_user_totals(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running event counts across micro-batches. The workers
    unpickle ``_accumulate`` by reference, so the package is shipped to
    them first."""
    ensure_worker_imports(events.sparkSession)
    return events.groupBy(key_col).applyInPandasWithState(
        _accumulate,
        outputStructType=RUNNING_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def watermarked_dedup(
    stream: DataFrame,
    id_cols: list[str],
    ts_col: str,
    delay: str = "30 minutes",
) -> DataFrame:
    """Streaming dedup with bounded state: duplicates arriving within the
    watermark window are dropped; state for ids older than the watermark is
    evicted. Exactly the reference's reprocessing-convergence guarantee
    (deterministic ids + idempotent sink) with O(window) memory.

    The dedup subset is the id columns ALONE: a re-delivered event whose
    retry carries a later timestamp (the normal at-least-once re-ingestion
    case) must still collapse onto its first arrival — including the
    event-time column in the subset would give the retry a fresh state key
    and emit it as a second row. The watermark column's only role here is
    bounding state lifetime."""
    return stream.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        id_cols
    )

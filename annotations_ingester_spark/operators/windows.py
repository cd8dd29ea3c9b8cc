"""B1: tumbling date windows (SURVEY §2.7).

The reference's driver loop splits [date-start, date-end] into interval-day
segments, advancing ``seg_start = prev_end`` and clamping the final segment
(ingester/annotations_indexer.py:842-861). Because its range scan is
both-ends-inclusive, boundary-date docs are processed twice — an overlap the
idempotency layer absorbs (SURVEY §7.4.2). Our engine keeps the ends, not
the overlap:

- ``date_windows``: disjoint segments with the reference's ends, each read
  once by the ``--segmented`` batch driver.
- ``window_segment``: a *partitioning* column assigning each row to exactly
  one segment — the non-overlapping Spark-first form, computable inside the
  scan (no driver loop, no double processing), usable in batch and
  streaming (`F.window` is the streaming twin).
"""

from __future__ import annotations

from datetime import date, datetime, timedelta

from pyspark.sql import Column
from pyspark.sql import functions as F


def date_windows(
    date_start: str,
    date_end: str,
    interval_days: int = 30,
    date_format: str = "%Y-%m-%d",
) -> list[tuple[str, str]]:
    """Disjoint inclusive segments [(seg_start, seg_end)...] covering the
    span: the reference's ends (every ``interval_days``, the last clamped to
    ``date_end``, annotations_indexer.py:847-861), each later segment
    starting the day after the previous end. A one-day span is one segment."""
    start = datetime.strptime(date_start, date_format).date()
    end = datetime.strptime(date_end, date_format).date()
    step = timedelta(days=interval_days)
    seg_start, seg_end = start, min(start + step, end)
    out = [(seg_start, seg_end)]
    while seg_end < end:
        seg_start, seg_end = seg_end + timedelta(days=1), min(seg_end + step, end)
        out.append((seg_start, seg_end))
    return [(a.strftime(date_format), b.strftime(date_format)) for a, b in out]


def window_segment(
    date_col: Column | str,
    date_start: str | date,
    interval_days: int = 30,
) -> Column:
    """Non-overlapping segment index: ``floor(datediff(d, start) / interval)``
    as BIGINT. Each row lands in exactly one window — the scalable form of
    B1 (a pure scan expression: no shuffle, prunes with partition columns)."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    start = F.lit(str(date_start)).cast("date")
    return F.floor(F.datediff(F.to_date(c), start) / F.lit(interval_days)).cast("long")

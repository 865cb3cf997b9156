"""Watermarked stream-stream interval joins.

The reference's topology is single-stream (querylog → MVs;
src/collector.py:54-78) — this is the extension surface for pipelines
that correlate TWO live streams: click→purchase attribution, request→
response matching, impression→conversion. Structured Streaming's
stream-stream inner join keeps both sides' state bounded when (a)
both streams carry a watermark and (b) the join condition constrains
the event-time distance; Spark then evicts left rows once the right
watermark passes left_ts + upper and vice versa.

Scale notes: state is (key × in-horizon rows) per side — bounded by
the watermark horizon, not the stream length; the join itself is a
state-store hash join per key, no shuffle beyond the key partitioning
both streams already share. Inner joins emit on match (no
finalization wait), so results are complete for availableNow runs
regardless of the watermark chosen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    upper_seconds: int,
    watermark: str = "2 hours",
) -> DataFrame:
    """Inner-join two streams on a key where the right event lands in
    ``[left_ts, left_ts + upper_seconds]``.

    Both inputs must be streaming DataFrames with distinct column
    names apart from ``on``. The watermark bounds state retention on
    both sides; with the interval condition it also lets Spark prove
    eviction safety (required for stream-stream joins in append mode).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (F.col(right_ts) >= F.col(left_ts))
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {int(upper_seconds)} SECONDS")
        )
    )
    return lw.join(rw, cond, "inner").drop(rw[on])

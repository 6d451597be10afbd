"""Stream-stream joins and watermark-bounded dedup.

The reference forwards records one-at-a-time and never correlates two
streams (SURVEY.md §2 Part B); these exist for the north-star pipeline
surface — correlating two live feeds (e.g. crawl-fetch results with their
scheduling records, impressions with clicks) and keeping ingest
exactly-once-per-key without unbounded state.

Scale shape: Spark's stream-stream join keys BOTH sides' state stores by
the join key, so the shuffle carries each event once and state lookups are
partition-local.  The interval bound + watermark is what makes 100 TB/day
feasible: state for an event is evicted as soon as the watermark passes
``event_ts + max_delay`` — without the time bound the join state grows
without limit and the query is (rightly) rejected by Spark's unsupported-
operation check in append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    *,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "30 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join two streams on ``key`` where the right event lands within
    ``[left_ts, left_ts + max_delay]``.

    Both sides must carry distinct column names apart from ``key`` (rename
    upstream if needed).  ``how`` may be ``inner`` or ``leftOuter`` — the
    outer form emits unmatched left rows only once their join window is
    provably closed by the watermark (late-arriving NULL-padded output, the
    documented Spark semantics).
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark).withColumnRenamed(key, f"_r_{key}")
    cond = (
        (F.col(key) == F.col(f"_r_{key}"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, how).drop(f"_r_{key}")


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "ts",
    max_delay: str = "30 minutes",
) -> DataFrame:
    """Cross-batch dedup with BOUNDED state: a key is emitted once and
    suppressed for as long as duplicates can still arrive (``max_delay``
    behind the watermark); the per-key state is then evicted.

    This is the production middle ground between per-batch
    ``dropDuplicates`` (no cross-batch memory) and the epoch-partitioned
    index of ``batch_apply.streaming_incremental_dedup`` (exact, but the
    index grows with the distinct-record count): re-crawled / re-delivered
    records cluster in time, so a watermark-sized window catches them while
    state stays O(keys-per-window) at any corpus size.
    """
    return stream.withWatermark(ts_col, max_delay).dropDuplicatesWithinWatermark(keys)

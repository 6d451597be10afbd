"""Watermark-bounded cross-batch dedup.

The bounded-state middle ground beside the exact epoch-indexed dedup of
``batch_apply.streaming_incremental_dedup``: Spark's own state store keeps
one entry per key only while duplicates can still arrive, and the watermark
evicts it after that, so state stays O(keys-per-window) at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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

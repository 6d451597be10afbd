"""Structured Streaming core: the keyed, batched, retrying PutRecords sink
(``sink``), the shard-parallel pull source (``pull_source``), the producer
pipeline (``pipeline``), and the epoch-indexed exact cross-batch dedup and
its index compaction (``batch_apply``).  Watermark-bounded dedup is Spark's
own ``withWatermark(...).dropDuplicatesWithinWatermark(keys)``.

Import from the submodules.  This package re-exports nothing, so a Python
worker that unpickles a sink or source function loads only that module's
own imports.
"""

"""Structured Streaming core: the keyed, batched, retrying PutRecords sink
(``sink``), the shard-parallel pull source (``pull_source``), the producer
and consumer pipelines (``pipeline``), and the epoch-indexed exact
cross-batch dedup (``batch_apply``).  Watermark-bounded dedup is Spark's own
``withWatermark(...).dropDuplicatesWithinWatermark(keys)``; the folds of
epoch-partitioned indexes are batch operators (``operators.dedup``,
``operators.ann``).

Import from the submodules.  This package re-exports nothing, so a Python
worker that unpickles a sink or source function loads only that module's
own imports.
"""

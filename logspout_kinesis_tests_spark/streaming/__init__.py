"""Structured Streaming core: the keyed, batched, retrying PutRecords sink
(``sink``), the shard-parallel pull source (``pull_source``), the producer
pipeline (``pipeline``), the epoch-indexed exact cross-batch dedup and its
index compaction (``batch_apply``) and watermark-bounded dedup (``joins``).

Import from the submodules.  This package re-exports nothing, so a Python
worker that unpickles a sink or source function loads only that module's
own imports.
"""

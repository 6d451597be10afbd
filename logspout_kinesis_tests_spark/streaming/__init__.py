"""Structured Streaming core: the keyed, batched, retrying PutRecords sink
(``sink``), the shard-parallel pull source (``pull_source``), the producer
pipeline (``pipeline``), the epoch-indexed cross-batch flows
(``batch_apply``), watermarked joins and dedup (``joins``, ``windowed``) and
the stateful monitors (``stateful``).

Import from the submodules.  This package re-exports nothing, so a Python
worker that unpickles a sink or source function loads only that module's
own imports.
"""

"""Cross-batch exact dedup of a streamed corpus on an epoch-partitioned
index.

``foreachBatch`` hands each micro-batch to a plain batch function, so the
batch dedup operator runs unchanged per micro-batch.  CROSS-batch state
lives in an index beside the stream: each epoch reads the partitions
committed before it and overwrites its own, so a replayed epoch is
idempotent.  ``streaming_incremental_dedup`` is the exact cross-batch dedup
on that index; ``operators.dedup.compact_epoch_index`` folds its committed
epochs into one partition.  The bounded-state alternative is Spark's own
``withWatermark(...).dropDuplicatesWithinWatermark(keys)``.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from logspout_kinesis_tests_spark.session import ensure_runtime_confs


def _index_before_epoch(
    spark: SparkSession, index_dir: str, epoch_id: int, *cols: str
) -> DataFrame | None:
    """Read the epoch-partitioned dedup index, restricted to state committed
    BEFORE ``epoch_id``; ``None`` when nothing has been committed yet.

    The ``epoch < epoch_id`` filter is the replay-safety core: foreachBatch
    epoch ids are stable across restarts, so a replayed batch never sees its
    own (possibly partial) index write — it re-derives from exactly the
    pre-batch state and its overwrite is idempotent.

    "Nothing committed" means ``index_dir`` is missing or no ``epoch=*``
    partition holds a data file (an aborted first write can leave an empty
    one).  Every other read error propagates: answering "no index" for a
    corrupt or unreadable index would pass every duplicate through.
    """
    from pyspark.sql import functions as F

    if not _has_epoch_data(index_dir):
        return None
    idx = spark.read.parquet(index_dir)
    return idx.filter(F.col("epoch") < epoch_id).select(*cols).distinct()


def _has_epoch_data(index_dir: str) -> bool:
    """True when an ``epoch=*`` partition of ``index_dir`` holds a file Spark
    would read (it skips names starting ``_`` or ``.``; glob skips ``.``)."""
    paths = glob.glob(os.path.join(glob.escape(index_dir), "epoch=*", "*"))
    return any(
        os.path.isfile(p) and not os.path.basename(p).startswith("_") for p in paths
    )


def streaming_incremental_dedup(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Cross-batch exact dedup for a streamed corpus: each micro-batch is
    deduplicated against the persisted content-hash index (then within
    itself), survivors land under ``out_dir/epoch=N/`` and their hashes are
    appended to ``index_dir`` — the crawl-refresh loop as one flow.

    The surviving SET is batching-invariant when later copies carry higher
    ids (availableNow may coalesce drip files into one batch; min-id then
    makes the same choice the index would have).

    Restart safety: the index is PARTITIONED BY EPOCH — each epoch's hashes
    land under ``index_dir/epoch=N/`` with mode=overwrite, and the probe
    reads only partitions with ``epoch < N``.  A batch replayed after its
    index write but before the checkpoint commit therefore probes exactly
    the pre-batch state (its own partial write is excluded by the epoch
    filter and then overwritten), regenerating identical output instead of
    self-shadowing the batch into an empty epoch.  At 100 TB the index is
    the same layout as a date-partitioned bucketed table; a periodic
    compaction job can fold old epochs into one partition.
    """
    from logspout_kinesis_tests_spark.operators.dedup import (
        incremental_dedup,
        with_content_hash,
    )

    ensure_runtime_confs(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(src_dir)

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        index = _index_before_epoch(spark, index_dir, epoch_id, "content_sha256")
        if index is None:  # first epoch: no index yet
            index = (
                with_content_hash(bdf.limit(0), text_col).select("content_sha256")
            )
        # two writes read survivors: persist it so the index read, hash,
        # anti-join and semi-join run once per epoch, not once per write
        survivors = incremental_dedup(bdf, index, id_col, text_col).persist()
        try:
            survivors.coalesce(1).write.mode("overwrite").json(
                os.path.join(out_dir, f"epoch={epoch_id}")
            )
            with_content_hash(survivors, text_col).select(
                "content_sha256"
            ).write.mode("overwrite").parquet(
                os.path.join(index_dir, f"epoch={epoch_id}")
            )
        finally:
            survivors.unpersist()

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


"""Cross-batch exact dedup of a streamed corpus on an epoch-partitioned
index, and the maintenance folds of such indexes.

``foreachBatch`` hands each micro-batch to a plain batch function, so the
batch dedup operator runs unchanged per micro-batch.  CROSS-batch state
lives in an index beside the stream: each epoch reads the partitions
committed before it and overwrites its own, so a replayed epoch is
idempotent.  ``streaming_incremental_dedup`` is the exact cross-batch dedup
on that index, ``compact_epoch_index`` folds committed epochs into one
partition, and ``compact_ann_index`` folds an ANN index kept in the same
layout.  The bounded-state alternative is Spark's own
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


def compact_epoch_index(
    spark: SparkSession,
    index_dir: str,
    upto_epoch: int,
    count_rows: bool = True,
) -> int:
    """Fold all index partitions with ``epoch < upto_epoch`` into the single
    partition ``epoch = upto_epoch - 1`` — the periodic maintenance job the
    epoch-partitioned streaming indexes assume at scale.

    Correctness under the replay contract: probes read ``epoch < N`` for the
    live epoch N.  Folding epochs ``0..upto_epoch-1`` into the partition id
    ``upto_epoch - 1`` keeps every folded row visible to exactly the same
    probes as before (any live epoch is ``>= upto_epoch``), and a replay of
    epoch ``N >= upto_epoch`` still excludes its own write.  Only run with
    ``upto_epoch <= `` the oldest epoch that could replay (i.e. the last
    COMMITTED epoch + 1) — compacting the in-flight epoch would merge a
    possibly-partial write.

    The fold is a deduplicating ``distinct()``: every index kept in this
    layout (content hashes, ANN codes and vecs) is membership-shaped, and
    replayed epochs can leave identical rows in several partitions; after
    compaction each surviving row exists once.

    Returns the number of rows in the compacted partition (an extra read
    job; pass ``count_rows=False`` to skip it and get ``-1`` when the
    caller doesn't need the figure — e.g. a maintenance loop folding many
    tables back-to-back).

    Crash handling: the fold is staged under a Spark-hidden ``_compact_tmp``
    dir first, so a crash BEFORE the swap leaves the index untouched.  The
    swap itself (delete folded partitions, rename staging in) is not atomic
    across a multi-dir filesystem — run compaction while the stream is
    quiesced and RE-RUN IT after a crash: if a completed staging dir is
    found the function resumes the swap instead of re-folding, restoring the
    index before the stream restarts.  The resume is NOT keyed to calling
    with the same ``upto_epoch``: any stale ``_compact_tmp_*`` dir from a
    crashed run is handled on entry — a completed one (``_SUCCESS`` marker)
    has its swap finished first (its folded rows may be the only copy of
    already-deleted partitions; skipping it would silently lose them, since
    underscore-prefixed dirs are invisible to Spark reads), an incomplete
    one is discarded (its source partitions are all still present).
    """
    import shutil

    from pyspark.sql import functions as F

    # Self-heal stale staging dirs from a prior crashed compaction BEFORE
    # reading the index, so the refold below sees every surviving row.
    for name in list(os.listdir(index_dir)):
        if not name.startswith("_compact_tmp_"):
            continue
        stale_path = os.path.join(index_dir, name)
        stale_epoch = int(name.rsplit("_", 1)[1])
        if stale_epoch == upto_epoch - 1:
            continue  # this run's own staging dir — resumed below
        if os.path.exists(os.path.join(stale_path, "_SUCCESS")):
            # Finish the interrupted swap for its ORIGINAL epoch: delete
            # whatever folded partitions remain, promote the staging dir.
            for n2 in os.listdir(index_dir):
                if n2.startswith("epoch="):
                    try:
                        if int(n2.split("=", 1)[1]) <= stale_epoch:
                            shutil.rmtree(os.path.join(index_dir, n2))
                    except ValueError:
                        continue
            os.rename(stale_path, os.path.join(index_dir, f"epoch={stale_epoch}"))
        else:
            # Fold crashed mid-write: all source partitions still exist,
            # the staging dir holds nothing unique — drop it.
            shutil.rmtree(stale_path)

    tmp = os.path.join(index_dir, f"_compact_tmp_{upto_epoch - 1}")
    staged = os.path.exists(os.path.join(tmp, "_SUCCESS"))
    if not staged:
        idx = spark.read.parquet(index_dir)
        cols = [c for c in idx.columns if c != "epoch"]
        folded = idx.filter(F.col("epoch") < upto_epoch).select(*cols).distinct()
        folded.write.mode("overwrite").parquet(tmp)
    for name in os.listdir(index_dir):
        if name.startswith("epoch="):
            try:
                if int(name.split("=", 1)[1]) < upto_epoch:
                    shutil.rmtree(os.path.join(index_dir, name))
            except ValueError:
                continue
    os.rename(tmp, os.path.join(index_dir, f"epoch={upto_epoch - 1}"))
    if not count_rows:
        return -1
    return spark.read.parquet(
        os.path.join(index_dir, f"epoch={upto_epoch - 1}")
    ).count()


#: Epoch-partitioned tables of an ANN index, in fold order.  Anything else
#: under the index dir (e.g. frozen codebooks, which are not
#: epoch-partitioned) is left alone.
_ANN_INDEX_TABLES = ("codes", "vecs")


def compact_ann_index(
    spark: SparkSession, index_dir: str, upto_epoch: int, count_rows: bool = True
) -> dict[str, int]:
    """Fold an epoch-partitioned ANN index's fragments (VERDICT r12 #6) —
    the index analogue of the C19 small-file problem: every arrival epoch
    adds ``codes/epoch=N`` (m ints/vector) and ``vecs/epoch=N`` (re-rank
    precision), so a long-lived index accumulates thousands of small
    fragments whose per-file open/footer cost eventually dominates
    the probe scan.

    Invariant: the fold preserves each table's exact row SET — both tables
    are membership-shaped (one row per (id, sub) / per id; replay can only
    duplicate whole rows, which ``distinct()`` collapses).  Search results
    are therefore identical before/after up to floating-point summation
    order: the exact re-rank cosine is a per-row fold (layout-free), and
    ranking ties break on id, but the ADC candidate scores sum m partial
    dots per pair in row-arrival order, so a re-layout can move a score by
    an ulp and swap candidates exactly at the rerank cutoff.  Real
    deployments keep rerank ≫ k, where an ulp-level cutoff swap cannot
    reach the top-k; the parity row (c10_index_compaction_parity) goes
    further and quantizes its vectors so every aggregated sum is exact and
    order-independent, making result identity a strict invariant there.
    ``tests/test_streaming_ann.py`` pins triple-identity (query,
    neighbour, rank) plus quantized distances across the fold, including
    a kill between the two table folds.

    Crash contract (inherited per table from :func:`compact_epoch_index`'s
    staged-swap recovery, extended across tables by ORDER): tables fold
    one at a time, so a kill leaves at most one table mid-swap — that
    table self-heals on the next call, the other is either fully pre- or
    fully post-fold, and BOTH states serve identical ``epoch < N`` row
    sets.  Re-running with the same ``upto_epoch`` is idempotent and
    completes the remaining folds.  Same quiesce rule as the per-table op:
    only fold epochs that can no longer replay (``upto_epoch <=`` last
    committed epoch + 1).

    Returns {table: rows_in_compacted_partition} for the tables present.
    """
    out: dict[str, int] = {}
    for sub in _ANN_INDEX_TABLES:
        path = os.path.join(index_dir, sub)
        if not os.path.isdir(path):
            continue
        entries = os.listdir(path)
        # Gate on a readable fold source: epoch= partitions, or a COMPLETED
        # (_SUCCESS) staging dir whose swap compact_epoch_index can resume.
        # A dir holding only an incomplete _compact_tmp_* must be skipped
        # (ADVICE r13): compact_epoch_index would discard the stale tmp as
        # crashed-mid-write and then fail reading the now-empty dir.  The
        # incomplete tmp is left in place — it is Spark-invisible, and a
        # later fold that finds real partitions beside it cleans it up.
        foldable = any(n.startswith("epoch=") for n in entries) or any(
            n.startswith("_compact_tmp_")
            and os.path.exists(os.path.join(path, n, "_SUCCESS"))
            for n in entries
        )
        if foldable:
            out[sub] = compact_epoch_index(
                spark, path, upto_epoch, count_rows=count_rows
            )
    return out

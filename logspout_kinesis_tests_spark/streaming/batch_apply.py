"""Lift any batch DataFrame operator into a Structured Streaming flow.

The engine's batch operators (dedup, text analysis, curation gates) are
plain ``DataFrame -> DataFrame`` functions; ``foreachBatch`` hands each
micro-batch to exactly that signature, so the SAME operator object runs in
both modes — no re-implementation, and batch/stream parity is testable
(``tests/test_streaming_curation.py``).

Scope note: per-batch application gives per-micro-batch semantics.  That is
correct for row-local operators (quality gates, scrubbing, scoring against a
broadcast model) and for intra-batch dedup.  CROSS-batch state lives in an
epoch-partitioned index beside the stream: each epoch reads the partitions
committed before it and overwrites its own, so a replayed epoch is
idempotent.  ``streaming_incremental_dedup`` is the exact cross-batch dedup
on that index; the Bloom, MinHash, heavy-hitters and ANN flows share its
``_index_before_epoch`` / ``compact_epoch_index`` machinery.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Callable

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


def apply_per_batch(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    batch_op: Callable[[DataFrame], DataFrame],
    out_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream JSON files from ``src_dir`` through ``batch_op``; write each
    micro-batch's result under ``out_dir/epoch=N/`` as JSON.

    ``batch_op`` receives an ordinary batch DataFrame (so groupBy/join/
    window compositions — and ``spread_for_compute`` — work unchanged) and
    runs under the drip source's checkpointed offsets: restart resumes
    after the last committed epoch, giving at-least-once file output with
    per-epoch atomic visibility.
    """
    ensure_runtime_confs(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(src_dir)

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        batch_op(bdf).coalesce(1).write.mode("overwrite").json(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
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


def streaming_bloom_dedup(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    m: int = 1 << 20,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Cross-batch dedup against a persisted BLOOM index instead of the
    exact hash index — the bounded-memory end of the trade-off:

    - exact index (``streaming_incremental_dedup``): no wrong drops, index
      grows with distinct-document count (32 B/doc);
    - Bloom index (here): index is ≤ n·k set-bit rows capped by ``m``
      regardless of corpus size, but a false positive silently drops a
      unique document at the analytic (1-e^{-kn/m})^k rate — acceptable
      for crawl dedup (a dropped unique ≈ a sampling event), never for
      billing-grade exactness.  No false negatives: a true duplicate is
      always dropped.

    Content keyed by sha256(text); probe/insert are the Bloom bucket
    equi-joins from ``operators.timeseries`` — no driver-side state.

    Restart safety mirrors ``streaming_incremental_dedup``: bits are written
    to ``index_dir/epoch=N/`` with mode=overwrite and the probe reads only
    ``epoch < N``, so a batch replayed between index write and checkpoint
    commit probes the pre-batch filter (its own bits excluded), keeping the
    'no false negatives, fp-rate-bounded drops' contract under replay too.
    """
    from logspout_kinesis_tests_spark.operators.dedup import with_content_hash
    from logspout_kinesis_tests_spark.operators.timeseries import (
        bloom_build,
        bloom_probe,
    )
    from pyspark.sql import functions as F

    ensure_runtime_confs(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(src_dir)

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        hashed = with_content_hash(bdf, text_col)
        bits = _index_before_epoch(spark, index_dir, epoch_id, "bucket")
        if bits is None:  # first epoch: empty filter
            bits = hashed.limit(0).select(F.lit(0).cast("long").alias("bucket"))
        probed = bloom_probe(
            bits, hashed.select("content_sha256").distinct(), "content_sha256", k, m
        )
        fresh = probed.filter(~F.col("present")).select("content_sha256")
        # min-id per fresh hash keeps the survivor choice batching-invariant
        survivors = (
            hashed.join(fresh, "content_sha256", "left_semi")
            .groupBy("content_sha256")
            .agg(F.min(F.col(id_col)).alias("_keep"))
            .join(hashed, "content_sha256")
            .filter(F.col(id_col) == F.col("_keep"))
            .drop("_keep", "content_sha256")
        )
        survivors.coalesce(1).write.mode("overwrite").json(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        bloom_build(
            with_content_hash(survivors, text_col), "content_sha256", k, m
        ).write.mode("overwrite").parquet(os.path.join(index_dir, f"epoch={epoch_id}"))

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_minhash_dedup(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    index_dir: str,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Cross-batch NEAR-dup dedup against a persisted MinHash index — the
    fuzzy end of the streaming dedup trio (exact hashes →
    ``streaming_incremental_dedup``; bounded-memory approximate →
    ``streaming_bloom_dedup``; near-duplicates → here).

    The index is two epoch-partitioned tables derived from survivors only:

    - ``index_dir/bands/epoch=N``  (id, band, bucket) — candidate probe;
    - ``index_dir/sigs/epoch=N``   (id, minhash)      — similarity verify.

    Per batch: signature the batch, equi-join its band buckets against the
    indexed bands (``epoch < N`` — same replay-safety contract as the other
    two flows), verify candidates by SIGNATURE-estimated Jaccard
    (matching-positions / num_hashes; E[est] = exact Jaccard, so the index
    never needs document bodies), drop batch docs estimating >= ``threshold``
    vs any indexed doc, then resolve intra-batch near-dup clusters via
    connected components + keep-min-id.  Survivors land in
    ``out_dir/epoch=N`` and their bands/sigs extend the index.

    100 TB: the index carries ``bands`` + 1 rows of ~16 B per surviving doc
    — no text; probes are bucket equi-joins (shuffle moves ids); a periodic
    compaction folds old epochs.  Estimated-not-exact verify is the
    documented trade-off (±1/sqrt(num_hashes) ≈ 0.125 band at 64 hashes);
    callers needing exact re-verify join texts from the survivor store.
    """
    from logspout_kinesis_tests_spark.operators.dedup import (
        dedup_keep_one,
        lsh_bands,
        minhash_signatures,
        signature_jaccard_estimate,
    )
    from pyspark.sql import functions as F

    ensure_runtime_confs(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(src_dir)
    rows_per_band = num_hashes // bands

    def _banded(sig: DataFrame) -> DataFrame:
        return sig.select(
            F.col(id_col),
            F.explode(lsh_bands(bands=bands, rows_per_band=rows_per_band)).alias("b"),
        ).select(F.col(id_col), F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        # sig feeds the cross-index probe, the intra-batch join (twice) and
        # the survivor index writes; dup_new feeds the anti-join + its
        # health count; survivors feeds three writes + its count.  Persist
        # all three for the sink's scope or every extra consumer re-runs
        # the full signature/LSH pipeline.
        pinned: list[DataFrame] = []

        def pin(df: DataFrame) -> DataFrame:
            pinned.append(df.persist())
            return df

        try:
            _sink_inner(bdf, epoch_id, pin)
        finally:
            for df in pinned:
                df.unpersist()

    def _sink_inner(bdf: DataFrame, epoch_id: int, pin) -> None:
        sig = pin(minhash_signatures(bdf, id_col, text_col, num_hashes))
        old_bands = _index_before_epoch(
            spark, os.path.join(index_dir, "bands"), epoch_id, id_col, "band", "bucket"
        )
        dup_new = None
        if old_bands is not None:
            old_sigs = _index_before_epoch(
                spark, os.path.join(index_dir, "sigs"), epoch_id, id_col, "minhash"
            )
            cand = (
                _banded(sig)
                .join(
                    old_bands.select(
                        F.col(id_col).alias("_old_id"), "band", "bucket"
                    ),
                    ["band", "bucket"],
                )
                .select(F.col(id_col), F.col("_old_id"))
                .distinct()
            )
            est = signature_jaccard_estimate(
                F.col("_sig_new"), F.col("_sig_old"), num_hashes
            )
            dup_new = (
                cand.join(sig.select(F.col(id_col), F.col("minhash").alias("_sig_new")), id_col)
                .join(
                    old_sigs.select(
                        F.col(id_col).alias("_old_id"), F.col("minhash").alias("_sig_old")
                    ),
                    "_old_id",
                )
                .filter(est >= threshold)
                .select(id_col)
                .distinct()
            )
            dup_new = pin(dup_new)
        fresh = bdf if dup_new is None else bdf.join(dup_new, id_col, "left_anti")
        # intra-batch: candidate pairs within the batch, estimate-verified,
        # clusters resolved to the min id
        fresh_sig = sig.join(fresh.select(id_col), id_col, "left_semi")
        fb = _banded(fresh_sig)
        intra = (
            fb.alias("l")
            .join(
                fb.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
            )
            .select(
                F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
            )
            .distinct()
            .join(
                fresh_sig.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("_sa")),
                "id_a",
            )
            .join(
                fresh_sig.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("_sb")),
                "id_b",
            )
            .filter(signature_jaccard_estimate(F.col("_sa"), F.col("_sb"), num_hashes) >= threshold)
            .select("id_a", "id_b")
        )
        survivors = pin(dedup_keep_one(fresh, intra, id_col=id_col))
        survivors.coalesce(1).write.mode("overwrite").json(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )
        surv_sig = sig.join(survivors.select(id_col), id_col, "left_semi")
        surv_sig.write.mode("overwrite").parquet(
            os.path.join(index_dir, "sigs", f"epoch={epoch_id}")
        )
        _banded(surv_sig).write.mode("overwrite").parquet(
            os.path.join(index_dir, "bands", f"epoch={epoch_id}")
        )
        # health row (the ann_ingest_health contract applied to dedup): all
        # counts derive from the batch + pre-batch index only, so a crash
        # replay overwrites the row byte-identically
        n_in = bdf.count()
        n_cross = 0 if dup_new is None else dup_new.count()
        # count the plan, not the written files: an all-dropped epoch's JSON
        # dir is empty and schema inference on it would kill the stream
        n_out = survivors.count()
        _write_dedup_health_row(
            index_dir, epoch_id, n_in=n_in, n_dropped_cross=n_cross,
            n_dropped_intra=n_in - n_cross - n_out, n_survivors=n_out,
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_heavy_hitters(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    index_dir: str,
    out_dir: str,
    key_col: str = "user_id",
    k: int = 10,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Cross-batch streaming top-k heavy hitters over a key column.

    Each micro-batch folds its per-key counts into a persisted,
    epoch-partitioned count index and emits the CURRENT global top-k to
    ``out_dir/epoch=N/`` — the live "hottest keys" dashboard (top talkers,
    hot partition keys, trending entities) over an unbounded stream.

    Scale shape: per-epoch index partials are bounded by the batch's
    distinct keys (map-combined groupBy, one shuffle of (key, count)); the
    global re-aggregation reads (key, count) pairs only — never raw events —
    and the top-k cut is TakeOrdered, no global sort.  For periodic
    maintenance use ``compact_epoch_index(..., sum_cols=["cnt"])`` — the
    COUNTS index must fold by summing, never by the dedup indexes'
    distinct() (which would collapse repeated (key, count) rows).

    Replay safety (same contract as the dedup flows): the index is
    partitioned by epoch with mode=overwrite and the re-aggregation reads
    only ``epoch < N`` plus the live batch, so a batch replayed after its
    index write but before the checkpoint commit regenerates identical
    counts instead of double-counting itself.
    """
    from pyspark.sql import functions as F

    ensure_runtime_confs(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(src_dir)

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        partial = bdf.groupBy(key_col).agg(F.count("*").alias("cnt"))
        # write the epoch partial FIRST, then read it back for the totals —
        # the partial plan runs once instead of once per action (the
        # index write doubles as the materialization; overwrite keeps a
        # replayed batch idempotent)
        epoch_path = os.path.join(index_dir, f"epoch={epoch_id}")
        partial.write.mode("overwrite").parquet(epoch_path)
        live = spark.read.parquet(epoch_path)
        # prior committed state: counts from epochs strictly before this one
        # (_index_before_epoch's distinct() would collapse counts — read raw)
        prior = (
            spark.read.parquet(index_dir)
            .filter(F.col("epoch") < epoch_id)
            .select(key_col, "cnt")
        )
        totals = (
            prior.unionByName(live.select(key_col, "cnt"))
            .groupBy(key_col)
            .agg(F.sum("cnt").alias("cnt"))
        )
        topk = totals.orderBy(F.col("cnt").desc(), F.col(key_col)).limit(k)
        topk.coalesce(1).write.mode("overwrite").json(
            os.path.join(out_dir, f"epoch={epoch_id}")
        )

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
    sum_cols: list[str] | None = None,
    count_rows: bool = True,
) -> int:
    """Fold all index partitions with ``epoch < upto_epoch`` into the single
    partition ``epoch = upto_epoch - 1`` — the periodic maintenance job the
    epoch-partitioned streaming indexes assume at scale (every flow's
    docstring promises it; this is it).

    Correctness under the replay contract: probes read ``epoch < N`` for the
    live epoch N.  Folding epochs ``0..upto_epoch-1`` into the partition id
    ``upto_epoch - 1`` keeps every folded row visible to exactly the same
    probes as before (any live epoch is ``>= upto_epoch``), and a replay of
    epoch ``N >= upto_epoch`` still excludes its own write.  Only run with
    ``upto_epoch <= `` the oldest epoch that could replay (i.e. the last
    COMMITTED epoch + 1) — compacting the in-flight epoch would merge a
    possibly-partial write.

    The fold depends on the index's semantics — pass the right one:

    - ``sum_cols=None`` (membership indexes: hashes, Bloom buckets, bands,
      signatures): deduplicating ``distinct()`` — replayed epochs can leave
      identical rows in multiple partitions; after compaction each
      surviving row exists once.
    - ``sum_cols=[...]`` (additive indexes: the heavy-hitters counts):
      group by the remaining columns and SUM the named ones — distinct()
      here would silently collapse repeated (key, count) partials and
      permanently undercount.

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
        rows = idx.filter(F.col("epoch") < upto_epoch).select(*cols)
        if sum_cols:
            keys = [c for c in cols if c not in sum_cols]
            folded = rows.groupBy(*keys).agg(
                *[F.sum(c).alias(c) for c in sum_cols]
            ).select(*cols)
        else:
            folded = rows.distinct()
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


#: Epoch-partitioned tables a streaming ANN index accumulates, in fold
#: order.  ``aux`` (frozen codebooks/centroids) and ``health`` (per-epoch
#: monitoring audit rows) are deliberately NOT folded: aux is not
#: epoch-partitioned, and health rows are the drift/recall audit trail
#: whose per-epoch identity IS their value.
_ANN_INDEX_TABLES = ("codes", "vecs")


def compact_ann_index(
    spark: SparkSession, index_dir: str, upto_epoch: int, count_rows: bool = True
) -> dict[str, int]:
    """Fold a streaming ANN index's epoch fragments (VERDICT r12 #6) —
    the index analogue of the C19 small-file problem: every micro-batch
    appends ``codes/epoch=N`` (m ints/vector) and ``vecs/epoch=N``
    (re-rank precision), so long-running ingest accumulates thousands of
    small fragments whose per-file open/footer cost eventually dominates
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


def _trained_epoch_path(aux_dir: str) -> str:
    return os.path.join(aux_dir, "_TRAINED_EPOCH")


def _read_trained_epoch(aux_dir: str) -> int | None:
    """Epoch that trained the CURRENT aux, or None if training never
    completed (underscore-prefixed, so Spark parquet reads ignore it)."""
    try:
        with open(_trained_epoch_path(aux_dir)) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _write_trained_epoch(aux_dir: str, epoch_id: int) -> None:
    """Atomic (tmp + rename) so a crash never leaves a partial marker."""
    tmp = _trained_epoch_path(aux_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(epoch_id))
    os.replace(tmp, _trained_epoch_path(aux_dir))


def _write_health_row(
    index_dir: str,
    epoch_id: int,
    n_vectors: int,
    mean_qerr: float,
    baseline: bool,
    recall: float | None = None,
    n_probe: int = 0,
) -> None:
    """One JSON health row per epoch (driver-side, deterministic content →
    crash-replay overwrites byte-identically)."""
    import json

    health_dir = os.path.join(index_dir, "health")
    os.makedirs(health_dir, exist_ok=True)
    row = {
        "epoch": epoch_id,
        "n_vectors": n_vectors,
        "mean_qerr": round(mean_qerr, 9),
        "baseline": baseline,
    }
    if recall is not None:
        row["recall"] = round(recall, 9)
        row["n_probe"] = n_probe
    # atomic tmp+replace: ann_ingest_health runs from a monitoring cron
    # beside the live stream, so a reader must never see a partial row
    final = os.path.join(health_dir, f"epoch={epoch_id}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(row, f, sort_keys=True)
    os.replace(tmp, final)


def _read_health_rows(index_dir: str, required: dict) -> list:
    """Read ``health/epoch=*.json`` rows, skipping anything that is not a
    dict carrying every ``required`` key with the right type — crash debris
    from a pre-atomic writer OR valid-JSON-of-the-wrong-shape (a scalar, a
    row missing a counter) must not kill a monitoring cron with a
    KeyError/TypeError three lines later (ADVICE r10).  bool is rejected
    where int is required (bool subclasses int but ``"epoch": true`` is
    debris, not an epoch id)."""
    import json

    health_dir = os.path.join(index_dir, "health")
    if not os.path.isdir(health_dir):
        return []
    rows = []
    for name in os.listdir(health_dir):
        if not (name.startswith("epoch=") and name.endswith(".json")):
            continue
        try:
            with open(os.path.join(health_dir, name)) as f:
                row = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(row, dict):
            continue
        ok = True
        for key, typ in required.items():
            val = row.get(key)
            if not isinstance(val, typ) or (typ is not bool and isinstance(val, bool)):
                ok = False
                break
        if ok:
            rows.append(row)
    rows.sort(key=lambda r: r["epoch"])
    return rows


def ann_ingest_health(
    index_dir: str, factor: float = 2.0, recall_floor_ratio: float = 0.8
) -> list:
    """Read the per-epoch health rows of a streaming ANN index and flag
    codebook/centroid drift: an epoch is ``drifted`` when its mean
    quantization error exceeds ``factor`` × the most recent BASELINE
    epoch's (the epoch that trained — or retrained — the frozen aux).

    This is the monitor the train-once contract needs: recall decay under
    distribution shift is silent (searches still return k rows, just the
    wrong ones), while mean qerr against the frozen aux rises in direct
    proportion to how far the stream has moved from the training batch.
    When an epoch trips the flag, refresh the index with
    :func:`recode_epoch_index` (quiesced, replay-safe) — its retrain
    writes a new baseline row, resetting the comparison.

    Pure driver-side file reads — no Spark session needed, so it can run
    from a monitoring cron beside the stream.
    """
    rows = _read_health_rows(
        index_dir,
        {"epoch": int, "mean_qerr": (int, float), "baseline": bool},
    )
    base = None
    base_recall = None
    for r in rows:
        if r.get("baseline"):
            base = r["mean_qerr"]
            # RESET on every baseline, including one without a recall
            # field (recode_epoch_index writes exactly that): a retrain
            # must not leave later epochs judged against the pre-retrain
            # panel recall — degradation verdicts resume once a new
            # probed baseline exists
            base_recall = (
                r["recall"]
                if isinstance(r.get("recall"), (int, float))
                and not isinstance(r.get("recall"), bool)
                else None
            )
        r["baseline_qerr"] = base
        # a zero-error baseline (aux reproduces its training batch
        # exactly) makes ANY later error the strongest drift signal, not
        # a case to suppress — compare against a tiny absolute floor
        r["drifted"] = bool(
            not r.get("baseline")
            and base is not None
            and r["mean_qerr"] > (factor * base if base > 0 else 1e-12)
        )
        # the DIRECT quality tripwire (VERDICT r11 #6): qerr is a proxy,
        # recall of the frozen probe panel vs exact top-k on the same
        # snapshot is the quantity users feel — flag an epoch whose recall
        # fell below recall_floor_ratio x the baseline epoch's
        r["recall_degraded"] = bool(
            not r.get("baseline")
            and base_recall is not None
            and isinstance(r.get("recall"), (int, float))
            and not isinstance(r.get("recall"), bool)
            and r["recall"] < recall_floor_ratio * base_recall
        )
    return rows


def _write_dedup_health_row(
    index_dir: str,
    epoch_id: int,
    n_in: int,
    n_dropped_cross: int,
    n_dropped_intra: int,
    n_survivors: int,
) -> None:
    """One JSON health row per dedup-ingest epoch (driver-side; atomic
    tmp+replace so a monitoring cron never reads a partial row — the same
    contract as the ANN health writer)."""
    import json

    health_dir = os.path.join(index_dir, "health")
    os.makedirs(health_dir, exist_ok=True)
    row = {
        "epoch": epoch_id,
        "n_in": n_in,
        "n_dropped_cross": n_dropped_cross,
        "n_dropped_intra": n_dropped_intra,
        "n_survivors": n_survivors,
    }
    final = os.path.join(health_dir, f"epoch={epoch_id}.json")
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(row, f, sort_keys=True)
    os.replace(tmp, final)


def dedup_ingest_health(index_dir: str, factor: float = 3.0) -> list:
    """Read the per-epoch health rows of a streaming dedup index and flag
    duplicate-rate SPIKES: an epoch is ``spiked`` when its dup_rate
    (dropped / arrived) exceeds ``factor`` × the mean dup_rate of all prior
    epochs.

    This is the monitor the persisted-index contract needs on the dedup
    side: the failure modes of a 100 TB streaming dedup are silent in the
    output (an upstream replay loop re-sends yesterday's corpus and the
    flow "works", quietly dropping the whole feed; a mis-routed feed sends
    an already-deduped mirror and survivors collapse).  A dup-rate spike
    against the flow's own history is the loud version of both.  The
    opposite direction — dup_rate pinned at 0 — is indistinguishable from
    genuinely fresh data, so it is reported (every row carries its rate)
    but never auto-flagged.

    Pure driver-side file reads — no Spark session needed, so it can run
    from a monitoring cron beside the stream (unparseable rows are skipped:
    a row mid-write by a crashed pre-atomic writer must not kill the
    monitor).
    """
    rows = _read_health_rows(
        index_dir,
        {
            "epoch": int,
            "n_in": int,
            "n_dropped_cross": int,
            "n_dropped_intra": int,
            "n_survivors": int,
        },
    )
    prior_rates: list[float] = []
    for r in rows:
        dropped = r["n_dropped_cross"] + r["n_dropped_intra"]
        rate = dropped / r["n_in"] if r["n_in"] else 0.0
        r["dup_rate"] = round(rate, 9)
        base = sum(prior_rates) / len(prior_rates) if prior_rates else None
        r["baseline_rate"] = None if base is None else round(base, 9)
        # a zero-duplicate history makes ANY later rate infinitely "above
        # baseline"; require a material absolute rate (half the feed
        # duplicated) before flagging against a zero baseline
        r["spiked"] = bool(
            base is not None and rate > (factor * base if base > 0 else 0.5)
        )
        prior_rates.append(rate)
    return rows


def _streaming_ann_ingest(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    index_dir: str,
    out_dir: str,
    id_col: str,
    vec_col: str,
    code_cols: list[str],
    train,
    encode,
    search,
    qerr,
    max_files_per_trigger: int | None,
    probe_panel: DataFrame | None = None,
    probe_k: int = 5,
) -> StreamingQuery:
    """Shared skeleton of the incremental ANN flows: per micro-batch,
    SEARCH the arriving vectors against the pre-epoch index, then ENCODE
    them against the frozen auxiliary structure (codebooks / centroids)
    and append epoch-partitioned codes + full-precision vectors.

    ``train(batch) -> aux`` runs ONCE, on the first non-empty batch (both
    trainers are fully deterministic, so a crash-replay regenerates
    byte-identical aux — the overwrite is idempotent); ``encode(batch,
    aux)`` emits the per-vector index rows (``code_cols`` schema);
    ``search(batch, old_codes, old_vecs, aux)`` returns the per-query
    top-k against state committed strictly before this epoch;
    ``qerr(batch, aux) -> DataFrame[(id, qerr)]`` scores how well the
    FROZEN aux still fits the arriving vectors.

    Drift instrumentation: every epoch appends one health row
    (``index_dir/health/epoch=N.json`` — epoch, n_vectors, mean_qerr,
    baseline flag) where ``baseline`` marks the epoch that trained (or
    retrained, see :func:`recode_epoch_index`) the aux.  Because the
    train-once contract freezes codebooks/centroids on the first batch, a
    distribution-shifted stream degrades recall with NO error anywhere —
    mean quantization error is the observable proxy (rising qerr ⇒ the
    frozen cells no longer sit near arriving vectors ⇒ ADC/probe rankings
    blur).  ``ann_ingest_health`` reads these rows and flags drifted
    epochs; ``recode_epoch_index`` refreshes the aux without violating
    replay safety.  The row write is driver-side and deterministic, so a
    crash-replay overwrites it byte-identically.

    Recall instrumentation (VERDICT r11 #6): with ``probe_panel`` (a
    FROZEN (id_col, vec_col) query panel — freeze it before starting the
    stream; a panel that drifts makes rounds incomparable) each epoch also
    runs the approximate search for the panel against the POST-epoch
    snapshot (epochs ≤ N) and compares it to the exact cosine
    top-``probe_k`` over the same snapshot vectors: ``recall`` = matched
    exact pairs / exact pairs, recorded in the health row beside qerr.
    This is the DIRECT quality tripwire — qerr is a proxy; panel recall
    is what a search user experiences.  Pass ``probe_k`` equal to the
    search's own k so the two rankings are set-comparable.  Cost per
    epoch: one broadcast-panel approx search + one exact scan of the
    snapshot — bounded by the panel size, not the stream.
    """
    ensure_runtime_confs(spark)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(src_dir)
    aux_dir = os.path.join(index_dir, "aux")
    # panel size is a constant of the stream — count it ONCE here, not one
    # Spark job per epoch inside the sink
    panel_n = probe_panel.count() if probe_panel is not None else 0

    def _sink(bdf: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        batch = bdf.select(F.col(id_col), F.col(vec_col)).filter(
            F.col(vec_col).isNotNull()
        )
        if not batch.head(1):
            return
        # Train-once gate keyed on the DURABLE trained-epoch marker, not
        # on whether a read succeeds: a transient read failure in a later
        # epoch (or a partially-written aux dir after a crash mid-train,
        # which can still read "successfully") must NOT silently retrain
        # on the current batch — that would freeze aux that disagrees
        # with every code already encoded in the index.  Marker absent ⇒
        # train (idempotent: trainers are deterministic and the overwrite
        # replaces any partial files) and record WHICH epoch trained;
        # marker present ⇒ aux is complete, so any read error below fails
        # the batch loudly for a retry.  The marker is written atomically
        # AFTER the aux commit, so a crash anywhere in the window simply
        # replays the (cheap, deterministic) training.  Persisting the
        # training epoch also keeps the health row's baseline flag stable
        # under crash-replay: recomputing "did I train?" per attempt
        # would mark the replayed training epoch baseline=False and
        # permanently blind the drift monitor.
        if _read_trained_epoch(aux_dir) is None:
            codes_root = os.path.join(index_dir, "codes")
            if os.path.isdir(codes_root) and any(
                n.startswith("epoch=") for n in os.listdir(codes_root)
            ):
                # encoded epochs exist but training never completed: a
                # recode crashed mid-swap (or aux was externally damaged).
                # Retraining on THIS batch would freeze aux that disagrees
                # with every existing code — fail loud; re-running the
                # recode repairs the index deterministically.
                raise RuntimeError(
                    "ANN index has encoded epochs but no completed aux "
                    f"(missing {_trained_epoch_path(aux_dir)}): re-run "
                    "recode_*_index before restarting the stream"
                )
            train(batch).write.mode("overwrite").parquet(aux_dir)
            _write_trained_epoch(aux_dir, epoch_id)
        aux = spark.read.parquet(aux_dir)

        old_codes = _index_before_epoch(
            spark, os.path.join(index_dir, "codes"), epoch_id, id_col, *code_cols
        )
        old_vecs = _index_before_epoch(
            spark, os.path.join(index_dir, "vecs"), epoch_id, id_col, vec_col
        )
        if old_codes is not None and old_codes.head(1):
            search(batch, old_codes, old_vecs, aux).coalesce(1).write.mode(
                "overwrite"
            ).json(os.path.join(out_dir, f"epoch={epoch_id}"))
        encode(batch, aux).write.mode("overwrite").parquet(
            os.path.join(index_dir, "codes", f"epoch={epoch_id}")
        )
        batch.write.mode("overwrite").parquet(
            os.path.join(index_dir, "vecs", f"epoch={epoch_id}")
        )
        stats = qerr(batch, aux).agg(
            F.count("*").alias("n"), F.avg("qerr").alias("mean_qerr")
        ).head()
        recall, n_probe = None, 0
        if probe_panel is not None:
            from logspout_kinesis_tests_spark.operators.similarity import (
                cosine_topk,
            )

            snap_codes = _index_before_epoch(
                spark, os.path.join(index_dir, "codes"), epoch_id + 1,
                id_col, *code_cols,
            )
            snap_vecs = _index_before_epoch(
                spark, os.path.join(index_dir, "vecs"), epoch_id + 1,
                id_col, vec_col,
            )
            if snap_codes is not None and snap_codes.head(1):
                approx = search(probe_panel, snap_codes, snap_vecs, aux).select(
                    "query_id", F.col(id_col)
                )
                exact = cosine_topk(
                    probe_panel.select(
                        F.col(id_col).alias("query_id"), F.col(vec_col)
                    ),
                    snap_vecs,
                    k=probe_k,
                    corpus_id=id_col,
                    vec_col=vec_col,
                ).select("query_id", F.col(id_col))
                exact = exact.localCheckpoint(eager=True)  # 2 consumers
                n_exact = exact.count()
                n_hit = exact.join(
                    approx, ["query_id", id_col], "leftsemi"
                ).count()
                if n_exact:
                    recall = n_hit / n_exact
                    n_probe = panel_n
        _write_health_row(
            index_dir,
            epoch_id,
            n_vectors=int(stats["n"]),
            mean_qerr=float(stats["mean_qerr"] or 0.0),
            baseline=_read_trained_epoch(aux_dir) == epoch_id,
            recall=recall,
            n_probe=n_probe,
        )

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_pq_ingest(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    index_dir: str,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    k: int = 5,
    rerank: int = 50,
    max_files_per_trigger: int | None = None,
    probe_panel: DataFrame | None = None,
) -> StreamingQuery:
    """Incremental PQ-ANN index maintenance — the vector-stream member of
    the persisted-index family (exact hashes / Bloom / MinHash / heavy
    hitters → here).  Arriving vectors are (a) searched against the
    PRE-batch index (streaming near-neighbor alerting: every new vector
    reports its top-k existing neighbors), then (b) encoded against the
    FROZEN codebooks with :func:`operators.ann.pq_encode` and appended —
    the index grows per micro-batch with no retraining and no rebuild.

    Index layout (epoch-partitioned like the dedup trio):

    - ``index_dir/aux``             — codebooks, trained ONCE on the first
      non-empty batch (``pq_index`` is deterministic, so a crash-replay of
      the training batch regenerates byte-identical codebooks — the
      overwrite is idempotent, same replay contract as everything else);
    - ``index_dir/codes/epoch=N``   — (id, sub, code), m ints per vector;
    - ``index_dir/vecs/epoch=N``    — full-precision vectors, read ONLY by
      the top-``rerank`` exact re-rank stage.

    Search probes ``epoch < N`` codes (the replay-safety core: a replayed
    batch never sees its own partial writes), so results for an epoch are
    reproducible regardless of crashes.  100 TB: per-batch cost is one
    broadcast-ADC scan over the codes table + a ``rerank``-bounded join to
    vecs; the codes payload is m bytes/vector, and ``compact_epoch_index``
    folds old epochs exactly as for the dedup indexes.
    """
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.operators.ann import (
        pq_encode,
        pq_index,
        pq_quantization_error,
        pq_topk,
    )

    return _streaming_ann_ingest(
        spark, src_dir, checkpoint_dir, schema, index_dir, out_dir,
        id_col, vec_col, ["sub", "code"],
        train=lambda b: pq_index(
            b, m=m, ksub=ksub, iters=1, corpus_id=id_col, vec_col=vec_col
        )[1],
        encode=lambda b, cb: pq_encode(b, cb, corpus_id=id_col, vec_col=vec_col),
        search=lambda b, oc, ov, cb: pq_topk(
            b.select(F.col(id_col).alias("query_id"), vec_col),
            ov, k=k, m=m, ksub=ksub, rerank=rerank,
            corpus_id=id_col, vec_col=vec_col, index=(oc, cb),
        ),
        qerr=lambda b, cb: pq_quantization_error(
            b, cb, corpus_id=id_col, vec_col=vec_col
        ),
        max_files_per_trigger=max_files_per_trigger,
        probe_panel=probe_panel,
        probe_k=k,
    )


def streaming_ivf_ingest(
    spark: SparkSession,
    src_dir: str,
    checkpoint_dir: str,
    schema: StructType | str,
    index_dir: str,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
    nprobe: int = 4,
    k: int = 5,
    max_files_per_trigger: int | None = None,
    probe_panel: DataFrame | None = None,
) -> StreamingQuery:
    """Incremental IVF index maintenance — the inverted-file twin of
    :func:`streaming_pq_ingest` on the same skeleton: centroids train once
    on the first batch, arriving vectors are searched against the
    pre-epoch inverted file (``ivf_topk`` probe join, ``epoch < N``), then
    assigned to the frozen centroids with :func:`operators.ann.ivf_assign`
    and appended as ``(id, cell)`` rows.  Same epoch-partitioned layout,
    same crash-replay contract, same ``compact_epoch_index`` maintenance.
    """
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.operators.ann import (
        ivf_assign,
        ivf_index,
        ivf_quantization_error,
        ivf_topk,
    )

    return _streaming_ann_ingest(
        spark, src_dir, checkpoint_dir, schema, index_dir, out_dir,
        id_col, vec_col, ["cell"],
        train=lambda b: ivf_index(
            b, nlist=nlist, iters=2, corpus_id=id_col, vec_col=vec_col
        )[1],
        encode=lambda b, cents: ivf_assign(
            b, cents, corpus_id=id_col, vec_col=vec_col
        ),
        search=lambda b, oc, ov, cents: ivf_topk(
            b.select(F.col(id_col).alias("query_id"), vec_col),
            ov, k=k, nlist=nlist, nprobe=nprobe,
            corpus_id=id_col, vec_col=vec_col, index=(oc, cents),
        ),
        qerr=lambda b, cents: ivf_quantization_error(
            b, cents, corpus_id=id_col, vec_col=vec_col
        ),
        max_files_per_trigger=max_files_per_trigger,
        probe_panel=probe_panel,
        probe_k=k,
    )


def recode_epoch_index(
    spark: SparkSession,
    index_dir: str,
    upto_epoch: int,
    train,
    encode,
    qerr,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Retrain-and-recode maintenance for a streaming ANN index: rebuild
    the frozen aux (codebooks / centroids) from ALL vectors accumulated in
    epochs ``< upto_epoch``, re-encode every one of them against the new
    aux, and fold the result into the single partition
    ``epoch = upto_epoch - 1`` — the refresh to run when
    :func:`ann_ingest_health` flags drift.

    Replay safety, same rules as :func:`compact_epoch_index`: run only
    while the stream is quiesced and with ``upto_epoch <=`` last COMMITTED
    epoch + 1.  The folded partition id keeps every recoded row visible to
    exactly the probes that saw it before (live epochs are
    ``>= upto_epoch``), and a restarted stream reads the retrained aux
    through the same ``_SUCCESS`` gate — new arrivals encode against the
    refreshed codebooks with no contract change.

    Crash handling: every artifact is staged before any destructive step
    (aux under ``_aux_retrain``, codes under a Spark-hidden
    ``_recode_tmp``), and the whole job is deterministic in its inputs
    (the trainer is deterministic, the vecs table is quiesced) — so after
    a crash at ANY point, re-running the same call regenerates identical
    artifacts and completes the swap.  Re-run before restarting the
    stream, exactly like a crashed compaction.

    Writes a fresh BASELINE health row for the folded epoch, so the drift
    monitor's comparison resets to the retrained aux.

    Returns the number of recoded code rows.
    """
    import shutil

    from pyspark.sql import functions as F

    aux_dir = os.path.join(index_dir, "aux")
    codes_dir = os.path.join(index_dir, "codes")
    vecs_dir = os.path.join(index_dir, "vecs")
    # staging dirs are keyed by the target epoch, and stale staging from a
    # DIFFERENT epoch's crashed recode is discarded on entry — a completed
    # _aux_retrain left by recode(5) must never be adopted by recode(50)
    # (its aux was trained on a fraction of the corpus); the source data
    # for any staging dir is still present until the swap, so dropping
    # stale ones loses nothing
    aux_tmp = os.path.join(index_dir, f"_aux_retrain_{upto_epoch - 1}")
    codes_tmp = os.path.join(codes_dir, f"_recode_tmp_{upto_epoch - 1}")
    for base, keep in ((index_dir, "_aux_retrain_"), (codes_dir, "_recode_tmp_")):
        if not os.path.isdir(base):
            continue
        for name in os.listdir(base):
            if name.startswith(keep) and os.path.join(base, name) not in (
                aux_tmp,
                codes_tmp,
            ):
                shutil.rmtree(os.path.join(base, name))

    vecs = (
        spark.read.parquet(vecs_dir)
        .filter(F.col("epoch") < upto_epoch)
        .select(F.col(id_col), F.col(vec_col))
        .distinct()
    )

    # stage 1: retrain on the full accumulated corpus; the trained-epoch
    # marker is (re)written unconditionally so it travels with the swap
    # even when a re-run skips the completed staging write
    if not os.path.exists(os.path.join(aux_tmp, "_SUCCESS")):
        if os.path.isdir(aux_tmp):
            shutil.rmtree(aux_tmp)  # partial from a crashed run
        train(vecs).write.parquet(aux_tmp)
    _write_trained_epoch(aux_tmp, upto_epoch - 1)
    new_aux = spark.read.parquet(aux_tmp)

    # stage 2: re-encode every accumulated vector against the new aux
    if not os.path.exists(os.path.join(codes_tmp, "_SUCCESS")):
        if os.path.isdir(codes_tmp):
            shutil.rmtree(codes_tmp)
        encode(vecs, new_aux).write.parquet(codes_tmp)

    # swap aux first: a restarted stream MUST see the aux the staged codes
    # were built against (old aux + new codes would mis-rank every ADC
    # probe; new aux + old codes is the pre-existing drift, no worse, and
    # the codes swap directly below replaces them)
    if os.path.isdir(aux_dir):  # absent when re-running after a crash
        shutil.rmtree(aux_dir)    # that died between rmtree and rename
    os.rename(aux_tmp, aux_dir)
    # health stats BEFORE the vecs fold: the lazy `vecs` plan still reads
    # the per-epoch dirs, which the compaction below deletes
    stats = qerr(vecs, spark.read.parquet(aux_dir)).agg(
        F.count("*").alias("n"), F.avg("qerr").alias("mean_qerr")
    ).head()
    for name in os.listdir(codes_dir):
        if name.startswith("epoch="):
            try:
                if int(name.split("=", 1)[1]) < upto_epoch:
                    shutil.rmtree(os.path.join(codes_dir, name))
            except ValueError:
                continue
    os.rename(codes_tmp, os.path.join(codes_dir, f"epoch={upto_epoch - 1}"))
    # vecs are unchanged by the recode — fold them with the standard
    # membership compaction so the epoch layout matches the codes table
    compact_epoch_index(spark, vecs_dir, upto_epoch)
    _write_health_row(
        index_dir,
        upto_epoch - 1,
        n_vectors=int(stats["n"]),
        mean_qerr=float(stats["mean_qerr"] or 0.0),
        baseline=True,
    )
    return spark.read.parquet(
        os.path.join(codes_dir, f"epoch={upto_epoch - 1}")
    ).count()


def recode_pq_index(
    spark: SparkSession,
    index_dir: str,
    upto_epoch: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
) -> int:
    """:func:`recode_epoch_index` with the PQ lifecycle's own train/encode
    (same parameters as :func:`streaming_pq_ingest` — pass the ones the
    stream was started with)."""
    from logspout_kinesis_tests_spark.operators.ann import (
        pq_encode,
        pq_index,
        pq_quantization_error,
    )

    return recode_epoch_index(
        spark, index_dir, upto_epoch,
        train=lambda b: pq_index(
            b, m=m, ksub=ksub, iters=1, corpus_id=id_col, vec_col=vec_col
        )[1],
        encode=lambda b, cb: pq_encode(b, cb, corpus_id=id_col, vec_col=vec_col),
        qerr=lambda b, cb: pq_quantization_error(
            b, cb, corpus_id=id_col, vec_col=vec_col
        ),
        id_col=id_col, vec_col=vec_col,
    )


def recode_ivf_index(
    spark: SparkSession,
    index_dir: str,
    upto_epoch: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int = 16,
) -> int:
    """:func:`recode_epoch_index` with the IVF lifecycle's own
    train/encode (parameters as :func:`streaming_ivf_ingest`)."""
    from logspout_kinesis_tests_spark.operators.ann import (
        ivf_assign,
        ivf_index,
        ivf_quantization_error,
    )

    return recode_epoch_index(
        spark, index_dir, upto_epoch,
        train=lambda b: ivf_index(
            b, nlist=nlist, iters=2, corpus_id=id_col, vec_col=vec_col
        )[1],
        encode=lambda b, cents: ivf_assign(
            b, cents, corpus_id=id_col, vec_col=vec_col
        ),
        qerr=lambda b, cents: ivf_quantization_error(
            b, cents, corpus_id=id_col, vec_col=vec_col
        ),
        id_col=id_col, vec_col=vec_col,
    )

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
on that index; the MinHash and heavy-hitters flows share its
``_index_before_epoch`` / ``compact_epoch_index`` machinery, and
``compact_ann_index`` folds an ANN index kept in the same layout.
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
    fuzzy twin of ``streaming_incremental_dedup`` (exact hashes).

    The index is two epoch-partitioned tables derived from survivors only:

    - ``index_dir/bands/epoch=N``  (id, band, bucket) — candidate probe;
    - ``index_dir/sigs/epoch=N``   (id, minhash)      — similarity verify.

    Per batch: signature the batch, equi-join its band buckets against the
    indexed bands (``epoch < N`` — same replay-safety contract as the exact
    flow), verify candidates by SIGNATURE-estimated Jaccard
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
        # health row (read by dedup_ingest_health): all counts derive from
        # the batch + pre-batch index only, so a crash replay overwrites the
        # row byte-identically
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

    - ``sum_cols=None`` (membership indexes: hashes, bands, signatures,
      ANN codes and vecs): deduplicating ``distinct()`` — replayed epochs
      can leave identical rows in multiple partitions; after compaction each
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


def _write_dedup_health_row(
    index_dir: str,
    epoch_id: int,
    n_in: int,
    n_dropped_cross: int,
    n_dropped_intra: int,
    n_survivors: int,
) -> None:
    """One JSON health row per dedup-ingest epoch (driver-side; atomic
    tmp+replace so a monitoring cron never reads a partial row)."""
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

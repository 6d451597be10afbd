"""Cross-batch exact dedup on the epoch-partitioned index
(``streaming_incremental_dedup``) and the maintenance fold of that index
(``compact_epoch_index``): copies across micro-batches are dropped, a
corrupt index fails the epoch, and compaction keeps the probe's view."""

from __future__ import annotations

import pytest as _pytest_mark_mod

#: registry-wide sweep / heavy e2e — excluded from the fast dev loop
pytestmark = _pytest_mark_mod.mark.slow

import glob
import json
import os

from logspout_kinesis_tests_spark.sources.tables import load_table


def test_streaming_incremental_dedup_drops_cross_batch_copies(spark, sf_dir, tmp_path):
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        streaming_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(30)
    rows = docs.collect()

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    # batch 0: first 10 docs; batch 1: next 10 + copies of batch 0 under
    # higher ids; batch 2: last 10 + copies of batch 1 + an intra-batch dup
    batches = [
        [(r["doc_id"], r["text"]) for r in rows[:10]],
        [(r["doc_id"], r["text"]) for r in rows[10:20]]
        + [(r["doc_id"] + 1_000_000, r["text"]) for r in rows[:5]],
        [(r["doc_id"], r["text"]) for r in rows[20:30]]
        + [(r["doc_id"] + 2_000_000, r["text"]) for r in rows[10:15]]
        + [(rows[20]["doc_id"] + 3_000_000, rows[20]["text"])],
    ]
    for i, batch in enumerate(batches):
        path = os.path.join(src_dir, f"docs-{i}.json")
        with open(path, "w") as f:
            for doc_id, text in batch:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        # FileStreamSource orders by modification time; distinct mtimes pin
        # the arrival order the cross-batch assertions depend on
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    q = streaming_incremental_dedup(
        spark,
        src_dir,
        str(tmp_path / "ckpt"),
        "doc_id long, text string",
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    survived = set()
    for path in glob.glob(os.path.join(str(tmp_path / "out"), "epoch=*", "part-*.json")):
        with open(path) as f:
            for line in f:
                survived.add(json.loads(line)["doc_id"])
    # exactly the 30 originals survive; every planted copy is dropped
    assert survived == {r["doc_id"] for r in rows}
    # the index holds one hash per distinct document, each in exactly the
    # epoch partition where it first survived
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert idx.select("content_sha256").distinct().count() == 30
    assert idx.count() == 30
    assert "epoch" in idx.columns


def test_streaming_incremental_dedup_fails_on_corrupt_index(spark, sf_dir, tmp_path):
    """A committed index partition that cannot be read must fail the next
    epoch.  Reading it as "no index yet" would re-emit every cross-batch
    copy with the query reporting success.  An empty partition dir (what an
    aborted write leaves) is still "no index yet"."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        streaming_incremental_dedup,
    )

    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(6).collect()
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    ckpt, index, out = (str(tmp_path / d) for d in ("ckpt", "index", "out"))

    def _write_batch(i, pairs):
        path = os.path.join(src_dir, f"docs-{i}.json")
        with open(path, "w") as f:
            for doc_id, text in pairs:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    def _drain():
        return streaming_incremental_dedup(
            spark, src_dir, ckpt, "doc_id long, text string", index, out,
            max_files_per_trigger=1,
        )

    _write_batch(0, [(r["doc_id"], r["text"]) for r in rows[:3]])
    os.makedirs(os.path.join(index, "epoch=0"))
    q = _drain()
    q.awaitTermination(120)
    assert q.exception() is None
    parts = glob.glob(os.path.join(index, "epoch=0", "part-*.parquet"))
    assert parts, "epoch 0 committed no index part"
    for path in parts:
        with open(path, "wb") as f:
            f.write(b"not a parquet file")

    # batch 1: copies of batch 0 under higher ids, plus fresh documents
    _write_batch(1, [(r["doc_id"] + 1_000_000, r["text"]) for r in rows[:3]]
                 + [(r["doc_id"], r["text"]) for r in rows[3:]])
    q2 = _drain()
    with _pytest_mark_mod.raises(StreamingQueryException):
        q2.awaitTermination(120)
    emitted = set()
    for path in glob.glob(os.path.join(out, "epoch=1", "part-*.json")):
        with open(path) as f:
            emitted |= {json.loads(line)["doc_id"] for line in f}
    assert not {i for i in emitted if i >= 1_000_000}


def test_compact_epoch_index_preserves_dedup_state(spark, sf_dir, tmp_path):
    """Folding committed epochs into one partition must leave the probe's
    view identical: a post-compaction batch still dedups against everything
    the pre-compaction index knew."""
    from logspout_kinesis_tests_spark.sources.tables import load_table
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        compact_epoch_index,
        streaming_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = docs.limit(12).collect()
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)

    def _write_batch(i, pairs):
        path = os.path.join(src_dir, f"docs-{i}.json")
        with open(path, "w") as f:
            for doc_id, text in pairs:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    _write_batch(0, [(r["doc_id"], r["text"]) for r in rows[:6]])
    _write_batch(1, [(r["doc_id"], r["text"]) for r in rows[6:12]])
    ckpt, out, index = (str(tmp_path / d) for d in ("ckpt", "out", "index"))

    def _flow():
        return streaming_incremental_dedup(
            spark, src_dir, ckpt, "doc_id long, text string", index, out,
            max_files_per_trigger=1,
        )

    q = _flow()
    q.awaitTermination(120)

    before = {
        r["content_sha256"] for r in spark.read.parquet(index).collect()
    }
    n = compact_epoch_index(spark, index, upto_epoch=2)
    assert n == len(before)
    after_df = spark.read.parquet(index)
    assert {r["content_sha256"] for r in after_df.collect()} == before
    assert {r["epoch"] for r in after_df.select("epoch").distinct().collect()} == {1}

    # batch 2 after compaction: copies of batch-0 docs (higher ids) + one
    # fresh doc — only the fresh doc may survive
    _write_batch(2, [(r["doc_id"] + 5_000_000, r["text"]) for r in rows[:3]]
                 + [(999_999, "a genuinely fresh document body")])
    q2 = _flow()
    q2.awaitTermination(120)
    survivors = []
    for path in glob.glob(os.path.join(out, "epoch=2", "part-*.json")):
        with open(path) as f:
            survivors += [json.loads(line)["doc_id"] for line in f]
    assert survivors == [999_999]


def test_compact_epoch_index_resumes_staged_swap(spark, tmp_path):
    """A compaction crashed after staging must resume the swap on re-run —
    the staged fold (not a fresh one) becomes the compacted partition."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        compact_epoch_index,
    )

    index = str(tmp_path / "index")
    for epoch, vals in enumerate([["a", "b"], ["c"]]):
        spark.createDataFrame(
            [(v,) for v in vals], "content_sha256 string"
        ).write.mode("overwrite").parquet(os.path.join(index, f"epoch={epoch}"))
    # emulate: prior run staged the fold (with a sentinel proving THIS data,
    # not a re-fold, wins) then crashed before the swap
    spark.createDataFrame(
        [("a",), ("b",), ("c",), ("staged-sentinel",)], "content_sha256 string"
    ).write.mode("overwrite").parquet(os.path.join(index, "_compact_tmp_1"))

    n = compact_epoch_index(spark, index, upto_epoch=2)
    assert n == 4
    got = {r["content_sha256"] for r in spark.read.parquet(index).collect()}
    assert got == {"a", "b", "c", "staged-sentinel"}


def test_compact_epoch_index_recovers_stale_staged_swap(spark, tmp_path):
    """A crash mid-swap followed by a re-run with a LARGER upto_epoch must
    not lose the staged rows: epochs 0-1 were folded into _compact_tmp_1 and
    their partitions already deleted when the crash hit, so the staging dir
    holds the ONLY copy of those rows (and, underscore-hidden, is invisible
    to the refold).  The stale swap must be finished before the new fold."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        compact_epoch_index,
    )

    index = str(tmp_path / "index")
    # surviving partition: epoch=2 only (epochs 0-1 deleted mid-swap)
    spark.createDataFrame([("d",)], "content_sha256 string").write.mode(
        "overwrite"
    ).parquet(os.path.join(index, "epoch=2"))
    # completed stale staging dir for upto_epoch=2 holding the folded 0-1 rows
    spark.createDataFrame(
        [("a",), ("b",), ("c",)], "content_sha256 string"
    ).write.mode("overwrite").parquet(os.path.join(index, "_compact_tmp_1"))

    n = compact_epoch_index(spark, index, upto_epoch=3)
    assert n == 4
    got = {r["content_sha256"] for r in spark.read.parquet(index).collect()}
    assert got == {"a", "b", "c", "d"}
    assert os.listdir(index) == ["epoch=2"]


def test_compact_epoch_index_discards_incomplete_staging(spark, tmp_path):
    """An INCOMPLETE stale staging dir (no _SUCCESS — the fold itself
    crashed) holds nothing unique; it must be dropped, not promoted."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        compact_epoch_index,
    )

    index = str(tmp_path / "index")
    for epoch, vals in enumerate([["a", "b"], ["c"]]):
        spark.createDataFrame(
            [(v,) for v in vals], "content_sha256 string"
        ).write.mode("overwrite").parquet(os.path.join(index, f"epoch={epoch}"))
    partial = os.path.join(index, "_compact_tmp_0")
    spark.createDataFrame(
        [("half-written-garbage",)], "content_sha256 string"
    ).write.mode("overwrite").parquet(partial)
    os.remove(os.path.join(partial, "_SUCCESS"))

    n = compact_epoch_index(spark, index, upto_epoch=2)
    assert n == 3
    got = {r["content_sha256"] for r in spark.read.parquet(index).collect()}
    assert got == {"a", "b", "c"}

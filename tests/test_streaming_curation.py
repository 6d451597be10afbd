"""Batch/stream parity for the curation operators: the SAME operator
function runs per micro-batch via apply_per_batch, and the union of the
streamed outputs equals the batch run over the full corpus (row-local
gates are batch-size-invariant by construction)."""

from __future__ import annotations

import pytest as _pytest_mark_mod

#: registry-wide sweep / heavy e2e — excluded from the fast dev loop
pytestmark = _pytest_mark_mod.mark.slow

import glob
import json
import os
import time

from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.operators.curation import repetition_stats
from logspout_kinesis_tests_spark.sources.tables import load_table
from logspout_kinesis_tests_spark.streaming.batch_apply import apply_per_batch


def _quality_gate(df):
    return repetition_stats(df).filter(
        (F.col("distinct_word_ratio") >= 0.3) & (F.col("top_bigram_frac") <= 0.2)
    )


def test_streamed_curation_matches_batch(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    collected = docs.collect()

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i in range(3):  # 3 source files -> up to 3 micro-batches
        with open(os.path.join(src_dir, f"docs-{i}.json"), "w") as f:
            for r in collected[i::3]:
                f.write(json.dumps({"doc_id": r["doc_id"], "text": r["text"]}) + "\n")

    out_dir = str(tmp_path / "out")
    q = apply_per_batch(
        spark,
        src_dir,
        str(tmp_path / "ckpt"),
        "doc_id long, text string",
        _quality_gate,
        out_dir,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    streamed = {}
    for path in glob.glob(os.path.join(out_dir, "epoch=*", "part-*.json")):
        with open(path) as f:
            for line in f:
                row = json.loads(line)
                streamed[row["doc_id"]] = (
                    row["n_words"],
                    round(row["distinct_word_ratio"], 12),
                    round(row["top_bigram_frac"], 12),
                )
    assert len(streamed) > 0

    batch = {
        r["doc_id"]: (
            r["n_words"],
            round(r["distinct_word_ratio"], 12),
            round(r["top_bigram_frac"], 12),
        )
        for r in _quality_gate(docs).collect()
    }
    assert streamed == batch


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


def test_streaming_minhash_dedup_drops_cross_batch_rewrites(spark, tmp_path):
    """Near-dup REWRITES (not byte copies) arriving in later batches are
    dropped against the persisted signature index; genuinely new docs and
    sub-threshold overlaps survive."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        streaming_minhash_dedup,
    )

    def doc(seed: int, n: int = 60) -> str:
        return " ".join(f"tok{seed}w{i}" for i in range(n))

    def rewrite(text: str) -> str:
        # replace the last 3 of 60 words: shingle Jaccard ~0.9
        words = text.split(" ")
        return " ".join(words[:-3] + ["changed", "tail", "here"])

    base = {i: doc(i) for i in range(6)}
    batches = [
        [(i, base[i]) for i in range(3)],
        # batch 1: rewrites of docs 0-1 under new ids, one fresh doc, and a
        # low-overlap doc (shares nothing)
        [
            (100, rewrite(base[0])),
            (101, rewrite(base[1])),
            (3, base[3]),
            (200, doc(999)),
        ],
        # batch 2: rewrite of a BATCH-1 survivor and one fresh doc
        [(300, rewrite(base[3])), (4, base[4])],
    ]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, batch in enumerate(batches):
        path = os.path.join(src_dir, f"docs-{i}.json")
        with open(path, "w") as f:
            for doc_id, text in batch:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    q = streaming_minhash_dedup(
        spark,
        src_dir,
        str(tmp_path / "ckpt"),
        "doc_id long, text string",
        str(tmp_path / "index"),
        str(tmp_path / "out"),
        threshold=0.7,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)

    survived = set()
    for path in glob.glob(os.path.join(str(tmp_path / "out"), "epoch=*", "part-*.json")):
        with open(path) as f:
            for line in f:
                survived.add(json.loads(line)["doc_id"])
    # rewrites 100/101 (vs epoch-0 index) and 300 (vs epoch-1 survivor 3)
    # dropped; originals and the unrelated doc survive
    assert survived == {0, 1, 2, 3, 4, 200}
    # the signature index holds exactly the survivors, one sig row each
    sigs = spark.read.parquet(str(tmp_path / "index" / "sigs"))
    assert {r["doc_id"] for r in sigs.select("doc_id").collect()} == survived
    assert sigs.count() == len(survived)


def test_streaming_heavy_hitters_tracks_global_topk(spark, tmp_path):
    """Per-epoch top-k must equal exact counts over ALL batches seen so far,
    not just the live batch (cross-batch state via the persisted index)."""
    from collections import Counter

    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        streaming_heavy_hitters,
    )

    # skewed synthetic stream: key 7 dominates batch 0, key 3 dominates
    # batch 1, but 7 stays the GLOBAL leader after both
    batches = [
        [7] * 10 + [1, 2, 3, 4],
        [3] * 6 + [7] * 2 + [5, 6],
    ]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, keys in enumerate(batches):
        path = os.path.join(src_dir, f"events-{i}.json")
        with open(path, "w") as f:
            for j, key in enumerate(keys):
                f.write(json.dumps({"user_id": key, "event_id": i * 1000 + j}) + "\n")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    ckpt, out, index = (str(tmp_path / d) for d in ("ckpt", "out", "index"))
    q = streaming_heavy_hitters(
        spark, src_dir, ckpt, "user_id long, event_id long", index, out,
        key_col="user_id", k=3, max_files_per_trigger=1,
    )
    q.awaitTermination(120)

    def _epoch_topk(epoch):
        rows = []
        for path in glob.glob(os.path.join(out, f"epoch={epoch}", "part-*.json")):
            with open(path) as f:
                rows += [json.loads(line) for line in f]
        return {(r["user_id"], r["cnt"]) for r in rows}

    def _expect(n_batches):
        c = Counter(k for b in batches[:n_batches] for k in b)
        ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        return set(ranked)

    assert _epoch_topk(0) == _expect(1)
    assert _epoch_topk(1) == _expect(2)  # global, not per-batch: 7 leads with 12


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


def test_compact_epoch_index_sums_additive_counts(spark, tmp_path):
    """The heavy-hitters COUNTS index must compact by summing — distinct()
    would collapse repeated (key, count) partials and undercount forever."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        compact_epoch_index,
        streaming_heavy_hitters,
    )

    # key 7 appears once per batch → identical (7, 1) partials in every
    # epoch, the exact shape distinct() destroys
    batches = [[7, 1, 1], [7, 2], [7, 3, 3]]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, keys in enumerate(batches):
        path = os.path.join(src_dir, f"events-{i}.json")
        with open(path, "w") as f:
            for j, key in enumerate(keys):
                f.write(json.dumps({"user_id": key, "event_id": i * 100 + j}) + "\n")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    ckpt, out, index = (str(tmp_path / d) for d in ("ckpt", "out", "index"))

    def _flow():
        return streaming_heavy_hitters(
            spark, src_dir, ckpt, "user_id long, event_id long", index, out,
            key_col="user_id", k=4, max_files_per_trigger=1,
        )

    _flow().awaitTermination(120)
    n = compact_epoch_index(spark, index, upto_epoch=3, sum_cols=["cnt"])
    compacted = {
        (r["user_id"], r["cnt"]) for r in spark.read.parquet(index).collect()
    }
    assert compacted == {(7, 3), (1, 2), (2, 1), (3, 2)}
    assert n == 4

    # post-compaction batch: totals still build on the summed state
    path = os.path.join(src_dir, "events-3.json")
    with open(path, "w") as f:
        f.write(json.dumps({"user_id": 7, "event_id": 999}) + "\n")
    os.utime(path, (1_700_000_300, 1_700_000_300))
    _flow().awaitTermination(120)
    rows = []
    for p in glob.glob(os.path.join(out, "epoch=3", "part-*.json")):
        with open(p) as f:
            rows += [json.loads(line) for line in f]
    assert {(r["user_id"], r["cnt"]) for r in rows} >= {(7, 4)}


def _minhash_doc(seed: int, n: int = 60) -> str:
    return " ".join(f"tok{seed}w{i}" for i in range(n))


def _minhash_rewrite(text: str) -> str:
    words = text.split(" ")
    return " ".join(words[:-3] + ["changed", "tail", "here"])


def _write_doc_batch(src_dir: str, name: str, rows, t: int) -> None:
    path = os.path.join(src_dir, name)
    with open(path, "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    os.utime(path, (t, t))


def test_minhash_dedup_health_flags_replay_spike(spark, tmp_path):
    """The dedup ingest writes one health row per epoch; a later batch that
    re-sends an earlier corpus (the upstream-replay-loop failure mode) must
    read as a dup-rate SPIKE against the flow's own history — and a crash
    replay must regenerate the row byte-identically."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        dedup_ingest_health,
        streaming_minhash_dedup,
    )

    src, ckpt, index, out = (str(tmp_path / d) for d in ("src", "ckpt", "idx", "out"))
    os.makedirs(src)
    base = {i: _minhash_doc(i) for i in range(6)}
    _write_doc_batch(src, "b0.json", list(base.items()), 1_700_000_000)
    # epoch 1: five fresh docs + ONE near-rewrite of doc 0 (rate 1/6 — below
    # the zero-baseline absolute floor, must NOT flag)
    _write_doc_batch(
        src,
        "b1.json",
        [(10 + i, _minhash_doc(100 + i)) for i in range(5)]
        + [(99, _minhash_rewrite(base[0]))],
        1_700_000_060,
    )
    # epoch 2: a full re-send of epoch 0 under new ids (rate 6/6 — the spike)
    _write_doc_batch(
        src,
        "b2.json",
        [(1000 + i, t) for i, t in base.items()],
        1_700_000_120,
    )

    def run():
        q = streaming_minhash_dedup(
            spark, src, ckpt, "doc_id long, text string", index, out,
            threshold=0.7, max_files_per_trigger=1,
        )
        assert q.awaitTermination(180)
        while any(a.id == q.id for a in spark.streams.active):
            time.sleep(0.1)

    run()
    rows = dedup_ingest_health(index)
    assert [r["epoch"] for r in rows] == [0, 1, 2]
    assert [r["n_in"] for r in rows] == [6, 6, 6]
    assert rows[0]["n_dropped_cross"] == 0 and rows[0]["spiked"] is False
    assert rows[1]["n_dropped_cross"] == 1 and rows[1]["spiked"] is False
    assert rows[2]["n_dropped_cross"] == 6 and rows[2]["n_survivors"] == 0
    assert rows[2]["spiked"] is True

    # crash emulation: drop the last commit marker (+ .crc), replay epoch 2
    health_file = os.path.join(index, "health", "epoch=2.json")
    with open(health_file, "rb") as f:
        before = f.read()
    commits = sorted(
        p
        for p in glob.glob(os.path.join(ckpt, "commits", "*"))
        if "." not in os.path.basename(p)
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run()
    with open(health_file, "rb") as f:
        assert f.read() == before, "replayed health row diverged"


def test_minhash_dedup_composes_with_epoch_compaction(spark, tmp_path):
    """`compact_epoch_index` folds the near-dup index's bands AND sigs while
    the stream is quiesced; the next epoch's survivors are identical to the
    uncompacted twin run, and rewrites of pre-compaction survivors still
    drop (the fold keeps every row visible to epoch<N probes)."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        compact_epoch_index,
        streaming_minhash_dedup,
    )

    def run_flow(root: str, compact: bool) -> set:
        src, ckpt, index, out = (
            os.path.join(root, d) for d in ("src", "ckpt", "idx", "out")
        )
        os.makedirs(src)
        base = {i: _minhash_doc(i) for i in range(3)}
        _write_doc_batch(src, "b0.json", list(base.items()), 1_700_000_000)
        _write_doc_batch(src, "b1.json", [(3, _minhash_doc(3))], 1_700_000_060)

        def run():
            q = streaming_minhash_dedup(
                spark, src, ckpt, "doc_id long, text string", index, out,
                threshold=0.7, max_files_per_trigger=1,
            )
            assert q.awaitTermination(180)
            while any(a.id == q.id for a in spark.streams.active):
                time.sleep(0.1)

        run()
        if compact:
            for sub in ("bands", "sigs"):
                compact_epoch_index(spark, os.path.join(index, sub), upto_epoch=2)
                eps = {
                    n
                    for n in os.listdir(os.path.join(index, sub))
                    if n.startswith("epoch=")
                }
                assert eps == {"epoch=1"}
        # epoch 2: rewrite of an EPOCH-0 survivor (tests the folded rows) +
        # rewrite of the epoch-1 survivor + one fresh doc
        _write_doc_batch(
            src,
            "b2.json",
            [
                (100, _minhash_rewrite(base[0])),
                (101, _minhash_rewrite(_minhash_doc(3))),
                (200, _minhash_doc(999)),
            ],
            1_700_000_120,
        )
        run()
        survived = set()
        for p in glob.glob(os.path.join(out, "epoch=2", "part-*.json")):
            with open(p) as f:
                survived |= {json.loads(line)["doc_id"] for line in f}
        return survived

    plain = run_flow(str(tmp_path / "plain"), compact=False)
    compacted = run_flow(str(tmp_path / "compacted"), compact=True)
    assert plain == {200}
    assert compacted == plain


def test_dedup_ingest_health_skips_unparseable_rows(tmp_path):
    """A garbage file in the health dir (hard-crash debris) must not kill
    the monitor — documented skip, remaining rows still analyzed."""
    import json as _json

    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        dedup_ingest_health,
    )

    health = tmp_path / "idx" / "health"
    health.mkdir(parents=True)
    (health / "epoch=0.json").write_text(
        _json.dumps(
            {"epoch": 0, "n_in": 10, "n_dropped_cross": 0,
             "n_dropped_intra": 0, "n_survivors": 10}
        )
    )
    (health / "epoch=1.json").write_text("{ partial garbage")
    rows = dedup_ingest_health(str(tmp_path / "idx"))
    assert [r["epoch"] for r in rows] == [0]
    assert rows[0]["dup_rate"] == 0.0 and rows[0]["spiked"] is False


def test_health_monitors_skip_wrong_shape_rows(tmp_path):
    """Valid JSON of the WRONG SHAPE — a scalar, a list, a dict missing a
    counter, a counter of the wrong type — must be skipped exactly like
    unparseable bytes; previously these raised KeyError/TypeError past the
    json.load try (ADVICE r10), in the dedup monitor's shape-checked
    reader."""
    import json as _json

    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        dedup_ingest_health,
    )

    dd = tmp_path / "dedup" / "health"
    dd.mkdir(parents=True)
    good = {"epoch": 0, "n_in": 10, "n_dropped_cross": 1,
            "n_dropped_intra": 0, "n_survivors": 9}
    (dd / "epoch=0.json").write_text(_json.dumps(good))
    (dd / "epoch=1.json").write_text("42")  # scalar
    (dd / "epoch=2.json").write_text("[1, 2]")  # list
    (dd / "epoch=3.json").write_text(_json.dumps({"epoch": 3}))  # missing keys
    (dd / "epoch=4.json").write_text(
        _json.dumps({**good, "epoch": 4, "n_in": "10"})  # str where int due
    )
    (dd / "epoch=5.json").write_text(
        _json.dumps({**good, "epoch": True})  # bool is not an epoch id
    )
    rows = dedup_ingest_health(str(tmp_path / "dedup"))
    assert [r["epoch"] for r in rows] == [0]
    assert rows[0]["dup_rate"] == 0.1


def test_minhash_dedup_health_survives_mid_epoch_kill(spark, tmp_path):
    """Kill the sink MID-EPOCH — after the survivors/sigs/bands writes but
    BEFORE the health row (the one ordering the commit-marker replay test
    cannot produce) — then restart.  The replayed flow must complete and
    every health row must be byte-identical to an uncrashed control run's:
    all counts derive from the batch + pre-batch index only, and every
    write is deterministic mode-overwrite, so a half-written epoch heals
    on replay (VERDICT r10 #6)."""
    from logspout_kinesis_tests_spark.streaming import batch_apply as ba

    batches = [
        ("b0.json", [(i, _minhash_doc(i)) for i in range(6)], 1_700_000_000),
        ("b1.json", [(10 + i, _minhash_doc(100 + i)) for i in range(6)], 1_700_000_060),
        ("b2.json", [(1000 + i, _minhash_doc(i)) for i in range(6)], 1_700_000_120),
    ]

    def run_flow(root: str, crash_on_epoch: int | None):
        src, ckpt, index, out = (os.path.join(root, d) for d in ("src", "ckpt", "idx", "out"))
        os.makedirs(src, exist_ok=True)
        for name, rows, t in batches:
            _write_doc_batch(src, name, rows, t)
        real = ba._write_dedup_health_row
        armed = {"fire": crash_on_epoch is not None}

        def killer(index_dir, epoch_id, **kw):
            if armed["fire"] and epoch_id == crash_on_epoch:
                armed["fire"] = False  # one-shot: the restart must succeed
                raise RuntimeError("injected mid-epoch kill")
            real(index_dir, epoch_id, **kw)

        ba._write_dedup_health_row = killer
        try:
            q = ba.streaming_minhash_dedup(
                spark, src, ckpt, "doc_id long, text string", index, out,
                threshold=0.7, max_files_per_trigger=1,
            )
            try:
                q.awaitTermination(180)
            except Exception:
                pass  # the injected kill surfaces here on the crash run
            while any(a.id == q.id for a in spark.streams.active):
                time.sleep(0.1)
            if crash_on_epoch is not None:
                # index writes landed, health row did not — the half state
                assert os.path.isdir(os.path.join(index, "sigs", f"epoch={crash_on_epoch}"))
                assert not os.path.exists(
                    os.path.join(index, "health", f"epoch={crash_on_epoch}.json")
                )
                q2 = ba.streaming_minhash_dedup(
                    spark, src, ckpt, "doc_id long, text string", index, out,
                    threshold=0.7, max_files_per_trigger=1,
                )
                assert q2.awaitTermination(180)
                while any(a.id == q2.id for a in spark.streams.active):
                    time.sleep(0.1)
        finally:
            ba._write_dedup_health_row = real
        health = {}
        for p in sorted(glob.glob(os.path.join(index, "health", "epoch=*.json"))):
            with open(p, "rb") as f:
                health[os.path.basename(p)] = f.read()
        return health

    control = run_flow(str(tmp_path / "control"), crash_on_epoch=None)
    crashed = run_flow(str(tmp_path / "crashed"), crash_on_epoch=2)
    assert set(control) == set(crashed) == {f"epoch={i}.json" for i in range(3)}
    for name in control:
        assert crashed[name] == control[name], f"{name} diverged after kill"
    rows = ba.dedup_ingest_health(os.path.join(str(tmp_path / "crashed"), "idx"))
    assert [r["epoch"] for r in rows] == [0, 1, 2]
    assert rows[2]["n_dropped_cross"] == 6  # the replayed epoch's semantics held

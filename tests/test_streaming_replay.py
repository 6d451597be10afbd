"""Replay safety for the persisted-index streaming dedup flows.

The crash window under test (ADVICE r2, medium): a micro-batch writes its
epoch's hashes to the index, then dies BEFORE the checkpoint commit.
On restart Spark replays the batch with the same epoch id.  With an
append-only index the replayed batch probes its own hashes as present,
computes zero survivors, and overwrites epoch=N's output with an empty set —
silent permanent loss.  The epoch-partitioned index (probe reads only
``epoch < N``) must regenerate identical output instead.

The crash is emulated exactly: run to completion, delete the LAST commit
marker from the checkpoint (offsets/N exists, commits/N doesn't — Spark's
on-disk state after a crash mid-batch, index already written), restart.
"""

from __future__ import annotations

import pytest as _pytest_mark_mod

#: registry-wide sweep / heavy e2e — excluded from the fast dev loop
pytestmark = _pytest_mark_mod.mark.slow

import glob
import json
import os

from logspout_kinesis_tests_spark.sources.tables import load_table
from logspout_kinesis_tests_spark.streaming.batch_apply import (
    streaming_incremental_dedup,
)


def _write_batches(src_dir, rows):
    os.makedirs(src_dir)
    batches = [
        [(r["doc_id"], r["text"]) for r in rows[:8]],
        # batch 1: fresh docs + cross-batch copies of batch 0 under higher ids
        [(r["doc_id"], r["text"]) for r in rows[8:16]]
        + [(r["doc_id"] + 1_000_000, r["text"]) for r in rows[:4]],
    ]
    for i, batch in enumerate(batches):
        path = os.path.join(src_dir, f"docs-{i}.json")
        with open(path, "w") as f:
            for doc_id, text in batch:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))


def _epoch_output(out_dir, epoch):
    ids = set()
    for path in glob.glob(os.path.join(out_dir, f"epoch={epoch}", "part-*.json")):
        with open(path) as f:
            for line in f:
                ids.add(json.loads(line)["doc_id"])
    return ids


def _last_commit(ckpt_dir):
    commits = sorted(
        p for p in glob.glob(os.path.join(ckpt_dir, "commits", "*")) if "." not in os.path.basename(p)
    )
    assert commits, "stream produced no commits"
    return commits[-1]


def _run_and_replay(spark, sf_dir, tmp_path, flow, exact: bool = True, **kwargs):
    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select("doc_id", "text").limit(16).collect()
    src_dir = str(tmp_path / "src")
    _write_batches(src_dir, rows)
    ckpt, out, index = (str(tmp_path / d) for d in ("ckpt", "out", "index"))

    q = flow(
        spark, src_dir, ckpt, "doc_id long, text string", index, out,
        max_files_per_trigger=1, **kwargs,
    )
    q.awaitTermination(120)
    first = _epoch_output(out, 1)
    assert first, "epoch=1 empty on the clean run — test setup broken"
    if exact:
        expected = {r["doc_id"] for r in rows[8:16]}
        assert first == expected  # copies of batch 0 dropped, fresh docs kept
    else:
        # near-dup flow: NATURAL near-dups may also drop; pin only that the
        # planted cross-batch copies never survive and fresh ids come from
        # batch 1 — the replay-identity assertion below is the test's point
        assert first <= {r["doc_id"] for r in rows[8:16]}
        assert not {i for i in first if i >= 1_000_000}
        expected = first

    # crash emulation: index for epoch 1 is on disk, commit marker is not
    # (drop the sidecar .crc too or the replayed commit's rename collides)
    commit = _last_commit(ckpt)
    os.remove(commit)
    crc = os.path.join(os.path.dirname(commit), f".{os.path.basename(commit)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = flow(
        spark, src_dir, ckpt, "doc_id long, text string", index, out,
        max_files_per_trigger=1, **kwargs,
    )
    q2.awaitTermination(120)
    replayed = _epoch_output(out, 1)
    assert replayed == expected, (
        "replayed epoch self-shadowed against its own index write: "
        f"{sorted(replayed)} != {sorted(expected)}"
    )
    # index converged to one entry per distinct doc despite the replay
    idx_dir = os.path.join(index, "bands") if os.path.isdir(os.path.join(index, "bands")) else index
    idx = spark.read.parquet(idx_dir)
    key_cols = [c for c in idx.columns if c != "epoch"][:2] + ["epoch"]
    assert idx.select(*key_cols).count() == idx.select(*key_cols).distinct().count()


def test_incremental_dedup_replay_regenerates_epoch(spark, sf_dir, tmp_path):
    _run_and_replay(spark, sf_dir, tmp_path, streaming_incremental_dedup)


def test_minhash_dedup_replay_regenerates_epoch(spark, sf_dir, tmp_path):
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        streaming_minhash_dedup,
    )

    _run_and_replay(spark, sf_dir, tmp_path, streaming_minhash_dedup, exact=False)


def test_heavy_hitters_replay_does_not_double_count(spark, tmp_path):
    """Crash window: epoch 1's count partials are on disk, the commit marker
    is not.  The replayed batch must re-aggregate from epoch<1 plus the live
    batch — an append-only index would double-count every key in the batch."""
    from logspout_kinesis_tests_spark.streaming.batch_apply import (
        streaming_heavy_hitters,
    )

    batches = [[7] * 5 + [1, 2], [7] * 2 + [3] * 4]
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
            key_col="user_id", k=2, max_files_per_trigger=1,
        )

    q = _flow()
    q.awaitTermination(120)

    def _epoch_topk(epoch):
        rows = []
        for path in glob.glob(os.path.join(out, f"epoch={epoch}", "part-*.json")):
            with open(path) as f:
                rows += [json.loads(line) for line in f]
        return {(r["user_id"], r["cnt"]) for r in rows}

    expected = {(7, 7), (3, 4)}  # global counts after both batches
    assert _epoch_topk(1) == expected

    commit = _last_commit(ckpt)
    os.remove(commit)
    crc = os.path.join(os.path.dirname(commit), f".{os.path.basename(commit)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    q2 = _flow()
    q2.awaitTermination(120)
    assert _epoch_topk(1) == expected, "replayed epoch double-counted itself"

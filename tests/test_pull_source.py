"""Pull-source tests (SURVEY.md §2 A2-A5): the get_records-contract source
driven through the fake shard-directory client — shard-parallel reads,
checkpointed sequence-number resume, per-trigger admission cap.  No AWS."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.streaming.pull_source import (
    FileShardClient,
    pull_stream,
)

CLIENT = "logspout_kinesis_tests_spark.streaming.pull_source:file_shard_client"


def _write_shard_file(root: str, shard: str, name: str, records: list[tuple[str, str]]):
    d = os.path.join(root, shard)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        for data, key in records:
            f.write(json.dumps({"data": data, "partition_key": key}) + "\n")


@pytest.fixture()
def shard_root(tmp_path):
    """3 shards × 2 files × 5 records = 30 records."""
    root = str(tmp_path / "shards")
    for s in range(3):
        shard = f"shard-{s:03d}"
        for fi in range(2):
            _write_shard_file(
                root, shard, f"{fi:04d}.jsonl",
                [(f"msg-{s}-{fi}-{i}", f"key-{s}") for i in range(5)],
            )
    return root


def _drain(spark, root, ckpt, out_dir, cap=500):
    """availableNow run collecting every micro-batch to JSON files."""
    os.makedirs(out_dir, exist_ok=True)

    def collect(df, batch_id):
        rows = [r.asDict() for r in df.withColumn("task", F.spark_partition_id()).collect()]
        with open(os.path.join(out_dir, f"batch-{batch_id:05d}.json"), "w") as f:
            json.dump(rows, f)

    q = (
        pull_stream(spark, CLIENT, {"root": root}, stream="logbuffer-dev",
                    max_records_per_fetch=cap)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batches = []
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name)) as f:
            batches.append(json.load(f))
    return batches


def test_shard_parallel_consumption(spark, tmp_path, shard_root):
    batches = _drain(spark, shard_root, str(tmp_path / "ckpt"), str(tmp_path / "out"))
    rows = [r for b in batches for r in b]
    assert len(rows) == 30
    # every record of every shard, exactly once, with contiguous sequence
    # numbers per shard (A2/A3 mapping: shard ↔ partition, seq ↔ offset)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r)
    assert set(by_shard) == {"shard-000", "shard-001", "shard-002"}
    for shard, rs in by_shard.items():
        assert sorted(r["sequence_number"] for r in rs) == list(range(10))
        assert {r["partition_key"] for r in rs} == {f"key-{shard[-1]}"}
        # A6-as-parallelism: one shard is read by exactly one task per batch,
        # different shards by different tasks
        for b in batches:
            tasks = {r["task"] for r in b if r["shard_id"] == shard}
            assert len(tasks) <= 1
    for b in batches:
        task_shards = {}
        for r in b:
            task_shards.setdefault(r["task"], set()).add(r["shard_id"])
        assert all(len(s) == 1 for s in task_shards.values())


def test_checkpoint_resume_reads_only_new_records(spark, tmp_path, shard_root):
    ckpt = str(tmp_path / "ckpt")
    first = _drain(spark, shard_root, ckpt, str(tmp_path / "out1"))
    assert sum(len(b) for b in first) == 30
    # append one more file to one shard; resume from the same checkpoint
    _write_shard_file(shard_root, "shard-001", "0002.jsonl",
                      [(f"late-{i}", "key-1") for i in range(4)])
    second = _drain(spark, shard_root, ckpt, str(tmp_path / "out2"))
    rows = [r for b in second for r in b]
    # sequence-number seek (A3): only the 4 appended records, continuing at 10
    assert [r["value"] for r in rows] == [f"late-{i}" for i in range(4)]
    assert [r["sequence_number"] for r in rows] == [10, 11, 12, 13]
    assert {r["shard_id"] for r in rows} == {"shard-001"}


def test_fetch_cap_paces_admission(shard_root):
    # cap=4/shard/trigger → 10 records per shard need 3 triggers (A4/A5).
    # Driven at the reader level: Spark's Python source falls back to
    # single-batch execution under availableNow, so trigger pacing is only
    # observable with processingTime triggers — the offset arithmetic is the
    # invariant and is pinned here deterministically.
    from logspout_kinesis_tests_spark.streaming.pull_source import (
        _PullStreamReader,
        encode_client,
    )

    reader = _PullStreamReader(
        {
            "client_pickle": encode_client(CLIENT, {"root": shard_root}),
            "stream": "s",
            "maxrecordsperfetch": "4",
        }
    )
    start = reader.initialOffset()
    assert start == {f"shard-{s:03d}": 0 for s in range(3)}
    ends = []
    for _trigger in range(4):
        ends.append(reader.latestOffset())
    # 4 → 8 → 10 (true tip) → 10: admission advances ≤cap per trigger
    assert [e["shard-000"] for e in ends] == [4, 8, 10, 10]
    parts = reader.partitions(start, ends[0])
    assert len(parts) == 3
    rows = [row for p in parts for row in reader.read(p)]
    assert len(rows) == 12  # 3 shards × cap
    per_shard = {}
    for shard_id, seq, _key, _val in rows:
        per_shard.setdefault(shard_id, []).append(seq)
    assert all(seqs == [0, 1, 2, 3] for seqs in per_shard.values())


def test_latest_start_position_skips_backlog(spark, tmp_path, shard_root):
    # LATEST ↔ readstream.py:27 — begin at each shard's current tip
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir, exist_ok=True)

    def collect(df, batch_id):
        rows = [r.asDict() for r in df.collect()]
        with open(os.path.join(out_dir, f"batch-{batch_id:05d}.json"), "w") as f:
            json.dump(rows, f)

    q = (
        pull_stream(spark, CLIENT, {"root": shard_root}, start="LATEST")
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [r for name in sorted(os.listdir(out_dir))
            for r in json.load(open(os.path.join(out_dir, name)))]
    assert rows == []  # backlog skipped; only post-start records would appear


def test_file_shard_client_contract(tmp_path):
    """The fake honors the get_records contract shape (readstream.py:30-35)."""
    root = str(tmp_path / "shards")
    _write_shard_file(root, "shard-000", "0000.jsonl", [("a", "k"), ("b", "k"), ("c", "k")])
    c = FileShardClient(root)
    assert c.list_shards("s") == ["shard-000"]
    assert c.latest_sequences("s") == {"shard-000": 3}
    it = c.get_shard_iterator("s", "shard-000", "TRIM_HORIZON")
    out = c.get_records(it, limit=2)
    assert [r["Data"] for r in out["Records"]] == ["a", "b"]
    assert [r["SequenceNumber"] for r in out["Records"]] == [0, 1]
    out2 = c.get_records(out["NextShardIterator"], limit=2)
    assert [r["Data"] for r in out2["Records"]] == ["c"]
    # seek (readstream.py:26 commented AT_SEQUENCE_NUMBER variant)
    it_seek = c.get_shard_iterator("s", "shard-000", "AT_SEQUENCE_NUMBER", 1)
    assert [r["Data"] for r in c.get_records(it_seek, 10)["Records"]] == ["b", "c"]


def test_file_shard_client_skips_underscore_and_dot_dirs(tmp_path):
    """Directories whose names start with ``_`` or ``.`` (a checkpoint's
    ``_seen/``, a writer's ``.tmp/``) are not shards; an empty shard
    directory is."""
    root = tmp_path / "shards"
    for name in ("shard-000", "_seen", ".tmp"):
        _write_shard_file(str(root), name, "0000.jsonl", [("a", "k")])
    (root / "shard-001").mkdir()
    c = FileShardClient(str(root))
    assert c.list_shards("s") == ["shard-000", "shard-001"]
    assert c.latest_sequences("s") == {"shard-000": 1, "shard-001": 0}


def test_file_shard_client_parses_each_record_once(tmp_path, monkeypatch):
    """A page-by-page drain parses every record line exactly once (earlier
    lines are skipped unparsed, file sizes come from cached counts), and a
    file rewritten in place is recounted."""
    root = str(tmp_path / "shards")
    names = ("0000.jsonl", "0001.jsonl", "0002.jsonl")
    for fi, name in enumerate(names):
        _write_shard_file(root, "shard-000", name,
                          [(f"m-{fi}-{i}", "k") for i in range(4)])
    c = FileShardClient(root)

    parsed: list[str] = []
    real_loads = json.loads

    def spy(s, *args, **kwargs):
        out = real_loads(s, *args, **kwargs)
        if isinstance(out, dict) and "data" in out:
            parsed.append(out["data"])
        return out

    monkeypatch.setattr(json, "loads", spy)
    it = c.get_shard_iterator("s", "shard-000", "TRIM_HORIZON")
    got = []
    while True:
        assert c.latest_sequences("s") == {"shard-000": 12}
        out = c.get_records(it, limit=3)
        if not out["Records"]:
            break
        got.extend((r["SequenceNumber"], r["Data"]) for r in out["Records"])
        it = out["NextShardIterator"]
    expected = [f"m-{fi}-{i}" for fi in range(3) for i in range(4)]
    assert got == list(enumerate(expected))
    assert parsed == expected  # each record line parsed once, in order

    # rewrite the middle file in place with one record: later records
    # renumber and the tip moves back
    _write_shard_file(root, "shard-000", names[1], [("x", "k")])
    assert c.latest_sequences("s") == {"shard-000": 9}
    it = c.get_shard_iterator("s", "shard-000", "AT_SEQUENCE_NUMBER", 4)
    assert [r["Data"] for r in c.get_records(it, limit=2)["Records"]] == ["x", "m-2-0"]


def test_consume_pipeline_runs(spark, tmp_path, shard_root):
    from logspout_kinesis_tests_spark.streaming.pipeline import consume_pipeline

    q = consume_pipeline(
        spark, CLIENT, {"root": shard_root}, str(tmp_path / "ckpt-consume"),
        stream="logbuffer-dev",
    )
    q.awaitTermination(120)
    assert not q.isActive  # drained and stopped (availableNow fallback)

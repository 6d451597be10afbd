"""Streaming tests (SURVEY.md §5.3): drip-feed batching, partition-key
routing, bounded retry, checkpoint resume, progress stats.  No AWS
anywhere: the sink writes to a ``FileShardClient`` stream and the tests
read it back through the pull source's ``get_records`` contract."""

from __future__ import annotations

import glob
import json
import os
from pathlib import Path

import pytest
from conftest import new_stream, shard_records

from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.config import EngineConfig
from logspout_kinesis_tests_spark.streaming.pipeline import produce_pipeline
from logspout_kinesis_tests_spark.streaming.pull_source import FileShardClient
from logspout_kinesis_tests_spark.streaming.sink import ThrottlingClient


@pytest.fixture()
def log_files(spark, tmp_path):
    """Write 30 LOG_INPUT rows as 3 JSON files (3 'shard fetches')."""
    from logspout_kinesis_tests_spark.plans.etl_queries import synthetic_log_input

    src_dir = str(tmp_path / "src")
    rows = synthetic_log_input(spark, "/root/testdata/sf0.001").limit(30).drop("event_id")
    collected = rows.collect()
    os.makedirs(src_dir, exist_ok=True)
    for i in range(3):
        chunk = collected[i * 10 : (i + 1) * 10]
        with open(os.path.join(src_dir, f"batch-{i}.json"), "w") as f:
            for r in chunk:
                d = r.asDict()
                d["time"] = d["time"].isoformat()
                f.write(json.dumps(d) + "\n")
    return src_dir, [r.asDict() for r in collected]


def _sent(root: str) -> list[dict]:
    """The records of the one-shard stream at ``root``, in sequence order."""
    return shard_records(root)["shard-000"]


def test_drip_feed_batching_and_key_routing(spark, tmp_path, log_files):
    src_dir, rows = log_files
    root = new_stream(str(tmp_path / "stream"))
    cfg = EngineConfig(stream_name="logbuffer-dev", docker_host="dh-test")
    q = produce_pipeline(
        spark, src_dir, str(tmp_path / "ckpt"), cfg,
        client_factory=lambda: FileShardClient(root),
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    records = _sent(root)
    # every input exactly once (at-least-once upgraded by clean run)
    assert [r["SequenceNumber"] for r in records] == list(range(30))
    msgs = [json.loads(r["Data"]) for r in records]
    assert {m["message"] for m in msgs} == {r["data"] for r in rows}
    # A16: every record keyed by docker_host
    assert {r["PartitionKey"] for r in records} == {"dh-test"}
    # A15: no call exceeds the PutRecords cap (one call, one file per shard)
    puts = glob.glob(os.path.join(root, "shard-000", "*.jsonl"))
    assert all(
        len(Path(p).read_text().splitlines()) <= cfg.max_records_per_put for p in puts
    )
    # A13: serialized JSON carries the v1 layout
    assert all("@timestamp" in m and "docker" in m for m in msgs)
    # A24: the query's own progress events carry the per-trigger stats
    assert any(p.numInputRows > 0 for p in q.recentProgress)


def test_bounded_retry_delivers_failed_records(spark, tmp_path, log_files):
    src_dir, rows = log_files
    root = new_stream(str(tmp_path / "stream"))
    cfg = EngineConfig(docker_host="dh-test")
    q = produce_pipeline(
        spark, src_dir, str(tmp_path / "ckpt"), cfg,
        client_factory=lambda: ThrottlingClient(FileShardClient(root), every=3),
        max_files_per_trigger=3,
    )
    q.awaitTermination(120)
    records = _sent(root)
    # A17: failed records are retried and eventually delivered, exactly the
    # full input set (the wrapper fails each marked record once)
    msgs = {json.loads(r["Data"])["message"] for r in records}
    assert msgs == {r["data"] for r in rows}
    assert len(records) == 30


def test_checkpoint_resume_no_duplicates(spark, tmp_path, log_files):
    src_dir, rows = log_files
    root = new_stream(str(tmp_path / "stream"))
    ckpt = str(tmp_path / "ckpt")
    cfg = EngineConfig(docker_host="dh-test")
    factory = lambda: FileShardClient(root)  # noqa: E731
    q = produce_pipeline(spark, src_dir, ckpt, cfg, client_factory=factory)
    q.awaitTermination(120)
    assert len(_sent(root)) == 30

    # drip one more file, restart from the same checkpoint (A3/A23)
    extra = [dict(r, data="late " + r["data"]) for r in rows[:5]]
    with open(os.path.join(src_dir, "batch-late.json"), "w") as f:
        for d in extra:
            d = dict(d)
            d["time"] = d["time"].isoformat()
            f.write(json.dumps(d) + "\n")
    q2 = produce_pipeline(spark, src_dir, ckpt, cfg, client_factory=factory)
    q2.awaitTermination(120)
    records = _sent(root)
    # only the 5 new records were sent on resume — offsets came from the
    # checkpoint, not a re-read of the directory
    assert len(records) == 35
    late = [r for r in records if json.loads(r["Data"])["message"].startswith("late ")]
    assert len(late) == 5


def test_streaming_consumer_parse_and_quarantine(spark, tmp_path):
    """Consumer side in streaming mode (A14+A19): parse JSON payloads off
    the stream, quarantine garbage without stopping the query."""
    from logspout_kinesis_tests_spark.operators.etl import parse_consumed, quarantine_split
    from logspout_kinesis_tests_spark.schemas import EVENT_PROPS

    src = str(tmp_path / "consumer-src")
    os.makedirs(src)
    with open(os.path.join(src, "payloads.json"), "w") as f:
        for v in ['{"k": 1}', '{"k": 2}', "garbage!!", '{"k": 3}']:
            f.write(json.dumps({"value": v}) + "\n")
    stream = spark.readStream.schema("value string").json(src)
    good, bad = quarantine_split(parse_consumed(stream, EVENT_PROPS))
    out = good.select(F.col("parsed.k").alias("k"))
    q = (
        out.writeStream.format("memory")
        .queryName("consumed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt-consume"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ks = sorted(r["k"] for r in spark.sql("SELECT * FROM consumed").collect())
    assert ks == [1, 2, 3]  # garbage row quarantined, stream completed


def test_v0_layout_bytes_end_to_end(spark, tmp_path, log_files):
    """A12 through the STREAMING path: the bytes a v0-configured pipeline
    hands the sink are byte-identical to the batch transform's output (the
    batch side is byte-compared against the reference layout by the
    a12_serialize_json_v0 oracle and test_v0_layout)."""
    from logspout_kinesis_tests_spark.operators.etl import logstash_message, serialize_json
    from logspout_kinesis_tests_spark.plans.etl_queries import synthetic_log_input

    src_dir, rows = log_files
    root = new_stream(str(tmp_path / "stream"))
    cfg = EngineConfig(docker_host="dh-test", use_v0_layout=True)
    q = produce_pipeline(
        spark, src_dir, str(tmp_path / "ckpt"), cfg,
        client_factory=lambda: FileShardClient(root),
        max_files_per_trigger=3,
    )
    q.awaitTermination(120)
    sent = {r["Data"] for r in _sent(root)}
    assert len(sent) == 30
    # golden byte-compare: the batch plan over the same 30 input rows
    batch_in = synthetic_log_input(spark, "/root/testdata/sf0.001").limit(30).drop("event_id")
    expected = {
        r["value"]
        for r in serialize_json(
            logstash_message(batch_in, docker_host="dh-test", use_v0=True)
        ).collect()
    }
    assert sent == expected
    # and the layout really is v0 (@fields/@message keys, logspoutkinesis.go:42-47)
    for raw in list(sent)[:3]:
        m = json.loads(raw)
        assert set(m) == {"@timestamp", "@source_host", "@message", "@fields"}
        assert "docker" in m["@fields"]

"""End-to-end composition tests: the reference's deployment is one loop,
logspoutkinesis.go producing into a stream that readstream.py consumes.
Here that stream is one ``FileShardClient`` directory: the sink's
``put_records`` writes the shard files the pull source reads.

``test_produce_consume_round_trip`` runs the loop itself:

    produce_pipeline (A7-A17) → shard files → pull_stream (A2-A5)
      → parse_consumed (A14) → quarantine_split (A19)

under throttling, a replayed producer epoch, a put that fails after
publishing half its records, and a record that runs out of attempts.  Where
a fault leaves duplicates, the consumed records then run through
``streaming_incremental_dedup`` (C8), which must leave each produced message
exactly once: at-least-once delivery plus replay-safe dedup.

``test_pull_to_sink_relay`` runs the pull consumer feeding the producer's
transform and sink as ONE checkpointed streaming query:

    pull_stream (fake sharded stream, A2-A5)
      → parse_consumed (A14)
      → transform (A7-A13 restructure + serialize)
      → make_batch_writer (A15-A17 keyed, batched, retrying sink)

with three delivery phases asserted:
  1. clean drain             → every record exactly once;
  2. append + resume         → only the new records (checkpointed seek, A3);
  3. crash replay (commit marker deleted mid-stream) → exactly ONE epoch's
     records re-delivered, nothing else — at-least-once with per-epoch
     granularity, the foreachBatch contract.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from conftest import new_stream, shard_records

from pyspark.errors import StreamingQueryException

from logspout_kinesis_tests_spark.config import EngineConfig
from logspout_kinesis_tests_spark.operators.etl import parse_consumed, quarantine_split
from logspout_kinesis_tests_spark.schemas import LOG_INPUT, LOGSTASH_V1
from logspout_kinesis_tests_spark.streaming.batch_apply import streaming_incremental_dedup
from logspout_kinesis_tests_spark.streaming.pipeline import produce_pipeline, transform
from logspout_kinesis_tests_spark.streaming.pull_source import FileShardClient, pull_stream
from logspout_kinesis_tests_spark.streaming.sink import ThrottlingClient, make_batch_writer

CLIENT = "logspout_kinesis_tests_spark.streaming.pull_source:file_shard_client"


def _log_payload(i: int, shard: int) -> str:
    return json.dumps(
        {
            "data": f"log-line-{shard}-{i}",
            "source": "stdout",
            "time": f"2026-08-13T12:00:{i % 60:02d}",
            "container_id": f"{i:064x}"[:64],
            "container_name": f"/app-{shard}",
            "image": "svc/api:1.2",
            "hostname": f"host-{shard}",
            "labels": {},
        }
    )


def _write_shard(root: str, shard: int, name: str, payloads: list[str]) -> None:
    d = os.path.join(root, f"shard-{shard:03d}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        for p in payloads:
            f.write(json.dumps({"data": p, "partition_key": f"shard-{shard}"}) + "\n")


def _relay(spark, root, ckpt, out_root, cfg):
    src = pull_stream(
        spark, CLIENT, {"root": root}, stream="logbuffer-dev", max_records_per_fetch=4
    )
    logs = parse_consumed(src, LOG_INPUT).select("parsed.*")
    q = (
        transform(logs, cfg)
        .writeStream.foreachBatch(
            make_batch_writer(lambda: FileShardClient(out_root), cfg)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _delivered(out_root: str) -> list[str]:
    return [
        json.loads(r["Data"])["message"] for r in shard_records(out_root)["shard-000"]
    ]


#: md5 routes these keys to different shards of a two-shard stream
HOSTS = {"dh-a": "shard-001", "dh-b": "shard-000"}


def _drop_last_commit(ckpt: str) -> None:
    """Forget the last committed epoch, as a crash between the sink's write
    and the commit does: the next run replays that epoch."""
    commits = sorted(
        p
        for p in glob.glob(os.path.join(ckpt, "commits", "*"))
        if not os.path.basename(p).startswith(".")
    )
    os.remove(commits[-1])
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)


def _consume(spark, root: str, ckpt: str) -> tuple[list[dict], int]:
    """Drain the stream through pull_stream → parse_consumed →
    quarantine_split: the good rows and the number quarantined."""
    good_rows: list[dict] = []
    quarantined = [0]

    def collect(df, _batch_id):
        good, bad = quarantine_split(df)
        good_rows.extend(
            r.asDict()
            for r in good.select(
                "shard_id", "sequence_number", "partition_key", "parsed.message"
            ).collect()
        )
        quarantined[0] += bad.count()

    q = (
        parse_consumed(pull_stream(spark, CLIENT, {"root": root}), LOGSTASH_V1)
        .writeStream.foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return good_rows, quarantined[0]


def _dedup(spark, good: list[dict], tmp_path) -> tuple[list[dict], dict[str, int]]:
    """Run the consumed records through ``streaming_incremental_dedup``, one
    3-record file per epoch in shard-and-sequence order: the survivors, and
    each message's first copy's id.  The id is made from (shard, sequence
    number), so it is the same on every replay of the consumer."""
    docs = sorted(
        (int(r["shard_id"].rsplit("-", 1)[1]) * 1_000_000 + r["sequence_number"],
         r["message"])
        for r in good
    )
    src = tmp_path / "dedup-src"
    src.mkdir()
    first: dict[str, int] = {}
    first_epoch: dict[str, int] = {}
    for n, (doc_id, text) in enumerate(docs):
        first.setdefault(text, doc_id)
        first_epoch.setdefault(text, n // 3)
    # some copy lands in a later epoch than its original, so the index, not
    # only the in-batch min, has to drop it
    assert any(n // 3 > first_epoch[text] for n, (_, text) in enumerate(docs))
    for f in range(0, len(docs), 3):
        path = src / f"{f:03d}.json"
        path.write_text(
            "".join(json.dumps({"doc_id": i, "text": t}) + "\n" for i, t in docs[f : f + 3])
        )
        os.utime(path, (1_700_000_000 + f * 60, 1_700_000_000 + f * 60))
    out = tmp_path / "dedup-out"
    streaming_incremental_dedup(
        spark, str(src), str(tmp_path / "dedup-ckpt"), "doc_id long, text string",
        str(tmp_path / "dedup-index"), str(out), max_files_per_trigger=1,
    ).awaitTermination(300)
    survivors = [
        json.loads(line)
        for p in out.glob("epoch=*/part-*.json")
        for line in p.read_text().splitlines()
    ]
    return survivors, first


#: the messages of host 0's last producer epoch that each fault delivers
#: twice: a replay resends all four; a put that fails after publishing half
#: resends that half; exhausted retries resend what the throttle let through
#: (it refuses every 2nd record of a call)
REDELIVERED = {
    "throttled": [],
    "replayed": [8, 9, 10, 11],
    "partial_put": [8, 9],
    "exhausted": [8, 10],
}


@pytest.mark.parametrize("fault", list(REDELIVERED))
def test_produce_consume_round_trip(spark, tmp_path, fault):
    """What the producer puts is what the consumer reads, and what survives
    dedup is what was produced.  Under throttling every record arrives
    once.  After a replayed producer epoch, a put that fails halfway, or a
    record that runs out of attempts, the failed epoch is rerun from the
    checkpoint: its records may come twice, and nothing is lost.  Dedup
    then leaves each produced message exactly once, as its first copy."""
    root = new_stream(str(tmp_path / "stream"), shards=2)
    marks = str(tmp_path / "marks")

    # defined here so cloudpickle ships it by value to the Python workers
    class PartialPut(FileShardClient):
        """Publishes the first half of its first offer, then fails; passes
        every later offer through."""

        def put_records(self, stream_name, records):
            try:
                os.makedirs(marks)
            except FileExistsError:
                return super().put_records(stream_name, records)
            super().put_records(stream_name, records[: len(records) // 2])
            raise RuntimeError("put failed after publishing half its records")

    def throttled():
        return ThrottlingClient(FileShardClient(root), every=2)

    produced: list[str] = []
    errors: list[str] = []
    for h, host in enumerate(HOSTS):
        cfg = EngineConfig(stream_name="logbuffer-dev", docker_host=host)
        factory = throttled if fault == "throttled" else (lambda: FileShardClient(root))
        src, ckpt = str(tmp_path / f"src-{h}"), str(tmp_path / f"produce-{h}")
        os.makedirs(src)
        # one file per run, so the last run's epoch holds exactly the last
        # file: files written together may be read in any order
        for k in range(3):
            with open(os.path.join(src, f"{k}.json"), "w") as f:
                for i in range(4 * k, 4 * k + 4):
                    f.write(_log_payload(i, h) + "\n")
            if h == 0 and k == 2 and fault in ("partial_put", "exhausted"):
                if fault == "partial_put":
                    factory = lambda: PartialPut(root)  # noqa: E731
                else:
                    cfg = EngineConfig(
                        stream_name="logbuffer-dev", docker_host=host,
                        max_attempts_per_record=1,
                    )
                    factory = throttled
                # local mode gives each task one attempt: the run fails, and
                # the rerun below replays its epoch from the checkpoint
                try:
                    produce_pipeline(spark, src, ckpt, cfg, factory).awaitTermination(120)
                except StreamingQueryException as exc:
                    errors.append(str(exc))
            produce_pipeline(spark, src, ckpt, cfg, factory).awaitTermination(120)
        produced += [f"log-line-{h}-{i}" for i in range(12)]
        if fault == "replayed" and h == 0:
            _drop_last_commit(ckpt)
            produce_pipeline(spark, src, ckpt, cfg, factory).awaitTermination(120)

    stored = shard_records(root)
    assert {s: {r["PartitionKey"] for r in rs} for s, rs in stored.items()} == {
        shard: {host} for host, shard in HOSTS.items()
    }
    good, quarantined = _consume(spark, root, str(tmp_path / "consume"))
    assert quarantined == 0
    for shard, records in stored.items():
        assert sorted(r["sequence_number"] for r in good if r["shard_id"] == shard) == (
            list(range(len(records)))
        )
    # at least once: a failed epoch comes back as duplicates of its own
    # records only, never as a loss
    redelivered = [f"log-line-0-{i}" for i in REDELIVERED[fault]]
    assert sorted(r["message"] for r in good) == sorted(produced + redelivered)
    # checked after the delivery, so that a sink that swallows the error
    # shows as the records it loses
    expected_error = {
        "partial_put": "put failed after publishing half its records",
        "exhausted": "2 records failed after 1 attempts",
    }.get(fault)
    assert [expected_error in e for e in errors] == ([True] if expected_error else [])
    if redelivered:
        # exactly once after dedup: every produced message, once, as the
        # copy with the lowest (shard, sequence number)
        survivors, first = _dedup(spark, good, tmp_path)
        assert sorted(s["text"] for s in survivors) == sorted(produced)
        assert {s["text"]: s["doc_id"] for s in survivors} == first


def test_pull_to_sink_relay(spark, tmp_path):
    root = str(tmp_path / "shards")
    for shard in range(2):
        _write_shard(
            root, shard, "0000.jsonl", [_log_payload(i, shard) for i in range(6)]
        )
        _write_shard(
            root, shard, "0001.jsonl", [_log_payload(i, shard) for i in range(6, 12)]
        )
    ckpt, out_root = str(tmp_path / "ckpt"), new_stream(str(tmp_path / "out"))
    cfg = EngineConfig(stream_name="logbuffer-dev", docker_host="dh-relay")

    # phase 1: clean drain — 24 records, each exactly once, v1-serialized
    _relay(spark, root, ckpt, out_root, cfg)
    first = _delivered(out_root)
    expected = {f"log-line-{s}-{i}" for s in range(2) for i in range(12)}
    assert sorted(first) == sorted(expected)
    sample = shard_records(out_root)["shard-000"][0]
    assert sample["PartitionKey"] == "dh-relay"  # A16 keying survives relay
    assert "@timestamp" in json.loads(sample["Data"])  # A13 layout

    # phase 2: append mid-stream, resume from the checkpoint
    _write_shard(
        root, 1, "0002.jsonl", [_log_payload(i, 1) for i in range(12, 15)]
    )
    _relay(spark, root, ckpt, out_root, cfg)
    second = _delivered(out_root)
    assert sorted(second) == sorted(first + [f"log-line-1-{i}" for i in (12, 13, 14)])

    # phase 3: crash between sink write and commit — replay exactly one epoch
    _drop_last_commit(ckpt)
    _relay(spark, root, ckpt, out_root, cfg)
    third = _delivered(out_root)
    dups = sorted(third)
    for m in second:
        dups.remove(m)  # exactly the replayed epoch remains
    assert set(dups) == {f"log-line-1-{i}" for i in (12, 13, 14)}, dups
    # nothing outside the replayed epoch was re-delivered
    assert len(third) == len(second) + len(dups)

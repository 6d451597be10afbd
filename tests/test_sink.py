"""Sink shape and failure paths (A15-A17): one stage per micro-batch write,
the docker_host key on every record, and retry exhaustion that fails the
write instead of dropping the record."""

from __future__ import annotations

import os
import time
import uuid
from pathlib import Path

import pytest
from conftest import new_stream, shard_records

from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.config import EngineConfig
from logspout_kinesis_tests_spark.streaming.pull_source import FileShardClient
from logspout_kinesis_tests_spark.streaming.sink import make_batch_writer


def _finished_job(tracker, group: str, timeout_s: float = 30.0):
    """The group's job ids once every job has ended (the status store is
    fed asynchronously by the listener bus)."""
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = tracker.getJobIdsForGroup(group)
        infos = [tracker.getJobInfo(j) for j in jobs]
        if jobs and all(i is not None and i.status != "RUNNING" for i in infos):
            return jobs, infos
        if time.monotonic() > deadline:
            raise AssertionError(f"jobs of {group} did not finish: {infos}")
        time.sleep(0.05)


def test_batch_writer_sends_each_partition_in_one_stage(spark, tmp_path):
    sc = spark.sparkContext
    root = new_stream(str(tmp_path / "stream"))
    cfg = EngineConfig(docker_host="dh-test")
    df = spark.range(0, 30, 1, numPartitions=3).select(
        F.concat(F.lit("rec-"), F.col("id").cast("string")).alias("value"),
        F.lit(cfg.docker_host).alias("partition_key"),
    )
    group = f"sink-one-stage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "make_batch_writer on 3 partitions")
    try:
        make_batch_writer(lambda: FileShardClient(root), cfg)(df, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs, infos = _finished_job(tracker, group)
    # one job, one stage, one task per input partition: no key shuffle
    # funnelling the batch into a single task
    assert len(jobs) == 1
    assert infos[0].status == "SUCCEEDED"
    assert len(infos[0].stageIds) == 1
    assert tracker.getStageInfo(infos[0].stageIds[0]).numTasks == 3
    # the three tasks published to one shard at once: every record landed,
    # numbered densely
    records = shard_records(root)["shard-000"]
    assert [r["SequenceNumber"] for r in records] == list(range(30))
    assert sorted(r["Data"] for r in records) == sorted(f"rec-{i}" for i in range(30))
    # A16: every record still keyed by docker_host
    assert {r["PartitionKey"] for r in records} == {"dh-test"}


def test_retry_exhaustion_fails_the_write_instead_of_dropping(spark, tmp_path):
    root = new_stream(str(tmp_path / "stream"))
    offers_dir = str(tmp_path / "offers")
    cfg = EngineConfig(stream_name="s1", docker_host="dh-test", max_attempts_per_record=3)

    # defined here so cloudpickle ships it by value to the Python workers
    class RefuseOne(FileShardClient):
        """Refuses the record ``refused`` on every attempt, noting each offer
        and the stream it was sent to as a file; delivers the rest."""

        def put_records(self, stream_name, records):
            refused = [i for i, (data, _key) in enumerate(records) if data == "refused"]
            os.makedirs(offers_dir, exist_ok=True)
            for _ in refused:
                with open(os.path.join(offers_dir, uuid.uuid4().hex), "w") as f:
                    f.write(stream_name)
            super().put_records(
                stream_name, [r for i, r in enumerate(records) if i not in refused]
            )
            return refused

    # one partition: a failing task may cancel its siblings mid-send
    df = spark.range(0, 20, 1, numPartitions=1).select(
        F.when(F.col("id") == 7, F.lit("refused"))
        .otherwise(F.concat(F.lit("rec-"), F.col("id").cast("string")))
        .alias("value"),
        F.lit(cfg.docker_host).alias("partition_key"),
    )
    with pytest.raises(Exception, match="failed after 3 attempts"):
        make_batch_writer(lambda: RefuseOne(root), cfg)(df, 0)
    offers = [p.read_text() for p in Path(offers_dir).iterdir()]
    # three offers, each to the configured stream
    assert offers == ["s1"] * 3
    delivered = sorted(r["Data"] for r in shard_records(root)["shard-000"])
    assert delivered == sorted(f"rec-{i}" for i in range(20) if i != 7)

"""Shared fixtures: one SparkSession per test session (JVM spin-up ~10s)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from logspout_kinesis_tests_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


def new_stream(root: str, shards: int = 1) -> str:
    """A ``FileShardClient`` stream at ``root`` with ``shards`` empty shards
    (``shard-000``, ...): the sink's output and the pull source's input."""
    os.makedirs(root, exist_ok=True)
    for s in range(shards):
        os.makedirs(os.path.join(root, f"shard-{s:03d}"), exist_ok=True)
    return root


def shard_records(root: str) -> dict[str, list[dict]]:
    """Every record of a ``FileShardClient`` stream, read back through the
    ``get_records`` contract: shard id → records in sequence order."""
    from logspout_kinesis_tests_spark.streaming.pull_source import FileShardClient

    client = FileShardClient(root)
    out: dict[str, list[dict]] = {}
    for shard in client.list_shards("stream"):
        records = out.setdefault(shard, [])
        iterator = client.get_shard_iterator("stream", shard, "TRIM_HORIZON")
        while True:
            page = client.get_records(iterator)
            if not page["Records"]:
                break
            records.extend(page["Records"])
            iterator = page["NextShardIterator"]
    return out

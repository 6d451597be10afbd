"""End-to-end streaming pipelines (A1-A6, A15-A25).

The reference's producer loop (``for m := range logstream`` →
createLogstashMessage → json.Marshal → batchproducer.Add,
logspoutkinesis.go:182-221) becomes one declarative micro-batch pipeline:

    readStream(source) → logstash_message → serialize_json →
    foreachBatch(batched keyed retrying sink)

and its consumer (shard enumeration + round-robin polling,
readstream.py:19-38) collapses into Structured Streaming source mechanics:
source partitions ↔ shards, checkpoint offsets ↔ sequence numbers, trigger
pacing ↔ poll sleep — all read in parallel tasks instead of one time-sliced
thread.

The reference's StatInterval logger (A24, logspoutkinesis.go:155-161) is the
progress event Spark records for every trigger: read it from the returned
query's ``recentProgress`` / ``lastProgress`` (the last
``spark.sql.streaming.numRecentProgressUpdates`` events, 100 by default), or
subscribe a ``StreamingQueryListener`` with ``spark.streams.addListener``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from logspout_kinesis_tests_spark.config import EngineConfig
from logspout_kinesis_tests_spark.operators.etl import logstash_message, serialize_json
from logspout_kinesis_tests_spark.schemas import LOG_INPUT
from logspout_kinesis_tests_spark.session import ensure_runtime_confs
from logspout_kinesis_tests_spark.streaming.sink import make_batch_writer


def file_drip_source(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Unbounded stream from a directory of JSON files.

    Stands in for the sharded Kinesis source in tests (SURVEY.md §5 B.4):
    each file ↔ one shard fetch (A2), ``maxFilesPerTrigger`` ↔ the
    per-poll record cap (A4), checkpoint offsets ↔ sequence numbers (A3).
    In production the same pipeline binds to a Kinesis/Kafka connector
    source — the transform stages are source-agnostic.
    """
    ensure_runtime_confs(spark)  # incl. shipping the package to executors
    return (
        spark.readStream.schema(LOG_INPUT)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .json(source_dir)
    )


def transform(stream: DataFrame, config: EngineConfig) -> DataFrame:
    """The producer hot path as one projected plan (A7-A13)."""
    return serialize_json(
        logstash_message(stream, config.docker_host, config.use_v0_layout)
    )


def produce_pipeline(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    config: EngineConfig,
    client_factory: Callable[[], object],
    trigger: dict | None = None,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """Full producer pipeline: drip source → transform → keyed batched sink.

    ``trigger`` defaults to ``availableNow`` (drain everything, then stop —
    deterministic for tests); pass ``{"processingTime": "1 second"}`` for
    the reference's FlushInterval pacing (A5/A15).  Stop via
    ``query.stop()`` — checkpointing replaces the reference's
    flush-on-Stop drain (A23).
    """
    stream = file_drip_source(spark, source_dir, max_files_per_trigger)
    out = transform(stream, config)
    writer = (
        out.writeStream.foreachBatch(make_batch_writer(client_factory, config))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    return writer.start()


def consume_pipeline(
    spark: SparkSession,
    client: str,
    client_args: dict | None,
    checkpoint_dir: str,
    stream: str = "stream",
    start: str = "TRIM_HORIZON",
    trigger: dict | None = None,
) -> StreamingQuery:
    """The reference's consumer program (readstream.py:19-38) end-to-end:
    shard-parallel pull source → stdout dump (A25, readstream.py:34-35).

    Shards are read by parallel tasks (vs the reference's single round-robin
    thread); sequence numbers live in the checkpoint (vs the in-memory
    iterator list); the 5-reads/s/shard sleep becomes trigger pacing +
    ``maxRecordsPerFetch``.  The client is injected by importable path —
    ``file_shard_client`` in tests, ``boto3_pull_client`` against AWS.
    """
    from logspout_kinesis_tests_spark.streaming.pull_source import pull_stream

    src = pull_stream(spark, client, client_args, stream=stream, start=start)
    return (
        src.select("value")  # the reference prints record["Data"] only
        .writeStream.format("console")
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


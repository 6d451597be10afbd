"""Micro-batch sink with the reference producer's semantics (A15-A18).

The reference buffers records, flushes every BatchSize/FlushInterval,
retries failed records up to MaxAttemptsPerRecord, and keys every record by
docker_host (logspoutkinesis.go:74-172, :209).  Spark-first mapping:

- buffer + flush interval  → the micro-batch itself (trigger interval)
- batch size               → ≤500-record PutRecords groups inside a
                             partition (the AWS per-call cap; the
                             reference's BatchSize=10 is a flush trigger,
                             which the trigger interval already provides)
- partition-key routing    → every record carries its key into
                             PutRecords; each input partition is sent as
                             it stands, with no shuffle and no ordering
                             promise, since PutRecords gives none (A16)
- bounded per-record retry → retry loop over the failed-record indices the
                             client reports (A17)
- backpressure             → inherent: Spark pulls micro-batches; the
                             "drop when buffer full" reference default is
                             data loss and intentionally not reproduced (A18)

The Kinesis client is injectable: tests use
:class:`~logspout_kinesis_tests_spark.streaming.pull_source.FileShardClient`,
the file-backed stream that the pull source reads back (executors run in
separate worker processes, so shared-memory fakes can't work), and wrap it
in :class:`ThrottlingClient` to drive the retry path; production wires
boto3 PutRecords with the same ``put_records`` contract.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame

from logspout_kinesis_tests_spark.config import EngineConfig


class ThrottlingClient:
    """Wraps a file-backed ``put_records`` client and fails every
    ``every``-th record of a call (1-based) on its first offer, to drive the
    A17 bounded-retry path.

    Offers are marked by payload hash under ``<client.root>/_seen`` (visible
    across executor processes; the pull source skips ``_`` directories),
    so a retried record goes through; the rest are passed to ``client``.
    """

    def __init__(self, client, every: int):
        self.client = client
        self.seen_dir = os.path.join(client.root, "_seen")
        self.every = every

    def put_records(self, stream_name: str, records: list[tuple[str, str]]) -> list[int]:
        os.makedirs(self.seen_dir, exist_ok=True)
        failed, passed = [], []
        for i, (data, _key) in enumerate(records):
            if (i + 1) % self.every == 0:
                marker = os.path.join(self.seen_dir, hashlib.md5(data.encode()).hexdigest())
                try:
                    open(marker, "x").close()
                    failed.append(i)
                    continue
                except FileExistsError:
                    pass
            passed.append(i)
        refused = (
            self.client.put_records(stream_name, [records[i] for i in passed])
            if passed else []
        )
        return sorted(failed + [passed[j] for j in refused])


def boto3_client_factory(region: str):
    """Production client: boto3 Kinesis PutRecords behind the same contract.

    Import-gated; correctness tests drive it against an injected protocol
    fake speaking the real PutRecords response shapes
    (``FailedRecordCount``/``Records[].ErrorCode``) — never AWS (SURVEY.md
    §5, tests/test_boto3_adapters.py).
    """

    def factory():
        try:
            import boto3
        except ImportError as exc:
            raise NotImplementedError(
                "boto3 is not available in this environment; inject a client "
                "factory (e.g. file_shard_client) instead"
            ) from exc

        client = boto3.client("kinesis", region_name=region)

        class _Boto3Client:
            def put_records(self, stream_name, records):
                resp = client.put_records(
                    StreamName=stream_name,
                    Records=[
                        {"Data": d.encode("utf-8"), "PartitionKey": k}
                        for d, k in records
                    ],
                )
                # the all-succeeded fast path is the documented contract:
                # FailedRecordCount == 0 means no per-record ErrorCode scan.
                # Only when the key is PRESENT and zero — a nonconforming
                # response missing it must still get the ErrorCode scan, or
                # its failed records would be silently dropped (ADVICE r12)
                if resp.get("FailedRecordCount") == 0:
                    return []
                recs = resp.get("Records")
                if not isinstance(recs, list) or len(recs) != len(records):
                    # response carries neither a zero failure count nor a
                    # scannable per-record outcome list: delivery is
                    # UNKNOWN, and treating unknown as success silently
                    # drops records — retry the whole batch instead
                    # (at-least-once; the retry loop bounds attempts)
                    return list(range(len(records)))
                failed = [i for i, rec in enumerate(recs) if "ErrorCode" in rec]
                fc = resp.get("FailedRecordCount")
                # isinstance guard: a nonconforming None/string count must
                # not crash the very branch built for nonconforming shapes
                # (dict.get's default only covers a MISSING key — r14 review)
                if isinstance(fc, int) and fc > len(failed):
                    # contradictory shape: the count asserts MORE failures
                    # than the records flag (including the no-flags case) —
                    # we cannot tell WHICH unflagged records failed, so
                    # delivery is unknown; retry the whole batch
                    # (at-least-once) rather than silently dropping the
                    # failures the count asserted (ADVICE r13, generalized
                    # to partial flagging per ADVICE r14)
                    return list(range(len(records)))
                return failed

        return _Boto3Client()

    return factory


def _send_partition(
    rows: Iterator,
    client_factory: Callable[[], object],
    config: EngineConfig,
) -> None:
    """Executor-side: group a partition's records into ≤cap PutRecords calls
    with bounded per-record retry (A15+A17)."""
    client = client_factory()

    def flush(buf: list[tuple[str, str]]) -> None:
        if not buf:
            return
        pending = buf
        for _attempt in range(config.max_attempts_per_record):
            failed = client.put_records(config.stream_name, pending)
            if not failed:
                return
            pending = [pending[i] for i in failed]
        raise RuntimeError(
            f"{len(pending)} records failed after "
            f"{config.max_attempts_per_record} attempts"  # task retry → at-least-once
        )

    buf: list[tuple[str, str]] = []
    for row in rows:
        buf.append((row["value"], row["partition_key"]))
        if len(buf) >= config.max_records_per_put:
            flush(buf)
            buf = []
    flush(buf)


def make_batch_writer(
    client_factory: Callable[[], object], config: EngineConfig
) -> Callable[[DataFrame, int], None]:
    """Build the ``foreachBatch`` function: keyed, batched, retrying sink
    (A15-A17).

    Each input partition of the micro-batch is sent by its own task, as it
    stands: one stage, no shuffle.  Every record carries its
    ``partition_key`` (docker_host) into PutRecords, where Kinesis maps key
    to shard (A16).  No ordering is promised: PutRecords gives none, and
    the retry loop resends failed records after the ones that succeeded.
    """

    def write_batch(df: DataFrame, batch_id: int) -> None:
        df.select("value", "partition_key").foreachPartition(
            lambda rows: _send_partition(rows, client_factory, config)
        )

    return write_batch

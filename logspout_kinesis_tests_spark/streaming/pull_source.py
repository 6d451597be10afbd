"""Shard-parallel pull source with an injectable ``get_records`` client.

The reference's consumer (``/root/reference/readstream.py:19-33``) enumerates
the shards of a stream, opens one iterator per shard, and round-robin polls
``get_records(iterator, limit=500)`` in a single thread.  The Spark-first
re-expression is a **Python streaming data source**
(:class:`pyspark.sql.datasource.DataSourceStreamReader`):

- shard enumeration (``readstream.py:19-20``)  → ``partitions()``: one input
  partition per shard, read by parallel tasks instead of one time-sliced loop
- shard iterators / sequence numbers (``readstream.py:24-27``) → streaming
  offsets ``{shard_id: next_sequence}`` persisted in the checkpoint (A3)
- ``get_records(limit=500)`` (``readstream.py:32``) → the executor-side read
  loop, same client contract, same per-call cap (A4)
- the 5-reads/s/shard sleep (``readstream.py:37-38``) → trigger pacing plus a
  per-trigger per-shard admission cap (``maxRecordsPerFetch``) (A5)

The client is **injectable**: pass either an importable ``module:callable``
path or a factory callable; ``pull_stream`` binds the kwargs and ships the
factory *by value* (cloudpickle) through the source options, so neither the
driver-side planner worker (which unpickles the DataSource but does not see
``addPyFile`` includes) nor the executors need this package importable.
Tests inject :func:`file_shard_client`; production wires boto3 behind the
identical contract via :func:`boto3_pull_client`.  :class:`FileShardClient`
is the one file-backed stream of both halves: it also speaks the sink's
``put_records`` contract (:mod:`logspout_kinesis_tests_spark.streaming.sink`),
so the shard files the producer writes are the ones this source reads.

Client contract (duck-typed; names mirror the Kinesis API used by the
reference so the boto3 binding is mechanical)::

    list_shards(stream)                        -> list[shard_id: str]
    latest_sequences(stream)                   -> dict[shard_id, next_seq: int]
    get_shard_iterator(stream, shard_id,
                       position, sequence_number=None) -> opaque str
    get_records(iterator, limit)               -> {"Records": [
                                                    {"Data": str,
                                                     "PartitionKey": str,
                                                     "SequenceNumber": int}],
                                                   "NextShardIterator": str|None}
"""

from __future__ import annotations

import base64
import functools
import hashlib
import importlib
import json
import os
import sys
import tempfile
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass

from pyspark import cloudpickle

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Output schema of the pull source.
PULL_SCHEMA = StructType(
    [
        StructField("shard_id", StringType()),
        StructField("sequence_number", LongType()),
        StructField("partition_key", StringType()),
        StructField("value", StringType()),
    ]
)

#: Per-get_records cap — the reference's ``limit=500`` (readstream.py:32).
DEFAULT_FETCH_LIMIT = 500


def _resolve(path: str):
    """Import ``module:callable`` (driver-side, where the package is on path)."""
    mod, _, fn = path.partition(":")
    return getattr(importlib.import_module(mod), fn)


def encode_client(client: str | Callable[..., object], client_args: dict | None) -> str:
    """Bind the factory's kwargs and serialize it by value for the options.

    This module is registered for by-value pickling (see
    :func:`register_pull_source`), so the planner worker and executors can
    materialize the client without importing this package.
    """
    factory = _resolve(client) if isinstance(client, str) else client
    bound = functools.partial(factory, **(client_args or {}))
    return base64.b64encode(cloudpickle.dumps(bound)).decode("ascii")


def make_client(client_b64: str):
    return cloudpickle.loads(base64.b64decode(client_b64))()


class ExpiredIteratorError(Exception):
    """Contract-level signal that a shard iterator has aged out.

    Kinesis shard iterators expire after 5 minutes (the reference's poll
    loop at readstream.py:30-35 never hits this because it re-polls every
    0.2 s; a Spark task stalled on a slow executor can).  Clients raise
    this from ``get_records``; the partition reader recovers by
    re-acquiring an iterator at the last consumed sequence number — record
    delivery stays exactly-once because sequence numbers, not iterators,
    are the source of truth."""


# --------------------------------------------------------------------------
# Test client: shard directories of JSON-lines files.
# --------------------------------------------------------------------------
class FileShardClient:
    """The sink's ``put_records`` and the source's ``get_records`` contracts
    over one directory tree — one subdirectory per shard, each holding
    sorted ``*.jsonl`` files of ``{"data": ..., "partition_key": ...}``
    records — so what a producer puts is what a consumer reads.

    A shard's sequence number is the cumulative record index across its
    sorted files, so appending a new file extends the stream without
    renumbering — the file-system analogue of a shard's monotone sequence.
    Readable and writable from any process (executors run in separate
    workers).

    Per-file record counts are cached by (size, mtime_ns): a counted file
    that lies wholly before a call's first record is skipped unopened, and
    a call parses only the records it returns.  A rewritten file is
    recounted.
    """

    def __init__(self, root: str):
        self.root = root
        self._counts: dict[str, tuple[int, int, int]] = {}

    def _shard_dir(self, shard_id: str) -> str:
        return os.path.join(self.root, shard_id)

    def _files(self, shard_id: str) -> list[str]:
        d = self._shard_dir(shard_id)
        if not os.path.isdir(d):
            return []
        return [
            os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".jsonl")
        ]

    def _count(self, path: str) -> int:
        st = os.stat(path)
        key = (st.st_size, st.st_mtime_ns)
        hit = self._counts.get(path)
        if hit is None or hit[:2] != key:
            with open(path) as f:
                hit = (*key, sum(1 for line in f if line.strip()))
            self._counts[path] = hit
        return hit[2]

    def _length(self, shard_id: str) -> int:
        return sum(self._count(p) for p in self._files(shard_id))

    def _page(self, shard_id: str, seq: int, limit: int) -> list[dict]:
        """Records ``[seq, seq + limit)``; earlier lines are skipped unparsed."""
        out: list[dict] = []
        for path in self._files(shard_id):
            if len(out) >= limit:
                break
            n = self._count(path)
            if seq >= n:
                seq -= n
                continue
            with open(path) as f:
                for line in f:
                    if not line.strip():
                        continue
                    if seq:
                        seq -= 1
                    elif len(out) < limit:
                        out.append(json.loads(line))
                    else:
                        break
        return out

    def list_shards(self, stream: str) -> list[str]:
        # names starting with "_" or "." are not shards (checkpoints, temp
        # directories), as in Spark's own file listing
        return sorted(
            d for d in os.listdir(self.root)
            if not d.startswith(("_", "."))
            and os.path.isdir(os.path.join(self.root, d))
        )

    def latest_sequences(self, stream: str) -> dict[str, int]:
        return {s: self._length(s) for s in self.list_shards(stream)}

    def get_shard_iterator(
        self,
        stream: str,
        shard_id: str,
        position: str,
        sequence_number: int | None = None,
    ) -> str:
        if position == "TRIM_HORIZON":
            seq = 0
        elif position == "LATEST":
            seq = self._length(shard_id)
        elif position == "AT_SEQUENCE_NUMBER":
            seq = int(sequence_number or 0)
        elif position == "AFTER_SEQUENCE_NUMBER":
            # the expiry-recovery position: resume past a REAL consumed
            # sequence number (Kinesis semantics — AT with a fabricated
            # last+1 would name no record on a sparse-sequence stream)
            seq = int(sequence_number or 0) + 1
        else:
            raise ValueError(f"unknown iterator position {position!r}")
        return json.dumps({"stream": stream, "shard": shard_id, "seq": seq})

    def get_records(self, iterator: str, limit: int = DEFAULT_FETCH_LIMIT) -> dict:
        state = json.loads(iterator)
        shard, seq = state["shard"], state["seq"]
        batch = self._page(shard, seq, limit)
        next_seq = seq + len(batch)
        return {
            "Records": [
                {
                    "Data": r["data"],
                    "PartitionKey": r.get("partition_key", shard),
                    "SequenceNumber": seq + i,
                }
                for i, r in enumerate(batch)
            ],
            "NextShardIterator": json.dumps(
                {"stream": state["stream"], "shard": shard, "seq": next_seq}
            ),
        }

    def put_records(self, stream_name: str, records: list[tuple[str, str]]) -> list[int]:
        """The sink's contract: append ``(data, partition_key)`` records and
        return the indices of failed ones (never any here).

        A key goes to the shard whose even slice of the 128-bit MD5 range
        holds it, as Kinesis maps keys to shards:
        ``sorted(shards)[md5(key) * N >> 128]``.  The shard directories must
        exist already, as a Kinesis stream has its shards before a put.
        ``stream_name`` is ignored: the root is the stream.
        """
        if not records:
            return []
        shards = self.list_shards(stream_name)
        if not shards:
            raise ValueError(f"stream {self.root!r} has no shard directories")
        lines: dict[str, list[str]] = {}
        for data, key in records:
            digest = int(hashlib.md5(key.encode("utf-8")).hexdigest(), 16)
            shard = shards[digest * len(shards) >> 128]
            lines.setdefault(shard, []).append(
                json.dumps({"data": data, "partition_key": key}) + "\n"
            )
        for shard, shard_lines in lines.items():
            self._publish(shard, "".join(shard_lines))
        return []

    def _publish(self, shard_id: str, text: str) -> None:
        """Add ``text`` to the shard as one new file that sorts after every
        existing one, so no record already there is renumbered.

        The file is written under a hidden name, then hard-linked to the
        dense successor name ``p{n:012d}.jsonl``; a concurrent writer that
        took the name first makes the link fail, and the name is re-chosen.
        """
        d = self._shard_dir(shard_id)
        fd, tmp = tempfile.mkstemp(prefix=".put-", dir=d)
        try:
            with os.fdopen(fd, "w") as f:
                f.write(text)
            while True:
                names = [os.path.basename(p) for p in self._files(shard_id)]
                name = f"p{len(names):012d}.jsonl"
                if names and name <= names[-1]:
                    raise RuntimeError(
                        f"cannot append to shard {shard_id!r}: {names[-1]!r} "
                        f"sorts after the next name {name!r}"
                    )
                try:
                    os.link(tmp, os.path.join(d, name))
                    return
                except FileExistsError:
                    continue
        finally:
            os.unlink(tmp)


def file_shard_client(root: str) -> FileShardClient:
    """Factory for option ``client`` — tests inject this importable path."""
    return FileShardClient(root)


def boto3_pull_client(region: str, **kwargs):
    """Production client: boto3 Kinesis behind the same contract.

    Import-gated; correctness tests never touch AWS (SURVEY.md §5).  Kinesis
    sequence numbers are opaque decimal strings — the binding maps them to
    the contract's integers losslessly via ``int()``.
    """
    try:
        import boto3
    except ImportError as exc:
        raise NotImplementedError(
            "boto3 is not available in this environment; inject a client "
            "factory (e.g. file_shard_client) instead"
        ) from exc

    client = boto3.client("kinesis", region_name=region, **kwargs)

    class _Boto3Pull:
        def list_shards(self, stream):
            resp = client.describe_stream(StreamName=stream)
            return [s["ShardId"] for s in resp["StreamDescription"]["Shards"]]

        def latest_sequences(self, stream):
            out = {}
            for s in client.describe_stream(StreamName=stream)[
                "StreamDescription"
            ]["Shards"]:
                rng = s["SequenceNumberRange"]
                out[s["ShardId"]] = int(
                    rng.get("EndingSequenceNumber")
                    or rng["StartingSequenceNumber"]
                )
            return out

        def get_shard_iterator(self, stream, shard_id, position, sequence_number=None):
            kw = {"StreamName": stream, "ShardId": shard_id, "ShardIteratorType": position}
            if sequence_number is not None:
                kw["StartingSequenceNumber"] = str(sequence_number)
            return client.get_shard_iterator(**kw)["ShardIterator"]

        def get_records(self, iterator, limit=DEFAULT_FETCH_LIMIT):
            try:
                resp = client.get_records(ShardIterator=iterator, Limit=limit)
            except client.exceptions.ExpiredIteratorException as exc:
                # translate to the contract error so the partition reader
                # re-acquires at its last consumed sequence number
                raise ExpiredIteratorError(str(exc)) from exc
            return {
                "Records": [
                    {
                        "Data": r["Data"].decode("utf-8"),
                        "PartitionKey": r["PartitionKey"],
                        "SequenceNumber": int(r["SequenceNumber"]),
                    }
                    for r in resp["Records"]
                ],
                "NextShardIterator": resp.get("NextShardIterator"),
            }

    return _Boto3Pull()


# --------------------------------------------------------------------------
# The streaming data source.
# --------------------------------------------------------------------------
@dataclass
class ShardPartition(InputPartition):
    """One shard's [start, end) sequence range for one micro-batch."""

    client_b64: str
    stream: str
    shard_id: str
    start: int
    end: int
    fetch_limit: int


class _PullStreamReader(DataSourceStreamReader):
    """Offsets are ``{shard_id: next_sequence_number}`` — the checkpointed
    analogue of the reference's in-memory iterator list (readstream.py:21).

    Admission control: ``latestOffset()`` caps each shard at
    ``maxRecordsPerFetch`` new records beyond ``_current``, the last offset
    this reader handed out or planned (A4/A5).  A fresh run's first
    ``latestOffset()`` comes before ``initialOffset()``, while ``_current``
    is still None, so its first batch admits the whole backlog.  After a
    restart Spark first calls ``partitions(end, end)`` for the last
    committed batch, which sets ``_current``, so the first batch is capped.
    Under ``availableNow`` Spark plans one batch to one ``latestOffset()``
    snapshot: a fresh run drains everything available, and a restarted run
    reads one capped batch and stops with the rest unread.  ROADMAP item 1
    has the planned fix.
    """

    def __init__(self, options):
        self.client_b64 = options.get("client_pickle", "")
        if not self.client_b64:
            raise ValueError(
                "option 'client_pickle' is required — open the stream via "
                "pull_stream(), which encodes the injectable client factory"
            )
        self.stream = options.get("stream", "stream")
        self.start_position = options.get("start", "TRIM_HORIZON")
        self.fetch_limit = int(options.get("maxrecordsperfetch", DEFAULT_FETCH_LIMIT))
        self._client = make_client(self.client_b64)
        self._current: dict[str, int] | None = None

    def initialOffset(self) -> dict:  # noqa: N802 (Spark API)
        shards = self._client.list_shards(self.stream)
        if self.start_position == "LATEST":
            latest = self._client.latest_sequences(self.stream)
            init = {s: int(latest.get(s, 0)) for s in shards}
        else:  # TRIM_HORIZON
            init = {s: 0 for s in shards}
        self._current = dict(init)
        return init

    def latestOffset(self) -> dict:  # noqa: N802
        latest = self._client.latest_sequences(self.stream)
        if self._current is None:
            # nothing handed out or planned yet (a fresh run's first call)
            end = {s: int(n) for s, n in latest.items()}
        else:
            # a shard missing from _current is newly discovered: it starts at 0
            end = {
                s: min(int(n), self._current.get(s, 0) + self.fetch_limit)
                for s, n in latest.items()
            }
        self._current = {
            s: max(end.get(s, 0), (self._current or {}).get(s, 0)) for s in end
        }
        return end

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # after a restart `start` is the checkpointed offset — adopt it as
        # the cap base so pacing resumes from real progress
        merged = {s: max(int(start.get(s, 0)), int(end.get(s, 0))) for s in end}
        self._current = {
            s: max(merged.get(s, 0), (self._current or {}).get(s, 0)) for s in merged
        }
        return [
            ShardPartition(
                client_b64=self.client_b64,
                stream=self.stream,
                shard_id=s,
                start=int(start.get(s, 0)),
                end=int(end[s]),
                fetch_limit=self.fetch_limit,
            )
            for s in sorted(end)
            if int(end[s]) > int(start.get(s, 0))
        ]

    def read(self, partition: ShardPartition) -> Iterator[tuple]:
        # executor-side: re-create the client, then the reference's poll loop
        # (readstream.py:30-35) bounded to [start, end)
        client = make_client(partition.client_b64)
        iterator = client.get_shard_iterator(
            partition.stream,
            partition.shard_id,
            "AT_SEQUENCE_NUMBER",
            sequence_number=partition.start,
        )
        seq = partition.start
        last_consumed = None  # last REAL sequence number yielded
        expiries = 0
        while seq < partition.end and iterator:
            try:
                out = client.get_records(
                    iterator, limit=min(partition.fetch_limit, partition.end - seq)
                )
            except ExpiredIteratorError:
                # Re-acquire and retry; progress is monotone (seq only
                # advances on yielded records), so expiry recovery cannot
                # duplicate or skip.  Resume AFTER the last REAL sequence
                # number we consumed — on production Kinesis, sequence
                # numbers are sparse opaque values, so fabricating
                # last + 1 for AT_SEQUENCE_NUMBER would name no record;
                # before any consumption, re-issue the partition's own
                # opening position.  Bounded: back-to-back expiries with
                # no progress mean the stream is misbehaving — surface it
                # rather than spin.
                expiries += 1
                if expiries > 5:
                    raise
                if last_consumed is not None:
                    iterator = client.get_shard_iterator(
                        partition.stream,
                        partition.shard_id,
                        "AFTER_SEQUENCE_NUMBER",
                        sequence_number=last_consumed,
                    )
                else:
                    iterator = client.get_shard_iterator(
                        partition.stream,
                        partition.shard_id,
                        "AT_SEQUENCE_NUMBER",
                        sequence_number=partition.start,
                    )
                continue
            expiries = 0
            records = out["Records"]
            if not records:
                break
            for r in records:
                if r["SequenceNumber"] >= partition.end:
                    return
                last_consumed = r["SequenceNumber"]
                seq = last_consumed + 1
                yield (
                    partition.shard_id,
                    r["SequenceNumber"],
                    r["PartitionKey"],
                    r["Data"],
                )
            iterator = out.get("NextShardIterator")

    def commit(self, end: dict) -> None:  # noqa: N802
        self._current = {
            s: max(int(n), (self._current or {}).get(s, 0)) for s, n in end.items()
        }


class RecordPullDataSource(DataSource):
    """``spark.readStream.format("record_pull")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "record_pull"

    def schema(self) -> StructType:
        return PULL_SCHEMA

    def streamReader(self, schema: StructType) -> _PullStreamReader:  # noqa: N802
        return _PullStreamReader(self.options)


def register_pull_source(spark: SparkSession) -> None:
    """Register the source once per session and ship the package to
    executors.

    Registers this module for cloudpickle by-value serialization first, so
    the pickled DataSource class and client factories are self-contained —
    the driver-side planner worker that unpickles them does not receive
    ``addPyFile`` includes.  The session's own data-source manager says
    whether ``record_pull`` is there already; registering it again would
    pickle the class anew and replace the entry.
    """
    from logspout_kinesis_tests_spark.session import ensure_runtime_confs

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    ensure_runtime_confs(spark)
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(RecordPullDataSource.name()):
        spark.dataSource.register(RecordPullDataSource)


def pull_stream(
    spark: SparkSession,
    client: str | Callable[..., object],
    client_args: dict | None = None,
    stream: str = "stream",
    start: str = "TRIM_HORIZON",
    max_records_per_fetch: int = DEFAULT_FETCH_LIMIT,
) -> DataFrame:
    """Open the shard-parallel pull stream (the consumer entry point)."""
    register_pull_source(spark)
    return (
        spark.readStream.format("record_pull")
        .option("client_pickle", encode_client(client, client_args))
        .option("stream", stream)
        .option("start", start)
        .option("maxRecordsPerFetch", str(max_records_per_fetch))
        .load()
    )

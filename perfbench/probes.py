"""Outside-in instrumentation for the stream-engine benchmark.

Nothing here touches the engine package: the sink and pull clients sit
behind the engine's own injectable client contracts, the RSS sampler reads
``/proc``, and spans are recorded around the benchmark's calls into each
layer.  Executor-side probes run in Spark's Python workers, so they spool
one line per event to files that the benchmark process merges at the end.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import threading
import time
from dataclasses import dataclass, field


# --------------------------------------------------------------------------
# Statistics.
# --------------------------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in [0, 100]) of a non-empty sample."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def supported_tail(n: int, candidates=(50.0, 90.0, 99.0, 99.9)) -> float | None:
    """The highest candidate percentile with at least ten samples beyond it."""
    best = None
    for q in candidates:
        if n - math.ceil(round(q * n / 100.0, 6)) >= 10:
            best = q
    return best


# --------------------------------------------------------------------------
# Spans.
# --------------------------------------------------------------------------
@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None = None
    span_id: str = ""
    run_id: str = ""


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part its children cover.

    Children are clipped to their parent's interval and overlapping children
    count once, so parallel executor-side children never drive a parent's
    self time below zero.
    """
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, ())
            if c.end > s.start and c.start < s.end
        ]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - _covered(kids)
    return out


class SpanRecorder:
    """Keeps spans in memory; ``spans`` is written out when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count()

    def new_id(self, name: str) -> str:
        return f"{name}#{next(self._ids)}"

    def record(self, name: str, start: float, end: float, parent: str | None = None,
               span_id: str | None = None) -> str:
        sid = span_id or self.new_id(name)
        self.spans.append(Span(name, start, end, parent, sid, self.run_id))
        return sid

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        """Record a span around the ``with`` body; yields its span id."""
        sid = self.new_id(name)
        start = time.time()
        try:
            yield sid
        finally:
            self.record(name, start, time.time(), parent, sid)


# --------------------------------------------------------------------------
# Executor-side spool files.
# --------------------------------------------------------------------------
def _spool_path(spool_dir: str, tag: str) -> str:
    return os.path.join(spool_dir, f"{tag}-{os.getpid()}-{threading.get_ident()}.log")


def _append(path: str, lines: list[str]) -> None:
    if lines:
        with open(path, "a") as f:
            f.write("".join(lines))


def read_spool(spool_dir: str) -> list[list[str]]:
    """All spooled events, each split into fields, across every file."""
    out: list[list[str]] = []
    if not os.path.isdir(spool_dir):
        return out
    for name in sorted(os.listdir(spool_dir)):
        with open(os.path.join(spool_dir, name)) as f:
            out.extend(line.rstrip("\n").split("\t") for line in f if line.strip())
    return out


# --------------------------------------------------------------------------
# Sink client: the Kinesis stand-in behind ``put_records``.
# --------------------------------------------------------------------------
_MARKER = '"message":"#'


def record_seq(data: str) -> int:
    """The generator's sequence id from a v1 Logstash JSON document."""
    i = data.index(_MARKER) + len(_MARKER)
    j = data.index(" ", i)
    return int(data[i:j])


def throttled(seed: int, seq: int, per_mille: int) -> bool:
    """Whether the client rejects ``seq`` on its first attempt (seeded)."""
    h = ((seq + 1) * 0x9E3779B1 + seed * 0x85EBCA77) & 0xFFFFFFFF
    h ^= h >> 15
    h = (h * 0x2C1B3C6D) & 0xFFFFFFFF
    return (h ^ (h >> 12)) % 1000 < per_mille


class BenchSinkClient:
    """``put_records`` double that throttles, counts and spools deliveries.

    Each record whose seeded hash falls in ``reject_per_mille`` is refused on
    its first attempt, the way Kinesis throttles, so the engine's bounded
    retry runs.  Every accepted record spools ``D seq emit_time``; records
    with ``seq % sample_mod == sample_rem`` also spool their payload for the
    byte check.  With ``trace`` set, each call spools a ``P`` span line.
    """

    def __init__(self, spool_dir: str, seed: int, reject_per_mille: int,
                 sample_mod: int, trace: bool = False, parent: str = ""):
        self.spool_dir = spool_dir
        self.seed = seed
        self.reject_per_mille = reject_per_mille
        self.sample_mod = sample_mod
        self.sample_rem = seed % sample_mod
        self.trace = trace
        self.parent = parent
        self._refused: set[int] = set()
        self._path = _spool_path(spool_dir, "sink")

    def put_records(self, stream_name: str, records: list[tuple[str, str]]) -> list[int]:
        start = time.time()
        failed: list[int] = []
        accepted: list[tuple[int, str]] = []
        for i, (data, _key) in enumerate(records):
            seq = record_seq(data)
            if seq not in self._refused and throttled(self.seed, seq, self.reject_per_mille):
                self._refused.add(seq)
                failed.append(i)
            else:
                accepted.append((seq, data))
        emit = time.time()
        lines = [f"D\t{seq}\t{emit:.6f}\n" for seq, _ in accepted]
        lines += [
            f"S\t{seq}\t{data}\n" for seq, data in accepted
            if seq % self.sample_mod == self.sample_rem
        ]
        if self.trace:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            part = ctx.partitionId() if ctx is not None else -1
            lines.append(
                f"P\t{start:.6f}\t{time.time():.6f}\t{len(records)}\t{len(failed)}"
                f"\t{part}\t{self.parent}\n"
            )
        _append(self._path, lines)
        return failed


@dataclass
class SinkSpool:
    delivered: dict[int, float] = field(default_factory=dict)  # seq → first emit
    samples: dict[int, str] = field(default_factory=dict)
    puts: list[tuple[float, float, int, int, int, str]] = field(default_factory=list)


def merge_sink_spool(events: list[list[str]]) -> SinkSpool:
    """Fold spooled sink events; a record delivered twice keeps its first emit."""
    out = SinkSpool()
    for ev in events:
        kind = ev[0]
        if kind == "D":
            seq, emit = int(ev[1]), float(ev[2])
            if seq not in out.delivered or emit < out.delivered[seq]:
                out.delivered[seq] = emit
        elif kind == "S":
            out.samples[int(ev[1])] = "\t".join(ev[2:])
        elif kind == "P":
            out.puts.append(
                (float(ev[1]), float(ev[2]), int(ev[3]), int(ev[4]), int(ev[5]),
                 ev[6] if len(ev) > 6 else "")
            )
    return out


# --------------------------------------------------------------------------
# Pull client wrapper: counts and times ``file_shard_client`` calls.
# --------------------------------------------------------------------------
class TracedShardClient:
    """Wraps a ``get_records`` client; spools a ``G``/``L`` span per call."""

    def __init__(self, inner, spool_dir: str):
        self.inner = inner
        self._path = _spool_path(spool_dir, "pull")

    def list_shards(self, stream):
        return self.inner.list_shards(stream)

    def get_shard_iterator(self, *args, **kwargs):
        return self.inner.get_shard_iterator(*args, **kwargs)

    def latest_sequences(self, stream):
        start = time.time()
        out = self.inner.latest_sequences(stream)
        _append(self._path, [f"L\t{start:.6f}\t{time.time():.6f}\t{sum(out.values())}\n"])
        return out

    def get_records(self, iterator, limit):
        start = time.time()
        out = self.inner.get_records(iterator, limit)
        _append(
            self._path,
            [f"G\t{start:.6f}\t{time.time():.6f}\t{len(out['Records'])}\t{limit}\n"],
        )
        return out


def traced_shard_client(root: str, spool_dir: str) -> TracedShardClient:
    """Client factory for ``pull_stream``: ``file_shard_client`` plus probes."""
    from logspout_kinesis_tests_spark.streaming.pull_source import file_shard_client

    return TracedShardClient(file_shard_client(root), spool_dir)


# --------------------------------------------------------------------------
# Peak RSS of the Spark processes, sampled from /proc.
# --------------------------------------------------------------------------
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def rss_bytes(pids: list[int]) -> int:
    """Resident memory of ``pids`` together, each shared page counted once.

    Sums each process's proportional set size (``Pss`` in ``smaps_rollup``)
    rather than its RSS: the JVM forks to launch Python workers and the
    worker daemon forks the workers, so summed RSS would count every page
    a parent shares with a short-lived fork twice.
    """
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue  # the process ended between listing and reading
    return total


class RssSampler(threading.Thread):
    """Samples the resident memory of every process descended from this one
    (the Spark JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        super().__init__(name="rss-sampler", daemon=True)
        self.interval_s = interval_s
        self.peak = 0
        self._stop_evt = threading.Event()
        self._active = threading.Event()
        self._active.set()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            if self._active.is_set():
                self.peak = max(self.peak, rss_bytes(descendants(me)))
            self._stop_evt.wait(self.interval_s)

    @contextlib.contextmanager
    def paused(self):
        """No samples during the ``with`` body (a session restart, where the
        old session's processes may still be exiting beside the new ones)."""
        self._active.clear()
        try:
            yield
        finally:
            self._active.set()

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak

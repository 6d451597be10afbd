"""Deterministic input generator for the stream-engine benchmark.

Everything here is a pure function of the seed: the same seed gives
byte-identical input files.  Every produced record carries its sequence id
and its scheduled due time (an offset in µs from the start of its phase), so
wall-clock latency can be measured against the schedule without making the
bytes depend on when they were written.

The open-loop writer (:class:`OpenLoopWriter`) publishes pre-built files on
a fixed schedule and never waits on the system under test; how late it ran
is recorded per file.
"""

from __future__ import annotations

import json
import math
import os
import random
import threading
import time
from dataclasses import dataclass, field

#: 2026-01-01T00:00:00Z in µs — event times of generated records start here.
BASE_EVENT_US = 1_767_225_600_000_000
#: Constant Kinesis partition key (the reference keys by docker_host).
DOCKER_HOST = "bench-docker-host"

_IMAGES = (
    "registry.internal:5000/team/api:1.4.2",  # first-colon split → "registry.internal"
    "nginx:1.25",
    "busybox",  # untagged: image_tag omitted
    "redis:7-alpine",
    "quay.io/org/worker",
    "localhost:5000/app",
)
_LABELS = (
    {},
    {"com.example.team": "core"},
    {"env": "prod", "tier": "web"},
)
_WORDS = (
    "GET", "POST", "/api/v1/items", "status=200", "status=503", "latency_ms=12",
    "user_id=4711", "retrying", "connection", "reset", "by", "peer", "cache",
    "miss", "hit", "INFO", "WARN", "ERROR", "worker", "started", "shutdown",
    "request", "completed", "in", "queue", "depth", "\"quoted\"", "key=value",
)


def _message(rng: random.Random, seq: int, due_us: int) -> str:
    """A 40–400-byte log line prefixed with its sequence id and due time."""
    head = f"#{seq} @{due_us} "
    target = rng.randint(40, 400)
    words = [head]
    length = len(head)
    while length < target:
        w = rng.choice(_WORDS)
        words.append(w + " ")
        length += len(w) + 1
    return "".join(words)[:target].rstrip()


def parse_marker(message: str) -> tuple[int, int]:
    """``(seq, due_us)`` from a message built by :func:`_message`."""
    head, due, _rest = (message + " ").split(" ", 2)
    return int(head[1:]), int(due[1:])


def _rfc3339_us(event_us: int) -> str:
    secs, micros = divmod(event_us, 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{micros:06d}Z"


def log_record(rng: random.Random, seq: int, due_us: int) -> dict:
    """One Docker log record in the ``LOG_INPUT`` shape."""
    cid = f"{rng.getrandbits(256):064x}"
    return {
        "data": _message(rng, seq, due_us),
        "source": rng.choice(("stdout", "stderr")),
        "time": _rfc3339_us(BASE_EVENT_US + seq * 1000 + rng.randrange(1000)),
        "container_id": cid,
        "container_name": "/svc-" + cid[:6],
        "image": rng.choice(_IMAGES),
        "hostname": cid[-12:],
        "labels": dict(rng.choice(_LABELS)),
    }


def expected_v1(record: dict, docker_host: str = DOCKER_HOST) -> str:
    """The v1 Logstash JSON the producer must emit for ``record``.

    Mirrors the reference (``createLogstashMessage`` + ``json.Marshal``):
    omitempty on image_tag/docker_host/labels, the image split at the FIRST
    colon, the 12-char container-id prefix and RFC3339 with µs digits.
    """
    image = record["image"]
    name, sep, tag = image.partition(":")
    docker = {
        "name": record["container_name"][1:],
        "cid": record["container_id"][:12],
        "image": name,
    }
    if sep and tag:
        docker["image_tag"] = tag
    docker["source"] = record["source"]
    if docker_host:
        docker["docker_host"] = docker_host
    if record["labels"]:
        docker["labels"] = record["labels"]
    doc = {
        "@timestamp": record["time"],
        "host": record["hostname"],
        "message": record["data"],
        "docker": docker,
    }
    return json.dumps(doc, separators=(",", ":"), ensure_ascii=False)


def jsonl(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in rows).encode()


# --------------------------------------------------------------------------
# Workload inputs.
# --------------------------------------------------------------------------
@dataclass
class FilePlan:
    """One input file: its relative path, bytes and due offset (µs)."""

    relpath: str
    payload: bytes
    due_us: int = 0


@dataclass
class ProduceInput:
    files: list[FilePlan]
    records: dict[int, dict] = field(default_factory=dict)  # seq → LOG_INPUT record


def produce_input(
    seed: int, files: int, per_file: int, first_seq: int = 0, interval_us: int = 0,
    prefix: str = "f",
) -> ProduceInput:
    """``files`` JSON-lines files of ``per_file`` log records each.

    File ``k`` is due at ``k * interval_us``; all its records carry that due
    time.  Drain backlogs use ``interval_us=0`` (everything due at once).
    """
    rng = random.Random(f"produce:{seed}:{first_seq}")
    out = ProduceInput(files=[])
    seq = first_seq
    for k in range(files):
        due = k * interval_us
        rows = []
        for _ in range(per_file):
            rec = log_record(rng, seq, due)
            out.records[seq] = rec
            rows.append(rec)
            seq += 1
        out.files.append(FilePlan(f"{prefix}{k:06d}.json", jsonl(rows), due))
    return out


#: Corrupt consumer payloads.  Each must come out of PERMISSIVE ``from_json``
#: with every top-level field NULL, so ``quarantine_split`` routes it.
def _corrupt_payload(rng: random.Random, seq: int) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"ERR truncated frame {seq} {rng.getrandbits(128):x}"
    if kind == 1:
        return '{"@timesta'
    if kind == 2:
        return json.dumps({"level": "warn", "seq": seq})
    return "[1, 2, 3]"


@dataclass
class ConsumeInput:
    files: list[FilePlan]
    #: (shard, sequence number) → due offset µs, for every record
    due: dict[tuple[str, int], int] = field(default_factory=dict)
    corrupt: set[tuple[str, int]] = field(default_factory=set)


def consume_input(
    seed: int, shards: int, rounds: int, per_file: int, corrupt_share: float,
    interval_us: int = 0,
) -> ConsumeInput:
    """A ``file_shard_client`` store: ``rounds`` files per shard.

    Round ``r`` appends one ``per_file``-record file to every shard, due at
    ``r * interval_us``.  A seeded ``corrupt_share`` of payloads is garbage;
    the rest are v1 Logstash JSON documents.
    """
    rng = random.Random(f"consume:{seed}")
    out = ConsumeInput(files=[])
    next_seq = {f"shard-{s:03d}": 0 for s in range(shards)}
    gid = 0
    for r in range(rounds):
        due = r * interval_us
        for shard in next_seq:
            rows = []
            for _ in range(per_file):
                seq = next_seq[shard]
                if rng.random() < corrupt_share:
                    payload = _corrupt_payload(rng, gid)
                    out.corrupt.add((shard, seq))
                else:
                    payload = expected_v1(log_record(rng, gid, due))
                rows.append({"data": payload, "partition_key": DOCKER_HOST})
                out.due[(shard, seq)] = due
                next_seq[shard] = seq + 1
                gid += 1
            out.files.append(FilePlan(f"{shard}/r{r:06d}.jsonl", jsonl(rows), due))
    return out


@dataclass
class DedupInput:
    files: list[FilePlan]
    survivors: set[int]  # first occurrence of each distinct text
    total: int = 0


def dedup_input(seed: int, files: int, per_file: int, dup_share: float) -> DedupInput:
    """``files`` JSON-lines files of ``{doc_id, text}`` log messages.

    A seeded ``dup_share`` of records (never the first record of a file)
    repeats the text of a record from an earlier file.  Ids grow with file
    order, so the first occurrence of a text is its lowest id.
    """
    rng = random.Random(f"dedup:{seed}")
    out = DedupInput(files=[], survivors=set())
    earlier: list[str] = []
    doc_id = 0
    for k in range(files):
        rows, fresh = [], []
        for j in range(per_file):
            if earlier and j and rng.random() < dup_share:
                text = rng.choice(earlier)
            else:
                text = _message(rng, doc_id, 0)
                out.survivors.add(doc_id)
                fresh.append(text)
            rows.append({"doc_id": doc_id, "text": text})
            doc_id += 1
        earlier.extend(fresh)
        out.files.append(FilePlan(f"d{k:06d}.json", jsonl(rows)))
    out.total = doc_id
    return out


def write_files(root: str, plans: list[FilePlan], staging: str) -> None:
    """Publish files atomically: write under ``staging``, rename into ``root``.

    Modification times step by one second in plan order, because the file
    stream source admits files oldest first and files written within one
    clock tick would otherwise be admitted in arbitrary order.
    """
    base = time.time() - len(plans) - 1
    for k, plan in enumerate(plans):
        publish(root, plan, staging)
        os.utime(os.path.join(root, plan.relpath), (base + k, base + k))


def publish(root: str, plan: FilePlan, staging: str) -> None:
    dst = os.path.join(root, plan.relpath)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.makedirs(staging, exist_ok=True)
    tmp = os.path.join(staging, plan.relpath.replace("/", "_"))
    with open(tmp, "wb") as f:
        f.write(plan.payload)
    os.replace(tmp, dst)


# --------------------------------------------------------------------------
# Open-loop schedule.
# --------------------------------------------------------------------------
def aligned_start(now: float, trigger_s: float, interval_s: float) -> float:
    """When an open-loop schedule should publish its first file: half a file
    interval after the next tick of a processing-time trigger clock.

    Spark starts processing-time batches at whole multiples of the trigger
    interval, so with ``trigger_s`` a multiple of ``interval_s`` every file
    then lands half an interval clear of a batch start, at the same point of
    a trigger interval in every run.
    """
    return (math.floor(now / trigger_s) + 1) * trigger_s + interval_s / 2


def lateness_ms(t0: float, plans: list[FilePlan], published: list[float]) -> list[float]:
    """How late each file was published against its due time, in ms."""
    return [max(0.0, (p - (t0 + f.due_us / 1e6)) * 1000.0) for f, p in zip(plans, published)]


class OpenLoopWriter(threading.Thread):
    """Publishes ``plans`` at ``t0 + due`` each, never waiting on the system.

    A file whose due time has passed is published at once (no skipping, no
    catch-up pacing), so a stall shows up as lateness rather than as a
    thinner schedule.
    """

    def __init__(self, root: str, plans: list[FilePlan], staging: str, t0: float):
        super().__init__(name="open-loop-writer", daemon=True)
        self.root, self.plans, self.staging, self.t0 = root, plans, staging, t0
        self.published: list[float] = []

    def run(self) -> None:
        for plan in self.plans:
            wait = self.t0 + plan.due_us / 1e6 - time.time()
            if wait > 0:
                time.sleep(wait)
            publish(self.root, plan, self.staging)
            self.published.append(time.time())

    def lateness_ms(self) -> list[float]:
        return lateness_ms(self.t0, self.plans, self.published)

"""The benchmark's streaming workloads, driven through the engine's public
functions only.

- ``produce``: the reference producer.  LOG_INPUT files run through
  ``produce_pipeline`` into a throttling benchmark client.
- ``consume``: the reference consumer.  A ``file_shard_client`` store runs
  through ``pull_stream`` → ``parse_consumed`` → ``quarantine_split`` into a
  ``foreachBatch`` sink that counts both branches.  Its traced run also
  drains a corpus with repeated messages through
  ``streaming_incremental_dedup`` to measure the dedup layer.

A timed run measures set-up, closed-loop drains of a fixed backlog (spread
between the set-ups) and an open-loop paced phase whose schedule is aligned
to the trigger clock.  A traced run records spans around every call into a
layer and reports the per-layer metrics.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from perfbench import checks, gen, probes

STREAM = "bench"
SETUPS = 3  # set-ups per timed run; setup_s is their median
QUERY_TIMEOUT_S = 90

# Input sizes and rates.  Changing any of them changes the benchmark.
# Closed-loop drains of a backlog: WARM untimed ones after the first set-up
# (the JIT keeps warming over the first few), then PER_SETUP timed ones
# after each set-up.
PRODUCE_FILES, PRODUCE_PER_FILE = 3, 4000  # 12 000-record backlog
PRODUCE_WARM, PRODUCE_PER_SETUP = 1, 2
# Paced phase: files every INTERVAL_S at RATE records/s, a micro-batch
# every TRIGGER_S (longer than a batch takes, so batches start on the
# trigger clock and the schedule is aligned to it).
PRODUCE_RATE, PRODUCE_INTERVAL_S, PRODUCE_TRIGGER_S = 1000, 0.2, 3.0
REJECT_PER_MILLE = 20  # share of records the sink refuses on first attempt
SAMPLE_MOD = 97  # about 1 record in 97 is byte-checked
SHARDS = 2  # one per task thread
CONSUME_ROUNDS, CONSUME_PER_FILE = 1, 6000  # × SHARDS files: 12 000 records
CONSUME_WARM, CONSUME_PER_SETUP = 0, 1
# consume: a batch takes in at most 500 records a shard (the fetch limit),
# so a trigger interval's worth of input (444 a shard) stays below that;
# INTERVAL_S is per round of files, one a shard
CONSUME_RATE, CONSUME_INTERVAL_S, CONSUME_TRIGGER_S = 300, 0.25, 3.0
CORRUPT_SHARE = 0.05
DEDUP_FILES, DEDUP_PER_FILE, DUP_SHARE = 6, 2000, 0.2  # 12 000 records, consume trace
TRACE_PACED_S = 6.0
TRACE_PAIRS = 1  # untraced/traced drain pairs behind trace.overhead_ratio
PACED_DRAIN_WAIT_S = 20.0

#: Every per-layer metric a traced run reports.  A layer the workload
#: bypasses reports 0 for its counts.
PER_LAYER = {
    "session.start_s": "s",
    "pipeline.batches": "count",
    "pipeline.records_per_batch": "records",
    "pipeline.batch_ms_p50": "ms",
    "pipeline.planning_ms": "ms",
    "pipeline.get_batch_ms": "ms",
    "pipeline.commit_ms": "ms",
    "pipeline.parallel_speedup": "ratio",
    "pipeline.cores": "count",
    "etl.transform_s": "s",
    "etl.bytes_out": "bytes",
    "etl.parse_s": "s",
    "etl.quarantine_ratio": "ratio",
    "etl.records": "records",
    "sink.write_batch_s": "s",
    "sink.put_calls": "count",
    "sink.records_per_put": "records",
    "sink.max_records_per_put": "records",
    "sink.put_busy_s": "s",
    "sink.retried_records": "records",
    "sink.retry_ratio": "ratio",
    "sink.records": "records",
    "sink.tasks_used": "count",
    "sink.max_task_share": "ratio",
    "pull.get_records_calls": "count",
    "pull.records_per_call": "records",
    "pull.fetch_limit": "records",
    "pull.client_busy_s": "s",
    "pull.latest_offset_ms": "ms",
    "pull.records_per_batch": "records",
    "pull.admission_cap": "records",
    "dedup.epochs": "count",
    "dedup.epoch_ms_p50": "ms",
    "dedup.epoch_ms_last": "ms",
    "dedup.index_rows": "rows",
    "dedup.index_files": "count",
    "dedup.index_bytes": "bytes",
    "dedup.drop_ratio": "ratio",
    "dedup.expected_drop_ratio": "ratio",
    "dedup.records": "records",
    "gen.lateness_ms_p99": "ms",
    "gen.latency_samples": "count",
    "check.failed_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "self.session_s": "s",
    "self.pipeline_s": "s",
    "self.etl_s": "s",
    "self.sink_s": "s",
    "self.pull_s": "s",
    "self.dedup_s": "s",
}

END_TO_END = {
    "setup_s": "s",
    "throughput_rps": "records/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def progress_dicts(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _ts(iso: str) -> float:
    return (
        datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


def _dur(p: dict, *keys: str) -> float:
    return float(sum(p.get("durationMs", {}).get(k, 0) for k in keys))


def pipeline_metrics(progress: list[dict]) -> dict[str, float]:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not batches:
        return {}
    med = statistics.median
    return {
        "pipeline.batches": len(batches),
        "pipeline.records_per_batch": med(p["numInputRows"] for p in batches),
        "pipeline.batch_ms_p50": med(_dur(p, "triggerExecution") for p in batches),
        "pipeline.planning_ms": med(_dur(p, "queryPlanning") for p in batches),
        "pipeline.get_batch_ms": med(_dur(p, "getBatch", "latestOffset") for p in batches),
        "pipeline.commit_ms": med(_dur(p, "walCommit", "commitOffsets") for p in batches),
    }


@dataclass
class Drain:
    records: int
    seconds: float
    progress: list[dict] = field(default_factory=list)

    @property
    def rps(self) -> float:
        return self.records / self.seconds


class Run:
    """State of one benchmark run: work directory, session, spans, tallies."""

    def __init__(self, workdir: str, seed: int, seconds: float, cores: int, run_id: str):
        self.workdir, self.seed, self.seconds, self.cores = workdir, seed, seconds, cores
        self.rec = probes.SpanRecorder(run_id)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new, empty directory under the work directory."""
        self._n += 1
        path = os.path.join(self.workdir, f"{name}-{self._n}")
        os.makedirs(path)
        return path

    def account(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def session(self, cores: int | None = None):
        from logspout_kinesis_tests_spark.session import get_spark

        k = cores or self.cores
        with self.rec.span("session.get_spark"):
            self.spark = get_spark("perfbench", master=f"local[{k}]", shuffle_partitions=k)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def await_query(self, query, timeout: float = QUERY_TIMEOUT_S) -> bool:
        """Wait for an ``availableNow`` query; False (and a failure) if it
        errored or did not finish."""
        done = query.awaitTermination(timeout)
        if not done:
            query.stop()
        if not done or query.exception() is not None:
            log(f"query failed: {query.exception() if done else 'timeout'}")
            self.account(0, 1)
            return False
        return True


class Workload:
    """Shared timed/traced flow; subclasses supply the layer calls."""

    name = ""
    warm_drains = 0  # untimed closed-loop drains before the first timed one
    drains_per_setup = 1  # timed closed-loop drains after each set-up
    interval_s = 0.0  # paced phase: one file (round of files) per interval
    trigger_s = 0.0  # paced phase: processing-time trigger interval

    def __init__(self, run: Run):
        self.run = run

    # -- overridden ---------------------------------------------------------
    def warm(self) -> None:
        raise NotImplementedError

    def drain(self, traced: bool = False) -> Drain:
        raise NotImplementedError

    def paced_phase(self, seconds: float) -> tuple[list[float], list[float]]:
        raise NotImplementedError

    def layer_metrics(self, drain: Drain) -> dict[str, float]:
        """Layer metrics from the traced ``drain`` and isolated layer calls."""
        raise NotImplementedError

    # -- shared ---------------------------------------------------------------
    def setup(self, cores: int | None = None) -> float:
        self.run.stop()
        t = time.perf_counter()
        self.run.session(cores)
        self.warm()
        return time.perf_counter() - t

    def run_paced(self, query, root: str, plans: list[gen.FilePlan],
                  total: int) -> gen.OpenLoopWriter:
        """The open-loop phase of a running ``query``.

        The files due at 0 prime the query and are waited for, because the
        first batch of a new query pays one-off start costs.  The rest are
        published on their schedule, which starts half a file interval after
        the next tick of the trigger clock (Spark starts processing-time
        batches at whole multiples of the interval), so every file lands at
        the same point of a trigger interval in every run.  Afterwards waits
        for the query to take in all ``total`` records, then stops it.
        """
        run = self.run
        prime = [p for p in plans if p.due_us == 0]
        rest = [p for p in plans if p.due_us]
        staging = run.fresh("stage")
        gen.write_files(root, prime, staging)
        primed = _wait_rows(query, 1)
        first = gen.aligned_start(time.time(), self.trigger_s, self.interval_s)
        writer = gen.OpenLoopWriter(root, rest, staging, first - rest[0].due_us / 1e6)
        writer.start()
        writer.join()
        if not (primed and _wait_rows(query, total)) or query.exception() is not None:
            log(f"paced query failed: {query.exception()}")
            run.account(0, 1)
        query.stop()
        batches = [_dur(p, "triggerExecution") for p in progress_dicts(query)
                   if p.get("numInputRows", 0) > 0][1:]  # after the priming batch
        over = sum(b > self.trigger_s * 1000 for b in batches)
        log(f"paced batches: {len(batches)}, median {statistics.median(batches or [0]):.0f} ms, "
            f"max {max(batches or [0]):.0f} ms, {over} over the {self.trigger_s:g} s trigger")
        return writer

    @property
    def trigger(self) -> str:
        return f"{round(self.trigger_s * 1000)} milliseconds"

    def timed(self) -> dict[str, float]:
        """Set-ups, closed-loop drains and the open-loop phase, interleaved.

        The host's speed drifts over tens of seconds, so the timed drains
        are spread over the run, ``drains_per_setup`` after each set-up, and
        their median is reported.
        """
        setups = [self.setup()]
        sampler = probes.RssSampler()
        sampler.start()
        try:
            for _ in range(self.warm_drains):
                self.drain()
            drains = [self.drain() for _ in range(self.drains_per_setup)]
            for _ in range(SETUPS - 1):
                with sampler.paused():
                    setups.append(self.setup())
                drains += [self.drain() for _ in range(self.drains_per_setup)]
            latencies, lateness = self.paced_phase(self.run.seconds)
        finally:
            peak = sampler.stop()
        late_p99 = probes.percentile(lateness, 99)
        log(f"setups {[round(s, 3) for s in setups]} s; drains "
            f"{[round(d.rps) for d in drains]} records/s (batch ms "
            f"{[[round(_dur(p, 'triggerExecution')) for p in d.progress] for d in drains]}); "
            f"{len(latencies)} latency "
            f"samples (tail supported: p{probes.supported_tail(len(latencies))}); "
            f"generator lateness p99 {late_p99:.1f} ms")
        if late_p99 > self.interval_s * 1000 / 2:
            log("WARNING: the open-loop generator fell behind its schedule by more "
                "than half a file interval; this run's latency includes the generator's own delay")
        return {
            "setup_s": statistics.median(setups),
            "throughput_rps": statistics.median(d.rps for d in drains),
            "latency_p50_ms": probes.percentile(latencies, 50),
            "latency_p99_ms": probes.percentile(latencies, 99),
            "peak_rss_mb": peak / 2**20,
        }

    def traced(self) -> dict[str, float]:
        run = self.run
        m = {name: 0.0 for name in PER_LAYER}
        m["session.start_s"] = self.setup()
        self.drain()  # untimed: right after set-up the JIT is still warming
        # alternate untraced and traced drains so host drift hits both sides
        pairs = [(self.drain(), self.drain(traced=True)) for _ in range(TRACE_PAIRS)]
        untraced_rps = statistics.median(u.rps for u, _ in pairs)
        drain = pairs[-1][1]
        m.update(pipeline_metrics(drain.progress))
        m["trace.overhead_ratio"] = untraced_rps / statistics.median(t.rps for _, t in pairs) - 1.0
        m.update(self.layer_metrics(drain))
        latencies, lateness = self.paced_phase(TRACE_PACED_S)
        m["gen.lateness_ms_p99"] = probes.percentile(lateness, 99)
        m["gen.latency_samples"] = len(latencies)
        self.setup(cores=1)
        self.drain()
        single = self.drain()
        m["pipeline.parallel_speedup"] = untraced_rps / single.rps
        m["pipeline.cores"] = run.cores
        m["check.failed_ratio"] = run.failed / max(1, run.attempted)
        for layer, secs in layer_self_times(run.rec.spans).items():
            key = f"self.{layer}_s"
            if key in m:
                m[key] = secs
        return m


def layer_self_times(spans: list[probes.Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for name, secs in probes.self_times(spans).items():
        layer = name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + secs
    return out


def attach_by_time(rec: probes.SpanRecorder, name: str, intervals, parents: list[probes.Span],
                   default: str) -> None:
    """Record executor-side spans under the batch span that contains them."""
    for start, end in intervals:
        parent = next(
            (p.span_id for p in parents if p.start <= start and end <= p.end), default
        )
        rec.record(name, start, end, parent)


def pull_calls(events: list[list[str]], kind: str) -> list[tuple[float, float, int]]:
    """``(start, end, records)`` of each spooled pull-client call of ``kind``
    (``G`` get_records, ``L`` latest_sequences)."""
    return [(float(e[1]), float(e[2]), int(e[3])) for e in events if e[0] == kind]


# --------------------------------------------------------------------------
# produce
# --------------------------------------------------------------------------
class Produce(Workload):
    name = "produce"
    warm_drains, drains_per_setup = PRODUCE_WARM, PRODUCE_PER_SETUP
    interval_s, trigger_s = PRODUCE_INTERVAL_S, PRODUCE_TRIGGER_S

    def __init__(self, run: Run):
        super().__init__(run)
        from logspout_kinesis_tests_spark.config import EngineConfig

        self.cfg = EngineConfig(stream_name=STREAM, docker_host=gen.DOCKER_HOST)
        self.backlog = gen.produce_input(run.seed, PRODUCE_FILES, PRODUCE_PER_FILE)
        self.backlog_dir = run.fresh("backlog")
        gen.write_files(self.backlog_dir, self.backlog.files, run.fresh("stage"))
        self.warm_input = gen.produce_input(run.seed, 1, 1000, first_seq=10**8, prefix="w")
        self.warm_dir = run.fresh("warm")
        gen.write_files(self.warm_dir, self.warm_input.files, run.fresh("stage"))
        self.last_sink = probes.SinkSpool()

    def _factory(self, spool: str, trace: bool = False, parent: str = ""):
        # a picklable zero-argument client factory for make_batch_writer
        return functools.partial(
            probes.BenchSinkClient, spool, self.run.seed, REJECT_PER_MILLE, SAMPLE_MOD,
            trace, parent,
        )

    def _check(self, inp: gen.ProduceInput, spool: probes.SinkSpool) -> None:
        failed = checks.check_produce(
            inp.records, spool.delivered, spool.samples,
            lambda s: gen.expected_v1(inp.records[s]),
        )
        self.run.account(len(inp.records), failed)

    def _run_drain(self, src: str, inp: gen.ProduceInput, traced: bool) -> Drain:
        from logspout_kinesis_tests_spark.streaming.pipeline import (
            file_drip_source,
            produce_pipeline,
            transform,
        )
        from logspout_kinesis_tests_spark.streaming.sink import make_batch_writer

        run, spark = self.run, self.run.spark
        spool, ckpt = run.fresh("spool"), run.fresh("ckpt")
        t = time.perf_counter()
        wall = time.time()
        if traced:
            # the composition produce_pipeline uses, with a span per batch and
            # the batch's span id handed to the client as the put spans' parent
            qid = run.rec.new_id("pipeline.query")

            def batch(df, batch_id):
                with run.rec.span("pipeline.batch", parent=qid) as sid:
                    make_batch_writer(self._factory(spool, True, sid), self.cfg)(df, batch_id)

            query = (
                transform(file_drip_source(spark, src, 1), self.cfg)
                .writeStream.foreachBatch(batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        else:
            query = produce_pipeline(
                spark, src, ckpt, self.cfg, self._factory(spool), max_files_per_trigger=1
            )
        run.await_query(query)
        secs = time.perf_counter() - t
        merged = probes.merge_sink_spool(probes.read_spool(spool))
        if traced:
            run.rec.record("pipeline.query", wall, time.time(), span_id=qid)
            for start, end, _n, _f, _part, parent in merged.puts:
                run.rec.record("sink.put_records", start, end, parent)
            self.last_sink = merged
        self._check(inp, merged)
        return Drain(len(inp.records), secs, progress_dicts(query))

    def warm(self) -> None:
        with self.run.rec.span("pipeline.warm"):
            self._run_drain(self.warm_dir, self.warm_input, traced=False)

    def drain(self, traced: bool = False) -> Drain:
        return self._run_drain(self.backlog_dir, self.backlog, traced)

    def paced_phase(self, seconds: float) -> tuple[list[float], list[float]]:
        from logspout_kinesis_tests_spark.streaming.pipeline import produce_pipeline

        run = self.run
        per_file = int(PRODUCE_RATE * self.interval_s)
        n_files = 1 + max(1, int(seconds / self.interval_s))  # file 0 primes the query
        inp = gen.produce_input(
            run.seed, n_files, per_file, first_seq=10**7,
            interval_us=int(self.interval_s * 1e6), prefix="p",
        )
        src, spool = run.fresh("paced"), run.fresh("spool")
        query = produce_pipeline(
            run.spark, src, run.fresh("ckpt"), self.cfg, self._factory(spool),
            trigger={"processingTime": self.trigger}, max_files_per_trigger=10**6,
        )
        writer = self.run_paced(query, src, inp.files, len(inp.records))
        merged = probes.merge_sink_spool(probes.read_spool(spool))
        self._check(inp, merged)
        latencies = []
        for seq, emit in merged.delivered.items():
            _, due_us = gen.parse_marker(inp.records[seq]["data"])
            if due_us:
                latencies.append((emit - writer.t0 - due_us / 1e6) * 1000.0)
        return latencies, writer.lateness_ms()

    def layer_metrics(self, drain: Drain) -> dict[str, float]:
        from pyspark.sql import functions as F

        from logspout_kinesis_tests_spark.schemas import LOG_INPUT
        from logspout_kinesis_tests_spark.streaming.pipeline import transform
        from logspout_kinesis_tests_spark.streaming.sink import make_batch_writer

        run, spark = self.run, self.run.spark
        m: dict[str, float] = {}
        # sink counts from the last traced streaming drain
        m.update(sink_metrics(self.last_sink, self.cfg.max_records_per_put))

        # isolated layer calls on the staged backlog
        staged = transform(spark.read.schema(LOG_INPUT).json(self.backlog_dir), self.cfg)
        with run.rec.span("etl.transform"):
            t = time.perf_counter()
            staged.write.format("noop").mode("overwrite").save()
            m["etl.transform_s"] = time.perf_counter() - t
        m["etl.bytes_out"] = staged.select(F.sum(F.octet_length("value"))).first()[0]
        m["etl.records"] = len(self.backlog.records)

        spool = run.fresh("spool")
        with run.rec.span("sink.write_batch") as sid:
            t = time.perf_counter()
            make_batch_writer(self._factory(spool, True, sid), self.cfg)(staged, 0)
            m["sink.write_batch_s"] = time.perf_counter() - t
        isolated = probes.merge_sink_spool(probes.read_spool(spool))
        self._check(self.backlog, isolated)
        for start, end, _n, _f, _part, parent in isolated.puts:
            run.rec.record("sink.put_records", start, end, parent)
        return m


def sink_metrics(spool: probes.SinkSpool, max_per_put: int) -> dict[str, float]:
    """Sink counts from the client's spool; a task is one (batch, partition)."""
    puts = spool.puts
    if not puts:
        return {}
    sent = sum(p[2] for p in puts)
    retried = sum(p[3] for p in puts)
    per_task: dict[tuple[str, int], int] = {}
    for _s, _e, n, failed, part, parent in puts:
        per_task[(parent, part)] = per_task.get((parent, part), 0) + n - failed
    per_batch: dict[str, list[int]] = {}
    for (parent, _part), n in per_task.items():
        per_batch.setdefault(parent, []).append(n)
    return {
        "sink.put_calls": len(puts),
        "sink.records_per_put": sent / len(puts),
        "sink.max_records_per_put": max_per_put,
        "sink.put_busy_s": sum(e - s for s, e, *_ in puts),
        "sink.retried_records": retried,
        "sink.retry_ratio": retried / max(1, len(spool.delivered)),
        "sink.records": len(spool.delivered),
        "sink.tasks_used": statistics.median(len(v) for v in per_batch.values()),
        "sink.max_task_share": statistics.median(
            max(v) / sum(v) for v in per_batch.values() if sum(v)
        ),
    }


def _wait_rows(query, rows: int) -> bool:
    """Wait until the query has taken in ``rows`` records."""
    deadline = time.time() + PACED_DRAIN_WAIT_S
    while time.time() < deadline and query.isActive:
        if sum(p.get("numInputRows", 0) for p in progress_dicts(query)) >= rows:
            return True
        time.sleep(0.05)
    return False


# --------------------------------------------------------------------------
# consume
# --------------------------------------------------------------------------
class Consume(Workload):
    name = "consume"
    warm_drains, drains_per_setup = CONSUME_WARM, CONSUME_PER_SETUP
    interval_s, trigger_s = CONSUME_INTERVAL_S, CONSUME_TRIGGER_S

    def __init__(self, run: Run):
        super().__init__(run)
        self.shards = SHARDS
        self.backlog = gen.consume_input(
            run.seed, self.shards, CONSUME_ROUNDS, CONSUME_PER_FILE, CORRUPT_SHARE
        )
        self.backlog_dir = run.fresh("shards")
        gen.write_files(self.backlog_dir, self.backlog.files, run.fresh("stage"))
        self.warm_input = gen.consume_input(run.seed + 1, self.shards, 1, 250, CORRUPT_SHARE)
        self.warm_dir = run.fresh("warm")
        gen.write_files(self.warm_dir, self.warm_input.files, run.fresh("stage"))
        self.last_events: list[list[str]] = []

    def _query(self, store: str, sink, trigger: dict, spool: str = ""):
        from logspout_kinesis_tests_spark.streaming.pull_source import pull_stream

        if spool:
            client, args = "perfbench.probes:traced_shard_client", {"root": store, "spool_dir": spool}
        else:
            client = "logspout_kinesis_tests_spark.streaming.pull_source:file_shard_client"
            args = {"root": store}
        return (
            pull_stream(self.run.spark, client, args, stream=STREAM)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", self.run.fresh("ckpt"))
            .trigger(**trigger)
            .start()
        )

    def _sink(self, seen: dict, qid: str | None = None):
        """foreachBatch: parse, split, and collect the ids on both branches."""
        from logspout_kinesis_tests_spark.operators.etl import parse_consumed, quarantine_split
        from logspout_kinesis_tests_spark.schemas import LOGSTASH_V1

        rec = self.run.rec

        def body(bdf):
            parsed = parse_consumed(bdf, LOGSTASH_V1).persist()
            try:
                good, bad = quarantine_split(parsed)
                ids = [
                    [(r[0], r[1]) for r in d.select("shard_id", "sequence_number").collect()]
                    for d in (good, bad)
                ]
            finally:
                parsed.unpersist()
            emit = time.time()
            for key in ids[0]:
                seen["good"].setdefault(key, emit)
            for key in ids[1]:
                seen["bad"].setdefault(key, emit)

        def sink(bdf, batch_id):
            if qid is None:
                body(bdf)
            else:
                with rec.span("pipeline.batch", parent=qid):
                    body(bdf)

        return sink

    def _check(self, inp: gen.ConsumeInput, seen: dict) -> None:
        failed = checks.check_consume(inp.due, inp.corrupt, seen["good"], seen["bad"])
        self.run.account(len(inp.due), failed)

    def _run_drain(self, store: str, inp: gen.ConsumeInput, traced: bool) -> Drain:
        run = self.run
        seen = {"good": {}, "bad": {}}
        spool = run.fresh("spool") if traced else ""
        qid = run.rec.new_id("pipeline.query") if traced else None
        t = time.perf_counter()
        wall = time.time()
        query = self._query(store, self._sink(seen, qid), {"availableNow": True}, spool)
        run.await_query(query)
        secs = time.perf_counter() - t
        if traced:
            run.rec.record("pipeline.query", wall, time.time(), span_id=qid)
            self.last_events = probes.read_spool(spool)
            batches = [s for s in run.rec.spans if s.parent == qid]
            for kind, name in (("G", "pull.get_records"), ("L", "pull.latest_sequences")):
                calls = [c[:2] for c in pull_calls(self.last_events, kind)]
                attach_by_time(run.rec, name, calls, batches, qid)
        self._check(inp, seen)
        return Drain(len(inp.due), secs, progress_dicts(query))

    def warm(self) -> None:
        with self.run.rec.span("pipeline.warm"):
            self._run_drain(self.warm_dir, self.warm_input, traced=False)

    def drain(self, traced: bool = False) -> Drain:
        return self._run_drain(self.backlog_dir, self.backlog, traced)

    def paced_phase(self, seconds: float) -> tuple[list[float], list[float]]:
        run = self.run
        rounds = 1 + max(1, int(seconds / CONSUME_INTERVAL_S))  # round 0 primes the query
        per_file = max(1, int(CONSUME_RATE * CONSUME_INTERVAL_S / self.shards))
        inp = gen.consume_input(
            run.seed + 2, self.shards, rounds, per_file, CORRUPT_SHARE,
            interval_us=int(CONSUME_INTERVAL_S * 1e6),
        )
        store = run.fresh("paced")
        for s in range(self.shards):
            os.makedirs(os.path.join(store, f"shard-{s:03d}"))
        seen = {"good": {}, "bad": {}}
        query = self._query(store, self._sink(seen), {"processingTime": self.trigger})
        writer = self.run_paced(query, store, inp.files, len(inp.due))
        self._check(inp, seen)
        latencies = [
            (emit - writer.t0 - inp.due[key] / 1e6) * 1000.0
            for branch in ("good", "bad")
            for key, emit in seen[branch].items()
            if inp.due[key]
        ]
        return latencies, writer.lateness_ms()

    def layer_metrics(self, drain: Drain) -> dict[str, float]:
        from pyspark.sql import functions as F

        from logspout_kinesis_tests_spark.operators.etl import parse_consumed, quarantine_split
        from logspout_kinesis_tests_spark.schemas import LOGSTASH_V1
        from logspout_kinesis_tests_spark.streaming.pull_source import DEFAULT_FETCH_LIMIT

        run, spark = self.run, self.run.spark
        m: dict[str, float] = {}
        # pull counts from the last traced streaming drain
        gets = pull_calls(self.last_events, "G")
        lasts = pull_calls(self.last_events, "L")
        if gets:
            m["pull.get_records_calls"] = len(gets)
            m["pull.records_per_call"] = sum(g[2] for g in gets) / len(gets)
        m["pull.fetch_limit"] = DEFAULT_FETCH_LIMIT
        m["pull.admission_cap"] = DEFAULT_FETCH_LIMIT * self.shards
        batches = [p for p in drain.progress if p.get("numInputRows", 0) > 0]
        m["pull.latest_offset_ms"] = statistics.median(_dur(p, "latestOffset") for p in batches)
        m["pull.records_per_batch"] = statistics.median(p["numInputRows"] for p in batches)
        m["pull.client_busy_s"] = sum(e - s for s, e, _ in gets + lasts)

        raw = (
            spark.read.schema("data STRING, partition_key STRING")
            .json(os.path.join(self.backlog_dir, "*", "*.jsonl"))
            .withColumnRenamed("data", "value")
        )
        parsed = parse_consumed(raw, LOGSTASH_V1)
        good, bad = quarantine_split(parsed)
        with run.rec.span("etl.parse"):
            t = time.perf_counter()
            good.write.format("noop").mode("overwrite").save()
            bad.write.format("noop").mode("overwrite").save()
            m["etl.parse_s"] = time.perf_counter() - t
        counts = parsed.select(F.count("*")).first()[0]
        m["etl.quarantine_ratio"] = bad.count() / counts
        m["etl.records"] = counts
        m.update(dedup_layer(run))
        return m


# --------------------------------------------------------------------------
# dedup layer (measured inside the consume trace)
# --------------------------------------------------------------------------
def dedup_layer(run: Run) -> dict[str, float]:
    """Drain a corpus with repeated messages through
    ``streaming_incremental_dedup`` and report the dedup layer's metrics.

    The consumer is where at-least-once redeliveries are removed, so the
    consume trace carries this isolated layer call; it is not an end-to-end
    workload (see the benchmark's CHANGES entry for the run budget).
    """
    from logspout_kinesis_tests_spark.streaming.batch_apply import streaming_incremental_dedup

    spark = run.spark
    corpus = gen.dedup_input(run.seed, DEDUP_FILES, DEDUP_PER_FILE, DUP_SHARE)
    src = run.fresh("corpus")
    gen.write_files(src, corpus.files, run.fresh("stage"))
    index, out = run.fresh("index"), run.fresh("out")
    os.rmdir(index)  # the first epoch must find no index
    qid = run.rec.new_id("pipeline.query")
    wall = time.time()
    query = streaming_incremental_dedup(
        spark, src, run.fresh("ckpt"), "doc_id LONG, text STRING", index, out,
        max_files_per_trigger=1,
    )
    run.await_query(query)
    run.rec.record("pipeline.query", wall, time.time(), span_id=qid)
    epochs_ms = []
    for p in progress_dicts(query):
        if p.get("numInputRows", 0) > 0:
            start = _ts(p["timestamp"])
            run.rec.record("dedup.epoch", start, start + _dur(p, "triggerExecution") / 1000, qid)
            epochs_ms.append(_dur(p, "triggerExecution"))
    survivors = {r[0] for r in spark.read.json(out).select("doc_id").collect()}
    run.account(corpus.total, checks.check_dedup(corpus.survivors, survivors))
    files = [
        os.path.join(d, f) for d, _, fs in os.walk(index) for f in fs if f.endswith(".parquet")
    ]
    return {
        "dedup.epochs": len(epochs_ms),
        "dedup.epoch_ms_p50": statistics.median(epochs_ms),
        "dedup.epoch_ms_last": epochs_ms[-1],
        "dedup.index_rows": spark.read.parquet(index).count(),
        "dedup.index_files": len(files),
        "dedup.index_bytes": sum(os.path.getsize(f) for f in files),
        "dedup.drop_ratio": 1.0 - len(survivors) / corpus.total,
        "dedup.expected_drop_ratio": 1.0 - len(corpus.survivors) / corpus.total,
        "dedup.records": corpus.total,
    }


WORKLOADS = {w.name: w for w in (Produce, Consume)}


def run_workload(name: str, seed: int, seconds: float, trace: bool, root: str,
                 cores: int) -> dict:
    """Run one workload; return the result object the CLI prints."""
    workdir = os.path.join(root, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    run = Run(workdir, seed, seconds, cores, run_id=f"{name}-{seed}-{os.getpid()}")
    try:
        workload = WORKLOADS[name](run)
        values = workload.traced() if trace else workload.timed()
    finally:
        run.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    if trace:
        write_spans(os.path.join(root, ".perfbench_out", f"spans-{name}-{seed}.jsonl"),
                    run.rec.spans)
    units = PER_LAYER if trace else END_TO_END
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in values.items()},
    }


def write_spans(path: str, spans: list[probes.Span]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps(s.__dict__) + "\n")

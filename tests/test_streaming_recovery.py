"""Checkpoint kill-and-restart recovery for the ``applyInPandasWithState``
family (VERDICT r7 #3).

``streaming_psi``'s docstring claims "recovered checkpoints recompute
identical PSIs"; cusum and hampel make the equivalent implicit claim.
``test_streaming_stateful.py`` proves continuity across batches in ONE
uninterrupted query — this module proves the checkpoint half: process some
batches, stop, emulate a crash (delete the last commit marker, Spark's
on-disk state after dying mid-batch), restart from the same checkpoint with
more data waiting, and assert byte-identical output vs an uninterrupted run
over the same files.

Sink discipline: the memory sink cannot recover from a checkpoint, so each
batch is collected through ``foreachBatch`` into a per-batch-id JSON file
(overwrite — a replayed epoch rewrites its own file, which is exactly the
idempotence the state store must make safe: the replayed batch reloads the
PRE-batch state version and must recompute the same rows).
"""

from __future__ import annotations

import glob
import json
import os
import time

import pytest as _pytest_mark_mod

#: heavy end-to-end streaming flows — excluded from the fast dev loop
pytestmark = _pytest_mark_mod.mark.slow

from logspout_kinesis_tests_spark.schemas import EVENTS
from logspout_kinesis_tests_spark.streaming.stateful import (
    streaming_cusum,
    streaming_hampel,
    streaming_psi,
)


def _write_events(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _event(i: int, value: float) -> dict:
    return {
        "event_id": i,
        "ts": f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": value,
        "props": "{}",
    }


def _drain(spark, src: str, ckpt: str, out_dir: str, build) -> None:
    """One availableNow pass: every waiting file is its own micro-batch,
    each batch's rows land in ``out_dir/batch-<id>.json`` (overwrite)."""
    os.makedirs(out_dir, exist_ok=True)
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )

    def collect(df, batch_id):
        rows = sorted(json.dumps(r.asDict(), sort_keys=True) for r in df.collect())
        with open(os.path.join(out_dir, f"batch-{batch_id}.json"), "w") as f:
            f.write("\n".join(rows))

    q = (
        build(stream)
        .writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180), "availableNow drain did not terminate"
    # awaitTermination unblocks before the manager deregisters the query;
    # restarting on the same checkpoint in that window trips Spark's
    # concurrent-use guard (SparkConcurrentModificationException)
    deadline = time.monotonic() + 30
    while any(a.id == q.id for a in spark.streams.active):
        assert time.monotonic() < deadline, "query never left the active list"
        time.sleep(0.1)


def _rows(out_dir: str) -> list[str]:
    """All output rows across batches, sorted — the run's canonical bytes."""
    rows: list[str] = []
    for path in glob.glob(os.path.join(out_dir, "batch-*.json")):
        with open(path) as f:
            rows.extend(line for line in f.read().splitlines() if line)
    return sorted(rows)


def _crash_marker(ckpt: str) -> str:
    commits = sorted(
        p
        for p in glob.glob(os.path.join(ckpt, "commits", "*"))
        if "." not in os.path.basename(p)
    )
    assert commits, "phase-A run produced no commits"
    return commits[-1]


def _kill_restart_vs_uninterrupted(spark, tmp_path, build, files):
    """Run ``files`` uninterrupted; run them again with a crash after the
    first half (commit marker deleted → last batch replayed) and a restart
    that also picks up the second half.  Outputs must be byte-identical."""
    # uninterrupted reference
    ref_src = str(tmp_path / "ref_src")
    os.makedirs(ref_src)
    for i, rows in enumerate(files):
        _write_events(os.path.join(ref_src, f"b{i}.json"), rows)
        os.utime(
            os.path.join(ref_src, f"b{i}.json"),
            (1_700_000_000 + i * 60,) * 2,
        )
    ref_out = str(tmp_path / "ref_out")
    _drain(spark, ref_src, str(tmp_path / "ref_ckpt"), ref_out, build)
    ref = _rows(ref_out)
    assert ref, "reference run produced no output — test setup broken"

    # interrupted run: first half, crash, restart with the rest waiting
    src = str(tmp_path / "src")
    os.makedirs(src)
    half = len(files) // 2
    for i, rows in enumerate(files[:half]):
        _write_events(os.path.join(src, f"b{i}.json"), rows)
        os.utime(os.path.join(src, f"b{i}.json"), (1_700_000_000 + i * 60,) * 2)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    _drain(spark, src, ckpt, out, build)

    last = _crash_marker(ckpt)
    replayed_id = int(os.path.basename(last))
    before_replay = open(
        os.path.join(out, f"batch-{replayed_id}.json")
    ).read()
    # crash: offsets/N exists, commits/N doesn't (drop the sidecar .crc
    # too or the replayed commit's rename collides — same as
    # test_streaming_replay's emulation)
    os.remove(last)
    crc = os.path.join(os.path.dirname(last), f".{os.path.basename(last)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    for i, rows in enumerate(files[half:], start=half):
        _write_events(os.path.join(src, f"b{i}.json"), rows)
        os.utime(os.path.join(src, f"b{i}.json"), (1_700_000_000 + i * 60,) * 2)
    _drain(spark, src, ckpt, out, build)

    # the replayed epoch recomputed identical rows (state store reloaded
    # the pre-batch version), and the full run matches the uninterrupted one
    after_replay = open(os.path.join(out, f"batch-{replayed_id}.json")).read()
    assert after_replay == before_replay, "replayed batch diverged"
    assert _rows(out) == ref, "kill-and-restart output != uninterrupted run"
    return ref


def test_streaming_cusum_recovers_from_checkpoint(spark, tmp_path):
    """The running S must survive a crash-restart: with target=50, slack=5
    and every point at 75, S = 20·k only if the restart resumed from the
    checkpointed S, and the alarm set matches the uninterrupted run."""
    files = [
        [_event(i, 75.0) for i in range(b * 4, b * 4 + 4)] for b in range(4)
    ]
    ref = _kill_restart_vs_uninterrupted(
        spark,
        tmp_path,
        lambda s: streaming_cusum(s, target=50.0, slack=5.0, threshold=100.0),
        files,
    )
    got = [json.loads(r) for r in ref]
    got.sort(key=lambda r: r["event_id"])
    assert [r["cusum"] for r in got] == [20.0 * (i + 1) for i in range(16)]
    assert [r["event_id"] for r in got if r["alarm"] == 1] == list(range(5, 16))


def test_streaming_hampel_recovers_from_checkpoint(spark, tmp_path):
    """The 6-value tail ring must survive a crash-restart: the spike is the
    FIRST post-restart row, so it can only be flagged against context whose
    sole home is the recovered state store."""
    files = [
        [_event(i, 50.0) for i in range(0, 4)],
        [_event(i, 50.0) for i in range(4, 8)],
        [_event(8, 99.99)] + [_event(i, 50.0) for i in range(9, 12)],
        [_event(i, 50.0) for i in range(12, 16)],
    ]
    ref = _kill_restart_vs_uninterrupted(
        spark, tmp_path, streaming_hampel, files
    )
    got = [json.loads(r) for r in ref]
    got.sort(key=lambda r: r["event_id"])
    assert [r["event_id"] for r in got if r["outlier"] == 1] == [8]
    assert all(r["med"] == 5000 for r in got if r["event_id"] >= 6)


def test_streaming_psi_recovers_from_checkpoint(spark, tmp_path):
    """The accumulated serving histogram must survive a crash-restart: the
    post-restart PSIs are computed over counts that include pre-crash
    traffic, and every emitted PSI is byte-identical to the uninterrupted
    run's (the docstring's 'recovered checkpoints recompute identical
    PSIs' claim, now tested)."""
    expected = [0.25, 0.25, 0.25, 0.25]
    files = [
        # training-shaped traffic, then sustained drift into bucket 3
        [_event(0, 0.50), _event(1, 1.50), _event(2, 2.50), _event(3, 3.50)],
        [_event(4, 0.50), _event(5, 1.50), _event(6, 2.50), _event(7, 3.50)],
        [_event(8, 3.50), _event(9, 3.99), _event(10, 9.99), _event(11, 3.01)],
        [_event(12, 3.50), _event(13, 3.60), _event(14, 3.70), _event(15, 3.80)],
    ]
    ref = _kill_restart_vs_uninterrupted(
        spark,
        tmp_path,
        lambda s: streaming_psi(s, expected, 0, 399),
        files,
    )
    got = sorted((json.loads(r) for r in ref), key=lambda r: r["n_events"])
    assert [r["n_events"] for r in got] == [4, 8, 12, 16]
    # stable while traffic matches training, drifted once bucket 3 floods —
    # the final PSI sees counts [2,2,2,10], impossible without recovery
    assert abs(got[1]["psi"]) < 1e-12
    assert got[3]["psi"] > 0.25


def test_streaming_percentiles_recovers_from_checkpoint(spark, tmp_path):
    """The accumulated histogram must survive a crash-restart: post-restart
    quantiles rank over counts that include pre-crash traffic, and every
    emitted row is byte-identical to the uninterrupted run."""
    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_percentiles,
    )

    files = [
        [_event(i, i / 100) for i in range(0, 10)],
        [_event(i, i / 100) for i in range(10, 20)],
        [_event(100 + i, 3.00 + i / 100) for i in range(5)],
        [_event(200 + i, 0.05) for i in range(5)],
    ]
    ref = _kill_restart_vs_uninterrupted(
        spark,
        tmp_path,
        lambda s: streaming_percentiles(s, 0, 399, buckets=16),
        files,
    )
    got = sorted((json.loads(r) for r in ref), key=lambda r: r["n_events"])
    assert [r["n_events"] for r in got] == [10, 20, 25, 30]
    # the tail batch (all 3xx cents) moves p99 to the 300-bucket bound; it
    # lands post-crash, over counts whose only home is the recovered store
    assert got[2]["p99_c"] == 324 and got[2]["p50_c"] == 24

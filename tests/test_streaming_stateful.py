"""Watermarked event-time windows and the stateful monitors (CUSUM, Hampel,
PSI, percentiles) in real streaming mode (micro-batches via
maxFilesPerTrigger)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F
from logspout_kinesis_tests_spark.schemas import EVENTS


def _write_events(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_watermark_drops_late_rows(spark, tmp_path):
    """C7 streaming form: 1h tumbling window + 30min watermark; an event
    older than (max_ts - watermark) after window close is discarded."""
    src = str(tmp_path / "src")
    os.makedirs(src)

    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)

    def run_batch() -> None:
        # one availableNow drain per call → deterministic batch boundaries
        # (a single run can coalesce several files into one batch, which
        # would let the late row in before the watermark advances); the
        # memory sink can't recover from a checkpoint, so collect emitted
        # rows via foreachBatch into plain files
        stream = spark.readStream.schema(EVENTS).json(src)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").cast("string").alias("start"), "n")
        )

        def collect(df, batch_id):
            emitted = [(r["start"], r["n"]) for r in df.collect()]
            if emitted:
                with open(os.path.join(out_dir, f"emit-{batch_id}.json"), "w") as f:
                    json.dump(emitted, f)

        q = (
            agg.writeStream.foreachBatch(collect)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # batch 1: events at 10:00-10:20; batch 2 advances time to 13:00 (the
    # watermark passes the 10:00 window's end); batch 3 is a late 10:05 row.
    _write_events(
        os.path.join(src, "f1.json"),
        [
            {"event_id": 1, "ts": "2026-08-13T10:00:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2026-08-13T10:20:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
        ],
    )
    run_batch()
    _write_events(
        os.path.join(src, "f2.json"),
        [{"event_id": 3, "ts": "2026-08-13T13:00:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"}],
    )
    run_batch()
    _write_events(
        os.path.join(src, "f3.json"),
        [{"event_id": 4, "ts": "2026-08-13T10:05:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"}],
    )
    run_batch()
    import glob

    rows: dict[str, int] = {}
    for path in glob.glob(os.path.join(out_dir, "emit-*.json")):
        with open(path) as f:
            rows.update({start: n for start, n in json.load(f)})
    # the 10:00 window closed with exactly the 2 on-time events; the late
    # event_id=4 (10:05, after watermark passed 12:30) was dropped
    assert rows.get("2026-08-13 10:00:00") == 2, rows


def test_streaming_session_window_merges_across_batches(spark, tmp_path):
    """C7 streaming session windows: a session EXTENDED by a later
    micro-batch merges in state (10:00/10:10 in batch 1, 10:15 in batch 2
    → one 3-event session), and emits once the watermark passes its end;
    the still-open 14:00 session is never emitted."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    out_dir = str(tmp_path / "out")
    os.makedirs(out_dir)

    def run_batch() -> None:
        stream = spark.readStream.schema(EVENTS).json(src)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
            )
            .agg(F.count("*").alias("n"))
            .select(
                F.col("w.start").cast("string").alias("start"),
                F.col("w.end").cast("string").alias("end"),
                "user_id",
                "n",
            )
        )

        def collect(df, batch_id):
            emitted = [
                (r["start"], r["end"], r["user_id"], r["n"]) for r in df.collect()
            ]
            if emitted:
                with open(os.path.join(out_dir, f"emit-{batch_id}.json"), "w") as f:
                    json.dump(emitted, f)

        q = (
            agg.writeStream.foreachBatch(collect)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    _write_events(
        os.path.join(src, "f1.json"),
        [
            {"event_id": 1, "ts": "2026-08-13T10:00:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2026-08-13T10:10:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
        ],
    )
    run_batch()
    # extends the open session (gap 5 min < 30), then a far-future event
    # closes it by advancing the watermark past 10:45
    _write_events(
        os.path.join(src, "f2.json"),
        [
            {"event_id": 3, "ts": "2026-08-13T10:15:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 4, "ts": "2026-08-13T14:00:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
        ],
    )
    run_batch()
    run_batch()  # extra drain: emit anything closed by the final watermark

    import glob

    emitted = []
    for path in glob.glob(os.path.join(out_dir, "emit-*.json")):
        with open(path) as f:
            emitted.extend(tuple(r) for r in json.load(f))
    # exactly one closed session: 10:00 → 10:45 (last event + gap), 3 events
    assert emitted == [("2026-08-13 10:00:00", "2026-08-13 10:45:00", 7, 3)], emitted


def test_streaming_cusum_carries_state_across_batches(spark, tmp_path):
    """The running S must survive the micro-batch boundary: a shift split
    across two batches alarms exactly where the batch operator would."""
    from logspout_kinesis_tests_spark.streaming.stateful import streaming_cusum

    src = str(tmp_path / "src")
    os.makedirs(src)
    # target=50, slack=5, threshold=100: every point is +20 over
    # (target+slack), so S = 20·k and the alarm fires at the 6th point —
    # which lands in batch 2 only if state crossed the boundary
    mk = lambda i: {
        "event_id": i,
        "ts": f"2024-01-01 00:00:{i:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": 75.0,
        "props": "{}",
    }
    _write_events(os.path.join(src, "b1.json"), [mk(i) for i in range(4)])
    _write_events(os.path.join(src, "b2.json"), [mk(i) for i in range(4, 8)])
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    out = streaming_cusum(stream, target=50.0, slack=5.0, threshold=100.0)
    q = (
        out.writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT * FROM cusum_stream ORDER BY event_id"
    ).collect()
    assert [r["cusum"] for r in rows] == [20.0 * (i + 1) for i in range(8)]
    # S=120 at event 5 (6th point): crosses only because batch-1 state carried
    assert [r["event_id"] for r in rows if r["alarm"] == 1] == [5, 6, 7]


def test_streaming_hampel_carries_tail_across_batches(spark, tmp_path):
    """The trailing-window ring must survive the micro-batch boundary: a
    spike in batch 2 is judged against context that arrived in batch 1."""
    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_hampel,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = lambda i, v: {
        "event_id": i,
        "ts": f"2024-01-01 00:00:{i:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": v,
        "props": "{}",
    }
    # batch 1: six flat points (the context); batch 2: a spike then flat —
    # the spike can only be flagged if batch-1 values are in state
    _write_events(
        os.path.join(src, "b1.json"), [base(i, 50.0) for i in range(6)]
    )
    _write_events(
        os.path.join(src, "b2.json"),
        [base(6, 99.99), base(7, 50.0), base(8, 50.0)],
    )
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    out = streaming_hampel(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("hampel_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT * FROM hampel_stream ORDER BY event_id"
    ).collect()
    assert len(rows) == 9
    # replay the trailing-window semantics in plain Python
    tail: list[int] = []
    want_flags = []
    for c in [5000] * 6 + [9999, 5000, 5000]:
        vs = sorted(tail[-6:] + [c])
        med = vs[(len(vs) + 1) // 2 - 1]
        mad = sorted(abs(x - med) for x in vs)[(len(vs) + 1) // 2 - 1]
        want_flags.append(1 if abs(c - med) * 10000 > 44478 * mad else 0)
        tail.append(c)
    assert [r["outlier"] for r in rows] == want_flags
    # the spike (and only the spike) is flagged — proves batch-1 context
    # crossed the boundary: within batch 2 alone the spike is the FIRST
    # row and a 1-tap window can never flag
    assert [r["event_id"] for r in rows if r["outlier"] == 1] == [6]
    assert all(r["med"] == 5000 for r in rows if r["event_id"] >= 6)


def test_streaming_psi_accumulates_across_batches(spark, tmp_path):
    """The serving histogram must survive the micro-batch boundary: after
    batch 2 the PSI reflects ALL arrived traffic, not batch 2 alone, and
    each batch's emitted PSI equals a plain-Python replay of the identical
    arithmetic in arrival order (bit-exact: same ops, same order)."""
    import math

    from logspout_kinesis_tests_spark.streaming.stateful import streaming_psi

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = lambda i, v: {
        "event_id": i,
        "ts": f"2024-01-01 00:00:{i:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": v,
        "props": "{}",
    }
    # frozen training histogram: uniform over 4 buckets on cents 0..399
    expected = [0.25, 0.25, 0.25, 0.25]
    mn, mx = 0, 399
    # batch 1: traffic matching training (one point per bucket);
    # batch 2: drift — all points land in bucket 3 (incl. one clipped
    # from beyond the training range)
    _write_events(
        os.path.join(src, "b1.json"),
        [base(0, 0.50), base(1, 1.50), base(2, 2.50), base(3, 3.50)],
    )
    _write_events(
        os.path.join(src, "b2.json"),
        [base(4, 3.50), base(5, 3.99), base(6, 9.99), base(7, 3.01)],
    )
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    out = streaming_psi(stream, expected, mn, mx)
    q = (
        out.writeStream.format("memory")
        .queryName("psi_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM psi_stream ORDER BY n_events").collect()
    assert [r["n_events"] for r in rows] == [4, 8]

    # plain-Python replay, arrival order, identical arithmetic
    def replay(counts):
        nt = sum(counts)
        psi = 0.0
        for c, e in zip(counts, expected):
            a = (c / nt) if c else 0.0001
            psi += (a - e) * math.log(a / e)
        return psi

    # batch 1: one point per bucket -> perfectly stable
    assert rows[0]["psi"] == replay([1, 1, 1, 1])
    assert abs(rows[0]["psi"]) < 1e-12
    # batch 2 CUMULATIVE: [1,1,1,5] — only possible if batch-1 counts
    # crossed the boundary (batch 2 alone would be [0,0,0,4])
    assert rows[1]["psi"] == replay([1, 1, 1, 5])
    assert rows[1]["psi"] > 0.1  # drifted per the standard PSI bands


def test_streaming_hampel_negative_cents_round_half_away(spark, tmp_path):
    """ADVICE r7: cents rounding must be HALF-AWAY-FROM-ZERO for negative
    values too (floor(x·100+0.5) alone rounds -12.5 cents to -12).  -0.125
    is exact in binary, so -0.125·100 = -12.5 exactly: half-away gives
    -13, the old toward-+inf expression gave -12."""
    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_hampel,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events(
        os.path.join(src, "b1.json"),
        [
            {
                "event_id": i,
                "ts": f"2024-01-01 00:00:{i:02d}",
                "user_id": 1,
                "event_type": "m",
                "value": -0.125,
                "props": "{}",
            }
            for i in range(3)
        ],
    )
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        streaming_hampel(stream)
        .writeStream.format("memory")
        .queryName("hampel_neg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM hampel_neg ORDER BY event_id").collect()
    assert [r["cents"] for r in rows] == [-13, -13, -13]
    assert [r["med"] for r in rows] == [-13, -13, -13]


def test_streaming_percentiles_accumulate_across_batches(spark, tmp_path):
    """Grid quantiles reflect ALL arrived traffic and replay exactly in
    plain integer arithmetic: rank k = ceil(q·n), value = the inclusive
    upper cent bound of the bucket holding rank k."""
    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_percentiles,
    )

    mk = lambda i, v: {
        "event_id": i,
        "ts": f"2024-01-01 00:00:{i:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": v,
        "props": "{}",
    }
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 1: cents 0..19 (values 0.00..0.19); batch 2: a heavy tail
    _write_events(os.path.join(src, "b1.json"), [mk(i, i / 100) for i in range(20)])
    _write_events(
        os.path.join(src, "b2.json"),
        [mk(100 + i, 3.00 + i / 100) for i in range(5)],
    )
    mn, mx, B = 0, 399, 16  # span 400, bucket width 25 cents
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        streaming_percentiles(stream, mn, mx, buckets=B)
        .writeStream.format("memory")
        .queryName("pct_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM pct_stream ORDER BY n_events").collect()
    assert [r["n_events"] for r in rows] == [20, 25]

    def replay(cents):
        span = mx - mn + 1
        counts = [0] * B
        for c in cents:
            counts[min(max((c - mn) * B // span, 0), B - 1)] += 1
        n = sum(counts)
        out = []
        for q_num, q_den in ((1, 2), (19, 20), (99, 100)):
            k = max((q_num * n + q_den - 1) // q_den, 1)
            cum = 0
            for i, c in enumerate(counts):
                cum += c
                if cum >= k:
                    out.append(mn + ((i + 1) * span + B - 1) // B - 1)
                    break
        return tuple(out)

    b1 = list(range(20))
    b2 = b1 + [300 + i for i in range(5)]
    assert (rows[0]["p50_c"], rows[0]["p95_c"], rows[0]["p99_c"]) == replay(b1)
    assert (rows[1]["p50_c"], rows[1]["p95_c"], rows[1]["p99_c"]) == replay(b2)
    # batch-1 traffic all sits in bucket 0 → every quantile = 24 (its
    # upper bound); the tail shifts p95/p99 into the 300-cent bucket
    assert rows[0]["p99_c"] == 24
    assert rows[1]["p99_c"] == 324 and rows[1]["p50_c"] == 24


def test_streaming_percentiles_all_null_first_batch_emits_nothing(spark, tmp_path):
    """A key whose traffic so far is all-NULL values has no distribution:
    the monitor emits NO row for it (not an out-of-grid bar with
    n_events=0) — until real values arrive."""
    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_percentiles,
    )

    mk = lambda i, v: {
        "event_id": i,
        "ts": f"2024-01-01 00:00:{i:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": v,
        "props": "{}",
    }
    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_events(os.path.join(src, "b1.json"), [mk(i, None) for i in range(3)])
    _write_events(os.path.join(src, "b2.json"), [mk(10 + i, 0.05) for i in range(4)])
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = (
        streaming_percentiles(stream, 0, 399, buckets=16)
        .writeStream.format("memory")
        .queryName("pct_null_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM pct_null_stream").collect()
    # batch 1 (all NULL) emitted nothing; batch 2 reports only real traffic
    assert [(r["n_events"], r["p50_c"]) for r in rows] == [(4, 24)]


def test_streaming_percentiles_grid_change_across_restart_fails_loud(
    spark, tmp_path
):
    """Restarting from a checkpoint with a different `buckets` than the run
    that wrote the state must FAIL, not silently mis-grid the counts (a
    smaller grid would clip indices and corrupt every quantile)."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_percentiles,
    )

    mk = lambda i, v: {
        "event_id": i,
        "ts": f"2024-01-01 00:00:{i:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": v,
        "props": "{}",
    }
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_events(os.path.join(src, "b1.json"), [mk(i, i / 100) for i in range(8)])
    seen: list[tuple[int, int]] = []

    def start(buckets: int):
        stream = (
            spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        return (
            streaming_percentiles(stream, 0, 399, buckets=buckets)
            .writeStream.foreachBatch(
                lambda df, _bid: seen.extend(
                    (r["n_events"], r["p50_c"]) for r in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start(16)
    assert q.awaitTermination(180)
    while any(a.id == q.id for a in spark.streams.active):
        time.sleep(0.1)
    assert seen == [(8, 24)]

    _write_events(os.path.join(src, "b2.json"), [mk(20 + i, 1.0) for i in range(4)])
    q2 = start(8)
    with pytest.raises(StreamingQueryException, match="16\\s*\\n?\\s*buckets"):
        q2.awaitTermination(180)
        raise AssertionError("restart with a shrunken grid must not succeed")


def test_streaming_percentiles_range_shift_across_restart_fails_loud(
    spark, tmp_path
):
    """Restarting with the SAME bucket count but a shifted [mn, mx] must
    FAIL: the bucket-count check alone would pass while every historical
    count silently lands in the wrong grid cell.  The full (counts, mn,
    mx) contract now travels in the state row."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_percentiles,
    )

    mk = lambda i, v: {
        "event_id": i,
        "ts": f"2024-01-01 00:00:{i:02d}",
        "user_id": 1,
        "event_type": "m",
        "value": v,
        "props": "{}",
    }
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    _write_events(os.path.join(src, "b1.json"), [mk(i, i / 100) for i in range(8)])
    seen: list[tuple[int, int]] = []

    def start(mn: int, mx: int):
        stream = (
            spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        return (
            streaming_percentiles(stream, mn, mx, buckets=16)
            .writeStream.foreachBatch(
                lambda df, _bid: seen.extend(
                    (r["n_events"], r["p50_c"]) for r in df.collect()
                )
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start(0, 399)
    assert q.awaitTermination(180)
    while any(a.id == q.id for a in spark.streams.active):
        time.sleep(0.1)
    assert seen == [(8, 24)]

    _write_events(os.path.join(src, "b2.json"), [mk(20 + i, 1.0) for i in range(4)])
    q2 = start(100, 499)
    with pytest.raises(StreamingQueryException, match=r"\[0, 399\]"):
        q2.awaitTermination(180)
        raise AssertionError("restart with a shifted grid range must not succeed")


def test_streaming_percentiles_match_batch_twin(spark, tmp_path):
    """The r9 batch parity row (c20_grid_percentiles) and the live monitor
    share one contract: same frozen grid, same ceil-rank arithmetic, same
    inclusive-upper-bound emission — so streaming the whole corpus through
    the monitor must land on EXACTLY the batch query's bars."""
    import pyspark.sql.functions as F

    from logspout_kinesis_tests_spark.plans.round9_queries import (
        _PCT_B,
        _PCT_MN,
        _PCT_MX,
        c20_grid_percentiles,
    )
    from logspout_kinesis_tests_spark.streaming.stateful import (
        streaming_percentiles,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = {
        r["event_type"]: (r["n_events"], r["p50_c"], r["p95_c"], r["p99_c"])
        for r in c20_grid_percentiles(spark, sf_dir).collect()
    }
    assert batch

    src = str(tmp_path / "src")
    os.makedirs(src)
    (
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .coalesce(1)
        .write.json(os.path.join(src, "all"))
    )
    stream = spark.readStream.schema(EVENTS).json(os.path.join(src, "all"))
    q = (
        streaming_percentiles(stream, _PCT_MN, _PCT_MX, buckets=_PCT_B)
        .writeStream.format("memory")
        .queryName("pct_parity_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    live = {
        r["event_type"]: (r["n_events"], r["p50_c"], r["p95_c"], r["p99_c"])
        for r in spark.sql("SELECT * FROM pct_parity_stream").collect()
    }
    assert live == batch

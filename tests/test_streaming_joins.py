"""Watermarked event-time windows and watermark-bounded dedup in real
streaming mode (micro-batch boundaries forced via sequential availableNow
drains)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from logspout_kinesis_tests_spark.schemas import EVENTS

DOCS = StructType(
    [
        StructField("doc_key", StringType()),
        StructField("ts", TimestampType()),
        StructField("body", StringType()),
    ]
)


def _write(path: str, rows: list[dict]) -> None:
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
    _write(
        os.path.join(src, "f1.json"),
        [
            {"event_id": 1, "ts": "2026-08-13T10:00:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2026-08-13T10:20:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"},
        ],
    )
    run_batch()
    _write(
        os.path.join(src, "f2.json"),
        [{"event_id": 3, "ts": "2026-08-13T13:00:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"}],
    )
    run_batch()
    _write(
        os.path.join(src, "f3.json"),
        [{"event_id": 4, "ts": "2026-08-13T10:05:00", "user_id": 1, "event_type": "a", "value": 1.0, "props": "{}"}],
    )
    run_batch()

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

    _write(
        os.path.join(src, "f1.json"),
        [
            {"event_id": 1, "ts": "2026-08-13T10:00:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2026-08-13T10:10:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
        ],
    )
    run_batch()
    # extends the open session (gap 5 min < 30), then a far-future event
    # closes it by advancing the watermark past 10:45
    _write(
        os.path.join(src, "f2.json"),
        [
            {"event_id": 3, "ts": "2026-08-13T10:15:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
            {"event_id": 4, "ts": "2026-08-13T14:00:00", "user_id": 7, "event_type": "a", "value": 1.0, "props": "{}"},
        ],
    )
    run_batch()
    run_batch()  # extra drain: emit anything closed by the final watermark

    emitted = []
    for path in glob.glob(os.path.join(out_dir, "emit-*.json")):
        with open(path) as f:
            emitted.extend(tuple(r) for r in json.load(f))
    # exactly one closed session: 10:00 → 10:45 (last event + gap), 3 events
    assert emitted == [("2026-08-13 10:00:00", "2026-08-13 10:45:00", 7, 3)], emitted


def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """Same key within the watermark window emits once; after the watermark
    evicts the key's state, the key may be emitted again (state is bounded,
    by design — exact-forever dedup is streaming_incremental_dedup)."""
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    os.makedirs(src)
    os.makedirs(out_dir)

    def run_drain() -> None:
        stream = spark.readStream.schema(DOCS).json(src)
        deduped = (
            stream.withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["doc_key"])
            .select("doc_key", "body")
        )

        def collect(df, batch_id):
            rows = [(r["doc_key"], r["body"]) for r in df.collect()]
            if rows:
                with open(os.path.join(out_dir, f"emit-{batch_id}.json"), "w") as f:
                    json.dump(rows, f)

        q = (
            deduped.writeStream.foreachBatch(collect)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    # batch 1: first copy of A (emitted) + unrelated B
    _write(
        os.path.join(src, "f1.json"),
        [
            {"doc_key": "A", "ts": "2026-08-13T10:00:00", "body": "a1"},
            {"doc_key": "B", "ts": "2026-08-13T10:01:00", "body": "b1"},
        ],
    )
    run_drain()
    # batch 2: re-delivered A within the watermark → suppressed
    _write(
        os.path.join(src, "f2.json"),
        [{"doc_key": "A", "ts": "2026-08-13T10:05:00", "body": "a2"}],
    )
    run_drain()
    # batch 3: advance event time far past A's eviction point
    _write(
        os.path.join(src, "f3.json"),
        [{"doc_key": "C", "ts": "2026-08-13T14:00:00", "body": "c1"}],
    )
    run_drain()
    # batch 4: A re-appears after state eviction → emitted again
    _write(
        os.path.join(src, "f4.json"),
        [{"doc_key": "A", "ts": "2026-08-13T14:01:00", "body": "a3"}],
    )
    run_drain()

    got = []
    for path in glob.glob(os.path.join(out_dir, "emit-*.json")):
        with open(path) as f:
            got.extend(tuple(r) for r in json.load(f))
    bodies = sorted(b for _, b in got)
    assert "a2" not in bodies, bodies  # in-window duplicate suppressed
    assert bodies == ["a1", "a3", "b1", "c1"], bodies

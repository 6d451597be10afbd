"""Stream-stream interval join and watermark-bounded dedup (micro-batch
boundaries forced via sequential availableNow drains)."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from logspout_kinesis_tests_spark.streaming.joins import (
    dedup_within_watermark,
    stream_interval_join,
)

IMPRESSIONS = StructType(
    [
        StructField("ad_id", LongType()),
        StructField("imp_ts", TimestampType()),
        StructField("campaign", StringType()),
    ]
)
CLICKS = StructType(
    [
        StructField("ad_id", LongType()),
        StructField("click_ts", TimestampType()),
    ]
)
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


def test_stream_stream_interval_join(spark, tmp_path):
    """Clicks join impressions on ad_id only within [imp_ts, imp_ts+30m]."""
    imp_dir, clk_dir = str(tmp_path / "imp"), str(tmp_path / "clk")
    out_dir = str(tmp_path / "out")
    for d in (imp_dir, clk_dir, out_dir):
        os.makedirs(d)

    _write(
        os.path.join(imp_dir, "i1.json"),
        [
            {"ad_id": 1, "imp_ts": "2026-08-13T10:00:00", "campaign": "a"},
            {"ad_id": 2, "imp_ts": "2026-08-13T10:00:00", "campaign": "b"},
            {"ad_id": 3, "imp_ts": "2026-08-13T10:00:00", "campaign": "c"},
        ],
    )
    _write(
        os.path.join(clk_dir, "c1.json"),
        [
            {"ad_id": 1, "click_ts": "2026-08-13T10:10:00"},  # in window
            {"ad_id": 2, "click_ts": "2026-08-13T11:30:00"},  # too late
            {"ad_id": 4, "click_ts": "2026-08-13T10:05:00"},  # no impression
        ],
    )

    imp = spark.readStream.schema(IMPRESSIONS).json(imp_dir)
    clk = spark.readStream.schema(CLICKS).json(clk_dir)
    joined = stream_interval_join(
        imp, clk, "ad_id", left_ts="imp_ts", right_ts="click_ts"
    ).select("ad_id", "campaign")

    def collect(df, batch_id):
        rows = [(r["ad_id"], r["campaign"]) for r in df.collect()]
        if rows:
            with open(os.path.join(out_dir, f"emit-{batch_id}.json"), "w") as f:
                json.dump(rows, f)

    q = (
        joined.writeStream.foreachBatch(collect)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = []
    for path in glob.glob(os.path.join(out_dir, "emit-*.json")):
        with open(path) as f:
            got.extend(tuple(r) for r in json.load(f))
    assert sorted(got) == [(1, "a")]


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
        deduped = dedup_within_watermark(
            stream, ["doc_key"], ts_col="ts", max_delay="30 minutes"
        ).select("doc_key", "body")

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


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """leftOuter: an impression with no click must emit NULL-padded — but
    only after the watermark provably closes its join window.  The closing
    event arrives in a SECOND availableNow drain so the watermark actually
    advances past imp_ts + 30m + 10m."""
    imp_dir, clk_dir, out_dir = (str(tmp_path / d) for d in ("imp", "clk", "out"))
    for d in (imp_dir, clk_dir, out_dir):
        os.makedirs(d)

    _write(
        os.path.join(imp_dir, "i1.json"),
        [
            {"ad_id": 1, "imp_ts": "2026-08-13T10:00:00", "campaign": "a"},
            {"ad_id": 2, "imp_ts": "2026-08-13T10:00:00", "campaign": "b"},
        ],
    )
    _write(
        os.path.join(clk_dir, "c1.json"),
        [{"ad_id": 1, "click_ts": "2026-08-13T10:10:00"}],
    )

    def run():
        imp = spark.readStream.schema(IMPRESSIONS).json(imp_dir)
        clk = spark.readStream.schema(CLICKS).json(clk_dir)
        joined = stream_interval_join(
            imp, clk, "ad_id", left_ts="imp_ts", right_ts="click_ts",
            how="leftOuter",
        ).select("ad_id", "campaign", "click_ts")

        def collect(df, batch_id):
            rows = [
                (r["ad_id"], r["campaign"], r["click_ts"] is None)
                for r in df.collect()
            ]
            if rows:
                path = os.path.join(out_dir, f"emit-{batch_id}.json")
                with open(path, "w") as f:
                    json.dump(rows, f)

        q = (
            joined.writeStream.foreachBatch(collect)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    run()
    # late watermark-advancing traffic on BOTH streams (ad_id 99 matches
    # nothing; its timestamps push the watermark past 10:40 + delay)
    _write(
        os.path.join(imp_dir, "i2.json"),
        [{"ad_id": 99, "imp_ts": "2026-08-13T13:00:00", "campaign": "z"}],
    )
    _write(
        os.path.join(clk_dir, "c2.json"),
        [{"ad_id": 99, "click_ts": "2026-08-13T13:00:00"}],
    )
    run()

    got = set()
    for path in glob.glob(os.path.join(out_dir, "emit-*.json")):
        with open(path) as f:
            got.update(tuple(r) for r in json.load(f))
    assert (1, "a", False) in got          # matched row, click attached
    assert (2, "b", True) in got           # unmatched → NULL-padded emit

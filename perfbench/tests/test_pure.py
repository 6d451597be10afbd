"""Unit tests for the benchmark's pure parts (no Spark).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import checks, gen, probes


# -- percentiles and sample counts ------------------------------------------
def test_percentile_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert probes.percentile(values, 50) == 50
    assert probes.percentile(values, 99) == 99
    assert probes.percentile(values, 100) == 100
    assert probes.percentile([7.0], 99) == 7.0
    assert probes.percentile([3, 1, 2], 50) == 2  # order-independent


def test_percentile_rejects_empty_sample():
    with pytest.raises(ValueError):
        probes.percentile([], 50)


@pytest.mark.parametrize(
    "n, tail", [(5, None), (20, 50.0), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)]
)
def test_supported_tail_needs_ten_samples_beyond(n, tail):
    assert probes.supported_tail(n) == tail


# -- spans --------------------------------------------------------------------
def _span(name, start, end, parent=None, sid=None):
    return probes.Span(name, start, end, parent, sid or name)


def test_self_time_subtracts_child_coverage():
    spans = [
        _span("pipeline.batch", 0.0, 10.0),
        _span("sink.put_records", 1.0, 3.0, "pipeline.batch", "p1"),
        _span("sink.put_records", 2.0, 4.0, "pipeline.batch", "p2"),  # overlaps p1
        _span("sink.put_records", 9.0, 12.0, "pipeline.batch", "p3"),  # runs past parent
    ]
    st = probes.self_times(spans)
    # children cover [1,4] and [9,10] inside the parent: 4 s of 10
    assert st["pipeline.batch"] == pytest.approx(6.0)
    assert st["sink.put_records"] == pytest.approx(2 + 2 + 3)


def test_self_time_never_negative_with_parallel_children():
    spans = [_span("q", 0.0, 1.0)] + [
        _span("c", 0.0, 1.0, "q", f"c{i}") for i in range(4)
    ]
    assert probes.self_times(spans)["q"] == pytest.approx(0.0)


def test_span_recorder_links_parent_and_run_id():
    rec = probes.SpanRecorder("run-1")
    with rec.span("pipeline.query") as qid:
        with rec.span("pipeline.batch", parent=qid):
            pass
    batch, query = rec.spans
    assert batch.parent == query.span_id == qid
    assert {s.run_id for s in rec.spans} == {"run-1"}
    assert query.start <= batch.start <= batch.end <= query.end


# -- open-loop lateness --------------------------------------------------------
def test_lateness_is_measured_from_due_time_and_never_negative():
    plans = [gen.FilePlan("a", b"", 0), gen.FilePlan("b", b"", 100_000), gen.FilePlan("c", b"", 200_000)]
    t0 = 1000.0
    published = [1000.002, 1000.090, 1000.450]  # on time, early, 250 ms late
    late = gen.lateness_ms(t0, plans, published)
    assert late[0] == pytest.approx(2.0)
    assert late[1] == 0.0
    assert late[2] == pytest.approx(250.0)


@pytest.mark.parametrize("now", [1200.0, 1200.01, 1202.99])
def test_schedule_starts_half_an_interval_after_the_next_trigger_tick(now):
    first = gen.aligned_start(now, trigger_s=3.0, interval_s=0.2)
    assert first == pytest.approx(1203.1)
    # every later file stays at least half an interval clear of a trigger tick
    for k in range(30):
        phase = (first + k * 0.2) % 3.0
        assert min(phase, 3.0 - phase) >= 0.1 - 1e-9


def test_open_loop_writer_publishes_every_file_without_waiting(tmp_path):
    plans = [gen.FilePlan(f"s/f{k}.json", b"x\n", k * 10_000) for k in range(5)]
    import time

    w = gen.OpenLoopWriter(str(tmp_path / "root"), plans, str(tmp_path / "stage"), time.time())
    w.start()
    w.join(timeout=10)
    assert not w.is_alive()
    assert sorted(os.listdir(tmp_path / "root" / "s")) == [f"f{k}.json" for k in range(5)]
    assert len(w.lateness_ms()) == 5


# -- spool merge ---------------------------------------------------------------
def test_spool_merge_keeps_first_emit(tmp_path):
    spool = tmp_path / "spool"
    spool.mkdir()
    (spool / "sink-1.log").write_text("D\t1\t10.5\nD\t2\t11.0\nS\t2\t{\"a\":\"x\\ty\"}\n")
    (spool / "sink-2.log").write_text("D\t1\t10.0\nP\t9.0\t9.5\t3\t1\t0\tbatch#1\n")
    merged = probes.merge_sink_spool(probes.read_spool(str(spool)))
    assert merged.delivered == {1: 10.0, 2: 11.0}
    assert merged.samples == {2: '{"a":"x\\ty"}'}
    assert merged.puts == [(9.0, 9.5, 3, 1, 0, "batch#1")]


def test_sink_client_throttles_once_then_accepts(tmp_path):
    client = probes.BenchSinkClient(str(tmp_path), seed=3, reject_per_mille=500, sample_mod=1)
    recs = []
    for seq in range(40):
        rec = gen.log_record(__import__("random").Random(seq), seq, 0)
        recs.append((gen.expected_v1(rec), gen.DOCKER_HOST))
    failed = client.put_records("s", recs)
    assert 0 < len(failed) < 40
    assert client.put_records("s", [recs[i] for i in failed]) == []
    merged = probes.merge_sink_spool(probes.read_spool(str(tmp_path)))
    assert set(merged.delivered) == set(range(40))
    assert merged.samples[5] == recs[5][0]


def test_throttled_share_matches_per_mille():
    share = sum(probes.throttled(7, s, 20) for s in range(100_000)) / 100_000
    assert share == pytest.approx(0.02, abs=0.003)


# -- memory sampler ------------------------------------------------------------
def test_rss_counts_pages_shared_with_a_fork_once():
    ballast = bytearray(b"\x01") * (64 * 2**20)  # 64 MiB of written pages the fork shares
    alone = probes.rss_bytes([os.getpid()])
    child = os.fork()
    if child == 0:
        import time

        time.sleep(30)
        os._exit(0)
    try:
        together = probes.rss_bytes([os.getpid(), child])
    finally:
        os.kill(child, 9)
        os.waitpid(child, 0)
    assert len(ballast) and alone > len(ballast)
    assert together < alone + len(ballast) / 2


# -- output checks -------------------------------------------------------------
def test_check_produce_counts_missing_and_wrong_bytes():
    expected = {1: "a", 2: "b", 3: "c"}.__getitem__
    assert checks.check_produce([1, 2, 3], [1, 2, 3], {2: "b"}, expected) == 0
    assert checks.check_produce([1, 2, 3], [1, 3], {}, expected) == 1
    assert checks.check_produce([1, 2, 3], [1, 2, 3], {2: "B", 3: "c"}, expected) == 1


def test_check_consume_requires_exact_quarantine():
    gen_ids = [("s0", 0), ("s0", 1), ("s1", 0)]
    corrupt = [("s0", 1)]
    assert checks.check_consume(gen_ids, corrupt, [("s0", 0), ("s1", 0)], [("s0", 1)]) == 0
    # corrupt record let through, and one record lost
    assert checks.check_consume(gen_ids, corrupt, [("s0", 0), ("s0", 1)], []) == 2
    # a good record quarantined
    assert checks.check_consume(gen_ids, corrupt, [("s1", 0)], [("s0", 0), ("s0", 1)]) == 1


def test_check_dedup_is_symmetric_difference():
    assert checks.check_dedup({1, 2, 3}, {1, 2, 3}) == 0
    assert checks.check_dedup({1, 2, 3}, {1, 2, 4}) == 2


# -- generator -----------------------------------------------------------------
def test_same_seed_gives_byte_identical_inputs():
    a = gen.produce_input(5, 2, 50, interval_us=100_000)
    b = gen.produce_input(5, 2, 50, interval_us=100_000)
    c = gen.produce_input(6, 2, 50, interval_us=100_000)
    assert [f.payload for f in a.files] == [f.payload for f in b.files]
    assert [f.payload for f in a.files] != [f.payload for f in c.files]
    assert [f.payload for f in gen.consume_input(5, 2, 2, 30, 0.1).files] == [
        f.payload for f in gen.consume_input(5, 2, 2, 30, 0.1).files
    ]
    assert [f.payload for f in gen.dedup_input(5, 3, 40, 0.2).files] == [
        f.payload for f in gen.dedup_input(5, 3, 40, 0.2).files
    ]


def test_records_carry_sequence_id_and_due_time():
    inp = gen.produce_input(1, 3, 10, first_seq=500, interval_us=250_000)
    for k, plan in enumerate(inp.files):
        for line in plan.payload.decode().splitlines():
            rec = json.loads(line)
            seq, due = gen.parse_marker(rec["data"])
            assert due == plan.due_us == k * 250_000
            assert 500 <= seq < 530
            assert 40 <= len(rec["data"].encode()) <= 400
            assert probes.record_seq(gen.expected_v1(rec)) == seq


def test_expected_v1_follows_reference_layout():
    rec = {
        "data": "#1 @0 hello", "source": "stderr", "time": "2026-01-01T00:00:00.000001Z",
        "container_id": "0123456789abcdef" * 4, "container_name": "/web",
        "image": "registry.internal:5000/team/api:1.4.2", "hostname": "h1", "labels": {},
    }
    doc = json.loads(gen.expected_v1(rec))
    assert list(doc) == ["@timestamp", "host", "message", "docker"]
    assert doc["docker"] == {
        "name": "web", "cid": "0123456789ab", "image": "registry.internal",
        "image_tag": "5000/team/api:1.4.2", "source": "stderr",
        "docker_host": gen.DOCKER_HOST,
    }
    untagged = json.loads(gen.expected_v1({**rec, "image": "busybox", "labels": {"a": "b"}}))
    assert "image_tag" not in untagged["docker"]
    assert untagged["docker"]["labels"] == {"a": "b"}


def test_consume_input_marks_corrupt_ids_per_shard():
    inp = gen.consume_input(3, 2, 3, 100, 0.1)
    assert len(inp.due) == 2 * 3 * 100
    assert 0 < len(inp.corrupt) < 100
    assert inp.corrupt <= set(inp.due)
    for plan in inp.files:
        shard = plan.relpath.split("/")[0]
        assert shard in {"shard-000", "shard-001"}


def test_dedup_survivors_are_first_occurrences():
    inp = gen.dedup_input(9, 4, 50, 0.3)
    first: dict[str, int] = {}
    for plan in inp.files:
        for line in plan.payload.decode().splitlines():
            row = json.loads(line)
            first.setdefault(row["text"], row["doc_id"])
    assert set(first.values()) == inp.survivors
    assert inp.total == 200
    assert 0 < inp.total - len(inp.survivors) < inp.total
    first_of_file = [json.loads(p.payload.decode().splitlines()[0])["doc_id"] for p in inp.files]
    assert set(first_of_file) <= inp.survivors

"""Behavioral pins for the round-8 queries — synthetic-table cases that the
driver's oracle comparison can't express (planted changepoints, known
community structure, brute-force dominance)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.plans import REGISTRY
from logspout_kinesis_tests_spark.sources.tables import load_table


def _write_events(spark, sf_dir: str, rows: list[tuple]) -> None:
    """rows: (event_id, ts, user_id, event_type, value, props)."""
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")


def _ts(hour: int, minute: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1) + datetime.timedelta(
        hours=hour, minutes=minute
    )


def test_pettitt_finds_planted_level_shift(spark, tmp_path):
    """40 hourly points: 20 at 1.00 then 20 at 9.00 — U_t peaks at the last
    pre-shift hour, K = the two-segment maximum 2·t·(n−t) = 800."""
    rows = [
        (i, _ts(i), 1, "m", 1.0 if i < 20 else 9.0, "{}") for i in range(40)
    ]
    _write_events(spark, str(tmp_path), rows)
    out = REGISTRY["c16_pettitt_changepoint"].build(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # epoch-hour origin via the builder's own expression (naive datetimes
    # land in the SESSION timezone; python .timestamp() uses the local one)
    base_hour = (
        spark.createDataFrame([(_ts(0),)], "t timestamp")
        .select(F.expr("unix_micros(t) div 3600000000").alias("h"))
        .head()["h"]
    )
    assert r["n"] == 40
    # U_t for a clean two-level shift: |U_t| = 2·t·(n−t)/... with midranks:
    # each low point has midrank 10.5 (R2=21), each high 30.5 (R2=61);
    # U_20 = 20·21 − 20·41 = −400 → K = 400
    assert r["k_stat"] == 400
    assert r["change_hour"] == base_hour + 19
    assert r["p_approx"] < 1e-6


def test_pettitt_flat_series_has_zero_k(spark, tmp_path):
    rows = [(i, _ts(i), 1, "m", 5.0, "{}") for i in range(10)]
    _write_events(spark, str(tmp_path), rows)
    out = REGISTRY["c16_pettitt_changepoint"].build(spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert out[0]["k_stat"] == 0  # all midranks equal → every U_t = 0


def test_ohlc_tiebreak_and_extremes(spark, tmp_path):
    """Two rows share the opening timestamp — min event_id wins open; the
    close is the latest (ts, event_id); high/low scan the whole day."""
    t0 = _ts(0)
    rows = [
        (2, t0, 1, "m", 3.00, "{}"),   # same ts as event 1, higher id
        (1, t0, 1, "m", 1.00, "{}"),   # open
        (3, _ts(0, 30), 1, "m", 9.25, "{}"),  # high
        (4, _ts(1), 1, "m", 0.50, "{}"),      # low
        (5, _ts(2), 1, "m", 4.75, "{}"),      # close
    ]
    _write_events(spark, str(tmp_path), rows)
    out = REGISTRY["c16_ohlc_bars"].build(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["open_c"], r["high_c"], r["low_c"], r["close_c"]) == (
        100,
        925,
        50,
        475,
    )
    assert r["volume"] == 5 and r["turnover_c"] == 100 + 300 + 925 + 50 + 475


def test_kruskal_wallis_replays_in_python(spark, sf_dir):
    """H and the tie correction must equal a plain-Python midrank replay
    over the same values (identical association order, 1e-9)."""
    import math

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
        .collect()
    )
    vals = sorted({r["value"] for r in ev})
    below, seen = {}, 0
    cnt = {}
    for r in ev:
        cnt[r["value"]] = cnt.get(r["value"], 0) + 1
    for v in vals:
        below[v] = seen
        seen += cnt[v]
    n = len(ev)
    groups: dict[str, list[float]] = {}
    for r in ev:
        groups.setdefault(r["event_type"], []).append(r["value"])
    sumterm = 0
    for vs in groups.values():
        s = 0.0
        for v in vs:
            s += round(1 * (below[v] + (float(cnt[v]) + 1) / 2), 1)
        sumterm += round(s * s / float(len(vs)), 6)
    tie3 = sum(
        round(float(c) ** 3 - float(c), 0) for c in cnt.values()
    )
    h_raw = 12 * sumterm / (float(n) * (float(n) + 1)) - 3 * (float(n) + 1)
    tie_c = 1 - tie3 / (float(n) ** 3 - float(n))
    out = REGISTRY["c2_kruskal_wallis"].build(spark, sf_dir).collect()
    assert len(out) == len(groups)
    for r in out:
        assert r["n"] == n
        assert r["n_g"] == len(groups[r["event_type"]])
        assert abs(r["h_stat"] - round(h_raw, 9)) < 1e-9
        assert abs(r["h_corrected"] - round(h_raw / tie_c, 9)) < 1e-9
    assert math.isfinite(out[0]["h_corrected"])


def test_label_propagation_separates_components(spark, tmp_path):
    """Two disjoint K2,2 trade cliques — with the self-vote, each component
    converges to its min node label: communities = the two components."""
    orders = [(k, c) for k, c in [(1, 1), (2, 1), (3, 2), (4, 2), (11, 10), (12, 10), (13, 11), (14, 11)]]
    spark.createDataFrame(
        orders, "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")
    # every (order, supplier) pair inside each clique, quantity over the cut
    li = []
    for ok, suppliers in [
        (1, [1, 2]), (2, [1, 2]), (3, [1, 2]), (4, [1, 2]),
        (11, [10, 11]), (12, [10, 11]), (13, [10, 11]), (14, [10, 11]),
    ]:
        for s in suppliers:
            li.append((ok, s, 50.0))
    spark.createDataFrame(
        li, "l_orderkey long, l_suppkey long, l_quantity double"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = {
        r["community"]: r["size"]
        for r in REGISTRY["c17_label_propagation"].build(spark, str(tmp_path)).collect()
    }
    # component A: customers 1,2 + suppliers 1,2 (min node = customer 1);
    # component B: customers 10,11 + suppliers 10,11 (min node = customer 10)
    assert out == {"c1": 4, "c10": 4}


def test_pareto_skyline_matches_brute_force(spark, sf_dir):
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.col("n_chars").alias("a"),
            F.size(F.array_distinct(F.split(F.lower(F.col("text")), " ")))
            .cast("long")
            .alias("b"),
        )
        .collect()
    )
    pts = [(r["doc_id"], r["a"], r["b"]) for r in docs]
    want = {
        d
        for d, a, b in pts
        if not any(
            ea >= a and eb >= b and (ea > a or eb > b) for _, ea, eb in pts
        )
    }
    got = {
        r["doc_id"]
        for r in REGISTRY["c14_pareto_skyline"].build(spark, sf_dir).collect()
    }
    assert got == want and got
    # frontier sanity: no survivor dominates another survivor
    sky = [(a, b) for d, a, b in pts if d in got]
    for i, (a1, b1) in enumerate(sky):
        for a2, b2 in sky[i + 1 :]:
            assert not (a1 >= a2 and b1 >= b2 and (a1 > a2 or b1 > b2))
            assert not (a2 >= a1 and b2 >= b1 and (a2 > a1 or b2 > b1))

"""Round-9 queries: sessionization analytics, grid percentiles, candle shapes and rolling-band/drawdown/RSI timeseries,
rank statistics (Spearman, Brown–Forsythe), per-node graph coefficients,
text readability/code-detection, curation splits and samples, and a kNN
label vote.

Registered LAST (see plans/__init__) so the staleness-ordered rotation
spends the window's remaining slots on the r4-era green cohort (VERDICT
r8 #1: ~20-25 new + ~25-30 stale re-verifications per round keeps the
cohort clearing through r10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.operators.temporal import sessionize
from logspout_kinesis_tests_spark.plans.registry import register
from logspout_kinesis_tests_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# C7+ — sessionization analytics (VERDICT r8 #1's named backlog family).
# All four queries share the gaps-and-islands session assignment of
# c7_sessionize (reference parity: the ref's pipeline has no session
# notion at all — logspoutkinesis.go:1 is record transport; [EXT] north
# star) and differ only in the aggregate they derive, so the oracle
# restates the lag+cumsum walk once per query.  Durations/gaps are exact
# integer microseconds (unix_micros ↔ epoch_us) — nothing to quantize.
# --------------------------------------------------------------------------

#: One shared CTE: every event tagged (user_id, session_seq) + integer µs.
_SESSION_CTE = """
    brk AS (
        SELECT user_id, event_id, event_type, ts, epoch_us(ts) AS us,
               CASE WHEN ts - lag(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                    >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        FROM events),
    tagged AS (
        SELECT user_id, event_id, event_type, us,
               CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_seq
        FROM brk),
    sessions AS (
        SELECT user_id, session_seq,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(min(us) AS BIGINT) AS start_us,
               CAST(max(us) AS BIGINT) AS end_us
        FROM tagged
        GROUP BY user_id, session_seq)
"""


def _tagged_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "ts",
    )
    return sessionize(ev, tiebreak_cols=("event_id",)).drop("ts")


def _session_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, session_seq, n_events, start_us, end_us) — one shuffle on
    user_id for the sessionize walk, one more for the per-session rollup
    (same key prefix, so AQE coalesces them into one exchange reuse)."""
    return _tagged_events(spark, sf_dir).groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
    )


@register(
    "c7_session_stats",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(max(n_events) AS BIGINT) AS max_events,
           CAST(sum(end_us - start_us) AS BIGINT) AS total_dur_us,
           CAST(max(end_us - start_us) AS BIGINT) AS max_dur_us
    FROM sessions
    GROUP BY user_id
    """,
    doc="C7+: per-user session rollup (count, busiest session, exact total "
    "and max dwell in integer microseconds) over the gaps-and-islands "
    "session assignment — the engagement summary every product-analytics "
    "store derives from its sessionizer.  Two shuffles on user_id (walk + "
    "rollup), integer µs end-to-end.",
)
def c7_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _session_table(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.max("n_events").alias("max_events"),
            F.sum(F.col("end_us") - F.col("start_us")).alias("total_dur_us"),
            F.max(F.col("end_us") - F.col("start_us")).alias("max_dur_us"),
        )
    )


@register(
    "c7_session_conversion",
    oracle=f"""
    WITH {_SESSION_CTE},
    conv AS (
        SELECT user_id, session_seq,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM tagged
        GROUP BY user_id, session_seq)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(converted) AS BIGINT) AS converted_sessions,
           round(CAST(sum(converted) AS DOUBLE) / count(*), 6) AS conv_rate
    FROM conv
    GROUP BY user_id
    """,
    doc="C7+: per-user session conversion — the share of sessions that "
    "contain a purchase, the canonical funnel KPI computed on session "
    "grain rather than event grain.  The converted flag is a max() over "
    "the tagged walk (map-side combinable); the rate divides two exact "
    "BIGINTs, so round(·,6) is engine-stable.",
)
def c7_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    conv = (
        _tagged_events(spark, sf_dir)
        .groupBy("user_id", "session_seq")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted")
        )
    )
    return conv.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("converted").alias("converted_sessions"),
        F.round(
            F.sum("converted").cast("double") / F.count("*"), 6
        ).alias("conv_rate"),
    )


@register(
    "c7_inter_session_gap",
    oracle=f"""
    WITH {_SESSION_CTE},
    gaps AS (
        SELECT user_id,
               start_us - lag(end_us) OVER
                   (PARTITION BY user_id ORDER BY session_seq) AS gap_us
        FROM sessions)
    SELECT user_id,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="C7+: inter-session gap per user — time between a session's last "
    "event and the next session's first, the return-frequency signal "
    "behind churn scoring.  The lag window rides the per-session table "
    "(bounded per user by their session count, partitioned by user_id); "
    "exact integer µs.",
)
def c7_inter_session_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("session_seq")
    gaps = _session_table(spark, sf_dir).select(
        "user_id",
        (F.col("start_us") - F.lag("end_us").over(w)).alias("gap_us"),
    )
    return (
        gaps.filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("sum_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


@register(
    "c7_session_entry_exit",
    oracle=f"""
    WITH {_SESSION_CTE},
    ee AS (
        SELECT user_id, session_seq,
               first(event_type ORDER BY us, event_id) AS entry_type,
               last(event_type ORDER BY us, event_id) AS exit_type
        FROM tagged
        GROUP BY user_id, session_seq)
    SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions
    FROM ee
    GROUP BY entry_type, exit_type
    """,
    doc="C7+: session entry/exit matrix — which event type opens a session "
    "vs which closes it, the landing/bounce flow summary (≤|types|² rows). "
    "Entry/exit are min_by/max_by over (µs, event_id) structs — the same "
    "deterministic pick as the OHLC open/close; the matrix rollup is a "
    "second tiny shuffle.",
)
def c7_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ee = (
        _tagged_events(spark, sf_dir)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min_by(
                "event_type", F.struct(F.col("us"), F.col("event_id"))
            ).alias("entry_type"),
            F.max_by(
                "event_type", F.struct(F.col("us"), F.col("event_id"))
            ).alias("exit_type"),
        )
    )
    return ee.groupBy("entry_type", "exit_type").agg(
        F.count("*").alias("n_sessions")
    )


# --------------------------------------------------------------------------
# C20+ — grid percentiles: a frozen integer-cent grid, ceil-rank
# arithmetic and inclusive-upper-bound emission, so the bars are exact in
# integer arithmetic and reproducible by a bounded-state monitor.
# --------------------------------------------------------------------------

_PCT_MN, _PCT_MX, _PCT_B = 0, 49_999, 256
_PCT_SPAN = _PCT_MX - _PCT_MN + 1


@register(
    "c20_grid_percentiles",
    oracle=f"""
    WITH cents AS (
        SELECT event_type,
               CAST(round(value * 100, 0) AS BIGINT) AS c
        FROM events WHERE value IS NOT NULL),
    b AS (
        SELECT event_type,
               LEAST(GREATEST((c - {_PCT_MN}) * {_PCT_B} // {_PCT_SPAN},
                              0), {_PCT_B - 1}) AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM cents
        GROUP BY 1, 2),
    cum AS (
        SELECT event_type, bucket, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
                    AS BIGINT) AS cum,
               CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM b),
    picks AS (
        SELECT event_type, n,
               min(CASE WHEN cum >= GREATEST((1 * n + 1) // 2, 1)
                        THEN bucket END) AS i50,
               min(CASE WHEN cum >= GREATEST((19 * n + 19) // 20, 1)
                        THEN bucket END) AS i95,
               min(CASE WHEN cum >= GREATEST((99 * n + 99) // 100, 1)
                        THEN bucket END) AS i99
        FROM cum
        GROUP BY event_type, n)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST({_PCT_MN} + ((i50 + 1) * {_PCT_SPAN} + {_PCT_B - 1})
                // {_PCT_B} - 1 AS BIGINT) AS p50_c,
           CAST({_PCT_MN} + ((i95 + 1) * {_PCT_SPAN} + {_PCT_B - 1})
                // {_PCT_B} - 1 AS BIGINT) AS p95_c,
           CAST({_PCT_MN} + ((i99 + 1) * {_PCT_SPAN} + {_PCT_B - 1})
                // {_PCT_B} - 1 AS BIGINT) AS p99_c
    FROM picks
    """,
    doc="C20+: grid percentiles — a frozen "
    "256-cell cent grid over [0, 49999] and exact-integer rank "
    "arithmetic (k = ceil(q·n) via (q_num·n + q_den - 1) div q_den, value "
    "= inclusive upper cent bound of the bucket holding rank k), so a "
    "batch backfill and any monitor on the same grid emit THE SAME bars.  Scale: one "
    "shuffle to (event_type, bucket) counts (≤types·256 rows), windows "
    "only over that bounded table.",
)
def c20_grid_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = (
        ev.select(
            "event_type",
            F.least(
                F.greatest(
                    F.expr(
                        f"(CAST(round(value * 100, 0) AS BIGINT) - {_PCT_MN})"
                        f" * {_PCT_B} div {_PCT_SPAN}"
                    ),
                    F.lit(0),
                ),
                F.lit(_PCT_B - 1),
            ).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = b.select(
        "event_type",
        "bucket",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )

    def pick(q_num: int, q_den: int):
        k = F.greatest(
            F.expr(f"({q_num} * n + {q_den - 1}) div {q_den}"), F.lit(1)
        )
        return F.min(F.when(F.col("cum") >= k, F.col("bucket")))

    def bound(i):
        return (
            F.lit(_PCT_MN)
            + F.expr(
                f"((({i}) + 1) * {_PCT_SPAN} + {_PCT_B - 1}) div {_PCT_B}"
            )
            - 1
        ).cast("long")

    picks = cum.groupBy("event_type", "n").agg(
        pick(1, 2).alias("i50"), pick(19, 20).alias("i95"), pick(99, 100).alias("i99")
    )
    return picks.select(
        "event_type",
        F.col("n").alias("n_events"),
        bound("i50").alias("p50_c"),
        bound("i95").alias("p95_c"),
        bound("i99").alias("p99_c"),
    )


# --------------------------------------------------------------------------
# C16+ — candle shapes on the OHLC bars (the analysis layer the resample
# feeds), all integer cents.
# --------------------------------------------------------------------------


@register(
    "c16_candle_shapes",
    oracle="""
    WITH bars AS (
        SELECT event_type,
               strftime(ts, '%Y-%m-%d') AS day,
               first(CAST(round(value * 100, 0) AS BIGINT)
                     ORDER BY ts, event_id) AS open_c,
               CAST(max(round(value * 100, 0)) AS BIGINT) AS high_c,
               CAST(min(round(value * 100, 0)) AS BIGINT) AS low_c,
               last(CAST(round(value * 100, 0) AS BIGINT)
                    ORDER BY ts, event_id) AS close_c
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, strftime(ts, '%Y-%m-%d'))
    SELECT event_type, day,
           CAST(abs(close_c - open_c) AS BIGINT) AS body_c,
           CAST(high_c - GREATEST(open_c, close_c) AS BIGINT) AS upper_wick_c,
           CAST(LEAST(open_c, close_c) - low_c AS BIGINT) AS lower_wick_c,
           CAST(CASE WHEN close_c > open_c THEN 1
                     WHEN close_c < open_c THEN -1 ELSE 0 END
                AS INTEGER) AS direction
    FROM bars
    """,
    doc="C16+: candlestick anatomy per (metric, day) — body, upper/lower "
    "wick, direction — derived from the same min_by/max_by OHLC rollup as "
    "c16_ohlc_bars (operators/timeseries.py ohlc_aggs), so the bar "
    "semantics stay defined in ONE place; the shape arithmetic is pure "
    "integer-cent projection on the ≤types·days bar table.",
)
def c16_candle_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.timeseries import (
        ohlc_aggs,
        ohlc_projection,
    )

    ev = load_table(spark, sf_dir, "events")
    bars = (
        ohlc_projection(ev)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("event_type", "day")
        .agg(*ohlc_aggs())
    )
    o, c = F.col("open_c"), F.col("close_c")
    return bars.select(
        "event_type",
        "day",
        F.abs(c - o).alias("body_c"),
        (F.col("high_c") - F.greatest(o, c)).alias("upper_wick_c"),
        (F.least(o, c) - F.col("low_c")).alias("lower_wick_c"),
        F.when(c > o, 1).when(c < o, -1).otherwise(0).cast("int").alias("direction"),
    )


# --------------------------------------------------------------------------
# C16+ — rolling-band / drawdown / momentum analytics over the hourly cent
# series (shared hourly rollup; every window partitioned by event_type,
# bounded by the series' hour count).  All decisions in exact integers:
# the Bollinger breach test is cross-multiplied to avoid sqrt entirely,
# RSI divides two exact BIGINTs.
# --------------------------------------------------------------------------

#: Hourly integer-cent sums per metric — the shared series table.
_HOURLY_CTE = """
    hourly AS (
        SELECT event_type,
               epoch_us(ts) // 3600000000 AS hb,
               CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS x_c
        FROM events
        WHERE value IS NOT NULL
        GROUP BY event_type, epoch_us(ts) // 3600000000)
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.select(
            "event_type",
            # exact integer FLOOR division (`div`) on integer µs, matching
            # the oracle's epoch_us // 3600000000 (see round6b precedent)
            F.expr(
                "unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"
            ).alias("hb"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("event_type", "hb")
        .agg(F.sum("cents").alias("x_c"))
    )


@register(
    "c16_bollinger_breach",
    oracle=f"""
    WITH {_HOURLY_CTE},
    roll AS (
        -- quadratic terms in DECIMAL(38,0): x_c is an hourly SUM of
        -- cents, so its square overflows BIGINT once an hour holds
        -- ~1e9 rows; the decimal math runs only over the hourly table
        SELECT event_type, hb, x_c,
               CAST(count(*) OVER w AS BIGINT) AS m,
               CAST(sum(x_c) OVER w AS BIGINT) AS s,
               sum(CAST(CAST(x_c AS DECIMAL(19,0)) * x_c
                        AS DECIMAL(38,0))) OVER w AS ss
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hb
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_type, CAST(hb AS BIGINT) AS hb, x_c,
           CAST(CASE WHEN CAST(CAST(7 * x_c - s AS DECIMAL(19,0))
                               * (7 * x_c - s) AS DECIMAL(38,0))
                          > 4 * (7 * ss
                                 - CAST(CAST(s AS DECIMAL(19,0)) * s
                                        AS DECIMAL(38,0)))
                     THEN 1 ELSE 0 END AS INTEGER) AS breach
    FROM roll
    WHERE m = 7
    """,
    doc="C16+: Bollinger-band breach detection on the hourly cent series — "
    "a bar breaches when it leaves mean ± 2σ of its trailing 7-bar window. "
    "The test is cross-multiplied into pure BIGINT arithmetic ((n·x − S)² "
    "> 4(n·ΣX² − S²) ⟺ (x − μ)² > 4σ²), so no sqrt, no float, no "
    "quantization — bit-exact across engines and partitionings.  Windows "
    "ride the (event_type, hour) rollup, partitioned by the metric.",
)
def c16_bollinger_breach(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(-6, Window.currentRow)
    )
    # quadratic terms in DECIMAL(38,0): x_c is an hourly SUM of cents, so
    # its square overflows BIGINT once an hour holds ~1e9 rows; the decimal
    # arithmetic runs only over the bounded hourly table
    xd = F.col("x_c").cast("decimal(19,0)")
    roll = _hourly(spark, sf_dir).select(
        "event_type",
        "hb",
        "x_c",
        F.count("*").over(w).alias("m"),
        F.sum("x_c").over(w).alias("s"),
        F.sum((xd * F.col("x_c")).cast("decimal(38,0)")).over(w).alias("ss"),
    )
    dev = 7 * F.col("x_c") - F.col("s")
    lhs = (dev.cast("decimal(19,0)") * dev).cast("decimal(38,0)")
    rhs = 4 * (
        7 * F.col("ss")
        - (F.col("s").cast("decimal(19,0)") * F.col("s")).cast("decimal(38,0)")
    )
    return roll.filter(F.col("m") == 7).select(
        "event_type",
        "hb",
        "x_c",
        F.when(lhs > rhs, 1).otherwise(0).cast("int").alias("breach"),
    )


@register(
    "c16_max_drawdown",
    oracle=f"""
    WITH {_HOURLY_CTE},
    dd AS (
        SELECT event_type, hb,
               CAST(max(x_c) OVER (PARTITION BY event_type ORDER BY hb
                                   ROWS UNBOUNDED PRECEDING) - x_c
                    AS BIGINT) AS dd_c
        FROM hourly)
    SELECT event_type,
           CAST(max(dd_c) AS BIGINT) AS max_dd_c,
           CAST(min(CASE WHEN dd_c = (SELECT max(d2.dd_c) FROM dd d2
                                      WHERE d2.event_type = dd.event_type)
                         THEN hb END) AS BIGINT) AS trough_hb
    FROM dd
    GROUP BY event_type
    """,
    doc="C16+: maximum drawdown per metric — largest drop from the running "
    "peak of the hourly cent series, plus the first hour it bottomed "
    "(deterministic min-hb tie-break).  Running max + one rollup, exact "
    "integers; the risk metric every monitoring/trading series ships.",
)
def c16_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    wpeak = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = _hourly(spark, sf_dir).select(
        "event_type",
        "hb",
        (F.max("x_c").over(wpeak) - F.col("x_c")).alias("dd_c"),
    )
    return dd.groupBy("event_type").agg(
        F.max("dd_c").alias("max_dd_c"),
        F.min_by("hb", F.struct(-F.col("dd_c"), F.col("hb"))).alias("trough_hb"),
    )


@register(
    "c16_rsi",
    oracle=f"""
    WITH {_HOURLY_CTE},
    delta AS (
        SELECT event_type, hb,
               x_c - lag(x_c) OVER (PARTITION BY event_type ORDER BY hb)
                   AS d
        FROM hourly),
    roll AS (
        SELECT event_type, hb,
               CAST(count(d) OVER w AS BIGINT) AS m,
               CAST(sum(GREATEST(d, 0)) OVER w AS BIGINT) AS g,
               CAST(sum(GREATEST(-d, 0)) OVER w AS BIGINT) AS l
        FROM delta
        WINDOW w AS (PARTITION BY event_type ORDER BY hb
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, CAST(hb AS BIGINT) AS hb,
           CASE WHEN g + l = 0 THEN 50.0
                ELSE round(100.0 * g / (g + l), 6) END AS rsi
    FROM roll
    WHERE m = 14
    """,
    doc="C16+: 14-bar RSI (cutler's simple-average form — the rolling-sum "
    "variant, not Wilder's recursive smoothing, so it stays a pure window "
    "expression) on the hourly cent series.  Gains/losses are exact "
    "BIGINT window sums; the single closing division of two exact "
    "integers is engine-stable under round(·,6); flat windows pin to 50.",
)
def c16_rsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    wlag = Window.partitionBy("event_type").orderBy("hb")
    delta = _hourly(spark, sf_dir).select(
        "event_type",
        "hb",
        (F.col("x_c") - F.lag("x_c").over(wlag)).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hb")
        .rowsBetween(-13, Window.currentRow)
    )
    roll = delta.select(
        "event_type",
        "hb",
        F.count("d").over(w).alias("m"),
        F.sum(F.greatest(F.col("d"), F.lit(0))).over(w).alias("g"),
        F.sum(F.greatest(-F.col("d"), F.lit(0))).over(w).alias("l"),
    )
    return roll.filter(F.col("m") == 14).select(
        "event_type",
        "hb",
        F.when(F.col("g") + F.col("l") == 0, F.lit(50.0))
        .otherwise(
            F.round(
                F.lit(100.0) * F.col("g") / (F.col("g") + F.col("l")), 6
            )
        )
        .alias("rsi"),
    )


@register(
    "c16_vwap",
    oracle="""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(sum(CAST(round(l_quantity, 0) AS BIGINT)) AS BIGINT)
               AS total_qty,
           round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                          * CAST(round(l_quantity, 0) AS BIGINT))
                      AS DOUBLE)
                 / sum(CAST(round(l_quantity, 0) AS BIGINT)), 6)
               AS vwap_c
    FROM lineitem
    GROUP BY strftime(l_shipdate, '%Y-%m')
    """,
    doc="C16+: volume-weighted average price per ship month over lineitem "
    "— Σ(price·qty)/Σqty with price in integer cents and quantity as "
    "exact integers, so both sums are BIGINT-exact and the one closing "
    "division is engine-stable.  One map-side-combinable shuffle on the "
    "month key.",
)
def c16_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    qty = F.round(F.col("l_quantity"), 0).cast("long")
    return (
        li.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            (price_c * qty).alias("pv"),
            qty.alias("q"),
        )
        .groupBy("ship_month")
        .agg(
            F.sum("q").alias("total_qty"),
            F.round(
                F.sum("pv").cast("double") / F.sum("q"), 6
            ).alias("vwap_c"),
        )
    )


@register(
    "c16_longest_streak",
    oracle=f"""
    WITH {_HOURLY_CTE},
    up AS (
        SELECT event_type, hb,
               CASE WHEN x_c > lag(x_c) OVER
                        (PARTITION BY event_type ORDER BY hb)
                    THEN 1 ELSE 0 END AS up
        FROM hourly),
    grp AS (
        SELECT event_type, up,
               CAST(SUM(1 - up) OVER (PARTITION BY event_type ORDER BY hb
                                      ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS streak_id
        FROM up),
    runs AS (
        -- an island = its break row (up=0) + the consecutive rises after
        -- it, so sum(up) per island IS the run length, and an all-flat
        -- series maxes to 0 with no outer join or second scan
        SELECT event_type, streak_id, CAST(sum(up) AS BIGINT) AS run_len
        FROM grp
        GROUP BY event_type, streak_id)
    SELECT event_type,
           CAST(max(run_len) AS BIGINT) AS longest_up_streak
    FROM runs
    GROUP BY event_type
    """,
    doc="C16+: longest strictly-increasing run per metric on the hourly "
    "cent series — gaps-and-islands with the break-counter cumsum as the "
    "island id (a run of rises shares its Σ(1−up) prefix), then a max "
    "over per-island counts.  The monotone-burst detector for alerting; "
    "windows bounded per metric, exact integers throughout.",
)
def c16_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    wlag = Window.partitionBy("event_type").orderBy("hb")
    wcum = wlag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly = _hourly(spark, sf_dir)
    up = hourly.select(
        "event_type",
        "hb",
        F.when(F.col("x_c") > F.lag("x_c").over(wlag), 1).otherwise(0).alias("up"),
    )
    grp = up.select(
        "event_type",
        "up",
        F.sum(1 - F.col("up")).over(wcum).alias("streak_id"),
    )
    # an island = its break row (up=0) + the consecutive rises after it,
    # so sum(up) per island IS the run length — and an all-flat series
    # maxes to 0 with no outer join and no second scan for the type list
    return (
        grp.groupBy("event_type", "streak_id")
        .agg(F.sum("up").alias("run_len"))
        .groupBy("event_type")
        .agg(F.max("run_len").alias("longest_up_streak"))
    )


# --------------------------------------------------------------------------
# C2+ — rank statistics.  Spearman runs entirely on the JOINT distribution
# table (both variables have bounded distinct values: ≤50 quantities ×
# ≤11 discounts per flag), so midranks, moments and the correlation all
# derive from a ≤550-row-per-group table — no per-row rank join, no
# unbounded window, nothing that grows with corpus size after the first
# count shuffle.
# --------------------------------------------------------------------------


@register(
    "c2_spearman_rho",
    # doubled midranks (2·cum_before + cnt + 1) keep the .5 ties integral;
    # all five moment sums are exact BIGINTs off the joint table; the
    # closing Pearson-on-ranks expression is written with the identical
    # association order on both sides so the IEEE doubles agree bit-exactly
    # even where n·Σxy exceeds 2^53.
    oracle="""
    WITH joint AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_quantity, 0) AS BIGINT) AS qi,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS di,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem
        GROUP BY 1, 2, 3),
    qm AS (
        SELECT flag, qi,
               2 * (CAST(sum(cnt2) OVER (PARTITION BY flag ORDER BY qi)
                         AS BIGINT) - cnt2) + cnt2 + 1 AS x2
        FROM (SELECT flag, qi, CAST(sum(cnt) AS BIGINT) AS cnt2
              FROM joint GROUP BY flag, qi)),
    dm AS (
        SELECT flag, di,
               2 * (CAST(sum(cnt2) OVER (PARTITION BY flag ORDER BY di)
                         AS BIGINT) - cnt2) + cnt2 + 1 AS y2
        FROM (SELECT flag, di, CAST(sum(cnt) AS BIGINT) AS cnt2
              FROM joint GROUP BY flag, di)),
    mom AS (
        -- quadratic moments as DECIMAL(38,0): cnt·x2² ~ 4n³ blows BIGINT
        -- past n ≈ 1.3e6 rows/group (caught by the 10× probe); the agg
        -- runs over the ≤550-cell joint table so the wide type is free
        SELECT j.flag,
               CAST(sum(j.cnt) AS BIGINT) AS n,
               sum(CAST(CAST(j.cnt AS DECIMAL(19,0)) * q.x2
                        AS DECIMAL(38,0))) AS sx,
               sum(CAST(CAST(j.cnt AS DECIMAL(19,0)) * d.y2
                        AS DECIMAL(38,0))) AS sy,
               sum(CAST(CAST(j.cnt AS DECIMAL(19,0)) * q.x2 * q.x2
                        AS DECIMAL(38,0))) AS sxx,
               sum(CAST(CAST(j.cnt AS DECIMAL(19,0)) * d.y2 * d.y2
                        AS DECIMAL(38,0))) AS syy,
               sum(CAST(CAST(j.cnt AS DECIMAL(19,0)) * q.x2 * d.y2
                        AS DECIMAL(38,0))) AS sxy
        FROM joint j
        JOIN qm q ON q.flag = j.flag AND q.qi = j.qi
        JOIN dm d ON d.flag = j.flag AND d.di = j.di
        GROUP BY j.flag)
    SELECT flag, CAST(n AS BIGINT) AS n,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                     * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)
                     <= 0 THEN NULL
                ELSE round(
                    (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    / sqrt((CAST(n AS DOUBLE) * sxx
                            - CAST(sx AS DOUBLE) * sx)
                           * (CAST(n AS DOUBLE) * syy
                              - CAST(sy AS DOUBLE) * sy)), 6)
           END AS rho
    FROM mom
    """,
    doc="C2+: Spearman rank correlation (quantity vs discount per return "
    "flag) — the tie-corrected midrank form, computed ENTIRELY on the "
    "bounded joint-distribution table: one shuffle to (flag, qty, "
    "discount) counts, midranks from windows over the ≤50/≤11-row "
    "marginal tables, five exact BIGINT moment sums, one closing "
    "Pearson-on-ranks division.  The monotone-association screen for "
    "bounded-cardinality feature pairs at any corpus size.",
)
def c2_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the joint table feeds THREE consumers (both marginal midrank maps
    # re-aggregate it + the moment join reads it): checkpoint the ≤550-
    # rows-per-flag table once so the lineitem scan runs once, not 3x
    joint = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.round("l_quantity", 0).cast("long").alias("qi"),
            F.round(F.col("l_discount") * 100, 0).cast("long").alias("di"),
        )
        .groupBy("flag", "qi", "di")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )

    def midrank2(col: str, out: str) -> DataFrame:
        marg = joint.groupBy("flag", col).agg(F.sum("cnt").alias("cnt2"))
        w = (
            Window.partitionBy("flag")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return marg.select(
            "flag",
            col,
            (
                2 * (F.sum("cnt2").over(w) - F.col("cnt2"))
                + F.col("cnt2")
                + 1
            ).alias(out),
        )

    # quadratic moments in DECIMAL(38,0): cnt·x2² ~ 4n³ overflows BIGINT
    # past n ≈ 1.3e6 rows per group (the 10× probe caught exactly this);
    # the agg runs over the ≤550-cell joint table, so the wide type is free
    cnt_d = F.col("cnt").cast("decimal(19,0)")
    mom = (
        joint.join(F.broadcast(midrank2("qi", "x2")), ["flag", "qi"])
        .join(F.broadcast(midrank2("di", "y2")), ["flag", "di"])
        .groupBy("flag")
        .agg(
            F.sum("cnt").alias("n"),
            F.sum((cnt_d * F.col("x2")).cast("decimal(38,0)")).alias("sx"),
            F.sum((cnt_d * F.col("y2")).cast("decimal(38,0)")).alias("sy"),
            F.sum((cnt_d * F.col("x2") * F.col("x2")).cast("decimal(38,0)")).alias("sxx"),
            F.sum((cnt_d * F.col("y2") * F.col("y2")).cast("decimal(38,0)")).alias("syy"),
            F.sum((cnt_d * F.col("x2") * F.col("y2")).cast("decimal(38,0)")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return mom.select(
        "flag",
        "n",
        F.when(vx * vy <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(cov / F.sqrt(vx * vy), 6))
        .alias("rho"),
    )


@register(
    "c2_brown_forsythe",
    # Levene's test with the median center (Brown–Forsythe): robust
    # equality-of-variance screen.  |x − median| is kept integral by the
    # ×2 trick (dev2 = |2x − 2·median|, and 2·median of integers is exact
    # under linear interpolation), per-group terms quantized to
    # DECIMAL(38,6) before the ≤|groups|-row cross-group sums (the KW
    # discipline), one closing F-ratio division.
    oracle="""
    WITH cents AS (
        SELECT event_type AS g,
               CAST(round(value * 100, 0) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL),
    med AS (
        SELECT g, CAST(2 * quantile_cont(x, 0.5) AS BIGINT) AS med2
        FROM cents GROUP BY g),
    dev AS (
        SELECT c.g, abs(2 * c.x - m.med2) AS z
        FROM cents c JOIN med m ON m.g = c.g),
    pg AS (
        -- z² ≈ 1e10 per row at cent scale, so the quadratic moment goes
        -- DECIMAL(38,0) (BIGINT wraps past ~9e8 rows/group); z itself is
        -- bounded by the value grid, so the linear sum stays BIGINT
        SELECT g,
               CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(z) AS BIGINT) AS s_g,
               sum(CAST(CAST(z AS DECIMAL(19,0)) * z AS DECIMAL(38,0)))
                   AS ss_g
        FROM dev GROUP BY g),
    tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(s_g) AS BIGINT) AS s
        FROM pg),
    terms AS (
        SELECT CAST(sum(CAST(round(
                   n_g * (CAST(s_g AS DOUBLE) / n_g
                          - CAST(t.s AS DOUBLE) / t.n)
                       * (CAST(s_g AS DOUBLE) / n_g
                          - CAST(t.s AS DOUBLE) / t.n), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS between_ss,
               CAST(sum(CAST(round(
                   CAST(ss_g AS DOUBLE)
                   - CAST(s_g AS DOUBLE) * s_g / n_g, 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS within_ss,
               max(t.n) AS n, max(t.k) AS k
        FROM pg, tot t)
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           CASE WHEN within_ss <= 0 OR k < 2 THEN NULL
                ELSE round((CAST(n AS DOUBLE) - k) / (k - 1)
                           * between_ss / within_ss, 6)
           END AS f_stat
    FROM terms
    """,
    doc="C2+: Brown–Forsythe test (Levene with median centers) across the "
    "event-type groups — the robust equality-of-variance screen that "
    "tolerates the heavy-tailed metrics ANOVA's mean-centered form does "
    "not.  Exact per-group sums of the doubled integer deviations "
    "|2x − 2·median| (quadratic moment in DECIMAL(38,0) — BIGINT wraps "
    "past ~9e8 rows/group), DECIMAL(38,6)-quantized cross-group terms, one "
    "closing ratio.  Group medians come from the exact percentile "
    "aggregate (2·median of integers is integral under linear "
    "interpolation, so the doubling keeps everything exact).",
)
def c2_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    med = cents.groupBy("g").agg(
        (2 * F.expr("percentile(x, 0.5)")).cast("long").alias("med2")
    )
    dev = cents.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("x") - F.col("med2")).alias("z")
    )
    # pg feeds the totals AND the per-group terms: checkpoint the
    # ≤|groups|-row table so the events scan + percentile agg run once
    # z² ≈ 1e10 per row at cent scale → the quadratic moment accumulates
    # as DECIMAL(38,0) (BIGINT wraps past ~9e8 rows/group)
    pg = dev.groupBy("g").agg(
        F.count("*").alias("n_g"),
        F.sum("z").alias("s_g"),
        F.sum(
            (F.col("z").cast("decimal(19,0)") * F.col("z")).cast("decimal(38,0)")
        ).alias("ss_g"),
    ).localCheckpoint(eager=True)
    tot = pg.agg(
        F.sum("n_g").alias("n"),
        F.count("*").alias("k"),
        F.sum("s_g").alias("s"),
    )
    joined = pg.crossJoin(F.broadcast(tot))
    mg = F.col("s_g").cast("double") / F.col("n_g")
    m = F.col("s").cast("double") / F.col("n")
    terms = joined.agg(
        F.sum(
            F.round(F.col("n_g") * (mg - m) * (mg - m), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("between_ss"),
        F.sum(
            F.round(
                F.col("ss_g").cast("double")
                - F.col("s_g").cast("double") * F.col("s_g") / F.col("n_g"),
                6,
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("within_ss"),
        F.max("n").alias("n"),
        F.max("k").alias("k"),
    )
    return terms.select(
        F.col("n"),
        F.col("k"),
        F.when((F.col("within_ss") <= 0) | (F.col("k") < 2), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                (F.col("n").cast("double") - F.col("k"))
                / (F.col("k") - 1)
                * F.col("between_ss")
                / F.col("within_ss"),
                6,
            )
        )
        .alias("f_stat"),
    )


# --------------------------------------------------------------------------
# C17+ — node-level graph coefficients over the SAME co-purchase graph as
# c17_triangle_count (part pairs co-ordered in ≥2 distinct orders), so
# the whole C17 family reads one graph definition.
# --------------------------------------------------------------------------

_CC_SUPPORT = 2  # same support cut as c17_triangle_count

_COPURCHASE_EDGES_CTE = f"""
    op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    pe AS (
        SELECT a.p AS u, b.p AS v, count(*) AS support
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p),
    edges AS (SELECT u, v FROM pe WHERE support >= {_CC_SUPPORT})
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered distinct co-purchase edges (u < v), checkpointed once —
    the downstream queries read it from 2-5 join branches."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a = op.select("o", F.col("p").alias("u"))
    b = op.select("o", F.col("p").alias("v"))
    edges = (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _CC_SUPPORT)
        .select("u", "v")
    )
    return edges.localCheckpoint(eager=True)


@register(
    "c17_clustering_coefficient",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_CTE},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v FROM edges)
        GROUP BY node),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e3.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    corner AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        FROM (SELECT a AS node FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY node)
    SELECT d.node, d.degree,
           CAST(coalesce(c.n_tri, 0) AS BIGINT) AS n_tri,
           round(2.0 * coalesce(c.n_tri, 0)
                 / (d.degree * (d.degree - 1)), 6) AS cc
    FROM deg d LEFT JOIN corner c ON c.node = d.node
    WHERE d.degree >= 2
    """,
    doc="C17+: local clustering coefficient per node (2·tri/(deg·(deg−1))) "
    "over the part co-purchase graph — the node-level community-tightness "
    "signal c17_triangle_count only reports globally.  Same "
    "compact-forward triangle enumeration (operators/graph.py "
    "local_clustering_coefficient), corners exploded and counted, one "
    "closing exact-rational division; the edge table is checkpointed once "
    "for its five join branches.",
)
def c17_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.graph import (
        local_clustering_coefficient,
    )

    return local_clustering_coefficient(_copurchase_edges(spark, sf_dir))


@register(
    "c17_degree_assortativity",
    # Newman's degree assortativity = Pearson r of (deg_u, deg_v) over the
    # DOUBLED edge list (both orientations), so the statistic is symmetric
    # without a half-weight correction.  All moment sums exact BIGINTs;
    # closing expression written identically on both sides.
    oracle=f"""
    WITH {_COPURCHASE_EDGES_CTE},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v FROM edges)
        GROUP BY node),
    -- over the symmetrized edge list each node appears deg(v) times as an
    -- endpoint, so m = Σdeg, Σx = Σdeg², Σx² = Σdeg³ fall out of the
    -- |nodes|-sized degree table; only Σxy needs the edge pass.  Cubic and
    -- product moments in DECIMAL(38,0) (deg³ sums blow BIGINT on hubby
    -- graphs).
    nm AS (
        SELECT CAST(sum(degree) AS BIGINT) AS m,
               sum(CAST(degree * degree AS DECIMAL(38,0))) AS sx,
               sum(CAST(CAST(degree AS DECIMAL(19,0)) * degree * degree
                        AS DECIMAL(38,0))) AS sxx
        FROM deg),
    em AS (
        SELECT sum(CAST(CAST(du.degree AS DECIMAL(19,0)) * dv.degree
                        AS DECIMAL(38,0))) AS sxyh
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v),
    mom AS (
        SELECT nm.m, nm.sx, nm.sxx, 2 * em.sxyh AS sxy FROM nm, em)
    SELECT CAST(m // 2 AS BIGINT) AS n_edges,
           CASE WHEN CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx <= 0
                THEN NULL
                ELSE round((CAST(m AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sx)
                           / (CAST(m AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx), 6)
           END AS assortativity
    FROM mom
    """,
    doc="C17+: degree assortativity of the co-purchase graph — Pearson "
    "correlation of endpoint degrees over the symmetrized edge list, the "
    "one-number summary of whether hubs link to hubs (assortative > 0) or "
    "to leaves (disassortative < 0).  Two broadcast-joined degree lookups "
    "+ exact BIGINT moment sums; by symmetry Σx = Σy and Σx² = Σy², so "
    "the closing expression needs only three moments.",
)
def c17_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _copurchase_edges(spark, sf_dir)
    # deg is joined twice (u side + v side): checkpoint the |nodes|-sized
    # table once instead of re-aggregating the edge list per branch
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .localCheckpoint(eager=True)
    )
    # over the symmetrized edge list each node appears deg(v) times as an
    # endpoint, so m = Σdeg, Σx = Σdeg², Σx² = Σdeg³ fall out of the
    # |nodes|-sized degree table; only Σxy needs the edge pass.  Cubic and
    # product moments in DECIMAL(38,0) — deg³ sums blow BIGINT on hubby
    # graphs, and the decimal cost rides tables no bigger than the inputs.
    dd = F.col("degree").cast("decimal(19,0)")
    nm = deg.agg(
        F.sum("degree").alias("m"),
        F.sum((F.col("degree") * F.col("degree")).cast("decimal(38,0)")).alias("sx"),
        F.sum((dd * F.col("degree") * F.col("degree")).cast("decimal(38,0)")).alias("sxx"),
    )
    em = (
        edges.join(
            deg.select(F.col("node").alias("u"), F.col("degree").alias("x")), "u"
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("degree").alias("y")), "v"
        )
        .agg(
            F.sum(
                (F.col("x").cast("decimal(19,0)") * F.col("y")).cast(
                    "decimal(38,0)"
                )
            ).alias("sxyh")
        )
    )
    mom = nm.crossJoin(em).select(
        "m", "sx", "sxx", (2 * F.col("sxyh")).alias("sxy")
    )
    md = F.col("m").cast("double")
    var = md * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    cov = md * F.col("sxy") - F.col("sx").cast("double") * F.col("sx")
    return mom.select(
        F.expr("m div 2").alias("n_edges"),
        F.when(var <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(cov / var, 6))
        .alias("assortativity"),
    )


# --------------------------------------------------------------------------
# C11+ — readability and lexical-diversity profiling (whitespace tokenizer
# shared with the rest of the text family: string_split(lower(text),' ')
# ↔ F.split(F.lower(text), ' ')).
# --------------------------------------------------------------------------


@register(
    "c11_readability",
    # Flesch-Kincaid grade with a sentence floor (max(1, terminator runs))
    # so punctuation-free corpora degrade to whole-doc-as-one-sentence
    # instead of dividing by zero; syllables ≈ vowel runs (the standard
    # dictionary-free proxy).  The closing expression divides exact
    # BIGINT counts — engine-stable under round(·,6).
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
               AS n_words,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
               AS n_syll,
           CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                AS BIGINT) AS n_sent,
           CASE WHEN len(regexp_extract_all(text, '[A-Za-z]+')) = 0
                THEN NULL
                ELSE round(
                    0.39 * CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
                                AS DOUBLE)
                         / GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                    + 11.8 * CAST(len(regexp_extract_all(lower(text),
                                                         '[aeiouy]+'))
                                  AS DOUBLE)
                           / len(regexp_extract_all(text, '[A-Za-z]+'))
                    - 15.59, 6)
           END AS fk_grade
    FROM documents
    """,
    doc="C11+: Flesch-Kincaid grade estimate per document — alphabetic "
    "words, vowel-run syllable proxy, terminator-run sentences (floored "
    "at 1 for punctuation-free text) — the classic readability screen "
    "used as an LLM-corpus quality signal.  Three regexp_count scans in "
    "one codegen stage, no shuffle at all (per-row projection).",
)
def c11_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.regexp_count(F.col("text"), F.lit("[A-Za-z]+"))
    syll = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
    sent = F.greatest(
        F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
    )
    return docs.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        syll.cast("long").alias("n_syll"),
        sent.cast("long").alias("n_sent"),
        F.when(words == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.lit(0.39) * words.cast("double") / sent
                + F.lit(11.8) * syll.cast("double") / words
                - F.lit(15.59),
                6,
            )
        )
        .alias("fk_grade"),
    )


@register(
    "c11_lexical_diversity",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
    tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok WHERE term <> ''
        GROUP BY doc_id, term)
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           round(CAST(count(*) AS DOUBLE) / sum(tf), 6) AS ttr
    FROM tf
    GROUP BY doc_id
    """,
    doc="C11+: lexical diversity per document — type-token ratio and hapax "
    "count, the vocabulary-richness quality signal (templated/spammy docs "
    "score low TTR, natural prose high).  One explode + per-(doc, term) "
    "count with map-side combine, then a per-doc rollup; the closing TTR "
    "divides two exact BIGINTs.",
)
def c11_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.round(F.count("*").cast("double") / F.sum("tf"), 6).alias("ttr"),
    )


# --------------------------------------------------------------------------
# C14+/C20+ — curation shapes: quota sampling, leak-free temporal split,
# round-robin source interleave, vocabulary coverage.
# --------------------------------------------------------------------------


@register(
    "c14_quota_sample",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents)
    SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 20
    """,
    doc="C14+: per-language quota sample — the first 20 documents of each "
    "language in deterministic md5(doc_id) order, the balanced-quota "
    "selection used to cap over-represented strata (pairs with "
    "c14_stratified_sample's proportional draw).  One shuffle on lang; "
    "md5 hex order is engine-portable (fixed-width lowercase hex compares "
    "lexicographically identically in both engines).",
)
def c14_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "lang", "source", F.row_number().over(w).alias("rk")
        )
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", "source", F.col("rk").cast("long").alias("rk"))
    )


@register(
    "c14_temporal_split_days",
    # Day-granular temporal split: whole days assigned train/val/test by
    # where the END-of-day cumulative count sits against the 80%/90%
    # thresholds (strict integer comparison 10·cum ≤ 8·n — no floats).
    # Day granularity is the point, not a shortcut: row-level splits cut
    # MID-day, leaking same-day context across splits.
    oracle="""
    WITH days AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)),
    cum AS (
        SELECT event_type, day, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS cum,
               CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM days),
    tagged AS (
        SELECT event_type, cnt,
               CASE WHEN 10 * cum <= 8 * n THEN 'train'
                    WHEN 10 * cum <= 9 * n THEN 'val'
                    ELSE 'test' END AS split,
               day
        FROM cum)
    SELECT event_type, split,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           strftime(min(day), '%Y-%m-%d') AS first_day,
           strftime(max(day), '%Y-%m-%d') AS last_day
    FROM tagged
    GROUP BY event_type, split
    """,
    doc="C14+: leak-free temporal 80/10/10 split per metric — whole DAYS "
    "assigned by exact integer thresholds on the end-of-day cumulative "
    "count (10·cum ≤ 8·n), so no day straddles two splits and future "
    "data never leaks into train.  The window rides the bounded "
    "(event_type, day) rollup; events then join their day's verdict — at "
    "100 TB the day table broadcasts and the split is a map-side tag.",
)
def c14_temporal_split_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = (
        ev.select("event_type", F.col("ts").cast("date").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = days.select(
        "event_type",
        "day",
        "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    split = (
        F.when(10 * F.col("cum") <= 8 * F.col("n"), "train")
        .when(10 * F.col("cum") <= 9 * F.col("n"), "val")
        .otherwise("test")
    )
    return (
        cum.select("event_type", split.alias("split"), "cnt", "day")
        .groupBy("event_type", "split")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("cnt").alias("n_events"),
            F.date_format(F.min("day"), "yyyy-MM-dd").alias("first_day"),
            F.date_format(F.max("day"), "yyyy-MM-dd").alias("last_day"),
        )
    )


@register(
    "c14_interleave_sources",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents)
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM ranked
    ORDER BY rk, source, doc_id
    LIMIT 100
    """,
    doc="C14+: round-robin source interleave — each source's documents "
    "ranked in deterministic md5 order, then the training stream takes "
    "rank 1 of every source, rank 2 of every source, … (first 100 shown): "
    "the curriculum trick that stops any single source from monopolizing "
    "a training window.  One shuffle on source + a TakeOrdered cut — no "
    "global sort materializes.",
)
def c14_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .select("doc_id", "source", F.col("rk").cast("long").alias("rk"))
        .orderBy("rk", "source", "doc_id")
        .limit(100)
    )


@register(
    "c20_vocab_coverage",
    # top-100 vocabulary by document frequency (ties broken by term), then
    # per-doc coverage = in-vocab tokens / tokens, rolled up per language
    # with the round6-DECIMAL quantization before the cross-doc mean.
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
    toks AS (SELECT doc_id, lang, term FROM tok WHERE term <> ''),
    vocab AS (
        SELECT term
        FROM (SELECT term, count(DISTINCT doc_id) AS df
              FROM toks GROUP BY term)
        ORDER BY df DESC, term
        LIMIT 100),
    per_doc AS (
        SELECT t.doc_id, t.lang,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN v.term IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_in_vocab
        FROM toks t LEFT JOIN vocab v ON v.term = t.term
        GROUP BY t.doc_id, t.lang)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CAST(round(CAST(n_in_vocab AS DOUBLE) / n_tokens, 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS sum_coverage
    FROM per_doc
    GROUP BY lang
    """,
    doc="C20+: vocabulary coverage per language — share of each document's "
    "tokens covered by the corpus-wide top-100 document-frequency "
    "vocabulary, the tokenizer-fit / OOV-rate screen run before training. "
    "DF rollup with map-side combine → 100-row TakeOrdered vocab → "
    "broadcast hash lookup back over the token stream; per-doc coverage "
    "ratios quantized to DECIMAL(38,6) before the cross-doc sum so the "
    "language rollup is order-free exact.",
)
def c20_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).filter(F.col("term") != "")
    vocab = (
        toks.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), "term")
        .limit(100)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0))).alias("n_in_vocab"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.round(
                F.col("n_in_vocab").cast("double") / F.col("n_tokens"), 6
            ).cast("decimal(38,6)")
        )
        .cast("double")
        .alias("sum_coverage"),
    )


# --------------------------------------------------------------------------
# C10+ — kNN label vote: classification by neighborhood majority over the
# exact top-k, the retrieval-augmented-labeling primitive.
# --------------------------------------------------------------------------

_KNN_K = 5
_KNN_QUERIES = 20

#: deterministic left-fold cosine — the ONE SQL twin of functions.vectors,
#: shared with the whole C10 oracle family
from logspout_kinesis_tests_spark.plans.llm_queries import _sql_cos  # noqa: E402


@register(
    "c10_knn_label_vote",
    # labels derived from vec_id (mod 3) so the vote is reproducible with
    # no label table; majority with (votes desc, label asc) tie-break.
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
               FROM embeddings WHERE vec_id < {_KNN_QUERIES}),
    corpus AS (SELECT vec_id, vec_id % 3 AS label, embedding
               FROM embeddings WHERE vec_id >= {_KNN_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id, c.label,
               {_sql_cos('q.q_vec', 'c.embedding')} AS cosine
        FROM q, corpus c),
    topk AS (
        SELECT query_id, label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id)
                          AS rank
            FROM scored)
        WHERE rank <= {_KNN_K}),
    votes AS (
        SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
        FROM topk GROUP BY query_id, label)
    SELECT query_id,
           CAST(min(CASE WHEN votes = mx THEN label END) AS BIGINT)
               AS pred_label,
           CAST(max(mx) AS BIGINT) AS votes
    FROM (SELECT query_id, label, votes,
                 max(votes) OVER (PARTITION BY query_id) AS mx
          FROM votes)
    GROUP BY query_id
    """,
    doc=f"C10+: kNN majority-vote classification — each query vector takes "
    f"the modal label of its top-{_KNN_K} exact cosine neighbors "
    f"(deterministic (votes, label) tie-break), the retrieval-as-labeler "
    f"primitive behind embedding-space auto-annotation.  Builds on the "
    f"same broadcast-queries × corpus-scan top-k as c10_cosine_topk; the "
    f"vote adds one {_KNN_QUERIES}·{_KNN_K}-row rollup.",
)
def c10_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") >= _KNN_QUERIES).select(
        "vec_id", "embedding"
    )
    topk = cosine_topk(queries, corpus, k=_KNN_K, exclude_self=False)
    # labels are a pure function of the id — derive them on the k·|Q|-row
    # top-k directly instead of a third embeddings scan + join
    votes = (
        topk.withColumn("label", F.col("vec_id") % 3)
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    return votes.groupBy("query_id").agg(
        F.min_by("label", F.struct(-F.col("votes"), F.col("label")))
        .cast("long")
        .alias("pred_label"),
        F.max("votes").alias("votes"),
    )

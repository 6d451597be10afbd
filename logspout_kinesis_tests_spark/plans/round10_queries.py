"""Round-10 queries: Kendall τ-b and Jarque–Bera off bounded moment
tables, pairwise Cohen's d effect sizes, session-grain ordered funnel and
time-to-conversion, ATR/Keltner and Donchian channel timeseries, hour-of-
day seasonal strength, term burstiness, 2-hop neighborhoods and local
bridges, dedup-aware sampling, per-source freshness audit, session
overlap counting, the fixed-vocabulary term monitor, and
label-balance auditing over the embeddings table.

Registered LAST (see plans/__init__) so the staleness-ordered rotation
spends the window's remaining slots on the r4/r5-era green cohorts
(VERDICT r9 #1: ~20 new + ~30 stale re-verifications clears r4 entirely
and starts draining r5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.plans.registry import register
from logspout_kinesis_tests_spark.plans.round9_queries import (
    _COPURCHASE_EDGES_CTE,
    _SESSION_CTE,
    _tagged_events,
)
from logspout_kinesis_tests_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# C2+ — rank / moment statistics on bounded tables (the Spearman pattern:
# quantize to the value grid, aggregate ONE joint/moment table, close with
# a double expression written identically in both engines).
# --------------------------------------------------------------------------


@register(
    "c2_kendall_tau",
    # τ-b from the bounded joint-distribution table: with ≤50 quantity ×
    # ≤11 discount cells per flag, concordant/discordant pair counts are a
    # ≤550² cell-pair join, never an O(n²) row join.  Pair products in
    # DECIMAL(38,0) (f·f ~ n² wraps BIGINT past n ≈ 3e9); tie terms use
    # the DOUBLED form T = Σt(t−1) so nothing ever divides by 2 in
    # integer space (τ-b = 2(nc−nd)/√((T0−T1)(T0−T2))).
    oracle="""
    WITH joint AS (
        SELECT l_returnflag AS flag,
               CAST(round(l_quantity, 0) AS BIGINT) AS qi,
               CAST(round(l_discount * 100, 0) AS BIGINT) AS di,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem
        GROUP BY 1, 2, 3),
    pairs AS (
        SELECT a.flag,
               sum(CASE WHEN b.di > a.di THEN
                   CAST(CAST(a.cnt AS DECIMAL(19,0)) * b.cnt AS DECIMAL(38,0))
                   ELSE CAST(0 AS DECIMAL(38,0)) END) AS nc,
               sum(CASE WHEN b.di < a.di THEN
                   CAST(CAST(a.cnt AS DECIMAL(19,0)) * b.cnt AS DECIMAL(38,0))
                   ELSE CAST(0 AS DECIMAL(38,0)) END) AS nd
        FROM joint a JOIN joint b ON b.flag = a.flag AND b.qi > a.qi
        GROUP BY a.flag),
    qt AS (
        SELECT flag,
               sum(CAST(CAST(tq AS DECIMAL(19,0)) * (tq - 1)
                        AS DECIMAL(38,0))) AS t1
        FROM (SELECT flag, qi, CAST(sum(cnt) AS BIGINT) AS tq
              FROM joint GROUP BY flag, qi)
        GROUP BY flag),
    dt AS (
        SELECT flag,
               sum(CAST(CAST(td AS DECIMAL(19,0)) * (td - 1)
                        AS DECIMAL(38,0))) AS t2
        FROM (SELECT flag, di, CAST(sum(cnt) AS BIGINT) AS td
              FROM joint GROUP BY flag, di)
        GROUP BY flag),
    nn AS (
        SELECT flag, CAST(sum(cnt) AS BIGINT) AS n,
               CAST(CAST(sum(cnt) AS DECIMAL(19,0)) * (sum(cnt) - 1)
                    AS DECIMAL(38,0)) AS t0
        FROM joint GROUP BY flag)
    SELECT nn.flag, nn.n,
           CAST(p.nc AS BIGINT) AS concordant,
           CAST(p.nd AS BIGINT) AS discordant,
           CASE WHEN (CAST(nn.t0 AS DOUBLE) - CAST(qt.t1 AS DOUBLE))
                     * (CAST(nn.t0 AS DOUBLE) - CAST(dt.t2 AS DOUBLE)) <= 0
                THEN NULL
                ELSE round(2 * (CAST(p.nc AS DOUBLE) - CAST(p.nd AS DOUBLE))
                           / sqrt((CAST(nn.t0 AS DOUBLE)
                                   - CAST(qt.t1 AS DOUBLE))
                                  * (CAST(nn.t0 AS DOUBLE)
                                     - CAST(dt.t2 AS DOUBLE))), 6)
           END AS tau_b
    FROM nn
    JOIN pairs p ON p.flag = nn.flag
    JOIN qt ON qt.flag = nn.flag
    JOIN dt ON dt.flag = nn.flag
    """,
    doc="C2+: Kendall τ-b (quantity vs discount per return flag) — the "
    "tie-corrected concordance coefficient, Spearman's sibling, computed "
    "ENTIRELY on the bounded joint-distribution table: one shuffle to "
    "(flag, qty, discount) counts, a ≤550²-cell-pair self-join for "
    "concordant/discordant mass (DECIMAL(38,0) — f·f wraps BIGINT past "
    "n ≈ 3e9), doubled tie terms so the integer path never halves, one "
    "closing division.  Robust monotone-association screen at any corpus "
    "size because the joins ride cell counts, not rows.",
)
def c2_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the joint table feeds four consumers (pair join reads it twice +
    # both tie marginals + n): checkpoint ≤550 rows/flag once
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
    a = joint.select(
        F.col("flag"), F.col("qi"), F.col("di").alias("di_a"),
        F.col("cnt").cast("decimal(19,0)").alias("cnt_a"),
    )
    b = joint.select(
        F.col("flag"), F.col("qi").alias("qi_b"), F.col("di").alias("di_b"),
        F.col("cnt").alias("cnt_b"),
    )
    zero = F.lit(0).cast("decimal(38,0)")
    prod = (F.col("cnt_a") * F.col("cnt_b")).cast("decimal(38,0)")
    pairs = (
        a.join(b, (a["flag"] == b["flag"]) & (F.col("qi_b") > F.col("qi")))
        .drop(b["flag"])
        .groupBy("flag")
        .agg(
            F.sum(F.when(F.col("di_b") > F.col("di_a"), prod).otherwise(zero)).alias("nc"),
            F.sum(F.when(F.col("di_b") < F.col("di_a"), prod).otherwise(zero)).alias("nd"),
        )
    )

    def ties(col: str, out: str) -> DataFrame:
        t = joint.groupBy("flag", col).agg(F.sum("cnt").alias("t"))
        return t.groupBy("flag").agg(
            F.sum(
                (F.col("t").cast("decimal(19,0)") * (F.col("t") - 1)).cast("decimal(38,0)")
            ).alias(out)
        )

    nn = joint.groupBy("flag").agg(F.sum("cnt").alias("n")).select(
        "flag",
        "n",
        (F.col("n").cast("decimal(19,0)") * (F.col("n") - 1)).cast("decimal(38,0)").alias("t0"),
    )
    mom = (
        nn.join(pairs, "flag")
        .join(F.broadcast(ties("qi", "t1")), "flag")
        .join(F.broadcast(ties("di", "t2")), "flag")
    )
    vx = F.col("t0").cast("double") - F.col("t1").cast("double")
    vy = F.col("t0").cast("double") - F.col("t2").cast("double")
    return mom.select(
        "flag",
        "n",
        # KNOWN CAP (ADVICE r10): the closing BIGINT cast on the raw pair
        # counts overflows (ANSI error, loud not silent) past ~4.3e9 rows
        # per flag (nc ~ n²/2 vs BIGINT max 9.2e18).  Decimal output
        # columns are driver-unsafe (hash convention) and DOUBLE loses
        # exactness three orders of magnitude EARLIER (2^53), so BIGINT is
        # the widest safe reporting type; tau_b itself closes in double
        # off the DECIMAL(38,0) masses and is correct at any corpus size.
        F.col("nc").cast("long").alias("concordant"),
        F.col("nd").cast("long").alias("discordant"),
        F.when(vx * vy <= 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                2 * (F.col("nc").cast("double") - F.col("nd").cast("double"))
                / F.sqrt(vx * vy),
                6,
            )
        )
        .alias("tau_b"),
    )


#: Shared closing arithmetic for the JB statistic — the SAME SQL text runs
#: in Spark (selectExpr) and DuckDB (oracle), so the IEEE expression trees
#: are identical and the doubles match bit-for-bit.
_JB_RAW = (
    "CAST(m1s AS DOUBLE) / n AS m1",
    "CAST(m2s AS DOUBLE) / n AS r2",
    "CAST(m3s AS DOUBLE) / n AS r3",
    "CAST(m4s AS DOUBLE) / n AS r4",
)
_JB_CENTRAL = (
    "r2 - m1 * m1 AS m2",
    "r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3",
    "r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1 AS m4",
)
_JB_SHAPE = (
    "CASE WHEN m2 <= 0 THEN NULL ELSE m3 / (sqrt(m2) * m2) END AS sk",
    "CASE WHEN m2 <= 0 THEN NULL ELSE m4 / (m2 * m2) END AS ku",
)
_JB_OUT = (
    "round(sk, 6) AS skewness",
    "round(ku, 6) AS kurtosis",
    "round(CAST(n AS DOUBLE) / 6 * (sk * sk + (ku - 3) * (ku - 3) / 4), 6) AS jb",
)


@register(
    "c2_jarque_bera",
    # Normality screen per metric group.  Raw moments are taken about a
    # per-group INTEGER anchor (the rounded mean in cents) so deviations
    # stay small integers: quartic sums then fit DECIMAL(38,0) to ~6e9
    # rows/group where moments about zero would overflow at Σx⁴.  The
    # central-moment shift identities and the S/K/JB closing run in
    # DOUBLE from the same SQL text on both engines (bit-identical
    # association), m2 ≤ 0 degenerates to NULL.
    oracle=f"""
    WITH cents AS (
        SELECT event_type AS g,
               CAST(round(value * 100, 0) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL),
    anchor AS (
        SELECT g, CAST(round(CAST(sum(x) AS DOUBLE) / count(*), 0) AS BIGINT)
                   AS a
        FROM cents GROUP BY g),
    dev AS (
        SELECT c.g, c.x - an.a AS d
        FROM cents c JOIN anchor an ON an.g = c.g),
    mom AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS m1s,
               sum(CAST(CAST(d AS DECIMAL(19,0)) * d AS DECIMAL(38,0))) AS m2s,
               sum(CAST(CAST(d AS DECIMAL(19,0)) * d * d AS DECIMAL(38,0))) AS m3s,
               sum(CAST(CAST(d AS DECIMAL(19,0)) * d * d * d
                        AS DECIMAL(38,0))) AS m4s
        FROM dev GROUP BY g),
    raw AS (SELECT g, n, {', '.join(_JB_RAW)} FROM mom),
    cen AS (SELECT g, n, m1, {', '.join(_JB_CENTRAL)} FROM raw),
    shp AS (SELECT g, n, m2, {', '.join(_JB_SHAPE)} FROM cen)
    SELECT g, n, {', '.join(_JB_OUT)} FROM shp
    """,
    doc="C2+: Jarque–Bera normality test per event type — skewness, "
    "excess-prone kurtosis, and the n/6·(S² + (K−3)²/4) statistic.  Raw "
    "moments about a rounded-mean integer anchor keep the quartic sums "
    "inside DECIMAL(38,0) to ~6e9 rows/group (moments about zero blow up "
    "three orders of magnitude earlier); the closing double arithmetic is "
    "the SAME SQL text on both engines, so association order — and hence "
    "every bit of the result — matches by construction.  Two scans + one "
    "broadcast of the 5-row anchor table.",
)
def c2_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    anchor = cents.groupBy("g").agg(
        F.round(F.sum("x").cast("double") / F.count("*"), 0).cast("long").alias("a")
    )
    dev = cents.join(F.broadcast(anchor), "g").select(
        "g", (F.col("x") - F.col("a")).alias("d")
    )
    d_dec = F.col("d").cast("decimal(19,0)")
    mom = dev.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("d").alias("m1s"),
        F.sum((d_dec * F.col("d")).cast("decimal(38,0)")).alias("m2s"),
        F.sum((d_dec * F.col("d") * F.col("d")).cast("decimal(38,0)")).alias("m3s"),
        F.sum((d_dec * F.col("d") * F.col("d") * F.col("d")).cast("decimal(38,0)")).alias(
            "m4s"
        ),
    )
    return (
        mom.selectExpr("g", "n", *_JB_RAW)
        .selectExpr("g", "n", "m1", *_JB_CENTRAL)
        .selectExpr("g", "n", "m2", *_JB_SHAPE)
        .selectExpr("g", "n", *_JB_OUT)
    )


#: Cohen's d closing text, shared Spark/DuckDB (same bit-parity argument
#: as _JB_*: identical SQL → identical IEEE trees).
_COHEN_VAR = (
    "(CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    " / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1)) AS v1",
    "(CAST(n2 AS DOUBLE) * CAST(q2 AS DOUBLE)"
    " - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))"
    " / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1)) AS v2",
)
_COHEN_OUT = (
    "CASE WHEN ((CAST(n1 AS DOUBLE) - 1) * v1 + (CAST(n2 AS DOUBLE) - 1) * v2)"
    " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2) <= 0 THEN NULL"
    " ELSE round((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)"
    " / sqrt(((CAST(n1 AS DOUBLE) - 1) * v1 + (CAST(n2 AS DOUBLE) - 1) * v2)"
    " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2)), 6) END AS cohens_d"
)


@register(
    "c2_cohens_d",
    # Pairwise pooled effect sizes between all metric groups: the 5-row
    # per-group moment table self-joins to its 10 ordered pairs, so the
    # expensive part is ONE scan with map-side combine; quadratic moments
    # in DECIMAL(38,0) per the overflow policy.
    oracle=f"""
    WITH cents AS (
        SELECT event_type AS g,
               CAST(round(value * 100, 0) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL),
    mom AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               sum(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(38,0))) AS q
        FROM cents GROUP BY g),
    pairs AS (
        SELECT a.g AS g1, b.g AS g2, a.n AS n1, b.n AS n2,
               a.s AS s1, b.s AS s2, a.q AS q1, b.q AS q2
        FROM mom a JOIN mom b ON a.g < b.g),
    vars_ AS (SELECT g1, g2, n1, n2, s1, s2, {', '.join(_COHEN_VAR)} FROM pairs)
    SELECT g1, g2, n1, n2, {_COHEN_OUT} FROM vars_
    """,
    doc="C2+: Cohen's d effect size for every ordered pair of event types "
    "— the standardized mean difference (pooled sample s.d.) that says "
    "whether a metric shift is practically large, not just significant.  "
    "One scan to a 5-row exact moment table (quadratic sums in "
    "DECIMAL(38,0)), a trivial 10-pair self-join, closing double "
    "arithmetic from the same SQL text on both engines.",
)
def c2_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    mom = cents.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)")).alias(
            "q"
        ),
    )
    a = mom.select(
        F.col("g").alias("g1"), F.col("n").alias("n1"),
        F.col("s").alias("s1"), F.col("q").alias("q1"),
    )
    b = mom.select(
        F.col("g").alias("g2"), F.col("n").alias("n2"),
        F.col("s").alias("s2"), F.col("q").alias("q2"),
    )
    pairs = a.join(b, F.col("g1") < F.col("g2"))
    return pairs.selectExpr(
        "g1", "g2", "n1", "n2", "s1", "s2", "q1", "q2", *_COHEN_VAR
    ).selectExpr("g1", "g2", "n1", "n2", _COHEN_OUT)


# --------------------------------------------------------------------------
# C7+ — session-grain ordered funnel + time-to-conversion (compose the r9
# sessionization walk; VERDICT r9 #1's named backlog).
# --------------------------------------------------------------------------


@register(
    "c7_session_funnel",
    # ORDERED funnel at session grain: a session converts only when a
    # purchase happens strictly AFTER a view within the same session —
    # event order pinned by row_number over (us, event_id), so duplicate
    # timestamps can't flip the verdict.
    oracle=f"""
    WITH {_SESSION_CTE},
    rn AS (
        SELECT user_id, session_seq, event_type,
               row_number() OVER (PARTITION BY user_id, session_seq
                                  ORDER BY us, event_id) AS rn
        FROM tagged),
    sess AS (
        SELECT user_id, session_seq,
               min(CASE WHEN event_type = 'view' THEN rn END) AS first_view,
               max(CASE WHEN event_type = 'purchase' THEN rn END)
                   AS last_purchase
        FROM rn GROUP BY user_id, session_seq)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN last_purchase > first_view THEN 1 ELSE 0 END)
                AS BIGINT) AS funnel_sessions,
           round(CAST(sum(CASE WHEN last_purchase > first_view
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS funnel_rate
    FROM sess GROUP BY user_id
    """,
    doc="C7+: session-grain ordered funnel (view → purchase IN ORDER "
    "within one session) — the conversion definition product analytics "
    "actually uses; c7_session_conversion's unordered 'contains purchase' "
    "overcounts sessions where the purchase preceded the first view.  "
    "Rank events once per session (bounded window over the user "
    "partition), two conditional aggregates, exact-integer comparison; "
    "the rate divides two exact BIGINTs.",
)
def c7_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = _tagged_events(spark, sf_dir)
    w = Window.partitionBy("user_id", "session_seq").orderBy("us", "event_id")
    rn = tagged.select(
        "user_id", "session_seq", "event_type", F.row_number().over(w).alias("rn")
    )
    sess = rn.groupBy("user_id", "session_seq").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("rn"))).alias("first_view"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("rn"))).alias(
            "last_purchase"
        ),
    )
    hit = F.when(F.col("last_purchase") > F.col("first_view"), 1).otherwise(0)
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum(hit).alias("funnel_sessions"),
        F.round(F.sum(hit).cast("double") / F.count("*"), 6).alias("funnel_rate"),
    )


@register(
    "c5_time_to_conversion",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                   AS first_view_us,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   AS first_purchase_us
        FROM events GROUP BY user_id)
    SELECT user_id,
           CAST(first_view_us AS BIGINT) AS first_view_us,
           CAST(first_purchase_us AS BIGINT) AS first_purchase_us,
           CAST(first_purchase_us - first_view_us AS BIGINT) AS latency_us
    FROM firsts
    WHERE first_view_us IS NOT NULL AND first_purchase_us IS NOT NULL
    """,
    doc="C5+: time-to-conversion per user — exact integer-µs gap between "
    "the first view and the first purchase (negative when the purchase "
    "came first: a re-engagement cohort, reported, not hidden).  One "
    "shuffle, two conditional mins with map-side combine — the cheapest "
    "possible plan shape for a 100 TB event log.",
)
def c5_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "first_view_us"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).alias(
            "first_purchase_us"
        ),
    )
    return firsts.filter(
        F.col("first_view_us").isNotNull() & F.col("first_purchase_us").isNotNull()
    ).select(
        "user_id",
        "first_view_us",
        "first_purchase_us",
        (F.col("first_purchase_us") - F.col("first_view_us")).alias("latency_us"),
    )


# --------------------------------------------------------------------------
# C16+ — volatility channels over the daily OHLC bars (same decimal
# discipline as c16_bollinger_breach: integer cents until the single
# closing division).
# --------------------------------------------------------------------------

#: Daily bar CTE shared by the two channel oracles (the c16_ohlc_bars
#: pick: close is last by (ts, event_id), dims in integer cents).
_BARS_CTE = """
    bars AS (
        SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
               CAST(max(round(value * 100, 0)) AS BIGINT) AS high_c,
               CAST(min(round(value * 100, 0)) AS BIGINT) AS low_c,
               last(CAST(round(value * 100, 0) AS BIGINT)
                    ORDER BY ts, event_id) AS close_c
        FROM events WHERE value IS NOT NULL
        GROUP BY 1, 2)
"""


def _daily_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.timeseries import ohlc_projection

    ev = load_table(spark, sf_dir, "events")
    return (
        ohlc_projection(ev)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .groupBy("event_type", "day")
        .agg(
            F.max("c").alias("high_c"),
            F.min("c").alias("low_c"),
            F.expr("max_by(c, k)").alias("close_c"),
        )
    )


@register(
    "c16_atr_bands",
    # True range needs yesterday's close (gap days count), so the lag and
    # the rolling sums live in separate window steps (window-in-window
    # needs the CTE split on the DuckDB side anyway).  The band bounds
    # come from SINGLE divisions of exact integer sums — upper =
    # (Σclose + 2·Σtr)/n — so there is no compounding of rounded terms.
    oracle=f"""
    WITH {_BARS_CTE},
    tr AS (
        SELECT event_type, day, high_c, low_c, close_c,
               lag(close_c) OVER (PARTITION BY event_type ORDER BY day)
                   AS prev_c
        FROM bars),
    trr AS (
        SELECT event_type, day, close_c,
               greatest(high_c, coalesce(prev_c, high_c))
               - least(low_c, coalesce(prev_c, low_c)) AS tr_c
        FROM tr),
    roll AS (
        SELECT event_type, day, tr_c,
               CAST(sum(tr_c) OVER w AS BIGINT) AS sum_tr,
               CAST(sum(close_c) OVER w AS BIGINT) AS sum_close,
               CAST(count(*) OVER w AS BIGINT) AS n_w
        FROM trr
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
    SELECT event_type, day, CAST(tr_c AS BIGINT) AS tr_c,
           round(CAST(sum_tr AS DOUBLE) / n_w, 6) AS atr_c,
           round(CAST(sum_close + 2 * sum_tr AS DOUBLE) / n_w, 6) AS upper_c,
           round(CAST(sum_close - 2 * sum_tr AS DOUBLE) / n_w, 6) AS lower_c
    FROM roll
    """,
    doc="C16+: ATR(14) and Keltner-style bands per metric — true range "
    "bridges gap days via yesterday's close (greatest/least against a "
    "coalesced previous close, so day one degrades to high−low exactly), "
    "and each band bound is ONE division of exact integer-cent sums: "
    "upper = (Σclose + 2·Σtr)/n.  Two bounded windows over the ~30-row "
    "per-metric bar table — the volatility-channel screen at any scale "
    "because everything rides the daily rollup, not the raw events.",
)
def c16_atr_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    w_roll = w.rowsBetween(-13, 0)
    tr = bars.withColumn("prev_c", F.lag("close_c").over(w)).select(
        "event_type",
        "day",
        "close_c",
        (
            F.greatest("high_c", F.coalesce("prev_c", "high_c"))
            - F.least("low_c", F.coalesce("prev_c", "low_c"))
        ).alias("tr_c"),
    )
    roll = tr.select(
        "event_type",
        "day",
        "tr_c",
        F.sum("tr_c").over(w_roll).alias("sum_tr"),
        F.sum("close_c").over(w_roll).alias("sum_close"),
        F.count("*").over(w_roll).alias("n_w"),
    )
    return roll.select(
        "event_type",
        "day",
        "tr_c",
        F.round(F.col("sum_tr").cast("double") / F.col("n_w"), 6).alias("atr_c"),
        F.round(
            (F.col("sum_close") + 2 * F.col("sum_tr")).cast("double") / F.col("n_w"), 6
        ).alias("upper_c"),
        F.round(
            (F.col("sum_close") - 2 * F.col("sum_tr")).cast("double") / F.col("n_w"), 6
        ).alias("lower_c"),
    )


@register(
    "c16_donchian_breakout",
    # The channel EXCLUDES the current day (ROWS … 1 PRECEDING): a
    # breakout compares today against the prior 20-day envelope, and the
    # window-in-window split keeps both engines on one plain rolling
    # min/max each.  Pure integer comparisons — nothing to round.
    oracle=f"""
    WITH {_BARS_CTE},
    roll AS (
        SELECT event_type, day, high_c, low_c,
               max(high_c) OVER w AS ch_high,
               min(low_c) OVER w AS ch_low
        FROM bars
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN high_c > ch_high THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breakout_up,
           CAST(sum(CASE WHEN low_c < ch_low THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breakout_down
    FROM roll
    WHERE ch_high IS NOT NULL
    GROUP BY event_type
    """,
    doc="C16+: Donchian channel breakout counts per metric — days whose "
    "high pierces the prior-20-day envelope top (or low pierces the "
    "bottom), the turtle-trading volatility signal.  The envelope window "
    "excludes the current row, so a breakout never suppresses itself; "
    "exact integer-cent comparisons end-to-end, one bounded window over "
    "the daily bar table.",
)
def c16_donchian_breakout(spark: SparkSession, sf_dir: str) -> DataFrame:
    bars = _daily_bars(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-20, -1)
    )
    roll = bars.select(
        "event_type",
        "high_c",
        "low_c",
        F.max("high_c").over(w).alias("ch_high"),
        F.min("low_c").over(w).alias("ch_low"),
    ).filter(F.col("ch_high").isNotNull())
    return roll.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum(F.when(F.col("high_c") > F.col("ch_high"), 1).otherwise(0)).alias(
            "n_breakout_up"
        ),
        F.sum(F.when(F.col("low_c") < F.col("ch_low"), 1).otherwise(0)).alias(
            "n_breakout_down"
        ),
    )


@register(
    "c16_seasonal_strength",
    # Hour-of-day seasonal strength = between-hour SS / total SS (the
    # ANOVA eta² over the 24 hour bins) — the brown_forsythe recipe:
    # exact per-bin integer sums, per-bin terms rounded to 6dp and
    # quantized DECIMAL(38,6) before the ≤24-row cross-bin sum, total SS
    # from the DECIMAL(38,0) quadratic moment.
    oracle="""
    WITH cents AS (
        SELECT event_type AS g, CAST(hour(ts) AS BIGINT) AS h,
               CAST(round(value * 100, 0) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL),
    ph AS (
        SELECT g, h, CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum(x) AS BIGINT) AS s_h
        FROM cents GROUP BY g, h),
    tot AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
               sum(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(38,0))) AS ss
        FROM cents GROUP BY g),
    terms AS (
        SELECT p.g,
               CAST(sum(CAST(round(
                   n_h * (CAST(s_h AS DOUBLE) / n_h
                          - CAST(t.s AS DOUBLE) / t.n)
                       * (CAST(s_h AS DOUBLE) / n_h
                          - CAST(t.s AS DOUBLE) / t.n), 6)
                   AS DECIMAL(38,6))) AS DOUBLE) AS between_ss,
               max(CAST(t.ss AS DOUBLE)
                   - CAST(t.s AS DOUBLE) * t.s / t.n) AS total_ss,
               max(t.n) AS n,
               CAST(count(*) AS BIGINT) AS k_hours
        FROM ph p JOIN tot t ON t.g = p.g
        GROUP BY p.g)
    SELECT g, CAST(n AS BIGINT) AS n, k_hours,
           CASE WHEN total_ss <= 0 THEN NULL
                ELSE round(between_ss / total_ss, 6)
           END AS seasonal_strength
    FROM terms
    """,
    doc="C16+: hour-of-day seasonal strength per metric — the share of "
    "variance explained by the 24 hour-of-day bins (ANOVA eta²), the "
    "one-number 'is this series diurnal?' screen that decides whether "
    "seasonal decomposition is worth running at all.  One scan to 24 "
    "exact bins/group + the global quadratic moment in DECIMAL(38,0); "
    "per-bin terms DECIMAL(38,6)-quantized so the cross-bin sum is "
    "order-free exact.",
)
def c16_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        F.col("event_type").alias("g"),
        F.hour("ts").cast("long").alias("h"),
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    ph = cents.groupBy("g", "h").agg(
        F.count("*").alias("n_h"), F.sum("x").alias("s_h")
    )
    tot = cents.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)")).alias(
            "ss"
        ),
    )
    mean_h = F.col("s_h").cast("double") / F.col("n_h")
    mean = F.col("s").cast("double") / F.col("n")
    terms = (
        ph.join(F.broadcast(tot), "g")
        .groupBy("g")
        .agg(
            F.sum(
                F.round(F.col("n_h") * (mean_h - mean) * (mean_h - mean), 6).cast(
                    "decimal(38,6)"
                )
            )
            .cast("double")
            .alias("between_ss"),
            F.max(
                F.col("ss").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            ).alias("total_ss"),
            F.max("n").alias("n"),
            F.count("*").alias("k_hours"),
        )
    )
    return terms.select(
        "g",
        "n",
        "k_hours",
        F.when(F.col("total_ss") <= 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("between_ss") / F.col("total_ss"), 6))
        .alias("seasonal_strength"),
    )


# --------------------------------------------------------------------------
# C11+ — term burstiness (Fano factor of per-document term counts).
# --------------------------------------------------------------------------


@register(
    "c11_term_burstiness",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
    toks AS (SELECT doc_id, term FROM tok WHERE term <> ''),
    per_doc AS (
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY term, doc_id),
    stats AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df,
               CAST(sum(c) AS BIGINT) AS sc,
               sum(CAST(CAST(c AS DECIMAL(19,0)) * c AS DECIMAL(38,0))) AS sq
        FROM per_doc GROUP BY term)
    SELECT term, df, sc AS total_cnt,
           round((CAST(df AS DOUBLE) * CAST(sq AS DOUBLE)
                  - CAST(sc AS DOUBLE) * sc)
                 / (CAST(df AS DOUBLE) * sc), 6) AS fano
    FROM stats
    ORDER BY df DESC, term
    LIMIT 20
    """,
    doc="C11+: term burstiness — the Fano factor (variance/mean of "
    "per-document counts) of the top-20 document-frequency terms: "
    "content words clump (Fano > 1: a doc that mentions them mentions "
    "them again), function words scatter uniformly (≈ equal counts "
    "everywhere).  The topicality signal TF-IDF can't see.  Exact "
    "integer count moments per term, one closing rational, TakeOrdered "
    "cut by (df, term) so the top-20 pick is deterministic.",
)
def c11_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    per_doc = toks.groupBy("term", "doc_id").agg(F.count("*").alias("c"))
    stats = per_doc.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("c").alias("sc"),
        # quadratic moment in DECIMAL(38,0) per the overflow policy: sum of
        # c² wraps BIGINT once a term's per-doc counts square past ~9e18
        F.sum(
            (F.col("c").cast("decimal(19,0)") * F.col("c")).cast("decimal(38,0)")
        ).alias("sq"),
    )
    return (
        stats.selectExpr(
            "term",
            "df",
            "sc AS total_cnt",
            "round((CAST(df AS DOUBLE) * CAST(sq AS DOUBLE)"
            " - CAST(sc AS DOUBLE) * sc)"
            " / (CAST(df AS DOUBLE) * sc), 6) AS fano",
        )
        .orderBy(F.col("df").desc(), "term")
        .limit(20)
    )


# --------------------------------------------------------------------------
# C17+ — 2-hop neighborhoods and local bridges over the SAME co-purchase
# graph as the rest of the C17 family (one graph definition repo-wide).
# --------------------------------------------------------------------------


#: Mid vertices of symmetrized degree above this are excluded from 2-hop
#: pair generation (the link_prediction hub df-cut applied to the wedge
#: mid): a mid of degree D emits D² candidate pairs AND ~D² genuinely
#: distinct 2-hop pairs, so the exact answer through a 1e5-degree hub is
#: inherently quadratic — the cut makes n_2hop a documented lower bound
#: and `n_hub_mids` reports, per node, how many of its neighbors were cut
#: (0 ⇒ that node's count is exact).  Organic co-purchase degrees max at
#: 13 (sf0.01/sf0.1), so the cap never bites outside planted-hub corpora.
_TWOHOP_MID_CAP = 1000


@register(
    "c17_two_hop_neighborhood",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_CTE},
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    deg AS (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS n_1hop
        FROM sym GROUP BY u),
    hubs AS (SELECT node FROM deg WHERE n_1hop > {_TWOHOP_MID_CAP}),
    two AS (
        SELECT DISTINCT a.u AS node, b.v AS w
        FROM sym a JOIN sym b ON b.u = a.v
        LEFT JOIN hubs h ON h.node = a.v
        WHERE b.v <> a.u AND h.node IS NULL),
    two_f AS (
        SELECT t.node, t.w FROM two t
        LEFT JOIN sym s ON s.u = t.node AND s.v = t.w
        WHERE s.u IS NULL),
    cnt2 AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_2hop
        FROM two_f GROUP BY node),
    hubadj AS (
        SELECT s.u AS node, CAST(count(*) AS BIGINT) AS n_hub_mids
        FROM sym s JOIN hubs h ON h.node = s.v GROUP BY s.u)
    SELECT d.node, d.n_1hop,
           CAST(coalesce(c.n_2hop, 0) AS BIGINT) AS n_2hop,
           CAST(coalesce(a.n_hub_mids, 0) AS BIGINT) AS n_hub_mids
    FROM deg d
    LEFT JOIN cnt2 c ON c.node = d.node
    LEFT JOIN hubadj a ON a.node = d.node
    """,
    doc="C17+: 2-hop neighborhood size per node — friends-of-friends "
    "reach excluding self and direct neighbors, the expansion signal "
    "behind influence scoring and sampling fan-out estimates.  Mid "
    "vertices of degree > 1000 are excluded from pair generation (the "
    "link_prediction hub df-cut applied to the wedge mid — a 1e5-degree "
    "hub otherwise emits 1e10 candidate AND distinct pairs, inherently "
    "quadratic), and each node REPORTS its cut exposure: n_hub_mids = "
    "how many of its neighbors were hub-cut, 0 meaning the count is "
    "exact.  One mid-keyed self-join on the cut adjacency, DISTINCT, "
    "anti-join against the 1-hop set; every join keys on a vertex id.",
)
def c17_two_hop_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.plans.round9_queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)  # consumers: deg, mid-cut, hub-adj, anti
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("n_1hop"))
    hubs = deg.filter(F.col("n_1hop") > _TWOHOP_MID_CAP).select("node")
    # the cut applies to the MID role only (a node's own count stays exact
    # wherever its wedges ride non-hub mids); hub mids are rare by
    # construction (degree > cap) — broadcast the anti-join
    a = sym.select(F.col("u").alias("node"), F.col("v").alias("mid")).join(
        F.broadcast(hubs).withColumnRenamed("node", "mid"), "mid", "left_anti"
    )
    b = sym.select(F.col("u").alias("mid"), F.col("v").alias("w")).join(
        F.broadcast(hubs).withColumnRenamed("node", "mid"), "mid", "left_anti"
    )
    two = (
        a.join(b, "mid")
        .filter(F.col("w") != F.col("node"))
        .select("node", "w")
        .distinct()
    )
    two_f = two.join(
        sym.select(F.col("u").alias("node"), F.col("v").alias("w")),
        ["node", "w"],
        "left_anti",
    )
    cnt2 = two_f.groupBy("node").agg(F.count("*").alias("n_2hop"))
    hubadj = (
        sym.join(F.broadcast(hubs).withColumnRenamed("node", "v"), "v")
        .groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("n_hub_mids"))
    )
    return (
        deg.join(cnt2, "node", "left")
        .join(hubadj, "node", "left")
        .select(
            "node",
            "n_1hop",
            F.coalesce("n_2hop", F.lit(0)).alias("n_2hop"),
            F.coalesce("n_hub_mids", F.lit(0)).alias("n_hub_mids"),
        )
    )


@register(
    "c17_local_bridges",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_CTE},
    sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
    closed AS (
        SELECT DISTINCT e.u, e.v
        FROM edges e
        JOIN sym a ON a.u = e.u
        JOIN sym b ON b.u = e.v AND b.v = a.v),
    br AS (
        SELECT e.u, e.v FROM edges e
        LEFT JOIN closed c ON c.u = e.u AND c.v = e.v
        WHERE c.u IS NULL),
    deg AS (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
        FROM sym GROUP BY u),
    pb AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_bridges
        FROM (SELECT u AS node FROM br UNION ALL SELECT v FROM br)
        GROUP BY node)
    SELECT d.node, d.degree,
           CAST(coalesce(p.n_bridges, 0) AS BIGINT) AS n_bridges
    FROM deg d LEFT JOIN pb p ON p.node = d.node
    """,
    doc="C17+: local bridges per node — incident edges whose endpoints "
    "share NO common neighbor (span > 2), the weak-tie/community-boundary "
    "signal from Granovetter/Easley-Kleinberg: removing a local bridge "
    "lengthens its endpoints' shortest path past 2.  Closure detection = "
    "triangle membership via the degree-ordered compact-forward iterator "
    "(hub-safe: a star hub's D² wedges vanish under degree orientation), "
    "then one anti-join marks the open edges; all joins key on vertex ids.",
)
def c17_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.graph import triangles
    from logspout_kinesis_tests_spark.plans.round9_queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    # An edge is CLOSED iff it sits in ≥1 triangle, so closure detection is
    # triangle enumeration — and the degree-ordered compact-forward
    # iterator is hub-safe where the r10 wedge probe (sym⋈sym keyed on one
    # endpoint, Σ deg(eu) candidates ⇒ deg² at a star hub) was not:
    # measured 67 s → 3 s on a planted 3e4-degree hub
    # (scripts/scale_probe_skew.py).  Each triangle closes its three
    # id-ordered sides; DISTINCT collapses multi-triangle edges.
    tri = triangles(edges)
    closed = (
        tri.select(F.col("a").alias("eu"), F.col("b").alias("ev"))
        .union(tri.select(F.col("a").alias("eu"), F.col("c").alias("ev")))
        .union(tri.select(F.col("b").alias("eu"), F.col("c").alias("ev")))
        .distinct()
    )
    br = edges.select(F.col("u").alias("eu"), F.col("v").alias("ev")).join(
        closed, ["eu", "ev"], "left_anti"
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("degree"))
    pb = (
        br.select(F.col("eu").alias("node"))
        .union(br.select(F.col("ev").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_bridges"))
    )
    return deg.join(pb, "node", "left").select(
        "node", "degree", F.coalesce("n_bridges", F.lit(0)).alias("n_bridges")
    )


# --------------------------------------------------------------------------
# C14+ / C20+ — dedup-aware sampling, freshness audit, class balance.
# --------------------------------------------------------------------------


@register(
    "c14_dedup_aware_sample",
    # One doc per exact-duplicate cluster (md5 of the raw text), the
    # representative picked in hash order (md5 of the doc id — unbiased by
    # insertion order), then a deterministic 50% hash sample of the
    # SURVIVORS via the fixed-width-hex threshold compare ('80000000' =
    # ceil(0.5·2³²) in hex; lowercase hex compares lexicographically in
    # numeric order).
    oracle="""
    WITH cl AS (
        SELECT doc_id, source, md5(text) AS sig FROM documents),
    reps AS (
        SELECT doc_id, source, sig,
               row_number() OVER (PARTITION BY sig
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk,
               CAST(count(*) OVER (PARTITION BY sig) AS BIGINT)
                   AS cluster_size
        FROM cl)
    SELECT doc_id, source, cluster_size
    FROM reps
    WHERE rk = 1
      AND substring(md5('samp' || CAST(doc_id AS VARCHAR)), 1, 8)
          < '80000000'
    """,
    doc="C14+: dedup-aware sampling — exact-dup clusters collapse to one "
    "hash-chosen representative BEFORE the 50% sample, so a document "
    "duplicated 1000× carries the same selection mass as a unique one "
    "(naive sampling would make the training mix mirror the crawl's "
    "duplication skew).  One shuffle on the content hash, per-cluster "
    "window for the pick, scan-side hex-threshold sample — no RNG state, "
    "replayable anywhere.",
)
def c14_dedup_aware_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cl = docs.select("doc_id", "source", F.md5("text").alias("sig"))
    w = Window.partitionBy("sig").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    reps = cl.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("sig")).alias("cluster_size"),
    )
    return reps.filter(
        (F.col("rk") == 1)
        & (
            F.substring(F.md5(F.concat(F.lit("samp"), F.col("doc_id").cast("string"))), 1, 8)
            < "80000000"
        )
    ).select("doc_id", "source", "cluster_size")


@register(
    "c20_freshness_audit",
    oracle="""
    WITH ev AS (
        SELECT event_type, CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
    mx AS (SELECT CAST(max(us) AS BIGINT) AS corpus_max FROM ev)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(us) AS BIGINT) AS last_us,
           CAST(m.corpus_max - max(us) AS BIGINT) AS staleness_us,
           CAST(sum(CASE WHEN us >= m.corpus_max - 604800000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
           round(CAST(sum(CASE WHEN us >= m.corpus_max - 604800000000
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS share_7d
    FROM ev, mx m
    GROUP BY event_type, m.corpus_max
    """,
    doc="C20+: per-source freshness audit — last-seen lag behind the "
    "corpus high-water mark and the share of volume inside the trailing "
    "7 days, per event source: the staleness tripwire a continuously-"
    "ingesting training pipeline runs before every snapshot.  The 1-row "
    "high-water aggregate broadcasts into a single grouped scan; exact "
    "integer µs.",
)
def c20_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    mx = ev.agg(F.max("us").alias("corpus_max"))
    in7 = F.when(
        F.col("us") >= F.col("corpus_max") - F.lit(604800000000), 1
    ).otherwise(0)
    return (
        ev.crossJoin(F.broadcast(mx))
        .groupBy("event_type", "corpus_max")
        .agg(
            F.count("*").alias("n_events"),
            F.max("us").alias("last_us"),
            (F.col("corpus_max") - F.max("us")).alias("staleness_us"),
            F.sum(in7).alias("n_7d"),
            F.round(F.sum(in7).cast("double") / F.count("*"), 6).alias("share_7d"),
        )
        .select(
            "event_type", "n_events", "last_us", "staleness_us", "n_7d", "share_7d"
        )
    )


@register(
    "c20_class_balance",
    oracle="""
    WITH pl AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n
        FROM embeddings GROUP BY label),
    t AS (
        SELECT CAST(sum(n) AS BIGINT) AS total, CAST(max(n) AS BIGINT) AS n_max
        FROM pl)
    SELECT label, n,
           round(CAST(n AS DOUBLE) / total, 6) AS share,
           round(CAST(n_max AS DOUBLE) / n, 6) AS imbalance_vs_max
    FROM pl, t
    """,
    doc="C20+: label-balance audit over the embedding corpus — per-class "
    "counts, shares, and the imbalance ratio against the majority class, "
    "the first gate before any classifier fine-tune (and the input to "
    "reweighting).  One grouped scan to a |labels|-row table; the totals "
    "row broadcasts back.",
)
def c20_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pl = emb.groupBy("label").agg(F.count("*").alias("n"))
    t = pl.agg(F.sum("n").alias("total"), F.max("n").alias("n_max"))
    return pl.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(F.col("n_max").cast("double") / F.col("n"), 6).alias(
            "imbalance_vs_max"
        ),
    )


# --------------------------------------------------------------------------
# C20+ — fixed-vocabulary term monitor (oracle-checked against DuckDB).
# --------------------------------------------------------------------------

#: Vocabulary size of the monitor grid (a frozen top-K by document
#: frequency).
_TERM_MON_K = 20


def _term_monitor_batch(
    docs: DataFrame, vocab: DataFrame
) -> DataFrame:
    """(lang, term, cnt, n_tokens, share) for a FROZEN vocab DataFrame:
    int64 counts, one HALF-UP 6dp rounding of cnt/n_tokens.  Zero-count
    (lang, term) cells are emitted, not dropped (every vocab slot is
    reported)."""
    toks = docs.select(
        "lang", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    lt = toks.groupBy("lang").agg(F.count("*").alias("n_tokens"))
    cnts = toks.join(F.broadcast(vocab), "term").groupBy("lang", "term").agg(
        F.count("*").alias("cnt")
    )
    grid = lt.crossJoin(F.broadcast(vocab))
    return (
        grid.join(cnts, ["lang", "term"], "left")
        .select(
            "lang",
            "term",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            "n_tokens",
            F.round(
                F.coalesce("cnt", F.lit(0)).cast("double") / F.col("n_tokens"), 6
            ).alias("share"),
        )
    )


def _top_df_vocab(docs: DataFrame, k: int = _TERM_MON_K) -> DataFrame:
    """Top-k document-frequency terms (ties by term) as a 1-column frame."""
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    ).filter(F.col("term") != "")
    df_tab = toks.distinct().groupBy("term").agg(F.count("*").alias("df"))
    return (
        df_tab.orderBy(F.col("df").desc(), "term").limit(k).select("term")
    )


@register(
    "c20_term_monitor",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
    toks AS (SELECT doc_id, lang, term FROM tok WHERE term <> ''),
    vocab AS (
        SELECT term
        FROM (SELECT term, count(DISTINCT doc_id) AS df
              FROM toks GROUP BY term)
        ORDER BY df DESC, term
        LIMIT {_TERM_MON_K}),
    lt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens
           FROM toks GROUP BY lang),
    cnts AS (
        SELECT t.lang, t.term, CAST(count(*) AS BIGINT) AS cnt
        FROM toks t JOIN vocab v ON v.term = t.term
        GROUP BY t.lang, t.term)
    SELECT l.lang, v.term,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
           l.n_tokens,
           round(CAST(coalesce(c.cnt, 0) AS DOUBLE) / l.n_tokens, 6) AS share
    FROM lt l
    CROSS JOIN vocab v
    LEFT JOIN cnts c ON c.lang = l.lang AND c.term = v.term
    """,
    doc="C20+: fixed-vocabulary term monitor — exact per-language "
    "occurrence counts and "
    "token shares of the corpus-wide top-20 document-frequency terms, "
    "zero cells included: the vocab-drift dashboard a streaming ingest "
    "watches, recomputed batch-side for audit.  DF rollup → 20-row "
    "TakeOrdered vocab → broadcast hash lookup over one token pass.",
)
def c20_term_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return _term_monitor_batch(docs, _top_df_vocab(docs))


# --------------------------------------------------------------------------
# C15+ — per-session overlap counts WITHOUT a pair join: rank arithmetic.
# --------------------------------------------------------------------------

_OVL_BUCKETS = 256


def _rank_counts_multi(
    passes: list[tuple[DataFrame, DataFrame, bool, int]], bounds: DataFrame
) -> DataFrame:
    """Several independent rank-count passes fused into ONE tagged plan
    (r15, the recall-monitor reshape applied here): every pass's ref and
    query points are unioned with an integer ``side`` tag, and the bucket
    rollup, offset table and cumulative window all key on (side, bucket) —
    one shuffle wave total instead of one per pass.

    ``passes`` is ``[(ref, qry, strict, side), ...]``: for every
    (user_id, session_seq, q) in ``qry``, the number of ``ref.v`` values
    ≤ q (or < q when ``strict``), via the bucketed-CDF pattern
    (c2_ks_test): a monotone integer bucket map, exclusive prefix offsets
    over the ≤256·len(passes)-row bucket table (the one allowed tiny
    global window, partitioned by side), and per-(side, bucket)
    cumulative windows that run in parallel.  At tie values refs sort
    before queries for ≤ and after them for < — encoded per-row in the
    integer ``tie`` column (refs −1/+1, queries 0) so one window spec
    serves both strictness flavors.  Output: (user_id, session_seq,
    side, rank), query rows only.
    """
    legs = []
    for ref, qry, strict, side in passes:
        tie_ref = F.lit(1) if strict else F.lit(-1)
        legs.append(
            ref.select(
                F.col("v"),
                F.lit(1).alias("is_ref"),
                F.lit(None).cast("long").alias("user_id"),
                F.lit(None).cast("long").alias("session_seq"),
                F.lit(side).alias("side"),
                tie_ref.alias("tie"),
            )
        )
        legs.append(
            qry.select(
                F.col("q").alias("v"),
                F.lit(0).alias("is_ref"),
                "user_id",
                "session_seq",
                F.lit(side).alias("side"),
                F.lit(0).alias("tie"),
            )
        )
    pts = legs[0]
    for leg in legs[1:]:
        pts = pts.unionAll(leg)
    b = pts.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        F.least(
            (F.col("v") - F.col("mn")) * _OVL_BUCKETS / (F.col("mx") - F.col("mn") + 1),
            F.lit(_OVL_BUCKETS - 1),
        ).cast("long"),
    )
    # ref counts per bucket over ALL points (like c2_ks_test): a bucket
    # holding only queries must still appear with cnt=0, or its rows would
    # coalesce to offset 0 and silently lose every lower bucket's ref mass
    bucket_tot = b.groupBy("side", "bucket").agg(F.sum("is_ref").alias("cnt"))
    wb = (
        Window.partitionBy("side")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bucket_tot.select(
        "side", "bucket", F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("off")
    )
    wv = (
        Window.partitionBy("side", "bucket")
        .orderBy("v", "tie")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = b.join(F.broadcast(offs), ["side", "bucket"], "left").select(
        "user_id",
        "session_seq",
        "is_ref",
        "side",
        (F.coalesce("off", F.lit(0)) + F.sum("is_ref").over(wv)).alias("rank"),
    )
    return cum.filter(F.col("is_ref") == 0).select(
        "user_id", "session_seq", "side", "rank"
    )


def _rank_counts(
    ref: DataFrame, qry: DataFrame, bounds: DataFrame, strict: bool
) -> DataFrame:
    """Single-pass wrapper over :func:`_rank_counts_multi` — kept as the
    documented reference shape (its tie semantics are unit-pinned in
    tests/test_round10.py)."""
    return _rank_counts_multi([(ref, qry, strict, 0)], bounds).select(
        "user_id", "session_seq", "rank"
    )


@register(
    "c15_session_overlap",
    oracle=f"""
    WITH {_SESSION_CTE}
    SELECT i.user_id, i.session_seq,
           CAST(count(*) - 1 AS BIGINT) AS n_overlap
    FROM sessions i
    JOIN sessions j
      ON j.start_us <= i.end_us AND j.end_us >= i.start_us
    GROUP BY i.user_id, i.session_seq
    """,
    doc="C15+: concurrent-session count per session — how many OTHER "
    "sessions (any user) overlap each session's [start, end] interval, "
    "the live-concurrency/load signal.  NO pair join: overlap count = "
    "(#starts ≤ my end) − (#ends < my start) − 1, two exact rank lookups "
    "via the bucketed-CDF pattern (≤256-row offset table + per-bucket "
    "windows), so the plan stays O(n log n)-shaped where the naive "
    "interval self-join is O(n²) in the worst hour.  The DuckDB oracle "
    "runs the self-join form (IEJoin) — two independent formulations "
    "agreeing is the point.",
)
def c15_session_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.plans.round9_queries import _session_table

    iv = _session_table(spark, sf_dir).select(
        "user_id", "session_seq", "start_us", "end_us"
    ).localCheckpoint(eager=True)  # feeds both rank passes + the bounds agg
    bounds = iv.agg(F.min("start_us").alias("mn"), F.max("end_us").alias("mx"))
    starts = iv.select(F.col("start_us").alias("v"))
    ends = iv.select(F.col("end_us").alias("v"))
    # r15: BOTH rank passes fused into one tagged plan (side 0 = "#starts
    # ≤ my end", side 1 = "#ends < my start") and the final per-session
    # combine is a groupBy over the tagged rows instead of an equi-join of
    # two pass outputs — one bucket rollup + one window + one aggregate
    # where the old shape ran two of each plus a sort-merge join (plan
    # diff: plans/r15/c15_session_overlap_{before,after}.txt; interleaved
    # A/B in OPTIMIZATION_r15.md).
    ranks = _rank_counts_multi(
        [
            (
                starts,
                iv.select("user_id", "session_seq", F.col("end_us").alias("q")),
                False,
                0,
            ),
            (
                ends,
                iv.select("user_id", "session_seq", F.col("start_us").alias("q")),
                True,
                1,
            ),
        ],
        bounds,
    )
    # groupBy (not the old inner join of the two rank passes) so NULL
    # (user_id, session_seq) groups are KEPT, matching the oracle's
    # GROUP BY semantics — an inner equi-join would silently drop them
    # (ADVICE r15; do not "fix" this back to a join)
    return ranks.groupBy("user_id", "session_seq").agg(
        (
            F.max(F.when(F.col("side") == 0, F.col("rank")))
            - F.max(F.when(F.col("side") == 1, F.col("rank")))
            - 1
        ).alias("n_overlap")
    )


# --------------------------------------------------------------------------
# C12+ — real PNG pixel statistics (rows-only: no SQL engine can inflate
# an IDAT stream; pinned instead by the formula-replay pytest
# tests/test_png_pixels.py against hand-computable synthesized payloads).
# --------------------------------------------------------------------------


@register(
    "c12_png_pixel_stats",
    # The oracle cannot inflate an IDAT stream — but it doesn't have to:
    # the payloads are synthesized from the closed-form pixel formula
    # (x, y, c of doc d = (d·7 + y·31 + x·13 + c·5) mod 256), so the
    # EXPECTED stats have an exact SQL replay over a generated grid.
    # Spark runs the real decoder over real PNG bytes; the oracle replays
    # the formula — the encoder and decoder share only the PNG spec, so a
    # symmetric encode/decode bug still can't pass (the md5-gate pattern,
    # VERDICT r10 #3).
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40),
    g AS (SELECT t1.y, t2.x, t3.c
          FROM range(18) t1(y), range(24) t2(x), range(3) t3(c)),
    px AS (
        SELECT i.doc_id, g.c AS channel,
               (i.doc_id * 7 + g.y * 31 + g.x * 13 + g.c * 5) % 256 AS v
        FROM ids i CROSS JOIN g)
    SELECT doc_id, CAST(channel AS BIGINT) AS channel,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(v) AS BIGINT) AS sum_val,
           CAST(min(v) AS BIGINT) AS min_val,
           CAST(max(v) AS BIGINT) AS max_val
    FROM px GROUP BY doc_id, channel
    """,
    doc="C12+: REAL PNG pixel decode over synthesized deterministic "
    "payloads — per (doc, channel) exact int64 pixel sum/extrema from "
    "zlib-inflated, un-filtered scanlines (all five PNG row filters "
    "exercised per payload).  Spark decodes real PNG bytes; the oracle "
    "replays the generator's closed-form pixel formula over a SQL grid, "
    "so the comparison pins the decoder against the spec, not against "
    "itself.  Scale shape: stateless mapInPandas decode, payload bytes "
    "never leave the executor.",
)
def c12_png_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.multimodal import (
        png_pixel_stats,
        synth_png_pixel_payload,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(40)
    )
    return png_pixel_stats(
        synth_png_pixel_payload(docs, width=24, height=18)
    )


@register(
    "c12_gif_pixel_stats",
    # Same expected-vs-computed pattern as the PNG row: the oracle can't
    # run LZW, but the payload pixels come from the closed-form palette
    # index (x, y of doc d = (d·7 + y·5 + x·3) mod 16) mapped through the
    # formula palette (i·17, i·29+3, i·53+7 mod 256), so the expected
    # stats replay exactly in SQL over a generated grid.
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40),
    g AS (SELECT t1.y, t2.x FROM range(18) t1(y), range(24) t2(x)),
    idx AS (
        SELECT i.doc_id, (i.doc_id * 7 + g.y * 5 + g.x * 3) % 16 AS pi
        FROM ids i CROSS JOIN g),
    px AS (
        SELECT doc_id, 0 AS channel, (pi * 17) % 256 AS v FROM idx
        UNION ALL
        SELECT doc_id, 1, (pi * 29 + 3) % 256 FROM idx
        UNION ALL
        SELECT doc_id, 2, (pi * 53 + 7) % 256 FROM idx)
    SELECT doc_id, CAST(channel AS BIGINT) AS channel,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(v) AS BIGINT) AS sum_val,
           CAST(min(v) AS BIGINT) AS min_val,
           CAST(max(v) AS BIGINT) AS max_val
    FROM px GROUP BY doc_id, channel
    """,
    doc="C12+: REAL GIF pixel decode over synthesized deterministic "
    "payloads — per (doc, channel) exact int64 pixel sum/extrema from a "
    "pure-Python LZW decompression of the first frame mapped through the "
    "16-color palette.  Spark decodes real GIF bytes (KwKwK corner "
    "pytested); the oracle replays the generator's closed-form index and "
    "palette formulas over a SQL grid, pinning the decoder against the "
    "spec, not against itself.  Scale shape: stateless mapInPandas "
    "decode, payload bytes never leave the executor.",
)
def c12_gif_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.multimodal import (
        gif_pixel_stats,
        synth_gif_pixel_payload,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(40)
    )
    return gif_pixel_stats(
        synth_gif_pixel_payload(docs, width=24, height=18)
    )

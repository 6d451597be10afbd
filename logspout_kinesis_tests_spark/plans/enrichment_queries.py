"""Round-4b breadth queries: correlation matrix, compaction planning,
temperature-scaled mixture resampling, exact rolling median, per-source
KL-divergence drift, and Holt linear-trend smoothing.

Registered LAST (see plans/__init__) so longer-waiting unverified queries
keep their place at the front of the driver's correctness window.

Oracle-parity notes (see plans/helpers.py): every float aggregate goes
through exact decimal arithmetic or a bit-stable closed form written in the
identical association order on both engines; integer window sums are cast
to BIGINT on the DuckDB side (HUGEINT widening, the r3 root cause).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.plans.registry import register
from logspout_kinesis_tests_spark.sources.tables import load_table


# --- C2+: Pearson correlation matrix ---------------------------------------

#: The three profiled lineitem measures; all carry exactly 2 decimal places
#: in the generator, so DECIMAL(18,2) casts are lossless.
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount")
_CORR_PAIRS = (
    ("qty_price", "l_quantity", "l_extendedprice"),
    ("qty_disc", "l_quantity", "l_discount"),
    ("price_disc", "l_extendedprice", "l_discount"),
)


def _sql_corr(x: str, y: str) -> str:
    """Pearson r from exact sums — identical expression tree to the Spark
    side: (n·Σxy − Σx·Σy) / sqrt((n·Σxx − Σx·Σx) · (n·Σyy − Σy·Σy)).
    A zero-variance group (constant column) makes the denominator 0, where
    Spark's double division yields NaN but DuckDB yields NULL — both sides
    guard the degenerate case to NULL explicitly so they agree."""
    den = (
        f"(n * s_{x}_{x} - s_{x} * s_{x}) * "
        f"(n * s_{y}_{y} - s_{y} * s_{y})"
    )
    return (
        f"CASE WHEN {den} = 0 THEN NULL ELSE "
        f"round((n * s_{x}_{y} - s_{x} * s_{y}) / sqrt({den}), 9) END"
    )


def _sql_corr_sums() -> str:
    parts = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in _CORR_COLS:
        parts.append(f"CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE) AS s_{c}")
    done = set()
    for _, x, y in _CORR_PAIRS:
        for a, b in ((x, x), (y, y), (x, y)):
            if (a, b) in done:
                continue
            done.add((a, b))
            parts.append(
                f"CAST(sum(CAST({a} AS DECIMAL(18,2)) * "
                f"CAST({b} AS DECIMAL(18,2))) AS DOUBLE) AS s_{a}_{b}"
            )
    return ", ".join(parts)


@register(
    "c2_corr_matrix",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag, {_sql_corr_sums()}
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'qty_price' AS pair,
           {_sql_corr('l_quantity', 'l_extendedprice')} AS corr_val,
           CAST(n AS BIGINT) AS n
    FROM s
    UNION ALL
    SELECT l_returnflag, 'qty_disc', {_sql_corr('l_quantity', 'l_discount')},
           CAST(n AS BIGINT)
    FROM s
    UNION ALL
    SELECT l_returnflag, 'price_disc',
           {_sql_corr('l_extendedprice', 'l_discount')}, CAST(n AS BIGINT)
    FROM s
    """,
    doc="C2+: per-group Pearson correlation matrix over the lineitem "
    "measures — closed-form r from exact decimal sums (n, Σx, Σy, Σxy, "
    "Σx², Σy²) in ONE map-combined groupBy scan, then a 3-pair unpivot "
    "of the single aggregate row per group.  Decimal sums are exact and "
    "order-independent (≤2^53 after the double cast at every tested SF), "
    "and the r expression is written in the identical association order "
    "in both engines — bit-identical across partitionings.  One shuffle "
    "of 3 tiny rows; no second scan, no window, no UDF.",
)
def c2_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")

    def dec(c: str) -> F.Column:
        return F.col(c).cast("decimal(18,2)")

    aggs = [F.count("*").cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(F.sum(dec(c)).cast("double").alias(f"s_{c}"))
    done = set()
    for _, x, y in _CORR_PAIRS:
        for a, b in ((x, x), (y, y), (x, y)):
            if (a, b) not in done:
                done.add((a, b))
                aggs.append(
                    F.sum(dec(a) * dec(b)).cast("double").alias(f"s_{a}_{b}")
                )
    s = li.groupBy("l_returnflag").agg(*aggs)

    def corr(x: str, y: str) -> F.Column:
        n = F.col("n")
        sx, sy = F.col(f"s_{x}"), F.col(f"s_{y}")
        sxx, syy = F.col(f"s_{x}_{x}"), F.col(f"s_{y}_{y}")
        sxy = F.col(f"s_{x}_{y}")
        # zero-variance guard: mirror DuckDB's NULL (Spark would emit NaN)
        den = (n * sxx - sx * sx) * (n * syy - sy * sy)
        return F.when(den == F.lit(0.0), F.lit(None).cast("double")).otherwise(
            F.round((n * sxy - sx * sy) / F.sqrt(den), 9)
        )

    rows = [
        s.select(
            "l_returnflag",
            F.lit(name).alias("pair"),
            corr(x, y).alias("corr_val"),
            F.col("n").cast("long").alias("n"),
        )
        for name, x, y in _CORR_PAIRS
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


# --- C19+: small-file compaction planning ----------------------------------

#: Target output-group size in rows.  Real deployments use bytes; rows is
#: the same arithmetic against this dataset's manifest.
_COMPACT_TARGET = 500


@register(
    "c19_compaction_plan",
    # The window SUM over BIGINT widens to HUGEINT in DuckDB — cast back
    # before the division (r3 lesson).
    oracle=f"""
    WITH manifest AS (
        SELECT strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS part_month,
               strftime(l_shipdate, '%Y-%m-%d') AS file_day,
               count(*) AS size_rows
        FROM lineitem GROUP BY 1, 2),
    planned AS (
        SELECT part_month, file_day, size_rows,
               CAST(coalesce(sum(size_rows) OVER (
                   PARTITION BY part_month ORDER BY file_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM manifest)
    SELECT part_month, file_day, size_rows,
           CAST(floor(cum_before / {_COMPACT_TARGET}) AS BIGINT) AS group_id
    FROM planned
    """,
    doc="C19+: small-file compaction planner — the maintenance pass a "
    "bucketed/partitioned layout (sources/dataset.py) needs at 100 TB.  "
    "The per-day file manifest (here derived from lineitem row counts) is "
    "bucketed into ~target-row output groups per partition month via an "
    "exclusive running sum: group = floor(cum_before / target).  One "
    "shuffle on the partition key, O(1) window state per file; the plan "
    "table is |files|, never |rows|, so the planner costs nothing at "
    "scale.  Mirrors the epoch-compaction fold in operators/dedup.py "
    "as a batch, oracle-verifiable shape.",
)
def c19_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    manifest = (
        li.groupBy(
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM-dd").alias(
                "part_month"
            ),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("file_day"),
        )
        .agg(F.count("*").alias("size_rows"))
    )
    w = (
        Window.partitionBy("part_month")
        .orderBy("file_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = manifest.withColumn(
        "cum_before", F.coalesce(F.sum("size_rows").over(w), F.lit(0))
    )
    return planned.select(
        "part_month",
        "file_day",
        "size_rows",
        F.floor(F.col("cum_before") / _COMPACT_TARGET).cast("long").alias("group_id"),
    )


# --- C14+: temperature-scaled mixture resampling ---------------------------

#: Token budget distributed across sources by temperature-scaled weight.
_RESAMPLE_BUDGET = 100_000
#: Temperature τ=0.5: weight ∝ n^0.5 — the standard multilingual rebalance
#: (hot sources damped, tail sources boosted) with an exactly-computable
#: power (sqrt is correctly rounded in IEEE-754).
_RESAMPLE_TAU = 0.5


@register(
    "c14_temperature_resample",
    oracle=f"""
    WITH per_src AS (
        SELECT source, count(*) AS n_docs,
               CAST(round(sqrt(CAST(count(*) AS DOUBLE)), 9)
                    AS DECIMAL(28,9)) AS w_dec
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(w_dec) AS DOUBLE) AS total_w FROM per_src)
    SELECT source, n_docs,
           round(CAST(w_dec AS DOUBLE) / total_w, 9) AS weight,
           CAST(floor(CAST(w_dec AS DOUBLE) / total_w * {_RESAMPLE_BUDGET})
                AS BIGINT) AS quota
    FROM per_src, tot
    """,
    doc="C14+: temperature-scaled mixture resampling (τ=0.5) — per-source "
    "sampling weights n^τ / Σ n^τ and integer token quotas, the standard "
    "rebalance for skewed multilingual corpora.  sqrt(n) is correctly "
    "rounded in IEEE-754, quantized to DECIMAL(28,9) so the cross-source "
    "total is an exact order-independent decimal sum (a double sum over "
    "sources would be association-order-dependent), and the final "
    "weight/quota are single double ops written identically in both "
    "engines.  One map-combined count per source + a broadcast scalar "
    "join; no window, no second scan of the corpus.",
)
def c14_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sqrt(F.count("*").cast("double")), 9)
        .cast("decimal(28,9)")
        .alias("w_dec"),
    )
    tot = per_src.agg(F.sum("w_dec").cast("double").alias("total_w"))
    weight = F.col("w_dec").cast("double") / F.col("total_w")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(weight, 9).alias("weight"),
        F.floor(weight * _RESAMPLE_BUDGET).cast("long").alias("quota"),
    )


# --- C5+: exact bounded-frame rolling median -------------------------------

_MEDIAN_TAPS = 5


@register(
    "c5_rolling_median",
    # Lower median of the non-null trailing taps: pure element selection
    # from a sorted list — no float arithmetic at all, so parity is exact
    # by construction.  DuckDB CAST(double AS INT) ROUNDS while Spark
    # truncates — floor() first on both sides.
    oracle=f"""
    WITH taps AS (
        SELECT event_id, user_id,
               list_filter([{", ".join(
                   f"lag(value, {d}) OVER "
                   "(PARTITION BY user_id ORDER BY ts, event_id)"
                   for d in range(1, _MEDIAN_TAPS)
               )}, value], x -> x IS NOT NULL) AS vs
        FROM events)
    SELECT event_id, user_id,
           list_sort(vs)[CAST(floor((len(vs) + 1) / 2) AS INT)] AS rolling_median
    FROM taps
    """,
    doc="C5+: exact rolling median over a bounded 5-tap trailing frame per "
    "user — explicit lag() taps collected into an array, sorted, lower "
    "median selected by index.  O(k log k) per row with k constant, one "
    "shuffle on the partition key; unlike percentile_approx this is exact "
    "and engine-portable because no arithmetic touches the values.  The "
    "robust-statistics counterpart to c16_ewma's mean smoothing (median "
    "filters shrug off the spikes EWMA smears).",
)
def c5_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    taps = ev.select(
        "event_id",
        "user_id",
        F.filter(
            F.array(
                *[F.lag("value", d).over(w) for d in range(1, _MEDIAN_TAPS)],
                F.col("value"),
            ),
            lambda x: x.isNotNull(),
        ).alias("vs"),
    )
    arr = F.array_sort(F.col("vs"))
    idx = F.floor((F.size("vs") + F.lit(1)) / F.lit(2)).cast("int")
    return taps.select(
        "event_id",
        "user_id",
        F.element_at(arr, idx).alias("rolling_median"),
    )


# --- C11+: per-source KL-divergence drift ----------------------------------


@register(
    "c11_kl_divergence",
    # Per-term contributions are one double expression (identical tree in
    # both engines), quantized to DECIMAL(28,12) so the per-source total is
    # an exact order-independent sum — the helpers.py policy applied to a
    # log-space statistic.
    oracle="""
    WITH words AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
    src_tc AS (SELECT source, term, count(*) AS c_st FROM words GROUP BY source, term),
    src_tot AS (SELECT source, CAST(count(*) AS DOUBLE) AS t_s FROM words GROUP BY source),
    corp_tc AS (SELECT term, CAST(count(*) AS DOUBLE) AS c_t FROM words GROUP BY term),
    corp_tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM words),
    contrib AS (
        SELECT s.source,
               CAST(round(
                   (CAST(c_st AS DOUBLE) / t_s)
                   * ln((CAST(c_st AS DOUBLE) / t_s) / (c_t / t)), 12)
                   AS DECIMAL(28,12)) AS kl_term
        FROM src_tc s
        JOIN src_tot USING (source)
        JOIN corp_tc USING (term)
        CROSS JOIN corp_tot)
    SELECT source,
           round(CAST(sum(kl_term) AS DOUBLE), 9) AS kl_nats,
           count(*) AS n_terms
    FROM contrib GROUP BY source
    """,
    doc="C11+: per-source domain drift — KL(source ‖ corpus) over unigram "
    "distributions, the standard divergence for spotting a source whose "
    "term mix departs from the corpus (no smoothing needed: every source "
    "term exists in the corpus by construction).  One explode + two "
    "map-combined counts; the per-term join is a co-partitioned equi-join "
    "on term, totals arrive via broadcast.  Each term's p·ln(p/q) is one "
    "double expression written identically in both engines, quantized to "
    "DECIMAL(28,12) so the per-source sum is exact and order-independent "
    "— the log-space extension of the helpers.py decimal-sum policy.",
)
def c11_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("term"),
    )
    src_tc = words.groupBy("source", "term").agg(F.count("*").alias("c_st"))
    src_tot = words.groupBy("source").agg(
        F.count("*").cast("double").alias("t_s")
    )
    corp_tc = words.groupBy("term").agg(F.count("*").cast("double").alias("c_t"))
    corp_tot = words.agg(F.count("*").cast("double").alias("t"))
    p = F.col("c_st").cast("double") / F.col("t_s")
    q = F.col("c_t") / F.col("t")
    contrib = (
        src_tc.join(F.broadcast(src_tot), "source")
        .join(corp_tc, "term")
        .crossJoin(F.broadcast(corp_tot))
        .select(
            "source",
            F.round(p * F.log(p / q), 12).cast("decimal(28,12)").alias("kl_term"),
        )
    )
    return contrib.groupBy("source").agg(
        F.round(F.sum("kl_term").cast("double"), 9).alias("kl_nats"),
        F.count("*").alias("n_terms"),
    )


# --- C16+: Holt linear-trend smoothing (stateful walk) ---------------------

#: Exact power-of-two smoothing constants: every multiplication by these is
#: correctly rounded identically in CPython, Spark's Arrow path, and DuckDB,
#: and the recurrence is evaluated in the same association order on both
#: sides — the walk is bit-reproducible with NO rounding safety net.
_HOLT_ALPHA = 0.5  # level gain
_HOLT_GAMMA = 0.25  # trend gain


@register(
    "c16_holt_smoothing",
    # A sequential recurrence IS oracle-expressible: the recursive CTE steps
    # every user's series one row-rank per iteration (depth = longest
    # series, all partitions advance in parallel) — same pattern as the
    # packing-walk oracles.
    oracle="""
    WITH RECURSIVE ordered AS (
        SELECT event_id, user_id, CAST(value AS DOUBLE) AS y,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events),
    walk AS (
        SELECT event_id, user_id, rn, y AS level, CAST(0.0 AS DOUBLE) AS trend
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.event_id, o.user_id, o.rn,
               0.5 * o.y + 0.5 * (w.level + w.trend),
               0.25 * ((0.5 * o.y + 0.5 * (w.level + w.trend)) - w.level)
                   + 0.75 * w.trend
        FROM walk w
        JOIN ordered o ON o.user_id = w.user_id AND o.rn = w.rn + 1)
    SELECT event_id, user_id, level, trend FROM walk
    """,
    doc="C16+: Holt double-exponential smoothing (level + linear trend, "
    "α=1/2 γ=1/4) per user series — the genuinely sequential recurrence "
    "l_t = αy + (1−α)(l+b), b_t = γ(l_t−l) + (1−γ)b that no window frame "
    "expresses, so it runs as ONE Arrow batch per series via "
    "applyInPandas (the canonical stateful-walk operator, like "
    "operators/curation.greedy_packing).  One shuffle on user_id, O(1) "
    "state per row, series never leave their executor.  Power-of-two "
    "gains make every step bit-exact against the recursive-CTE oracle "
    "with no rounding tolerance at all.",
)
def c16_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.col("value").cast("double").alias("y")
    )

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        ys = pdf["y"].tolist()
        levels: list[float] = []
        trends: list[float] = []
        level = trend = 0.0
        for i, y in enumerate(ys):
            if i == 0:
                level, trend = y, 0.0
            else:
                new_level = 0.5 * y + 0.5 * (level + trend)
                trend = 0.25 * (new_level - level) + 0.75 * trend
                level = new_level
            levels.append(level)
            trends.append(trend)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"].values,
                "user_id": pdf["user_id"].values,
                "level": levels,
                "trend": trends,
            }
        )

    return ev.groupBy("user_id").applyInPandas(
        smooth, schema="event_id long, user_id long, level double, trend double"
    )

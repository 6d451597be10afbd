"""Round-11 queries: streaming-ingest parity for MinHash dedup (the
3-epoch search-before-append cascade, hash-verified), Mahalanobis outlier
scores off exact 2-D moments, deterministic hash-bootstrap CIs for
Cohen's d, session entry/exit entropy (the marginal+surprisal companion
to the r9 entry/exit matrix), k-truss edge support and rich-club density
off the degree-ordered triangle machinery, on-balance volume, per-source
skew audit (Gini), embedding-norm health audit, exact-dup cluster-size
histograms, REAL baseline-JPEG pixel decode, and REAL MJPEG-in-AVI video
frame sampling/decode.

Registered LAST (see plans/__init__) so the staleness-ordered rotation
spends the window's remaining slots on the r5-era green cohort
(VERDICT r10 #2: ~10 new + ~35 stale re-verifications drains most of r5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.plans.registry import register
from logspout_kinesis_tests_spark.plans.round9_queries import (
    _COPURCHASE_EDGES_CTE,
    _SESSION_CTE,
)
from logspout_kinesis_tests_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# C2+ — Mahalanobis outliers and a deterministic bootstrap, both on the
# exact-integer-moment pattern (quantize -> decimal sums -> shared closing
# double text, the _JB/_COHEN bit-parity argument).
# --------------------------------------------------------------------------

#: Shared Spark/DuckDB closing arithmetic for the 2-D Mahalanobis distance:
#: moments arrive as exact decimals, everything after this text is IEEE
#: double in the identical association order on both engines.
_MAHA_STATS = (
    "CAST(sx AS DOUBLE) / nu AS mx",
    "CAST(sy AS DOUBLE) / nu AS my",
    "CAST(sxx AS DOUBLE) / nu AS rxx",
    "CAST(syy AS DOUBLE) / nu AS ryy",
    "CAST(sxy AS DOUBLE) / nu AS rxy",
)
_MAHA_COV = (
    "rxx - mx * mx AS vx",
    "ryy - my * my AS vy",
    "rxy - mx * my AS vxy",
)
_MAHA_OUT = (
    "CASE WHEN vx * vy - vxy * vxy <= 0 THEN NULL"
    " ELSE round(((CAST(x AS DOUBLE) - mx) * (CAST(x AS DOUBLE) - mx) * vy"
    " - 2 * (CAST(x AS DOUBLE) - mx) * (CAST(y AS DOUBLE) - my) * vxy"
    " + (CAST(y AS DOUBLE) - my) * (CAST(y AS DOUBLE) - my) * vx)"
    " / (vx * vy - vxy * vxy), 6) END AS maha_sq"
)


@register(
    "c2_mahalanobis_outlier",
    # Per-user 2-D behavioural point (event count, mean value in cents,
    # the mean exact-rational-quantized to 4 dp) scored against the global
    # covariance of the user population — the classic correlated-feature
    # outlier screen where per-axis z-scores miss.  Moments are exact
    # decimals (products of a LONG and a DECIMAL(18,4) grid value), the
    # 2x2 inverse is closed-form inside the shared double text, degenerate
    # covariance (det <= 0) reports NULL.
    oracle=f"""
    WITH pts AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS x,
               CAST(round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                               AS DOUBLE) / count(*), 4)
                    AS DECIMAL(18,4)) AS y
        FROM events WHERE value IS NOT NULL GROUP BY user_id),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS nu,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS DECIMAL(38,4)) AS sy,
               sum(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(38,0))) AS sxx,
               sum(CAST(y * y AS DECIMAL(38,8))) AS syy,
               sum(CAST(x * y AS DECIMAL(38,4))) AS sxy
        FROM pts),
    stats AS (SELECT nu, {', '.join(_MAHA_STATS)} FROM mom),
    cov AS (SELECT nu, mx, my, {', '.join(_MAHA_COV)} FROM stats),
    scored AS (
        SELECT p.user_id, p.x, CAST(p.y AS DOUBLE) AS mean_cents, {_MAHA_OUT}
        FROM pts p CROSS JOIN cov)
    SELECT user_id, x AS n_events, mean_cents, maha_sq
    FROM scored
    ORDER BY maha_sq DESC NULLS LAST, user_id
    LIMIT 20
    """,
    doc="C2+: Mahalanobis outlier score per user over the 2-D point "
    "(event count, mean value) — the covariance-aware anomaly screen "
    "(correlated features make per-axis z-scores blind).  One scan to "
    "per-user points, one tiny global moment row broadcast back, exact "
    "decimal moments (mean quantized to an exact 4-dp grid), closed-form "
    "2x2 inverse in the SAME closing SQL text on both engines; top-20 by "
    "score, total tie-broken order.",
)
def c2_mahalanobis_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pts = (
        ev.select(
            "user_id", F.round(F.col("value") * 100, 0).cast("long").alias("c")
        )
        .groupBy("user_id")
        .agg(
            F.count("*").alias("x"),
            F.round(F.sum("c").cast("double") / F.count("*"), 4)
            .cast("decimal(18,4)")
            .alias("y"),
        )
    )
    mom = pts.agg(
        F.count("*").alias("nu"),
        F.sum("x").alias("sx"),
        F.sum("y").cast("decimal(38,4)").alias("sy"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)")).alias(
            "sxx"
        ),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,8)")).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)")).alias("sxy"),
    )
    cov = mom.selectExpr("nu", *_MAHA_STATS).selectExpr(
        "nu", "mx", "my", *_MAHA_COV
    )
    scored = pts.crossJoin(F.broadcast(cov)).selectExpr(
        "user_id", "x", "CAST(y AS DOUBLE) AS mean_cents", _MAHA_OUT
    )
    return (
        scored.select(F.col("user_id"), F.col("x").alias("n_events"), "mean_cents", "maha_sq")
        .orderBy(F.col("maha_sq").desc_nulls_last(), "user_id")
        .limit(20)
    )


#: Closing text for the bootstrap summary (mean/sd over B replicate d's,
#: each replicate d quantized to an exact 9-dp decimal before the sum).
_BOOT_OUT = (
    "CAST(b AS BIGINT) AS n_reps",
    "round(CAST(sd_sum AS DOUBLE) / b, 6) AS d_mean",
    "CASE WHEN b <= 1 THEN NULL ELSE round(sqrt((CAST(sq_sum AS DOUBLE)"
    " - CAST(sd_sum AS DOUBLE) * sd_sum / b) / (b - 1)), 6) END AS d_sd",
    "round(d_lo, 6) AS d_lo",
    "round(d_hi, 6) AS d_hi",
)


@register(
    "c2_cohens_d_bootstrap",
    # Deterministic hash bootstrap: replicate r keeps a row iff the first
    # hex digit of md5(event_id:r) < '8' (an exact 50% m-out-of-n
    # subsample, no RNG state — replayable on any engine/partitioning).
    # Each replicate recomputes the pooled Cohen's d from exact moments;
    # the replicate d's are quantized to 9 dp and summarized as mean/sd/
    # min/max across B=32.  The spread is the sampling-variability CI the
    # point estimate c2_cohens_d cannot report.
    oracle="""
    WITH reps AS (SELECT unnest(range(32)) AS r),
    cents AS (
        SELECT event_type AS g, event_id,
               CAST(round(value * 100, 0) AS BIGINT) AS x
        FROM events WHERE value IS NOT NULL),
    sampled AS (
        SELECT c.g, r.r, c.x
        FROM cents c CROSS JOIN reps r
        WHERE substring(md5(CAST(c.event_id AS VARCHAR) || ':'
                            || CAST(r.r AS VARCHAR)), 1, 1) < '8'),
    mom AS (
        SELECT g, r, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               sum(CAST(CAST(x AS DECIMAL(19,0)) * x AS DECIMAL(38,0))) AS q
        FROM sampled GROUP BY g, r),
    pairs AS (
        SELECT a.g AS g1, b.g AS g2, a.r,
               a.n AS n1, b.n AS n2, a.s AS s1, b.s AS s2, a.q AS q1, b.q AS q2
        FROM mom a JOIN mom b ON a.g < b.g AND a.r = b.r
        WHERE a.n > 1 AND b.n > 1),
    ds AS (
        SELECT g1, g2, r,
               CASE WHEN (((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1))) * (n1 - 1) + ((CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1))) * (n2 - 1)) / (CAST(n1 AS DOUBLE) + n2 - 2) <= 0 THEN NULL
               ELSE CAST(round((CAST(s1 AS DOUBLE) / n1
                                - CAST(s2 AS DOUBLE) / n2)
               / sqrt((((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1))) * (n1 - 1) + ((CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1))) * (n2 - 1)) / (CAST(n1 AS DOUBLE) + n2 - 2)), 9) AS DECIMAL(18,9)) END AS d
        FROM pairs WHERE n1 > 1 AND n2 > 1),
    dsnn AS (SELECT g1, g2, r, d FROM ds WHERE d IS NOT NULL),
    summ AS (
        SELECT g1, g2, CAST(count(*) AS BIGINT) AS b,
               CAST(sum(d) AS DECIMAL(38,9)) AS sd_sum,
               CAST(sum(CAST(d * d AS DECIMAL(38,18))) AS DECIMAL(38,18))
                   AS sq_sum,
               CAST(min(d) AS DOUBLE) AS d_lo,
               CAST(max(d) AS DOUBLE) AS d_hi
        FROM dsnn GROUP BY g1, g2)
    SELECT g1, g2, CAST(b AS BIGINT) AS n_reps,
           round(CAST(sd_sum AS DOUBLE) / b, 6) AS d_mean,
           CASE WHEN b <= 1 THEN NULL ELSE round(sqrt((CAST(sq_sum AS DOUBLE)
            - CAST(sd_sum AS DOUBLE) * sd_sum / b) / (b - 1)), 6) END AS d_sd,
           round(d_lo, 6) AS d_lo,
           round(d_hi, 6) AS d_hi
    FROM summ
    """,
    doc="C2+: bootstrap sampling distribution for Cohen's d (VERDICT r10 "
    "#2's named candidate) — B=32 deterministic hash-subsample replicates "
    "(md5 threshold, no RNG state, engine/partitioning-replayable), each "
    "recomputing the pooled effect size from exact moments; reports "
    "mean/sd/min/max of the replicate d's per event-type pair.  One scan "
    "fans out x32 at the map side and collapses to (5 groups x 32) moment "
    "rows before any join; replicate d's quantized to 9 dp so the "
    "cross-replicate sums are exact decimals.",
)
def c2_cohens_d_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = ev.select(
        F.col("event_type").alias("g"),
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("x"),
    )
    sampled = cents.select(
        "g", "x", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("r"),
        F.col("event_id"),
    ).filter(
        F.substring(
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":"),
                           F.col("r").cast("string"))), 1, 1
        )
        < "8"
    )
    mom = sampled.groupBy("g", "r").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum((F.col("x").cast("decimal(19,0)") * F.col("x")).cast("decimal(38,0)")).alias(
            "q"
        ),
    )
    a = mom.select(
        F.col("g").alias("g1"), "r", F.col("n").alias("n1"),
        F.col("s").alias("s1"), F.col("q").alias("q1"),
    )
    b = mom.select(
        F.col("g").alias("g2"), F.col("r").alias("r2"), F.col("n").alias("n2"),
        F.col("s").alias("s2"), F.col("q").alias("q2"),
    )
    pairs = a.join(
        b, (F.col("g1") < F.col("g2")) & (F.col("r") == F.col("r2"))
    ).filter((F.col("n1") > 1) & (F.col("n2") > 1))
    # the zero-variance guard (constant corpus -> pooled sd 0) is the SAME
    # CASE text as the oracle: divide-by-zero is an ANSI crash, not a NaN
    ds = pairs.selectExpr(
        "g1", "g2", "r",
        "CASE WHEN (((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1))) * (n1 - 1) + ((CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1))) * (n2 - 1)) / (CAST(n1 AS DOUBLE) + n2 - 2) <= 0 THEN NULL"
        " ELSE CAST(round((CAST(s1 AS DOUBLE) / n1"
        " - CAST(s2 AS DOUBLE) / n2)"
        " / sqrt((((CAST(n1 AS DOUBLE) * q1 - CAST(s1 AS DOUBLE) * s1) / (CAST(n1 AS DOUBLE) * (n1 - 1))) * (n1 - 1) + ((CAST(n2 AS DOUBLE) * q2 - CAST(s2 AS DOUBLE) * s2) / (CAST(n2 AS DOUBLE) * (n2 - 1))) * (n2 - 1)) / (CAST(n1 AS DOUBLE) + n2 - 2)), 9) AS DECIMAL(18,9)) END AS d",
    ).filter(F.col("d").isNotNull())
    summ = ds.groupBy("g1", "g2").agg(
        F.count("*").alias("b"),
        F.sum("d").cast("decimal(38,9)").alias("sd_sum"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,18)"))
        .cast("decimal(38,18)")
        .alias("sq_sum"),
        F.min("d").cast("double").alias("d_lo"),
        F.max("d").cast("double").alias("d_hi"),
    )
    return summ.selectExpr("g1", "g2", *_BOOT_OUT)


# --------------------------------------------------------------------------
# C5+/C7+ — session entry/exit distributions.
# --------------------------------------------------------------------------


#: Shared closing text for the boundary-entropy query: probabilities and
#: surprisal contributions computed from integer counts in the IDENTICAL
#: expression tree on both engines (ln() is correctly-rounded-enough to
#: agree across libm implementations on these inputs — the KL-divergence /
#: Zipf precedent — and the 6-dp round absorbs any last-ULP wobble).
_EE_OUT = (
    "event_type",
    "n_entry",
    "n_exit",
    "round(CAST(n_entry AS DOUBLE) / n_sessions, 6) AS p_entry",
    "round(CAST(n_exit AS DOUBLE) / n_sessions, 6) AS p_exit",
    "CASE WHEN n_entry = 0 THEN 0.0 ELSE"
    " round(-(CAST(n_entry AS DOUBLE) / n_sessions)"
    " * ln(CAST(n_entry AS DOUBLE) / n_sessions) / ln(2.0), 6) END AS h_entry",
    "CASE WHEN n_exit = 0 THEN 0.0 ELSE"
    " round(-(CAST(n_exit AS DOUBLE) / n_sessions)"
    " * ln(CAST(n_exit AS DOUBLE) / n_sessions) / ln(2.0), 6) END AS h_exit",
)


@register(
    "c5_entry_exit_entropy",
    # The MARGINAL + entropy companion to the r9 joint matrix
    # (c7_session_entry_exit): per event type, how much of the session
    # entry/exit probability mass it carries and its Shannon surprisal
    # contribution -p*log2(p).  Summing h_entry (resp. h_exit) downstream
    # gives the boundary entropies — low entry entropy means traffic
    # lands on one door (a campaign or a crawler), high exit entropy
    # means sessions die everywhere (no natural endpoint).
    oracle=f"""
    WITH {_SESSION_CTE},
    rn AS (
        SELECT user_id, session_seq, event_type,
               row_number() OVER (PARTITION BY user_id, session_seq
                                  ORDER BY us, event_id) AS rf,
               row_number() OVER (PARTITION BY user_id, session_seq
                                  ORDER BY us DESC, event_id DESC) AS rl
        FROM tagged),
    ends AS (
        SELECT max(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
               max(CASE WHEN rl = 1 THEN event_type END) AS exit_type
        FROM rn GROUP BY user_id, session_seq),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM ends),
    en AS (SELECT entry_type AS event_type,
                  CAST(count(*) AS BIGINT) AS n_entry
           FROM ends GROUP BY entry_type),
    ex AS (SELECT exit_type AS event_type,
                  CAST(count(*) AS BIGINT) AS n_exit
           FROM ends GROUP BY exit_type),
    m AS (
        SELECT coalesce(en.event_type, ex.event_type) AS event_type,
               CAST(coalesce(en.n_entry, 0) AS BIGINT) AS n_entry,
               CAST(coalesce(ex.n_exit, 0) AS BIGINT) AS n_exit,
               t.n_sessions
        FROM en FULL OUTER JOIN ex ON ex.event_type = en.event_type
        CROSS JOIN tot t)
    SELECT {", ".join(_EE_OUT)} FROM m
    """,
    doc="C5+/C7+: session entry/exit ENTROPY decomposition per event type "
    "(VERDICT r10 #2's named candidate) — marginal boundary probabilities "
    "plus each type's Shannon surprisal contribution -p*log2(p); the "
    "joint matrix row (c7_session_entry_exit) reports counts, this row "
    "reports the distributional health number on top.  Same 30-minute "
    "sessionization, two row_number windows pin the boundaries with a "
    "total (us, event_id) tie-break, 5-row full outer join, shared "
    "closing text.",
)
def c5_entry_exit_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.plans.round9_queries import _tagged_events

    tagged = _tagged_events(spark, sf_dir)
    w_f = Window.partitionBy("user_id", "session_seq").orderBy("us", "event_id")
    w_l = Window.partitionBy("user_id", "session_seq").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    ends = (
        tagged.select(
            "user_id", "session_seq", "event_type",
            F.row_number().over(w_f).alias("rf"),
            F.row_number().over(w_l).alias("rl"),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.max(F.when(F.col("rf") == 1, F.col("event_type"))).alias("entry_type"),
            F.max(F.when(F.col("rl") == 1, F.col("event_type"))).alias("exit_type"),
        )
        .localCheckpoint(eager=True)  # feeds total + both rollups
    )
    n_sessions = ends.count()
    en = ends.groupBy(F.col("entry_type").alias("event_type")).agg(
        F.count("*").alias("n_entry")
    )
    ex = ends.groupBy(F.col("exit_type").alias("event_type")).agg(
        F.count("*").alias("n_exit")
    )
    m = en.join(ex, "event_type", "full_outer").select(
        "event_type",
        F.coalesce("n_entry", F.lit(0)).alias("n_entry"),
        F.coalesce("n_exit", F.lit(0)).alias("n_exit"),
        F.lit(n_sessions).alias("n_sessions"),
    )
    return m.selectExpr(*_EE_OUT)


# --------------------------------------------------------------------------
# C17+ — k-truss edge support off the degree-ordered triangle iterator.
# --------------------------------------------------------------------------


@register(
    "c17_truss_support",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_CTE},
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e3.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    sides AS (
        SELECT a AS u, b AS v FROM tri
        UNION ALL SELECT a, c FROM tri
        UNION ALL SELECT b, c FROM tri),
    sup AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS n_triangles
        FROM sides GROUP BY u, v)
    SELECT e.u, e.v, CAST(coalesce(s.n_triangles, 0) AS BIGINT) AS n_triangles,
           coalesce(s.n_triangles, 0) + 2 >= 4 AS in_4truss
    FROM edges e LEFT JOIN sup s ON s.u = e.u AND s.v = e.v
    """,
    doc="C17+: per-edge triangle support over the co-purchase graph — the "
    "k-truss primitive (an edge is in the k-truss when >= k-2 triangles "
    "contain it), the standard cohesive-subgraph filter that is robuster "
    "than k-core against hub noise.  Support comes from the degree-ordered "
    "compact-forward triangle iterator (hub-safe, r11), each triangle "
    "exploded to its three id-ordered sides and counted per edge; one "
    "anti-join-free left join reports zero-support edges.  The in_4truss "
    "flag applies the k=4 membership test (support >= 2) as a first "
    "peeling round.",
)
def c17_truss_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.graph import triangles
    from logspout_kinesis_tests_spark.plans.round9_queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    tri = triangles(edges)
    sides = (
        tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
    )
    sup = sides.groupBy("u", "v").agg(F.count("*").alias("n_triangles"))
    return edges.join(sup, ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        (F.coalesce("n_triangles", F.lit(0)) + F.lit(2) >= F.lit(4)).alias(
            "in_4truss"
        ),
    )


# --------------------------------------------------------------------------
# C16+ — on-balance volume over minute buckets.
# --------------------------------------------------------------------------


@register(
    "c16_obv",
    # OBV: cumulative signed volume where the sign is the close-to-close
    # direction of the per-minute bucket — the classic volume-flow
    # confirmation signal.  Close = last value in the bucket pinned by
    # (us, event_id); volume = bucket row count; all-integer cumsum (cents
    # comparisons), so the running OBV is exact at any length.
    oracle="""
    WITH ev AS (
        SELECT event_type, event_id, epoch_us(ts) AS us,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL),
    buck AS (
        SELECT event_type, us // 60000000 AS minute, event_id, us, cents
        FROM ev),
    ranked AS (
        SELECT event_type, minute, cents,
               row_number() OVER (PARTITION BY event_type, minute
                                  ORDER BY us DESC, event_id DESC) AS rn,
               CAST(count(*) OVER (PARTITION BY event_type, minute)
                    AS BIGINT) AS volume
        FROM buck),
    closes AS (
        SELECT event_type, minute, volume, cents AS close_cents
        FROM ranked WHERE rn = 1),
    signed AS (
        SELECT event_type, minute, volume, close_cents,
               CASE WHEN lag(close_cents) OVER w IS NULL THEN 0
                    WHEN close_cents > lag(close_cents) OVER w THEN volume
                    WHEN close_cents < lag(close_cents) OVER w THEN -volume
                    ELSE 0 END AS signed_vol
        FROM closes
        WINDOW w AS (PARTITION BY event_type ORDER BY minute))
    SELECT event_type, CAST(minute AS BIGINT) AS minute, volume,
           close_cents,
           CAST(sum(signed_vol) OVER (PARTITION BY event_type ORDER BY minute
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS obv
    FROM signed
    """,
    doc="C16+: on-balance volume per event type over minute buckets — "
    "cumulative volume signed by the close-to-close direction, the "
    "volume-flow divergence signal of the candle/Bollinger/RSI family.  "
    "Close pinned by max_by over the total (us, event_id) order, "
    "all-integer signed cumsum (exact at any length); one shuffle to "
    "buckets, ordered windows within the 5 type partitions.",
)
def c16_obv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    buck = ev.select(
        "event_type",
        # integer DIV, matching the oracle's // — a double division could
        # round a near-boundary quotient up across the minute edge
        F.expr("us DIV 60000000").alias("minute"),
        "event_id", "us", "cents",
    )
    closes = buck.groupBy("event_type", "minute").agg(
        F.count("*").alias("volume"),
        F.max_by("cents", F.struct("us", "event_id")).alias("close_cents"),
    )
    w = Window.partitionBy("event_type").orderBy("minute")
    prev = F.lag("close_cents").over(w)
    signed = closes.select(
        "event_type", "minute", "volume", "close_cents",
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("close_cents") > prev, F.col("volume"))
        .when(F.col("close_cents") < prev, -F.col("volume"))
        .otherwise(F.lit(0))
        .alias("signed_vol"),
    )
    cum = Window.partitionBy("event_type").orderBy("minute").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return signed.select(
        "event_type", "minute", "volume", "close_cents",
        F.sum("signed_vol").over(cum).alias("obv"),
    )


# --------------------------------------------------------------------------
# C20+ — partition-skew audit (the shuffle-key health check).
# --------------------------------------------------------------------------


@register(
    "c20_partition_skew_audit",
    # Per-key row-count skew for the partitioning keys a 100 TB layout
    # actually shuffles on: max/mean ratio says how long the straggler
    # task runs vs the average; the exact Gini (rank formula over integer
    # sums) says how concentrated the whole layout is.  All-integer until
    # the two closing divisions.
    oracle="""
    WITH keyed AS (
        SELECT source AS key_value, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY source),
    ranked AS (
        SELECT key_value, cnt,
               row_number() OVER (ORDER BY cnt, key_value) AS rk
        FROM keyed),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS total,
               CAST(max(cnt) AS BIGINT) AS max_cnt,
               CAST(sum(rk * cnt) AS BIGINT) AS rank_mass
        FROM ranked)
    SELECT n_keys, total, max_cnt,
           round(CAST(max_cnt AS DOUBLE) * n_keys / total, 6) AS max_mean_ratio,
           round((2.0 * rank_mass) / (CAST(n_keys AS DOUBLE) * total)
                 - (CAST(n_keys AS DOUBLE) + 1) / n_keys, 6) AS gini
    FROM agg
    """,
    doc="C20+: partition-skew audit over the documents source key — "
    "max/mean straggler ratio plus the exact Gini concentration index "
    "(rank formula, integer rank-mass sum, two closing divisions).  The "
    "pre-flight check before choosing a shuffle/bucketing key at 100 TB: "
    "a Gini near 1 or a max/mean in the hundreds says salt this key.  "
    "One scan, then one ordered window over the DISTINCT keys — bounded "
    "by source cardinality (thousands), which is what makes the global "
    "window safe here; auditing a high-cardinality key (user_id) would "
    "swap the rank pass for the bucketed-CDF two-pass of "
    "c15_session_overlap.",
)
def c20_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.groupBy(F.col("source").alias("key_value")).agg(
        F.count("*").alias("cnt")
    )
    ranked = keyed.select(
        "key_value", "cnt",
        F.row_number().over(Window.orderBy("cnt", "key_value")).alias("rk"),
    )
    agg = ranked.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("rk") * F.col("cnt")).alias("rank_mass"),
    )
    return agg.selectExpr(
        "n_keys", "total", "max_cnt",
        "round(CAST(max_cnt AS DOUBLE) * n_keys / total, 6) AS max_mean_ratio",
        "round((2.0 * rank_mass) / (CAST(n_keys AS DOUBLE) * total)"
        " - (CAST(n_keys AS DOUBLE) + 1) / n_keys, 6) AS gini",
    )


# --------------------------------------------------------------------------
# C8+ — exact-dup cluster-size histogram.
# --------------------------------------------------------------------------


@register(
    "c8_dup_cluster_histogram",
    oracle="""
    WITH cl AS (
        SELECT md5(text) AS sig, CAST(count(*) AS BIGINT) AS cluster_size
        FROM documents GROUP BY md5(text))
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * count(*) AS BIGINT) AS n_docs
    FROM cl GROUP BY cluster_size
    """,
    doc="C8+: exact-duplicate cluster-size histogram — how duplication "
    "mass distributes across cluster sizes (the curve that says whether "
    "dedup savings come from a few mega-clusters or a long tail of "
    "pairs), the standard pre-dedup audit figure.  Two cheap shuffles "
    "(content hash, then size), output bounded by the largest cluster.",
)
def c8_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cl = docs.groupBy(F.md5(F.col("text")).alias("sig")).agg(
        F.count("*").alias("cluster_size")
    )
    return cl.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).alias("n_docs"),
    )


# --------------------------------------------------------------------------
# C10+/C20+ — embedding-norm health audit.
# --------------------------------------------------------------------------


@register(
    "c10_embedding_norm_audit",
    # Per-label L2-norm² statistics with the round-6 exact-term policy:
    # each v² is quantized to a 15-dp decimal, so the per-vector norm² and
    # every aggregate of it are exact and order-independent on both
    # engines.  n_vecs vs n_normed catches NULL/empty embeddings (a normed
    # row requires >= 1 component); a mean far from the unit shell or a
    # min at 0 is the pre-index health check every ANN build should run.
    oracle="""
    WITH ex AS (
        SELECT vec_id, label, unnest(embedding) AS v FROM embeddings),
    norms AS (
        SELECT vec_id, label,
               CAST(sum(CAST(round(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 15)
                             AS DECIMAL(28,15))) AS DECIMAL(38,15)) AS nsq
        FROM ex GROUP BY vec_id, label),
    base AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
        FROM embeddings GROUP BY label)
    SELECT b.label, b.n_vecs,
           CAST(count(n.vec_id) AS BIGINT) AS n_normed,
           round(CAST(sum(n.nsq) AS DOUBLE) / count(n.vec_id), 6)
               AS mean_norm_sq,
           round(CAST(min(n.nsq) AS DOUBLE), 6) AS min_norm_sq,
           round(CAST(max(n.nsq) AS DOUBLE), 6) AS max_norm_sq
    FROM base b LEFT JOIN norms n ON n.label = b.label
    GROUP BY b.label, b.n_vecs
    """,
    doc="C10+/C20+: embedding-norm health audit per label — exact L2-norm² "
    "mean/min/max (15-dp decimal per-term sums, the round-6 bit-parity "
    "policy) plus the n_vecs vs n_normed gap that exposes NULL/empty "
    "vectors.  The pre-flight check before any ANN build: zero-norm rows "
    "break cosine, off-shell means break inner-product calibration.  One "
    "posexplode shuffle keyed on vec_id, one per-label rollup.",
)
def c10_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", "label", F.posexplode("embedding").alias("pos", "v"))
    v = F.col("v").cast("double")
    norms = ex.groupBy("vec_id", "label").agg(
        F.sum(F.round(v * v, 15).cast("decimal(28,15)"))
        .cast("decimal(38,15)")
        .alias("nsq")
    )
    base = emb.groupBy("label").agg(F.count("*").alias("n_vecs"))
    return (
        base.join(norms, "label", "left")
        .groupBy("label", "n_vecs")
        .agg(
            F.count("vec_id").alias("n_normed"),
            F.round(F.sum("nsq").cast("double") / F.count("vec_id"), 6).alias(
                "mean_norm_sq"
            ),
            F.round(F.min("nsq").cast("double"), 6).alias("min_norm_sq"),
            F.round(F.max("nsq").cast("double"), 6).alias("max_norm_sq"),
        )
    )


# --------------------------------------------------------------------------
# C17+ — rich-club density over the co-purchase graph.
# --------------------------------------------------------------------------

#: Degree thresholds audited by the rich-club query — a fixed ladder so
#: the output is a 5-row curve, not a parameter sweep.
_RICH_KS = (2, 3, 4, 5, 8)


@register(
    "c17_rich_club",
    oracle=f"""
    WITH {_COPURCHASE_EDGES_CTE},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
        GROUP BY node),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _RICH_KS)}]) AS k),
    rich AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_rich
        FROM ks JOIN deg ON degree > k GROUP BY k),
    ed AS (
        SELECT e.u, e.v, du.degree AS du, dv.degree AS dv
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v),
    re AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_edges_rich
        FROM ks JOIN ed ON du > k AND dv > k GROUP BY k)
    SELECT ks.k,
           CAST(coalesce(r.n_rich, 0) AS BIGINT) AS n_rich,
           CAST(coalesce(re.n_edges_rich, 0) AS BIGINT) AS n_edges_rich,
           CASE WHEN coalesce(r.n_rich, 0) >= 2 THEN
               round(2.0 * coalesce(re.n_edges_rich, 0)
                     / (CAST(r.n_rich AS DOUBLE) * (r.n_rich - 1)), 6)
           END AS phi
    FROM ks
    LEFT JOIN rich r ON r.k = ks.k
    LEFT JOIN re ON re.k = ks.k
    """,
    doc="C17+: rich-club coefficient curve — for each degree threshold k, "
    "the edge density phi(k) among nodes of degree > k (Colizza et al.): "
    "phi near 1 means the high-degree core is a clique (hubs trade with "
    "hubs), near 0 a star-like periphery.  Complements assortativity "
    "with an explicit core-density curve.  Degrees from one rollup; the "
    "5-threshold ladder is a broadcast nested-loop over a 5-row table, "
    "never a self-join; edges carry their endpoint degrees via two "
    "vertex-keyed joins.",
)
def c17_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.plans.round9_queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    ks = spark.createDataFrame([(k,) for k in _RICH_KS], "k int")
    rich = (
        F.broadcast(ks)
        .join(deg, F.col("degree") > F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_rich"))
    )
    ed = edges.join(
        deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    re = (
        F.broadcast(ks)
        .join(ed, (F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").alias("n_edges_rich"))
    )
    return (
        ks.join(rich, "k", "left")
        .join(re, "k", "left")
        .select(
            "k",
            F.coalesce("n_rich", F.lit(0)).alias("n_rich"),
            F.coalesce("n_edges_rich", F.lit(0)).alias("n_edges_rich"),
            F.when(
                F.coalesce("n_rich", F.lit(0)) >= 2,
                F.round(
                    F.lit(2.0) * F.coalesce("n_edges_rich", F.lit(0))
                    / (F.col("n_rich").cast("double") * (F.col("n_rich") - 1)),
                    6,
                ),
            ).alias("phi"),
        )
    )


# --------------------------------------------------------------------------
# C9+/C20+ — MinHash ingest cascade (VERDICT r10 #2's first named
# candidate): search-before-append near-dup dedup replayed as a 3-epoch
# batch cascade with the engine-portable md5 hash family, so the DuckDB
# oracle hash-verifies the ingest semantics end-to-end.
# --------------------------------------------------------------------------

#: epoch split, hash family width, band geometry, and the >= 8/16
#: equal-component verify threshold (signature-Jaccard estimate >= 0.5) —
#: shared by the Spark cascade and the SQL oracle below.
_ING_EPOCHS = 3
_ING_HASHES = 16
_ING_RPB = 4
_ING_MIN_EQ = 8

#: One epoch step of the oracle, templated on the epoch number: cross-index
#: search (candidates via banded buckets against the accumulated survivor
#: index, verified by >= 8/16 equal signature components), then intra-epoch
#: pairs, connected components (recursive min-label reach), min-id survivor
#: per cluster.  {k} = epoch, {index} = accumulated survivor CTE.
_ING_EPOCH_SQL = """
    candx{k} AS MATERIALIZED (
        SELECT DISTINCT n.doc_id AS id_n, i.doc_id AS id_i
        FROM banded n JOIN banded i
          ON i.band = n.band AND i.bucket = n.bucket
        WHERE n.doc_id % {epochs} = {k}
          AND i.doc_id IN (SELECT doc_id FROM {index})),
    dropx{k} AS MATERIALIZED (
        SELECT DISTINCT id_n FROM (
            SELECT c.id_n, c.id_i
            FROM candx{k} c
            JOIN sig sa ON sa.doc_id = c.id_n
            JOIN sig sb ON sb.doc_id = c.id_i AND sb.seed = sa.seed
            GROUP BY c.id_n, c.id_i
            HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= {mineq})),
    fresh{k} AS MATERIALIZED (
        SELECT doc_id FROM documents
        WHERE doc_id % {epochs} = {k}
          AND doc_id NOT IN (SELECT id_n FROM dropx{k})),
    cand{k} AS MATERIALIZED (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
        WHERE l.doc_id IN (SELECT doc_id FROM fresh{k})
          AND r.doc_id IN (SELECT doc_id FROM fresh{k})),
    ver{k} AS MATERIALIZED (
        SELECT c.id_a, c.id_b
        FROM cand{k} c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
        GROUP BY c.id_a, c.id_b
        HAVING sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) >= {mineq}),
    edges{k} AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM ver{k}
                 UNION SELECT id_b, id_a FROM ver{k}),
    reach{k}(id, lbl) AS (
        SELECT src, src FROM edges{k}
        UNION
        SELECT e.dst, r.lbl FROM reach{k} r JOIN edges{k} e ON e.src = r.id),
    losers{k} AS MATERIALIZED (
        SELECT id FROM reach{k} GROUP BY id HAVING min(lbl) <> id),
    surv{k} AS MATERIALIZED (
        SELECT doc_id FROM fresh{k}
        WHERE doc_id NOT IN (SELECT id FROM losers{k}))"""


def _ing_oracle() -> str:
    """Assemble the 3-epoch cascade oracle (built once at import)."""
    head = f"""
    WITH RECURSIVE ws AS (
        SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    sh AS (
        SELECT doc_id, unnest(
            list_distinct(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                       i -> array_to_string(list_slice(w, i, i + 2), ' '))
                ELSE [array_to_string(w, ' ')] END)) AS shingle
        FROM ws),
    sig AS MATERIALIZED (
        SELECT doc_id, s.s AS seed,
               min(('0x' || substring(md5(shingle || ':' || s.s::VARCHAR),
                                      1, 8))::BIGINT) AS mh
        FROM sh CROSS JOIN (SELECT unnest(range({_ING_HASHES})) AS s) s
        GROUP BY doc_id, s.s),
    banded AS MATERIALIZED (
        SELECT doc_id, CAST(seed // {_ING_RPB} AS INT) AS band,
               array_to_string(list(mh ORDER BY seed), ',') AS bucket
        FROM sig GROUP BY doc_id, seed // {_ING_RPB}),
    empty0 AS (SELECT doc_id FROM documents WHERE 1 = 0)"""
    parts = [head]
    index = "empty0"
    for k in range(_ING_EPOCHS):
        parts.append(
            _ING_EPOCH_SQL.format(
                k=k, epochs=_ING_EPOCHS, mineq=_ING_MIN_EQ, index=index
            )
        )
        prev, cur = index, f"surv{k}"
        index = f"idx{k}"
        parts.append(
            f"""
    idx{k} AS MATERIALIZED (SELECT doc_id FROM {prev} UNION ALL SELECT doc_id FROM {cur})"""
        )
    tail = f"""
    SELECT doc_id, CAST(doc_id % {_ING_EPOCHS} AS BIGINT) AS epoch
    FROM {index}"""
    return ",".join(parts) + tail


@register(
    "c9_minhash_ingest_parity",
    oracle=_ing_oracle(),
    doc="C9+/C20+: hash-verified MinHash ingest cascade — the "
    "corpus is split into 3 deterministic epochs (doc_id mod 3) and "
    "processed like a micro-batch ingest: each epoch's arrivals "
    "are SEARCHED against the accumulated survivor index first "
    "(banded-LSH candidates verified by >= 8/16 equal signature "
    "components, i.e. estimated Jaccard >= 0.5), survivors of that cut "
    "are intra-deduplicated (candidate pairs -> verify -> connected "
    "components -> min-id representative), and the epoch's survivors "
    "append to the index the NEXT epoch searches.  md5 hash family for "
    "engine portability (the md5-gate pattern).  Scale shape: "
    "banded inverted-index joins, never all-pairs; the index grows by "
    "survivors only.",
)
def c9_minhash_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.dedup import (
        exploded_shingles,
        resolve_ingest_removals,
    )
    from logspout_kinesis_tests_spark.sources.tables import spread_for_compute

    # respread keyed on doc_id BEFORE the explode: the 16-hash min-agg then
    # runs map-side-complete on all cores instead of fused single-threaded
    # into a one-split scan (measured 8.3 s -> sub-second for the sig
    # checkpoint at sf0.1 on local[32])
    docs = spread_for_compute(
        load_table(spark, sf_dir, "documents"), key="doc_id"
    )
    sh = exploded_shingles(docs, n=3)

    def md5_32(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")

    sig = (
        sh.groupBy("doc_id")
        .agg(
            *[
                F.min(md5_32(F.concat(F.col("shingle"), F.lit(f":{i}")))).alias(
                    f"mh{i}"
                )
                for i in range(_ING_HASHES)
            ]
        )
        .withColumn("e", F.col("doc_id") % _ING_EPOCHS)
        .localCheckpoint(eager=True)  # read by every epoch's 4 join branches
    )

    def banded(s: DataFrame, side: str) -> DataFrame:
        """Banded LSH rows CARRYING the full signature: (id_<side>, band,
        bucket, <side>0..15).  Inlining the 16 components into the bucket
        rows makes the >= 8/16 verify a post-join FILTER instead of two
        additional signature joins per step (the r11 shape's n_equal) —
        the standard carry-the-signature-into-the-bucket trade: +128
        bytes/row against two fewer shuffles per epoch step."""
        return s.select(
            F.col("doc_id").alias(f"id_{side}"),
            *[F.col(f"mh{i}").alias(f"{side}{i}") for i in range(_ING_HASHES)],
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{b * _ING_RPB + r}").cast("string")
                                    for r in range(_ING_RPB)
                                ],
                            ).alias("bucket"),
                        )
                        for b in range(_ING_HASHES // _ING_RPB)
                    ]
                )
            ).alias("bb"),
        ).select(
            f"id_{side}",
            *[f"{side}{i}" for i in range(_ING_HASHES)],
            F.col("bb.band").alias("band"),
            F.col("bb.bucket").alias("bucket"),
        )

    # Incremental index: per-epoch CHECKPOINTED survivor frames unioned at
    # the end — the accumulated wide index is never re-materialized and
    # never re-banded (banding is a narrow explode over each epoch's
    # checkpoint, so later epochs re-read small cached blocks, not the
    # whole upstream pipeline).  VERDICT r11 #1: the previous shape
    # re-banded the accumulated index every epoch and left ``fresh``
    # unmaterialized, so the cross-index search + 16-component verify
    # anti-join re-executed ~5x per epoch (cand's two self-join branches,
    # ver's two signature joins, keep-one's final anti-join) — 9.7 s at
    # sf0.1; this shape runs it once per epoch.
    index_parts: list[DataFrame] = []  # checkpointed wide survivor frames

    def _union(frames: list[DataFrame]) -> DataFrame:
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        return out

    for k in range(_ING_EPOCHS):
        cur = sig.filter(F.col("e") == k)
        # ONE join per epoch: band the epoch's arrivals (is_new) TOGETHER
        # with the accumulated survivor index (union of per-epoch
        # checkpoints), repartition once on the bucket key, and self-join
        # through a reused exchange.  The one pair frame carries both the
        # cross-index matches (new x index) and the intra-epoch candidate
        # pairs (new x new, id-ordered), each already >= 8/16 verified
        # JVM-side — collapsing the r11 shape's three sequential joins
        # (cross search, anti-join, intra self-join) into one stage wave.
        legs = [banded(cur, "x").withColumn("is_new", F.lit(True))]
        legs += [
            banded(p, "x").withColumn("is_new", F.lit(False)) for p in index_parts
        ]
        rep = _union(legs).repartition("band", "bucket")
        new_side = rep.filter(F.col("is_new")).alias("l")
        pairs = (
            new_side.join(
                rep.alias("r"),
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bucket") == F.col("r.bucket"))
                & (~F.col("r.is_new") | (F.col("l.id_x") < F.col("r.id_x"))),
            )
            .filter(
                sum(
                    F.when(F.col(f"l.x{i}") == F.col(f"r.x{i}"), 1).otherwise(0)
                    for i in range(_ING_HASHES)
                )
                >= F.lit(_ING_MIN_EQ)
            )
            .select(
                F.col("l.id_x").alias("id_a"),
                F.col("r.id_x").alias("id_b"),
                (~F.col("r.is_new")).alias("cross"),
            )
            .localCheckpoint(eager=True)
        )
        removed = resolve_ingest_removals(pairs)
        # survivor checkpoint measured WORTH IT (same-session A/B, 5 runs:
        # 5.51 s vs 6.02 s median without): skipping it re-runs the
        # anti-join + union-find inside every later epoch's pairs job and
        # the final union, lengthening their critical paths by more than
        # the dedicated materialization job costs
        surv = cur.join(removed, "doc_id", "left_anti")
        if k < _ING_EPOCHS - 1:
            surv = surv.localCheckpoint(eager=True)
        index_parts.append(surv)
    return _union(index_parts).select(
        "doc_id", F.col("e").cast("long").alias("epoch")
    )


# --------------------------------------------------------------------------
# C12+ — REAL JPEG pixel decode (the tier VERDICT r10 #4 asked to close).
# --------------------------------------------------------------------------


@register(
    "c12_jpeg_pixel_stats",
    # The oracle cannot run Huffman/IDCT — it doesn't have to: the synth
    # payloads are DC-ONLY baseline 4:4:4 streams, whose decode has a
    # CLOSED FORM (IDCT of a DC-only block is the constant F00*q00/8; all
    # quant entries are 8, so each 8x8 block is the formula constant
    # (Y, Cb, Cr) pushed through the JFIF conversion with floor(x+0.5)).
    # Spark runs the REAL decoder — marker walk, stream-carried canonical
    # Huffman tables, entropy decode, float64 IDCT — over real JPEG bytes;
    # the oracle replays the generator formula over a SQL grid (the
    # PNG/GIF expected-vs-computed pattern).
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40),
    g AS (SELECT t1.by, t2.bx FROM range(2) t1(by), range(3) t2(bx)),
    ycc AS (
        SELECT i.doc_id, g.by, g.bx,
               (i.doc_id * 7 + g.by * 13 + g.bx * 5) % 256 AS y,
               (i.doc_id * 11 + g.by * 3 + g.bx * 7) % 256 AS cb,
               (i.doc_id * 13 + g.by * 5 + g.bx * 11) % 256 AS cr
        FROM ids i CROSS JOIN g),
    px AS (
        SELECT doc_id, 0 AS channel,
               LEAST(255, GREATEST(0, CAST(floor(y + 1.402 * (cr - 128)
                   + 0.5) AS BIGINT))) AS v
        FROM ycc
        UNION ALL
        SELECT doc_id, 1,
               LEAST(255, GREATEST(0, CAST(floor(y - 0.344136 * (cb - 128)
                   - 0.714136 * (cr - 128) + 0.5) AS BIGINT)))
        FROM ycc
        UNION ALL
        SELECT doc_id, 2,
               LEAST(255, GREATEST(0, CAST(floor(y + 1.772 * (cb - 128)
                   + 0.5) AS BIGINT)))
        FROM ycc)
    SELECT doc_id, CAST(channel AS BIGINT) AS channel,
           CAST(64 * count(*) AS BIGINT) AS n_pixels,
           CAST(64 * sum(v) AS BIGINT) AS sum_val,
           CAST(min(v) AS BIGINT) AS min_val,
           CAST(max(v) AS BIGINT) AS max_val
    FROM px GROUP BY doc_id, channel
    """,
    doc="C12+: REAL JPEG pixel decode over synthesized deterministic "
    "payloads — baseline sequential 4:4:4 JFIF: marker walk, "
    "stream-carried canonical Huffman tables, entropy decode with "
    "byte-unstuffing, exact float64 IDCT, JFIF YCbCr->RGB; per (doc, "
    "channel) exact int64 pixel sum/extrema.  Spark decodes real JPEG "
    "bytes; the oracle replays the generator's closed-form DC-only "
    "constants over a SQL grid, pinning the decoder against the spec, "
    "not against itself (the AC/restart paths carry their own "
    "independent-IDCT pytests).  Scale shape: stateless mapInPandas "
    "decode, payload bytes never leave the executor.",
)
def c12_jpeg_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.multimodal import (
        jpeg_pixel_stats,
        synth_jpeg_pixel_payload,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(40)
    )
    return jpeg_pixel_stats(synth_jpeg_pixel_payload(docs, width=24, height=16))


@register(
    "c12_video_frame_stats",
    # Same expected-vs-computed pattern as the image tiers, one level up:
    # the AVI fixture's MJPEG frames are DC-only JPEGs with the frame
    # index folded into the closed-form block constants, so the sampled
    # frames' expected stats replay exactly in SQL.  Spark walks the REAL
    # container (RIFF chunk sizes, stream-header handler check), samples
    # every 2nd frame, and runs the REAL baseline-JPEG decoder per frame.
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 20),
    fr AS (SELECT unnest([0, 2, 4]) AS f),
    g AS (SELECT t1.by, t2.bx FROM range(2) t1(by), range(3) t2(bx)),
    ycc AS (
        SELECT i.doc_id, fr.f, g.by, g.bx,
               (i.doc_id * 7 + fr.f * 17 + g.by * 13 + g.bx * 5) % 256 AS y,
               (i.doc_id * 11 + fr.f * 19 + g.by * 3 + g.bx * 7) % 256 AS cb,
               (i.doc_id * 13 + fr.f * 23 + g.by * 5 + g.bx * 11) % 256 AS cr
        FROM ids i CROSS JOIN fr CROSS JOIN g),
    px AS (
        SELECT doc_id, f, 0 AS channel,
               LEAST(255, GREATEST(0, CAST(floor(y + 1.402 * (cr - 128)
                   + 0.5) AS BIGINT))) AS v
        FROM ycc
        UNION ALL
        SELECT doc_id, f, 1,
               LEAST(255, GREATEST(0, CAST(floor(y - 0.344136 * (cb - 128)
                   - 0.714136 * (cr - 128) + 0.5) AS BIGINT)))
        FROM ycc
        UNION ALL
        SELECT doc_id, f, 2,
               LEAST(255, GREATEST(0, CAST(floor(y + 1.772 * (cb - 128)
                   + 0.5) AS BIGINT)))
        FROM ycc)
    SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
           CAST(channel AS BIGINT) AS channel,
           CAST(64 * count(*) AS BIGINT) AS n_pixels,
           CAST(64 * sum(v) AS BIGINT) AS sum_val,
           CAST(min(v) AS BIGINT) AS min_val,
           CAST(max(v) AS BIGINT) AS max_val
    FROM px GROUP BY doc_id, f, channel
    """,
    doc="C12+: REAL video frame decode at the MJPEG-in-AVI baseline — "
    "RIFF container walk (chunk sizes validated, 'vids'/'MJPG' stream "
    "header required), every-2nd-frame sampling, REAL baseline-JPEG "
    "decode per sampled frame; per (doc, frame, channel) exact int64 "
    "pixel statistics.  The frame-sampling training-pipeline shape: only "
    "sampled frames pay the decode; a corrupt frame drops that frame, a "
    "corrupt container the payload (pytest-pinned grains).  The oracle "
    "replays the generator's closed-form constants over a SQL grid.  "
    "Inter-frame codecs (H.264/VP9/AV1) are out of pure-Python scope by "
    "disposition; MJPEG is the honest baseline every-frame-independent "
    "codec, and it exercises the full container->sample->decode path a "
    "real pipeline runs.",
)
def c12_video_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.multimodal import (
        synth_mjpeg_avi_payload,
        video_frame_stats,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .orderBy("doc_id")
        .limit(20)
    )
    return video_frame_stats(
        synth_mjpeg_avi_payload(docs, width=24, height=16, n_frames=6), every=2
    )

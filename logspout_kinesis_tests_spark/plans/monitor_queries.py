"""Round-4e monitoring queries: join-key skew reporting and CUSUM
change-point detection.

Registered LAST (see plans/__init__) so longer-waiting unverified queries
keep their place at the front of the driver's correctness window.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.plans.registry import register
from logspout_kinesis_tests_spark.sources.tables import load_table


# --- C2+: join-key skew report ---------------------------------------------

#: The join keys a 100 TB planner cares about on this schema.
_SKEW_KEYS = (
    ("lineitem", "l_suppkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
)
_SKEW_TOPK = 10


@register(
    "c2_skew_report",
    # HHI = Σ (c_i/n)²: each squared share is one double expression,
    # quantized to DECIMAL(28,15) so the per-key sum is exact and
    # order-independent (sub-1 values, ≤28 digits).  Integer sums cast
    # back to BIGINT (DuckDB HUGEINT widening).
    oracle=f"""
    WITH
    {", ".join(
        f'''k_{tbl}_{col} AS (
        SELECT '{col}' AS key_name, count(*) AS c
        FROM {tbl} GROUP BY {col})'''
        for tbl, col in _SKEW_KEYS
    )},
    keys AS ({" UNION ALL ".join(
        f"SELECT * FROM k_{tbl}_{col}" for tbl, col in _SKEW_KEYS
    )}),
    tot AS (
        SELECT key_name, CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(c) AS BIGINT) AS n_rows, CAST(max(c) AS BIGINT) AS max_c
        FROM keys GROUP BY key_name),
    topk AS (
        SELECT key_name, CAST(sum(c) AS BIGINT) AS top_c
        FROM (
            SELECT key_name, c,
                   row_number() OVER (
                       PARTITION BY key_name ORDER BY c DESC) AS rk
            FROM keys)
        WHERE rk <= {_SKEW_TOPK} GROUP BY key_name),
    hhi AS (
        SELECT k.key_name,
               CAST(sum(CAST(round(
                   (CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE))
                   * (CAST(c AS DOUBLE) / CAST(n_rows AS DOUBLE)), 15)
                   AS DECIMAL(28,15))) AS DOUBLE) AS hhi
        FROM keys k JOIN tot USING (key_name) GROUP BY k.key_name)
    SELECT t.key_name, n_keys, n_rows,
           round(CAST(max_c AS DOUBLE) / CAST(n_rows AS DOUBLE), 9)
               AS max_key_share,
           round(CAST(top_c AS DOUBLE) / CAST(n_rows AS DOUBLE), 9)
               AS top{_SKEW_TOPK}_share,
           round(h.hhi, 9) AS hhi,
           round(h.hhi * n_keys, 6) AS hhi_vs_uniform
    FROM tot t JOIN topk USING (key_name) JOIN hhi h USING (key_name)
    """,
    doc="C2+: join-key skew report — the pre-flight check before shuffling "
    "100 TB on a key: per-key-column cardinality, hottest-key and top-10 "
    "share, and the Herfindahl concentration index (Σ share² — 1/n_keys "
    "when uniform, 1.0 when one key owns the table; hhi_vs_uniform "
    "normalizes so >1 means salting territory).  Per-key counts are one "
    "map-combined groupBy each; shares are single divisions from exact "
    "counts; HHI terms are DECIMAL(28,15)-quantized so the sum is exact "
    "and order-independent; top-k arrives per key column via window "
    "row_number over the (already aggregated) key-count table, never the "
    "raw rows.  The levers it feeds are operators/skew.py's salted "
    "aggregate/join and AQE skew-join.",
)
def c2_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for tbl, col in _SKEW_KEYS:
        df = load_table(spark, sf_dir, tbl)
        outs.append(
            df.groupBy(F.col(col)).agg(F.count("*").alias("c")).select(
                F.lit(col).alias("key_name"), "c"
            )
        )
    keys = outs[0]
    for o in outs[1:]:
        keys = keys.unionAll(o)
    tot = keys.groupBy("key_name").agg(
        F.count("*").alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_c"),
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("key_name").orderBy(F.desc("c"))
    )
    topk = (
        keys.withColumn("rk", rk)
        .filter(F.col("rk") <= _SKEW_TOPK)
        .groupBy("key_name")
        .agg(F.sum("c").alias("top_c"))
    )
    share = F.col("c").cast("double") / F.col("n_rows").cast("double")
    hhi = (
        keys.join(F.broadcast(tot.select("key_name", "n_rows")), "key_name")
        .groupBy("key_name")
        .agg(
            F.sum(F.round(share * share, 15).cast("decimal(28,15)"))
            .cast("double")
            .alias("hhi")
        )
    )
    return (
        tot.join(topk, "key_name")
        .join(hhi, "key_name")
        .select(
            "key_name",
            "n_keys",
            "n_rows",
            F.round(
                F.col("max_c").cast("double") / F.col("n_rows").cast("double"), 9
            ).alias("max_key_share"),
            F.round(
                F.col("top_c").cast("double") / F.col("n_rows").cast("double"), 9
            ).alias(f"top{_SKEW_TOPK}_share"),
            F.round("hhi", 9).alias("hhi"),
            F.round(F.col("hhi") * F.col("n_keys"), 6).alias("hhi_vs_uniform"),
        )
    )


# --- C16+: CUSUM change-point detection ------------------------------------

#: Upper-CUSUM parameters: S_t = max(0, S_{t-1} + (x_t − TARGET − SLACK)).
#: Power-of-two-free constants are fine here — every step is one addition
#: and one max on the SAME doubles in both engines (identical association
#: order), so the walk is bit-exact anyway.
_CUSUM_TARGET = 50.0
_CUSUM_SLACK = 5.0
_CUSUM_THRESHOLD = 100.0


#: Fixed-point cents: value carries exactly 2 decimals, so
#: round(value·100) is the exact integer reading and the whole walk runs
#: on longs.
_CUSUM_DRIFT_CENTS = int(round((_CUSUM_TARGET + _CUSUM_SLACK) * 100))
_CUSUM_THRESHOLD_CENTS = int(round(_CUSUM_THRESHOLD * 100))


@register(
    "c16_cusum",
    # The no-reset upper CUSUM has a CLOSED FORM: with y_t = x_t − target −
    # slack and prefix sums C_t (C_0 = 0), S_t = max(0, S_{t-1} + y_t)
    # equals C_t − min(0, min_{j≤t} C_j) — running sum minus running min.
    # Both engines compute it on exact integer cents, so no recursive CTE,
    # no recursion-depth ceiling, and bit-exact parity by construction.
    # Window SUM over BIGINT widens to HUGEINT in DuckDB — cast back.
    oracle=f"""
    WITH ordered AS (
        SELECT event_id, user_id, event_type, ts,
               CAST(round(value * 100, 0) AS BIGINT) - {_CUSUM_DRIFT_CENTS}
                   AS y
        FROM events),
    pre AS (
        SELECT event_id, user_id, event_type, ts,
               CAST(sum(y) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS c
        FROM ordered),
    s AS (
        SELECT event_id, user_id, event_type,
               c - least(0, CAST(min(c) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT)) AS s_cents
        FROM pre)
    SELECT event_id, user_id, event_type,
           CAST(s_cents AS DOUBLE) / 100 AS cusum,
           CASE WHEN s_cents > {_CUSUM_THRESHOLD_CENTS} THEN 1 ELSE 0 END
               AS alarm
    FROM s
    """,
    doc="C16+: upper-CUSUM control chart per (user, metric) series — the "
    "sequential change-point detector (S_t = max(0, S_{{t-1}} + x − "
    "target − slack), alarm when S crosses the decision interval): "
    "catches small persistent mean shifts that threshold alerts miss.  "
    "The max clamp looks sequential but has a prefix closed form — "
    "S_t = C_t − min(0, min_{{j≤t}} C_j) — so the whole chart is TWO "
    "running windows (sum + min) over exact integer cents: fully "
    "parallel, one shuffle on the series key, no applyInPandas, no "
    "per-group Arrow overhead (the r4 walk formulation cost 8.4 s at "
    "sf0.1 across ~25 k series; this runs in the window-query floor), "
    "and no recursion-depth ceiling in the oracle.  A watermarked stream "
    "would need the stateful step form instead — the identity needs the "
    "full prefix, which such a stream doesn't retain.",
)
def c16_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        (
            F.round(F.col("value") * 100, 0).cast("long")
            - F.lit(_CUSUM_DRIFT_CENTS)
        ).alias("y"),
    )
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pre = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.sum("y").over(w).alias("c"),
    )
    s_cents = F.col("c") - F.least(
        F.lit(0).cast("long"), F.min("c").over(w)
    )
    return pre.select(
        "event_id",
        "user_id",
        "event_type",
        (s_cents.cast("double") / 100).alias("cusum"),
        F.when(s_cents > _CUSUM_THRESHOLD_CENTS, 1).otherwise(0).alias("alarm"),
    )


# --- C20+: snapshot content fingerprints -----------------------------------


@register(
    "c20_snapshot_fingerprint",
    # Row hash: md5 of a decimal-stringified tuple, first 8 hex chars to a
    # BIGINT (the engine-portable md5 pattern); the table fingerprint is
    # the bit_xor fold — order-invariant, overflow-free (unlike an integer
    # SUM, which would widen to HUGEINT in DuckDB and can overflow under
    # ANSI mode in Spark).
    oracle="""
    SELECT 'documents' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           bit_xor(('0x' || substring(md5(
               coalesce(CAST(doc_id AS VARCHAR), '') || '|'
               || coalesce(text, '')), 1, 8))::BIGINT)
               AS content_fp
    FROM documents
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT),
           bit_xor(('0x' || substring(md5(
               coalesce(CAST(o_orderkey AS VARCHAR), '') || '|'
               || coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '') || '|'
               || coalesce(strftime(o_orderdate, '%Y-%m-%d'), '')), 1, 8))::BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem', CAST(count(*) AS BIGINT),
           bit_xor(('0x' || substring(md5(
               coalesce(CAST(l_orderkey AS VARCHAR), '') || '|'
               || coalesce(CAST(l_linenumber AS VARCHAR), '') || '|'
               || coalesce(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), '')), 1, 8))::BIGINT)
    FROM lineitem
    """,
    doc="C20+: per-table snapshot content fingerprint — n_rows plus an "
    "ORDER-INVARIANT bit_xor fold of per-row md5-derived 32-bit hashes, "
    "the cheap integrity/versioning check a dataset release pins next to "
    "its data card: any inserted, dropped, or mutated row flips the "
    "fingerprint, identical content in any row order reproduces it.  "
    "bit_xor beats an integer-sum fold because it cannot overflow and "
    "needs no widening guard in either engine.  One map-combined scan "
    "per table (hash computed scan-side, the shuffle carries one long per "
    "partition); key columns are stringified through decimal casts so "
    "both engines render identical bytes.  Every field is wrapped in "
    "coalesce(CAST(... AS string), '') on BOTH sides: Spark's concat_ws "
    "would silently SKIP a NULL field (collapsing 'a||b' to 'a|b') while "
    "DuckDB's || would NULL the whole row hash — with the wrap, both "
    "engines hash identical bytes and a nulled field still flips the "
    "fingerprint.",
)
def c20_snapshot_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    def fp(concat: F.Column) -> F.Column:
        return F.bit_xor(
            F.conv(F.substring(F.md5(concat), 1, 8), 16, 10).cast("long")
        )

    def nz(col: F.Column) -> F.Column:
        return F.coalesce(col.cast("string"), F.lit(""))

    docs = load_table(spark, sf_dir, "documents")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = docs.agg(
        F.count("*").alias("n_rows"),
        fp(
            F.concat_ws("|", nz(F.col("doc_id")), nz(F.col("text")))
        ).alias("content_fp"),
    ).select(F.lit("documents").alias("table_name"), "n_rows", "content_fp")
    o = orders.agg(
        F.count("*").alias("n_rows"),
        fp(
            F.concat_ws(
                "|",
                nz(F.col("o_orderkey")),
                nz(F.col("o_totalprice").cast("decimal(18,2)")),
                nz(F.date_format("o_orderdate", "yyyy-MM-dd")),
            )
        ).alias("content_fp"),
    ).select(F.lit("orders").alias("table_name"), "n_rows", "content_fp")
    l = li.agg(
        F.count("*").alias("n_rows"),
        fp(
            F.concat_ws(
                "|",
                nz(F.col("l_orderkey")),
                nz(F.col("l_linenumber")),
                nz(F.col("l_extendedprice").cast("decimal(18,2)")),
            )
        ).alias("content_fp"),
    ).select(F.lit("lineitem").alias("table_name"), "n_rows", "content_fp")
    return d.unionAll(o).unionAll(l)

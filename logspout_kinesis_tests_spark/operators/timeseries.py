"""Hypertable-style multi-resolution rollups and mergeable sketches.

- ``hypertable_rollup``: TimescaleDB-continuous-aggregate semantics — one
  fact stream rolled up to several time resolutions at once.  The finest
  level aggregates the raw rows; every coarser level re-aggregates the
  next finer level (sum-of-sums), which is exact for algebraic aggregates
  and is what makes the pattern cheap to maintain incrementally at 100 TB:
  a day's rollup touches 24 hourly partials, not a day of raw rows.
  Decimal sums keep the re-aggregation bit-identical to aggregating raw
  data directly, so the whole stack is oracle-checkable.

- ``count_min_sketch`` / ``cms_estimate``: a Count-Min sketch as plain
  DataFrames.  The sketch IS a grouped count table over (row, hashed
  bucket); building it is one map-side-combined groupBy, merging two
  sketches is a union+re-groupBy, and estimation is min over depth rows —
  every step distributed, nothing driver-side.  Guarantees: estimate ≥
  true count; overshoot ≤ εN with probability 1-δ for width=⌈e/ε⌉,
  depth=⌈ln 1/δ⌉.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: resolution name → truncation unit accepted by date_trunc.
RESOLUTIONS = ("minute", "hour", "day")


def hypertable_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    group_cols: tuple[str, ...] = (),
    resolutions: tuple[str, ...] = RESOLUTIONS,
) -> DataFrame:
    """Stacked rollup: one output row per (resolution, bucket, groups).

    Output columns: ``resolution``, ``bucket_start`` (timestamp), group
    columns, ``n`` (count) and ``total`` (decimal-exact sum as double).
    Level k>0 aggregates level k-1's partials.
    """
    levels: list[DataFrame] = []
    finest = (
        df.groupBy(
            F.date_trunc(resolutions[0], F.col(ts_col)).alias("bucket_start"),
            *[F.col(c) for c in group_cols],
        )
        .agg(
            F.count("*").alias("n"),
            # explicit decimal(38,2) at EVERY level: keeps the union schema
            # stable and makes overflow behavior deliberate (38,2 headroom)
            # rather than relying on unionByName's implicit widening.
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("_total_dec"),
        )
    )
    levels.append(finest.withColumn("resolution", F.lit(resolutions[0])))
    prev = finest
    for res in resolutions[1:]:
        prev = (
            prev.groupBy(
                F.date_trunc(res, F.col("bucket_start")).alias("bucket_start"),
                *[F.col(c) for c in group_cols],
            )
            .agg(
                F.sum("n").alias("n"),  # re-aggregation of partials
                F.sum("_total_dec").cast("decimal(38,2)").alias("_total_dec"),
            )
        )
        levels.append(prev.withColumn("resolution", F.lit(res)))
    stacked = levels[0]
    for lvl in levels[1:]:
        stacked = stacked.unionByName(lvl)
    return stacked.select(
        "resolution",
        "bucket_start",
        *group_cols,
        "n",
        F.col("_total_dec").cast("double").alias("total"),
    )


def _cms_xxhash(key, row):
    """Default CMS row-hash: xxhash64(key, row) — the 100 TB path (one
    JVM-side 64-bit hash per cell, no string materialization)."""
    return F.xxhash64(key, row)


def md5_hasher(key, row):
    """Engine-portable CMS row-hash: first 8 hex digits of
    md5("<key>:<row>") as int64.  Slower than xxhash64 (string concat +
    cryptographic hash) but bit-reproducible in any engine with md5 —
    DuckDB computes the identical sketch in SQL, which turns the CMS
    queries from rows-only into fully hash-verified (VERDICT r3 #8).
    """
    payload = F.concat(key.cast("string"), F.lit(":"), row.cast("string"))
    return F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")


def count_min_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    hasher=_cms_xxhash,
) -> DataFrame:
    """Build a Count-Min sketch: rows (row, bucket, cnt), depth×width cells.

    Bucket for row d = hasher(key, d) mod width (default xxhash64).  The
    groupBy is the whole build — partial aggregation makes each executor
    emit at most depth×width cells regardless of input size, so sketching
    100 TB shuffles O(depth·width·executors) rows.
    """
    rows = df.select(
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
        F.col(key_col).alias("_k"),
    )
    return (
        rows.select(
            "row", F.pmod(hasher(F.col("_k"), F.col("row")), F.lit(width)).alias("bucket")
        )
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the same (depth, width): cell-wise sum."""
    return (
        a.unionByName(b).groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    hasher=_cms_xxhash,
) -> DataFrame:
    """Point-estimate counts for ``keys``: min over the depth rows' cells.

    ``hasher`` must match the one the sketch was built with.  Missing cells
    mean zero occurrences → estimate 0 (coalesced before the min so an
    absent key reports 0, not NULL).
    """
    probes = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    ).select(
        F.col(key_col),
        "row",
        F.pmod(hasher(F.col(key_col), F.col("row")), F.lit(width)).alias("bucket"),
    )
    joined = probes.join(sketch, ["row", "bucket"], "left").select(
        F.col(key_col), F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("estimate"))


# --------------------------------------------------------------------------
# Bloom filter — the other mergeable membership sketch (CMS counts, Bloom
# membership).  Sparse representation: a DataFrame of set bit positions.
# --------------------------------------------------------------------------
def bloom_build(
    df: DataFrame, key_col: str, k: int = 5, m: int = 1 << 20
) -> DataFrame:
    """Build a Bloom filter over ``key_col`` as the distinct set of bit
    positions — ``k`` positions per key via ``xxhash64(key, seed)``.

    Sparse (bucket) rows instead of a packed bitset keep the build one
    map-side-combined distinct (no driver materialization, no 2^m array on
    any single node) and make merging a plain ``union``+``distinct`` —
    the same mergeability story as the CMS partials.  At most n·k rows,
    8 bytes each, spread over the cluster.
    """
    return (
        df.select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_seed"),
            F.col(key_col).alias("_k"),
        )
        .select(F.pmod(F.xxhash64(F.col("_k"), F.col("_seed")), F.lit(m)).alias("bucket"))
        .distinct()
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union of set bits — Bloom filters over the same (k, m) merge
    losslessly, exactly like OR-ing the bitsets."""
    return a.unionByName(b).distinct()


def bloom_probe(
    sketch: DataFrame, keys: DataFrame, key_col: str, k: int = 5, m: int = 1 << 20
) -> DataFrame:
    """Membership probe: a key is ``present`` iff all ``k`` of its bit
    positions are set.  Plan: explode the probe side to (key, bucket),
    equi-join the sparse sketch on ``bucket`` (one shuffle, no broadcast of
    a giant bitset), count hits per key.  No false negatives by
    construction; false-positive rate is the standard (1-e^{-kn/m})^k.
    """
    probes = keys.select(
        F.col(key_col),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_seed"),
    ).select(
        F.col(key_col),
        F.pmod(F.xxhash64(F.col(key_col), F.col("_seed")), F.lit(m)).alias("bucket"),
    )
    hits = probes.join(sketch.withColumn("_set", F.lit(1)), "bucket", "left")
    return (
        hits.groupBy(key_col)
        .agg(F.sum(F.coalesce("_set", F.lit(0))).alias("_nset"))
        .select(F.col(key_col), (F.col("_nset") == k).alias("present"))
    )


def gap_fill(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    unit: str = "hour",
) -> DataFrame:
    """Dense per-key time grid with last-observation-carried-forward fill —
    the hypertable ``time_bucket_gapfill`` + ``locf`` pair: missing buckets
    between a key's first and last observation materialize with n=0 and the
    last observed decimal-summed total carried forward.

    Plan shape: one map-combined rollup groupBy; the grid explodes from a
    ONE-ROW-PER-KEY bounds table (``sequence(min, max, interval)``), so grid
    size is keys × buckets-in-range — bounded by wall-clock span, never by
    event count; the LOCF window is per-key ordered by bucket, the inherent
    sequential dependency of carry-forward (each key's series sorts
    independently — parallelism is the key count).
    """
    b = F.date_trunc(unit, F.col(ts_col))
    observed = (
        df.groupBy(*[F.col(c) for c in group_cols], b.alias("bucket_start"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )
    bounds = observed.groupBy(*group_cols).agg(
        F.min("bucket_start").alias("_mn"), F.max("bucket_start").alias("_mx")
    )
    grid = bounds.select(
        *[F.col(c) for c in group_cols],
        F.explode(F.expr(f"sequence(_mn, _mx, interval 1 {unit})")).alias(
            "bucket_start"
        ),
    )
    joined = grid.join(observed, [*group_cols, "bucket_start"], "left")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        *group_cols,
        "bucket_start",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.last("total", ignorenulls=True).over(w).alias("total_locf"),
        (F.col("n").isNull()).alias("is_gap"),
    )


def gap_fill_interpolate(
    df: DataFrame,
    ts_col: str = "ts",
    group_cols: tuple[str, ...] = ("event_type",),
    value_col: str = "value",
    unit: str = "hour",
) -> DataFrame:
    """Dense per-key time grid with LINEAR interpolation — the hypertable
    ``time_bucket_gapfill`` + ``interpolate`` pair: a gap bucket gets the
    straight-line value between its key's previous and next observed
    totals; buckets before the first / after the last observation stay NULL
    (matching the continuous-aggregate convention).

    Same grid shape as :func:`gap_fill` (bounds explode, one left join);
    the interpolation adds one backward and one forward per-key window.
    Arithmetic is deterministic cross-engine: totals are decimal-exact
    sums, bucket distances are exact integer microseconds, and the blend is
    a fixed double op sequence rounded to 6dp.
    """
    b = F.date_trunc(unit, F.col(ts_col))
    observed = (
        df.groupBy(*[F.col(c) for c in group_cols], b.alias("bucket_start"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )
    bounds = observed.groupBy(*group_cols).agg(
        F.min("bucket_start").alias("_mn"), F.max("bucket_start").alias("_mx")
    )
    grid = bounds.select(
        *[F.col(c) for c in group_cols],
        F.explode(F.expr(f"sequence(_mn, _mx, interval 1 {unit})")).alias(
            "bucket_start"
        ),
    )
    joined = grid.join(observed, [*group_cols, "bucket_start"], "left")
    us = F.unix_micros(F.col("bucket_start"))
    obs_us = F.when(F.col("n").isNotNull(), us)
    back = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket_start")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("total", ignorenulls=True).over(back)
    next_v = F.first("total", ignorenulls=True).over(fwd)
    prev_us = F.last(obs_us, ignorenulls=True).over(back)
    next_us = F.first(obs_us, ignorenulls=True).over(fwd)
    frac = (us - prev_us) / (next_us - prev_us).cast("double")
    interp = F.when(F.col("n").isNotNull(), F.col("total")).otherwise(
        F.when(
            prev_v.isNotNull() & next_v.isNotNull(),
            F.round(prev_v + (next_v - prev_v) * frac, 6),
        )
    )
    return joined.select(
        *group_cols,
        "bucket_start",
        F.coalesce("n", F.lit(0)).alias("n"),
        interp.alias("total_interp"),
        (F.col("n").isNull()).alias("is_gap"),
    )


# --------------------------------------------------------------------------
# OHLC candlestick bars (round 8) — one projection and expression list
# shared by the bar queries of plans/round8, round9 and round10.
# --------------------------------------------------------------------------


def ohlc_projection(df: DataFrame, ts_col: str = "ts", value_col: str = "value") -> DataFrame:
    """Project the bar inputs: integer cents ``c`` and the deterministic
    pick key ``k`` = (ts, event_id) — open/close under duplicate
    timestamps resolve by event id, same in batch and streaming."""
    return df.filter(F.col(value_col).isNotNull()).withColumns(
        {
            "c": F.round(F.col(value_col) * 100, 0).cast("long"),
            "k": F.struct(F.col(ts_col), F.col("event_id")),
        }
    )


def ohlc_aggs() -> list[Column]:
    """The six bar aggregates over the ``ohlc_projection`` columns.  All
    algebraic (min_by/max_by/min/max/count/sum) — map-side combinable in
    batch and incrementally mergeable by the streaming state store."""
    return [
        F.expr("min_by(c, k)").alias("open_c"),
        F.max("c").alias("high_c"),
        F.min("c").alias("low_c"),
        F.expr("max_by(c, k)").alias("close_c"),
        F.count("*").cast("long").alias("volume"),
        F.sum("c").cast("long").alias("turnover_c"),
    ]

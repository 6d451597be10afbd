"""Deduplication operators for LLM-data pipelines (SURVEY.md §2 C8-C9).

All variants are pure DataFrame compositions (no MLlib, no Python UDFs):

- exact dedup          — sha256 content hash, groupBy (C8)
- MinHash + LSH        — shingle → per-seed min-hash signature → banded
                         bucket join (C9); candidate pairs verified with
                         exact n-gram Jaccard
- SimHash              — 64-bit sign-of-weighted-bit-sums fingerprint,
                         Hamming-ball search via 16-bit band buckets
- n-gram Jaccard       — exact set similarity with cheap blocking
- embedding cosine     — near-dup by vector similarity with blocking

``incremental_dedup`` probes a persisted content-hash index; kept
epoch-partitioned (the streaming dedup flow's layout), that index is folded
by ``compact_epoch_index``, which ``operators.ann.compact_ann_index`` applies
per table of an ANN index.

Scale design (100 TB): every variant reduces the O(n²) pair space *before*
any shuffle — LSH bands, simhash chunks, or block keys — so the only joins
are equi-joins on bucket keys that AQE can handle (and salt if a bucket key
skews).  Signatures are computed scan-side in whole-stage codegen;
the per-document cost is O(shingles × hashes) with no Python involved.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.functions.vectors import dot_product, l2_norm
from logspout_kinesis_tests_spark.sources.tables import spread_for_compute

# --------------------------------------------------------------------------
# C8 — exact dedup by content hash.
# --------------------------------------------------------------------------

def with_content_hash(df: DataFrame, text_col: str = "text", out: str = "content_sha256") -> DataFrame:
    """sha256 over the raw content — the canonical exact-dedup key.

    At 100 TB the hash is computed in the scan stage; the dedup groupBy
    shuffles only (hash, id), never the document bodies.
    """
    return df.withColumn(out, F.sha2(F.col(text_col), 256))


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep one representative (lowest id) per distinct content.

    Aggregating min(id)+count per hash avoids a window over the full data —
    one shuffle on the 32-byte hash key, map-side partial aggregation on.
    """
    hashed = with_content_hash(df, text_col)
    return hashed.groupBy("content_sha256").agg(
        F.min(id_col).alias("keep_id"),
        F.count("*").alias("n_copies"),
    )


# --------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard).
# --------------------------------------------------------------------------

def with_word_shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, out: str = "shingles"
) -> DataFrame:
    """Distinct word n-gram shingles of ``lower(text)`` as an array column.

    Two-step projection: the word split is materialized in its own select
    before the windowed slice references it.  Inlining the split into the
    per-shingle lambda would make Catalyst re-evaluate it once per shingle
    (O(words²) per document — same trap as winnowing_fingerprints, where it
    measured 30× slower).  Both steps stay inside whole-stage codegen.
    """
    words = df.withColumn("_words", F.split(F.lower(F.col(text_col)), " "))
    shingled = words.withColumn(
        out,
        F.expr(
            f"""
            array_distinct(
              CASE WHEN size(_words) >= {n}
                   THEN transform(sequence(1, size(_words) - {n - 1}),
                                  i -> concat_ws(' ', slice(_words, i, {n})))
                   ELSE array(lower({text_col}))
              END)
            """
        ),
    )
    return shingled.drop("_words")


def exploded_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One (id, shingle) row per distinct word n-gram — the inverted-index
    feed, equivalent to ``with_word_shingles(...).select(explode(...))``.

    The shingle transform is inlined INTO the explode over a materialized
    word array: only ``_words`` is projected, never the shingle array
    itself.  Materializing the derived array in its own projection before a
    separate Generate measures ~5× slower (array built, copied, then
    exploded; see SCALE.md); inlining the *split* instead would re-run it
    per element (the lambda trap).  This is the fast middle shape.
    """
    words = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.split(F.lower(F.col(text_col)), " ").alias("_words"),
    )
    shingle_expr = f"""
        array_distinct(
          CASE WHEN size(_words) >= {n}
               THEN transform(sequence(1, size(_words) - {n - 1}),
                              i -> concat_ws(' ', slice(_words, i, {n})))
               ELSE array(concat_ws(' ', _words))
          END)
    """
    return words.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(F.expr(shingle_expr)).alias("shingle"),
    )


# --------------------------------------------------------------------------
# C9 — MinHash signatures + LSH banding.
# --------------------------------------------------------------------------

def lsh_bands(
    minhash_col: str = "minhash", bands: int = 16, rows_per_band: int = 4, out: str = "bands"
) -> Column:
    """Split the signature into ``bands`` bands of ``rows_per_band`` hashes;
    each band collapses to one 64-bit bucket key."""
    return F.expr(
        f"""
        transform(sequence(0, {bands - 1}),
                  b -> struct(b AS band,
                              xxhash64(concat_ws(',',
                                  transform(slice({minhash_col}, b * {rows_per_band} + 1,
                                                  {rows_per_band}),
                                            h -> CAST(h AS STRING)))) AS bucket))
        """
    ).alias(out)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, minhash: array<long>) — the per-document MinHash signature.

    Scan → explode shingles → per-document min-aggregate of the seeded
    hashes (``num_hashes`` ``min`` expressions, map-side combined — measured
    ~5× faster than a nested transform/array_min projection, which allocates
    ``num_hashes`` arrays per row).  E[matching positions / num_hashes] =
    exact Jaccard, so two signatures estimate pair similarity without the
    texts — which is what makes the signature table a persistable near-dup
    index.
    """
    exploded = exploded_shingles(
        spread_for_compute(df.select(F.col(id_col), F.col(text_col))),
        id_col,
        text_col,
        shingle_n,
    )
    based = exploded.select(F.col(id_col), F.xxhash64("shingle").alias("h"))
    return based.groupBy(id_col).agg(
        F.array(
            *[F.min(F.xxhash64("h", F.lit(i))) for i in range(num_hashes)]
        ).alias("minhash")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) that share ≥1 LSH band.

    Plan shape: scan → explode shingles → per-document min-aggregate of the
    seeded hashes (64 ``min`` expressions, map-side combined — measured ~5×
    faster than a nested transform/array_min projection, which allocates 64
    arrays per row) → explode bands → self-equi-join on (band, bucket) →
    distinct pairs.  The join key space is the bucket universe, so the
    shuffle moves ids only.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    banded = sig.select(
        F.col(id_col), F.explode(lsh_bands(bands=bands, rows_per_band=num_hashes // bands)).alias("b")
    ).select(F.col(id_col), F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


# --------------------------------------------------------------------------
# C9 — exact n-gram Jaccard (verification stage + standalone operator).
# --------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = (),
    max_shingle_df: int | None = None,
    materialize_index: bool = True,
) -> DataFrame:
    """Exact Jaccard over word-n-gram shingle sets, inverted-index style.

    Instead of a blocked cross join with per-pair ``array_intersect``
    (O(pairs × |shingles|) — measured 175 s at sf0.1, hopeless at 100 TB),
    the intersection sizes come from an *inverted index*: explode distinct
    shingles, self-equi-join on the shingle (plus ``block_cols``), count per
    (id_a, id_b).  Only pairs sharing ≥1 shingle materialize — pairs with
    an empty intersection have Jaccard 0 and can never pass a positive
    threshold, so results are identical.

    Jaccard = |A∩B| / (|A| + |B| - |A∩B|) with set sizes broadcast back in.

    Scale levers: the shuffle key is the shingle, so a shingle shared by k
    documents contributes k² join rows — ``max_shingle_df`` drops shingles
    with document frequency above the cut (near-dup signal lives in rare
    shingles; this is the standard stop-shingle cut).  AQE's skew-join
    splitting handles residual hot shingles.

    The join key is ``xxhash64(shingle)`` (8 bytes) rather than the shingle
    string — smaller shuffle rows and long-vs-long join compares.  A 64-bit
    collision between two distinct shingles of the same pair would perturb
    one intersection count; at P ≈ (distinct shingles)²/2⁶⁵ this is ~1e-9
    even at 10⁹ shingles, far below any meaningful threshold boundary.

    ``materialize_index=True`` (default) checkpoints the exploded index
    ONCE: four consumers reference it (both self-join sides, the df-cut
    aggregate, the per-doc sizes) and each would otherwise re-run the full
    text scan + shingle explode — measured 2.4 s → 1.4 s at sf0.1.  At
    cluster scale this is the standard persisted-shingle-index design (the
    index is ~24 B × distinct shingles per doc, vs 4× re-scanning bodies);
    pass ``False`` to keep the plan fully lazy.
    """
    spread = spread_for_compute(
        df.select(F.col(id_col), *[F.col(c) for c in block_cols], F.col(text_col))
    )
    inv = exploded_shingles(spread, id_col, text_col, shingle_n, block_cols).select(
        F.col(id_col), *[F.col(c) for c in block_cols], F.xxhash64("shingle").alias("shingle")
    )
    if materialize_index:
        inv = inv.localCheckpoint(eager=True)
    # per-doc distinct-shingle counts from the SAME index (pre-df-cut:
    # Jaccard denominators use the full shingle sets)
    sizes = inv.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    if max_shingle_df is not None:
        keep = (
            inv.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") <= max_shingle_df)
            .select("shingle")
        )
        inv = inv.join(keep, "shingle")
    a, b = inv.alias("a"), inv.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(sa, F.col("id_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("id_b") == F.col(f"sb.{id_col}"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard verify.

    The verify join re-reads only candidate documents' shingles; false
    positives from banding are filtered by the exact measure.
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands, shingle_n)
    shing = with_word_shingles(
        spread_for_compute(df.select(F.col(id_col), F.col(text_col))), text_col, shingle_n
    ).drop(text_col)
    a = shing.alias("sa")
    b = shing.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
    union = F.size(F.col("sa.shingles")) + F.size(F.col("sb.shingles")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        cands.join(a, cands.id_a == F.col(f"sa.{id_col}"))
        .join(b, cands.id_b == F.col(f"sb.{id_col}"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# Winnowing document fingerprints (rolling-hash minima).
# --------------------------------------------------------------------------

def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    kgram: int = 16,
    window: int = 8,
    stride: int = 2,
) -> DataFrame:
    """Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    the MOSS scheme): hash ``kgram``-char grams of the normalized text,
    keep the minimum of each ``window`` of consecutive hashes, dedupe.
    Guarantees: any shared substring of length ≥ kgram + stride·(window-1)
    + (stride-1) yields a shared fingerprint — position-robust copy
    detection that whole-document hashing misses.

    ``stride`` samples every s-th gram start (position-aligned): hashing
    and windowing cost divide by s, and fingerprints are identical for
    copies shifted by any multiple of s (arbitrary shifts are still caught
    whenever the guarantee length is met for some aligned substring —
    recall on the planted corpus is pinned ≥0.95 in pytest at stride=2).

    Output: one (id, fingerprint) row per selected hash.  Pairs sharing
    fingerprints come from a groupBy/self-join on the fingerprint key —
    same inverted-index shape as n-gram Jaccard, same scale profile.
    Everything is expression-level (substring grams → xxhash64 → windowed
    minima via a ``least`` chain: no per-window array allocation), no
    Python.
    """
    n_grams = f"greatest((length(lower({text_col})) - {kgram}) DIV {stride} + 1, 1)"
    hashes = (
        f"transform(sequence(1, {n_grams}), "
        f"i -> xxhash64(substring(lower({text_col}), (i - 1) * {stride} + 1, {kgram})))"
    )
    # Materialize the hash array in its own projection.  Inlining it into
    # the windowed-minima lambda makes Catalyst re-evaluate the FULL O(n)
    # hash transform per window → O(n²·k) per document (measured: 300+ s on
    # 500 docs; ~1 s materialized).  The CollapseProject rule keeps multiply
    # -referenced non-cheap aliases un-inlined, so the two-step projection
    # is stable.
    hashed = spread_for_compute(df).select(F.col(id_col), F.expr(hashes).alias("_hashes"))
    # min of the window as a flat least() chain — array_min(slice(...))
    # allocates an array per window position; least() stays scalar codegen
    win_min = "least(" + ", ".join(
        f"element_at(_hashes, i + {j})" for j in range(window)
    ) + ")"
    fps = F.expr(
        f"""
        array_distinct(
          CASE WHEN size(_hashes) >= {window}
               THEN transform(sequence(1, size(_hashes) - {window - 1}),
                              i -> {win_min})
               ELSE array(array_min(_hashes))
          END)
        """
    )
    return hashed.select(F.col(id_col), F.explode(fps).alias("fingerprint"))


def winnowing_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    kgram: int = 16,
    window: int = 8,
    min_shared: int = 5,
    max_fingerprint_df: int | None = 100,
    stride: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs sharing ≥ ``min_shared`` winnowing
    fingerprints (inverted-index join on the fingerprint).

    ``max_fingerprint_df`` drops fingerprints present in more documents
    than the cut before the pair join — a fingerprint shared by k docs
    contributes k² join rows but no near-dup signal (it is boilerplate by
    definition).  Measured here: without the cut the pair join blows up
    ~25× on a small-vocabulary corpus.
    """
    fp = winnowing_fingerprints(df, id_col, text_col, kgram, window, stride)
    if max_fingerprint_df is not None:
        keep = (
            fp.groupBy("fingerprint")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") <= max_fingerprint_df)
            .select("fingerprint")
        )
        fp = fp.join(keep, "fingerprint")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# SimHash (64-bit) + Hamming-band search.
# --------------------------------------------------------------------------

def with_simhash64(
    df: DataFrame,
    text_col: str = "text",
    out: str = "simhash",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, simhash) — 64-bit SimHash over word hashes: bit k set iff
    Σ_words (±1 by bit k of xxhash64(word)) > 0.

    Shape: explode distinct words → 64 conditional-sum aggregates per
    document → one bit-assembly projection.  The previous formulation (two
    nested expression folds, O(64 × words) interpreted evaluations per row)
    measured ~4× slower — same lesson as the MinHash signature: per-seed
    aggregates over exploded rows beat nested array folds, the partial
    sums combine map-side, and the shuffle carries 64 longs per document,
    never text.
    """
    hashed = spread_for_compute(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col),
        F.explode(F.array_distinct(F.split(F.lower(F.col(text_col)), " "))).alias("_w"),
    ).select(F.col(id_col), F.xxhash64("_w").alias("_h"))
    sums = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(_h, {k}) & 1) = 1"), F.lit(1)).otherwise(-1)
            ).alias(f"_b{k}")
            for k in range(64)
        ]
    )
    assemble = " + ".join(
        f"CASE WHEN _b{k} > 0 THEN shiftleft(1L, {k}) ELSE 0L END" for k in range(64)
    )
    return sums.select(F.col(id_col), F.expr(assemble).alias(out))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    bands: int = 8,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) ≤ max_hamming.

    Pigeonhole banding: split 64 bits into ``bands`` chunks; any pair with
    Hamming < bands must agree on ≥1 chunk (guaranteed recall for
    max_hamming ≤ bands-1; probabilistic above), so candidates come from a
    bucket equi-join and the exact bit_count filter runs on candidates only.
    Band-width trade-off at scale: narrower chunks (more bands) raise recall
    but widen buckets — 8×8-bit is a recall-leaning default; drop to 4×16-bit
    on corpora where bucket skew dominates.
    """
    assert 64 % bands == 0, "bands must divide 64"
    width = 64 // bands
    mask = (1 << width) - 1
    # Materialize the (id, simhash) table once: both sides of the chunk
    # self-join and the final Hamming filter reference it, and it is tiny
    # (16 bytes/doc) next to the text it derives from.
    sigs = with_simhash64(df, text_col, id_col=id_col).localCheckpoint(eager=True)
    chunks = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), c -> struct(c AS chunk, "
                f"(shiftright(simhash, c * {width}) & {mask}) AS val))"
            )
        ).alias("b"),
    ).select(F.col(id_col), "simhash", F.col("b.chunk").alias("chunk"), F.col("b.val").alias("val"))
    l, r = chunks.alias("l"), chunks.alias("r")
    return (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))).alias("hamming"),
        )
        # Hamming filter BEFORE the pair-dedup: the filter runs map-side on
        # the join output, so the distinct's shuffle carries only surviving
        # pairs instead of the full k²-per-bucket candidate stream.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# C8/C10 — embedding-cosine near-dup.
# --------------------------------------------------------------------------

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    block_cols: tuple[str, ...] = (),
    allow_full_cross: bool = False,
    salt_buckets: int = 1,
) -> DataFrame:
    """Pairs with cosine ≥ threshold, blocked (e.g. by a coarse cluster/label
    key) to bound the pair space.

    Without ``block_cols`` the join degenerates to an all-pairs cross join —
    O(n²) pairs, a scale-killer on any real corpus — so empty ``block_cols``
    raises unless ``allow_full_cross=True`` is passed explicitly (tiny
    corpora / ground-truth generation only).  Use a label column, an IVF
    cell (``operators.ann.ivf_index``), or an LSH bucket as the block key.
    """
    if not block_cols and not allow_full_cross:
        raise ValueError(
            "embedding_neardup_pairs without block_cols is an all-pairs "
            "cross join (O(n^2)); pass block_cols (label / IVF cell / LSH "
            "bucket) or allow_full_cross=True for tiny corpora."
        )
    # Per-row norms are folded ONCE at the scan; a row in a k-sized block
    # otherwise re-folds its norm against every one of its k partners
    # (higher-order folds are interpreted, not codegen — the dominant cost
    # of this operator).  ``na * nb`` is bit-identical to the inline
    # ``l2_norm(a) * l2_norm(b)``, so oracle parity is unaffected.
    # Cast float→double ONCE per row.  dot_product/l2_norm cast their inputs
    # defensively; leaving that to the pair join re-allocates a casted copy
    # of each 64-float array per PARTNER instead of per row (k× the work in
    # a k-sized block).  Catalyst elides the now-redundant inner cast.
    base = (
        spread_for_compute(
            df.select(F.col(id_col), F.col(vec_col), *[F.col(c) for c in block_cols])
        )
        .withColumn(vec_col, F.col(vec_col).cast("array<double>"))
        .withColumn("_norm", l2_norm(F.col(vec_col)))
    )
    if salt_buckets > 1:
        # Spread a block's k² pair work over ``salt_buckets`` partitions:
        # the left row carries one salt, the right side is replicated once
        # per salt value, so each (a, b) pair meets exactly once and the
        # shuffle key becomes (block, salt) — parallelism no longer capped
        # at the number of distinct block keys.  Right-side volume grows
        # salt_buckets×; pair count (the real cost) is unchanged.
        a = base.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        ).alias("a")
        b = base.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
        ).alias("b")
        cond = (F.col("a._salt") == F.col("b._salt")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
    else:
        a, b = base.alias("a"), base.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    denom = F.col("a._norm") * F.col("b._norm")
    cos = F.when(denom == 0, F.lit(None)).otherwise(
        dot_product(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")) / denom
    )
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# --------------------------------------------------------------------------
# C8+ — duplicate-cluster resolution: pairs → components → keep-one.
# --------------------------------------------------------------------------

class _MinUnionFind:
    """Union-find with union-by-min-id: every tree's root IS its
    component's minimum id.  The ONE task-side algorithm behind the three
    size-adaptive small-graph paths (``connected_components``,
    ``cluster_losers``, ``resolve_ingest_removals``) — shared so the
    path-compression/tie-break logic cannot drift between them."""

    def __init__(self) -> None:
        self.parent: dict = {}

    def find(self, x):
        parent = self.parent
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    def union(self, a, b) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo

    def losers(self):
        """Every node that is NOT its component's minimum id.  Only
        non-root nodes ever enter ``parent``, so its keys are exactly the
        loser set (the find() re-check is cheap insurance)."""
        return [x for x in self.parent if self.find(x) != x]


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    small_graph_max_edges: int = 500_000,
) -> DataFrame:
    """(id, component) for every id in ``pairs``; component = min reachable id.

    Near-dup pair lists are an edge set; dedup policy needs the *clusters*
    (a~b, b~c ⇒ {a,b,c} keep one).  Size-adaptive (r12, the
    ``cluster_losers`` strategy): duplicate-pair graphs are a tiny
    fraction of the corpus they came from, so after the one edge-set
    materialization a MEASURED count picks the physical plan —

    - ``<= small_graph_max_edges``: single-partition union-find via
      ``applyInPandas`` (union by min id, so each tree's root IS the
      component label) — one task, O(E α(E)), instead of 3+ checkpoint
      jobs of fixpoint machinery whose scheduler floor dominates at this
      size (measured: the bench cluster query's CC portion 0.7 s → 0.2 s).
      The one task's footprint is NOT just the raw longs (500k edges ≈
      8 MB): the union-find builds a Python parent dict and node set (up
      to ~2 × E boxed-int entries, ~50-100 bytes each) on top of the
      pandas frame, so budget roughly ``100 bytes × 2E`` of Python-object
      heap — ~200 MB at the 500k default, comfortably one executor task;
      memory-constrained executors should pass a smaller cut (ADVICE r12:
      the previous 2M default implied up to ~GB-scale single-task heap).
    - above: min-label propagation to fixpoint — each round every node
      adopts the smallest label among itself and its neighbors (one
      equi-join + map-side-combined groupBy per round), converging in
      O(graph diameter) rounds; near-dup graphs are shallow.  Per-round
      ``localCheckpoint`` truncates lineage; the fixpoint probe is a
      LIMIT-1 count, not a data collect.  For adversarially deep graphs
      the large-star/small-star transform (Kiveris et al., SoCC'14)
      halves round counts — not needed at our diameters.

    Both paths are exact and return identical labels.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # Materialize the symmetrized edge set ONCE: the size probe, every
    # propagation round, and every fixpoint probe re-reference it, and
    # without the checkpoint each reference re-runs the full upstream
    # candidate-pair pipeline (measured 16.6 s -> ~4 s on the bench
    # cluster query).
    edges = (
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if edges.limit(small_graph_max_edges + 1).count() <= small_graph_max_edges:
        import pandas as pd

        id_type = edges.schema["src"].dataType.simpleString()

        def _uf_labels(pdf: pd.DataFrame) -> pd.DataFrame:
            uf = _MinUnionFind()
            nodes = set()
            for a, b in zip(pdf["src"].values, pdf["dst"].values):
                nodes.add(a)
                nodes.add(b)
                uf.union(a, b)
            ordered = sorted(nodes)
            return pd.DataFrame(
                {"id": ordered, "component": [uf.find(x) for x in ordered]}
            )

        return edges.groupBy(F.lit(0).alias("_g")).applyInPandas(
            _uf_labels, schema=f"id {id_type}, component {id_type}"
        ).select("id", "component")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _round in range(max_iters):
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), F.col("component")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        if _round == 0 and max_iters > 1:
            # round 0 always changes labels on any non-empty edge set —
            # skip its fixpoint probe (one join+count job per CC call;
            # the only cost is one extra round on an edgeless graph)
            labels = new_labels
            continue
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def cluster_losers(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    small_graph_max_edges: int = 500_000,
) -> DataFrame:
    """Loser ids (every clustered node except its cluster's min id) from a
    MATERIALIZED pair set, with a size-adaptive physical strategy.

    Duplicate-pair graphs are a tiny fraction of the corpus they came from
    (pairs exist only where near-dups exist), so the common case — even at
    100 TB corpus scale — is an edge set that fits one task comfortably.
    Strategy selection mirrors Spark's own broadcast-threshold adaptivity,
    keyed on a MEASURED count (one cheap job; callers pass a checkpointed
    ``pairs`` so the probe does not re-execute the candidate pipeline):

    - ``<= small_graph_max_edges``: single-partition union-find via
      ``applyInPandas`` — one shuffle, one task, O(E α(E)) — instead of the
      distributed fixpoint's 4+ checkpoint jobs whose scheduler floor
      dominates at this size (measured 0.7 s -> 0.15 s per call at sf0.1).
      Budget ~100 bytes × 2E of Python-object heap for the union-find's
      parent dict on top of the raw longs — ~200 MB at the 500k default
      (see connected_components; ADVICE r12).
    - above the threshold: the exact distributed ``connected_components``
      min-label fixpoint — unbounded scale, O(diameter) rounds.

    Both paths are exact (same min-id-representative semantics); only the
    physical plan differs.
    """
    if pairs.limit(small_graph_max_edges + 1).count() <= small_graph_max_edges:
        import pandas as pd

        out_col = id_a
        id_type = pairs.schema[id_a].dataType.simpleString()

        def _uf(pdf: pd.DataFrame) -> pd.DataFrame:
            uf = _MinUnionFind()
            for a, b in zip(pdf[id_a].values, pdf[id_b].values):
                uf.union(a, b)
            return pd.DataFrame({out_col: uf.losers()})

        return (
            pairs.groupBy(F.lit(0).alias("_g"))
            .applyInPandas(_uf, schema=f"{out_col} {id_type}")
            .select(out_col)
        )
    # forward the threshold so an explicit caller choice (e.g. a lower cut
    # because one task would OOM on wide ids, or 0 to force the fixpoint)
    # governs the inner probe too instead of silently re-entering the
    # union-find via the default
    cc = connected_components(
        pairs, id_a, id_b, small_graph_max_edges=small_graph_max_edges
    )
    return cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_a)
    )


def resolve_ingest_removals(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    cross_col: str = "cross",
    small_graph_max_edges: int = 500_000,
) -> DataFrame:
    """One-shot removal resolution for a search-before-append dedup epoch.

    Input: a MATERIALIZED verified pair frame carrying BOTH kinds of pairs
    one ingest epoch produces — cross pairs (``cross_col`` true: new doc
    ``id_a`` matched index doc ``id_b``) and intra pairs (``cross_col``
    false: two new docs, ``id_a < id_b``).  Output: one ``doc_id`` column —
    every new doc the epoch must NOT append to the index:

    - every cross-matched doc (dropped by the index search), plus
    - the keep-one losers of the intra-pair graph RESTRICTED to docs that
      survived the cross cut (pairs touching a dropped doc are discarded —
      equivalent to having generated candidates among survivors only,
      since dropping endpoints commutes with pair generation).

    Size-adaptive like ``cluster_losers``: below the threshold the whole
    resolution (cross cut + restriction + union-find) runs in ONE
    single-partition ``applyInPandas`` task — dedup pair sets are a tiny
    fraction of the corpus, so this is the common case even at 100 TB —
    and above it a distributed anti-join + ``connected_components``
    fixpoint path computes the identical set.
    """
    if pairs.limit(small_graph_max_edges + 1).count() <= small_graph_max_edges:
        import pandas as pd

        id_type = pairs.schema[id_a].dataType.simpleString()

        def _resolve(pdf: pd.DataFrame) -> pd.DataFrame:
            dropped = set(pdf.loc[pdf[cross_col], id_a].tolist())
            uf = _MinUnionFind()
            intra = pdf.loc[~pdf[cross_col], [id_a, id_b]]
            for a, b in zip(intra[id_a].values, intra[id_b].values):
                if a in dropped or b in dropped:
                    continue
                uf.union(a, b)
            removed = dropped | set(uf.losers())
            return pd.DataFrame({"doc_id": sorted(removed)})

        return (
            pairs.groupBy(F.lit(0).alias("_g"))
            .applyInPandas(_resolve, schema=f"doc_id {id_type}")
            .select("doc_id")
        )
    dropped = (
        pairs.filter(F.col(cross_col)).select(F.col(id_a).alias("doc_id")).distinct()
    )
    intra = (
        pairs.filter(~F.col(cross_col))
        .join(dropped.withColumnRenamed("doc_id", id_a), id_a, "left_anti")
        .join(dropped.withColumnRenamed("doc_id", id_b), id_b, "left_anti")
    )
    losers = cluster_losers(intra, id_a, id_b, small_graph_max_edges=0)
    return dropped.unionAll(losers.withColumnRenamed(id_a, "doc_id"))


def dedup_keep_one(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every clustered row except its cluster's min-id representative.

    Rows never seen in ``pairs`` are kept (singleton clusters).  The policy
    is deterministic (min id); swap in a quality-ranked choice by joining a
    score and replacing the min with a row_number window if needed.
    """
    cc = connected_components(pairs, id_a, id_b)
    losers = cc.filter(F.col("component") != F.col("id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def build_content_index(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content-hash index of a corpus — the persisted fingerprint
    table an incremental ingestion pipeline deduplicates against.

    At 100 TB this is the table you keep between crawl refreshes: 32 bytes
    per distinct document, written bucketed on the hash so the next batch's
    anti-join is exchange-free on the index side.
    """
    return with_content_hash(df, text_col).select("content_sha256").distinct()


def incremental_dedup(
    incoming: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deduplicate an incoming batch against an existing corpus index, then
    within itself — the crawl-refresh pattern: only genuinely new documents
    (lowest id per duplicate group) survive.

    Two hash-key shuffles, both carrying (hash, id) only: a left-anti join
    against the index (AQE broadcasts the index when it fits; bucketing
    makes it exchange-free otherwise) and a min-id groupBy for batch-
    internal duplicates.  Document bodies never move — survivors are
    recovered by a semi-join on ``id_col``.
    """
    hashed = with_content_hash(incoming, text_col).select(id_col, "content_sha256")
    fresh = hashed.join(index.select("content_sha256"), "content_sha256", "left_anti")
    keep = fresh.groupBy("content_sha256").agg(F.min(id_col).alias(id_col)).select(id_col)
    return incoming.join(keep, id_col, "left_semi")


def compact_epoch_index(
    spark: SparkSession,
    index_dir: str,
    upto_epoch: int,
    count_rows: bool = True,
) -> int:
    """Fold all index partitions with ``epoch < upto_epoch`` into the single
    partition ``epoch = upto_epoch - 1`` — the periodic maintenance job the
    epoch-partitioned streaming indexes assume at scale.

    Correctness under the replay contract: probes read ``epoch < N`` for the
    live epoch N.  Folding epochs ``0..upto_epoch-1`` into the partition id
    ``upto_epoch - 1`` keeps every folded row visible to exactly the same
    probes as before (any live epoch is ``>= upto_epoch``), and a replay of
    epoch ``N >= upto_epoch`` still excludes its own write.  Only run with
    ``upto_epoch <= `` the oldest epoch that could replay (i.e. the last
    COMMITTED epoch + 1) — compacting the in-flight epoch would merge a
    possibly-partial write.

    The fold is a deduplicating ``distinct()``: every index kept in this
    layout (content hashes, ANN codes and vecs) is membership-shaped, and
    replayed epochs can leave identical rows in several partitions; after
    compaction each surviving row exists once.

    Returns the number of rows in the compacted partition (an extra read
    job; pass ``count_rows=False`` to skip it and get ``-1`` when the
    caller doesn't need the figure — e.g. a maintenance loop folding many
    tables back-to-back).

    Crash handling: the fold is staged under a Spark-hidden ``_compact_tmp``
    dir first, so a crash BEFORE the swap leaves the index untouched.  The
    swap itself (delete folded partitions, rename staging in) is not atomic
    across a multi-dir filesystem — run compaction while the stream is
    quiesced and RE-RUN IT after a crash: if a completed staging dir is
    found the function resumes the swap instead of re-folding, restoring the
    index before the stream restarts.  The resume is NOT keyed to calling
    with the same ``upto_epoch``: any stale ``_compact_tmp_*`` dir from a
    crashed run is handled on entry — a completed one (``_SUCCESS`` marker)
    has its swap finished first (its folded rows may be the only copy of
    already-deleted partitions; skipping it would silently lose them, since
    underscore-prefixed dirs are invisible to Spark reads), an incomplete
    one is discarded (its source partitions are all still present).
    """
    import shutil

    from pyspark.sql import functions as F

    # Self-heal stale staging dirs from a prior crashed compaction BEFORE
    # reading the index, so the refold below sees every surviving row.
    for name in list(os.listdir(index_dir)):
        if not name.startswith("_compact_tmp_"):
            continue
        stale_path = os.path.join(index_dir, name)
        stale_epoch = int(name.rsplit("_", 1)[1])
        if stale_epoch == upto_epoch - 1:
            continue  # this run's own staging dir — resumed below
        if os.path.exists(os.path.join(stale_path, "_SUCCESS")):
            # Finish the interrupted swap for its ORIGINAL epoch: delete
            # whatever folded partitions remain, promote the staging dir.
            for n2 in os.listdir(index_dir):
                if n2.startswith("epoch="):
                    try:
                        if int(n2.split("=", 1)[1]) <= stale_epoch:
                            shutil.rmtree(os.path.join(index_dir, n2))
                    except ValueError:
                        continue
            os.rename(stale_path, os.path.join(index_dir, f"epoch={stale_epoch}"))
        else:
            # Fold crashed mid-write: all source partitions still exist,
            # the staging dir holds nothing unique — drop it.
            shutil.rmtree(stale_path)

    tmp = os.path.join(index_dir, f"_compact_tmp_{upto_epoch - 1}")
    staged = os.path.exists(os.path.join(tmp, "_SUCCESS"))
    if not staged:
        idx = spark.read.parquet(index_dir)
        cols = [c for c in idx.columns if c != "epoch"]
        folded = idx.filter(F.col("epoch") < upto_epoch).select(*cols).distinct()
        folded.write.mode("overwrite").parquet(tmp)
    for name in os.listdir(index_dir):
        if name.startswith("epoch="):
            try:
                if int(name.split("=", 1)[1]) < upto_epoch:
                    shutil.rmtree(os.path.join(index_dir, name))
            except ValueError:
                continue
    os.rename(tmp, os.path.join(index_dir, f"epoch={upto_epoch - 1}"))
    if not count_rows:
        return -1
    return spark.read.parquet(
        os.path.join(index_dir, f"epoch={upto_epoch - 1}")
    ).count()


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    max_df: int = 1,
) -> DataFrame:
    """CCNet-style duplicated-line removal: drop every line whose corpus
    document frequency exceeds ``max_df`` (boilerplate — headers, cookie
    banners, navigation), and rebuild each document from its surviving
    lines in original order.

    Plan shape (100 TB): lines are keyed by md5 so the frequency groupBy
    shuffles a 32-hex key with map-side combine, never line text; the
    over-frequent key set (only the duplicated lines) joins back by key —
    AQE broadcasts it when small; the rebuild groupBy carries each kept
    line exactly once.  ``collect_list`` skips NULLs, so dropped lines
    vanish from the rebuild without a second filter pass.

    Returns (id_col, text, n_kept, n_dropped); a fully-boilerplate document
    comes back with empty text and n_kept = 0 rather than disappearing.
    """
    lines = spread_for_compute(df).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("_k", F.md5(F.col("line")))
    dup = (
        lines.groupBy("_k")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_k", F.lit(True).alias("_dup"))
    )
    flagged = lines.join(dup, "_k", "left")
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_dup").isNull(), F.struct("pos", "line"))
                    )
                ),
                lambda x: x.getField("line"),
            ),
        ).alias(text_col),
        F.sum(F.when(F.col("_dup").isNull(), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias("n_dropped"),
    )


def substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 16,
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): excise every word span of >= ``min_words``
    words that occurs more than once corpus-wide, from ALL its occurrences,
    and rebuild the surrounding text.

    Seed-gram reduction instead of suffix arrays (which don't distribute):
    any duplicated span of >= k words implies every one of its k-word grams
    is duplicated, so duplicated k-grams mark exactly the duplicated spans.
    Plan shape (100 TB): overlapping k-grams explode scan-side keyed by md5;
    the duplicate-key set comes from one map-combined count groupBy and
    joins back by key (AQE-broadcast when small); per-doc span merging is a
    window over marked positions only (running max-end), NOT over all words;
    excision filters the word array in place via a positional lambda — the
    only per-word work after the gram explode, no second explode.

    Returns (id_col, text, n_words_removed).
    """
    k = min_words
    words = spread_for_compute(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    )
    grams = words.select(
        F.col(id_col),
        F.col("_w"),
        F.explode(
            F.expr(
                f"CASE WHEN size(_w) >= {k} THEN sequence(0, size(_w) - {k}) "
                "ELSE array() END"
            )
        ).alias("pos"),
    ).withColumn(
        "_key", F.md5(F.expr(f"concat_ws(' ', slice(_w, pos + 1, {k}))"))
    ).select(id_col, "pos", "_key")
    dupk = (
        grams.groupBy("_key")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("_key")
    )
    marks = grams.join(dupk, "_key").select(
        id_col, F.col("pos").alias("s"), (F.col("pos") + k).alias("e")
    )
    from pyspark.sql import Window as W

    mw = W.partitionBy(id_col).orderBy("s")
    spans = (
        marks.withColumn(
            "_prev_max", F.max("e").over(mw.rowsBetween(W.unboundedPreceding, -1))
        )
        .withColumn(
            "_grp",
            F.sum(
                F.when(
                    F.col("_prev_max").isNull() | (F.col("s") > F.col("_prev_max")), 1
                ).otherwise(0)
            ).over(mw),
        )
        .groupBy(id_col, "_grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("_spans"))
    )
    return (
        words.join(spans, id_col, "left")
        .withColumn("_spans", F.coalesce(F.col("_spans"), F.array()))
        .withColumn(
            "_kept",
            F.filter(
                "_w",
                lambda w, i: ~F.exists(
                    F.col("_spans"),
                    lambda sp: (i >= sp.getField("s")) & (i < sp.getField("e")),
                ),
            ),
        )
        .select(
            F.col(id_col),
            F.concat_ws(" ", "_kept").alias(text_col),
            (F.size("_w") - F.size("_kept")).alias("n_words_removed"),
        )
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep each cluster's highest-``score_col`` row (ties → lowest id);
    singletons survive untouched.

    The quality-policy sibling of ``dedup_keep_one``: real pipelines keep
    the best duplicate (longest, highest LM score, least boilerplate), not
    the first-seen one.  The window runs ONLY over clustered rows
    (partition = cluster, tiny by construction); singletons bypass it via
    an anti-join — routing them through the window would pile every
    unclustered row into one NULL partition, a single-task sort of nearly
    the whole corpus.
    """
    from pyspark.sql import Window as W

    cc = connected_components(pairs, id_a, id_b).withColumnRenamed("id", id_col)
    in_cluster = df.join(cc, id_col)
    w = W.partitionBy("component").orderBy(F.col(score_col).desc(), F.col(id_col))
    best = (
        in_cluster.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "component")
    )
    singles = df.join(cc, id_col, "left_anti")
    return singles.unionByName(best)


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions: ``added`` / ``removed`` /
    ``changed`` rows by content hash (unchanged rows are dropped — at scale
    they are the overwhelming majority and carrying them defeats the point).

    The shuffle carries only (id, 32-byte hash) per side — never document
    bodies — so diffing two 100 TB snapshots moves ~O(rows·40 B).  This is
    the dataset-versioning primitive: what changed between crawl N and
    N+1, feeding incremental re-processing instead of full recompute.
    """
    o = with_content_hash(old.select(F.col(id_col), F.col(text_col)), text_col, "_h_old").drop(text_col)
    n = with_content_hash(new.select(F.col(id_col), F.col(text_col)), text_col, "_h_new").drop(text_col)
    joined = o.join(n, id_col, "full_outer")
    return joined.select(
        F.col(id_col),
        F.when(F.col("_h_old").isNull(), "added")
        .when(F.col("_h_new").isNull(), "removed")
        .when(F.col("_h_old") != F.col("_h_new"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    ).filter(F.col("status") != "unchanged")


def ngram_containment(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_id: str = "doc_id",
    bench_id: str = "bench_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Benchmark-containment pairs: fraction of a benchmark example's
    distinct word-n-gram shingles that appear in a corpus document,
    ``C(bench ⊂ doc) = |S(bench) ∩ S(doc)| / |S(bench)|`` — the
    decontamination metric of Lee et al. 2022 / GPT-3 appendix C, asymmetric
    where Jaccard is symmetric: a 10-line eval example fully embedded in a
    10-page document has tiny Jaccard but containment 1.0, which is exactly
    the leak being hunted.

    Returns (corpus_id, bench_id, containment) for pairs with containment
    >= ``threshold`` (rounded to 6dp — cross-engine exact: the value is a
    small-integer rational).

    Plan shape (100 TB corpus, eval-sized benchmark): the benchmark's
    exploded shingles are BROADCAST; the corpus streams through one
    scan-side explode + broadcast hash join keyed by ``xxhash64(shingle)``
    (8-byte compares, same collision analysis as ``ngram_jaccard_pairs``),
    then a map-combined count per (doc, bench) pair.  The corpus never
    shuffles document bodies — only (doc_id, bench_id) count rows.
    """
    spread = spread_for_compute(corpus.select(F.col(corpus_id), F.col(text_col)))
    corpus_inv = exploded_shingles(spread, corpus_id, text_col, shingle_n).select(
        F.col(corpus_id), F.xxhash64("shingle").alias("shingle")
    )
    bench_inv = exploded_shingles(bench, bench_id, text_col, shingle_n).select(
        F.col(bench_id), F.xxhash64("shingle").alias("shingle")
    )
    bench_sizes = with_word_shingles(bench, text_col, shingle_n).select(
        F.col(bench_id), F.size("shingles").alias("_n_bench")
    )
    inter = (
        corpus_inv.join(F.broadcast(bench_inv), "shingle")
        .groupBy(corpus_id, bench_id)
        .agg(F.count("*").alias("_n_inter"))
    )
    return (
        inter.join(F.broadcast(bench_sizes), bench_id)
        .select(
            F.col(corpus_id),
            F.col(bench_id),
            F.round(
                F.col("_n_inter").cast("double") / F.col("_n_bench").cast("double"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def cross_corpus_jaccard_pairs(
    new: DataFrame,
    old: DataFrame,
    new_id: str = "doc_id",
    old_id: str = "old_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    materialize_index: bool = True,
) -> DataFrame:
    """Near-dup pairs ACROSS two corpora: (new doc, old doc) with exact
    word-n-gram Jaccard >= ``threshold`` — the near-dup analogue of
    ``incremental_dedup`` for the crawl-refresh loop (drop new documents
    that are close rewrites of already-ingested ones, not just byte
    duplicates).

    Same inverted-index shape as ``ngram_jaccard_pairs`` but the self-join
    becomes a two-corpus equi-join on ``xxhash64(shingle)``: only cross
    pairs sharing >=1 shingle materialize, never the new×old cross product.
    ``max_shingle_df`` cuts stop-shingles by COMBINED document frequency
    (a shingle hot in either corpus floods the join the same way).  At
    scale the old side is the persisted shingle index of the corpus —
    append-only, reusable across refreshes.
    """
    new_spread = spread_for_compute(new.select(F.col(new_id), F.col(text_col)))
    old_spread = spread_for_compute(old.select(F.col(old_id), F.col(text_col)))
    new_inv = exploded_shingles(new_spread, new_id, text_col, shingle_n).select(
        F.col(new_id), F.xxhash64("shingle").alias("shingle")
    )
    old_inv = exploded_shingles(old_spread, old_id, text_col, shingle_n).select(
        F.col(old_id), F.xxhash64("shingle").alias("shingle")
    )
    if materialize_index:
        # each index feeds the df-cut, the cross join, and the size counts —
        # checkpoint once instead of re-scanning bodies per consumer (see
        # ngram_jaccard_pairs; at refresh scale the old side would be the
        # PERSISTED index, making this a no-op read)
        new_inv = new_inv.localCheckpoint(eager=True)
        old_inv = old_inv.localCheckpoint(eager=True)
    # full (pre-df-cut) indexes: Jaccard denominators use whole shingle sets
    new_full, old_full = new_inv, old_inv
    if max_shingle_df is not None:
        combined = new_inv.select("shingle").unionByName(old_inv.select("shingle"))
        keep = (
            combined.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") <= max_shingle_df)
            .select("shingle")
        )
        new_inv = new_inv.join(keep, "shingle")
        old_inv = old_inv.join(keep, "shingle")
    inter = (
        new_inv.join(old_inv, "shingle")
        .groupBy(new_id, old_id)
        .agg(F.count("*").alias("_n_inter"))
    )
    new_sizes = new_full.groupBy(new_id).agg(F.count("*").alias("_n_new"))
    old_sizes = old_full.groupBy(old_id).agg(F.count("*").alias("_n_old"))
    jac = F.col("_n_inter").cast("double") / (
        F.col("_n_new") + F.col("_n_old") - F.col("_n_inter")
    ).cast("double")
    return (
        inter.join(new_sizes, new_id)
        .join(old_sizes, old_id)
        .select(F.col(new_id), F.col(old_id), jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )

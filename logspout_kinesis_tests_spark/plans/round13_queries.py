"""Round-13 additions: ANN index compaction parity.

Registered LAST (plans/__init__) and deliberately tiny — the r13 driver
window's priority is the r6 stale-green drain (VERDICT r12 #1), so this
round's new-query batch stays well under the ≤5 budget.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.plans.registry import register
from logspout_kinesis_tests_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# C10+/C19+ — ANN index compaction (VERDICT r12 #6): an epoch-partitioned
# PQ index accumulates one codes + one vecs fragment per arrival epoch;
# compact_ann_index folds them with search results invariant.
# --------------------------------------------------------------------------

_CMP_EPOCHS = 3
_CMP_PANEL = 20
_CMP_M = 4
#: 8 (not 16) since r14: the fold invariant is codebook-independent — the
#: SAME codebooks serve both sides — and halving ksub halves the encode d2
#: table and the ADC tables (interleaved A/B: ~0.9 s off the row)
_CMP_KSUB = 8
_CMP_K = 5
#: Corpus stride (VERDICT r13 #3): the fold invariant — the folded index is
#: a physical fold of the SAME fragments, searched identically — holds at
#: any corpus size, so the harness indexes every 2nd vector instead of all
#: of them; the gates stay structural over the same halved set on both
#: engines.  Interleaved A/B at sf0.1: ~0.2 s off the row (it is
#: scheduling-floor-bound at fixture scale; the halving is what keeps the
#: harness linear-in-sf headroom honest, not a local[32] win).
_CMP_STRIDE = 2


def _cmp_oracle() -> str:
    return f"""
    SELECT CAST('search_results_identical' AS VARCHAR) AS gate,
           CAST(1 AS BIGINT) AS observed
    UNION ALL
    SELECT 'codes_rows_after_fold', CAST({_CMP_M} * count(*) AS BIGINT)
    FROM embeddings WHERE vec_id % {_CMP_STRIDE} = 0
    UNION ALL
    SELECT 'vecs_rows_after_fold', CAST(count(*) AS BIGINT)
    FROM embeddings WHERE vec_id % {_CMP_STRIDE} = 0
    UNION ALL
    SELECT 'codes_epochs_after_fold', CAST(1 AS BIGINT)
    """


@register(
    "c10_index_compaction_parity",
    # Self-checking shape: the search-identity gate is computed by the
    # query itself (multiset symmetric difference of before/after result
    # triples + 15dp-quantized exact-re-rank cosines must be empty) and
    # pinned to the literal healthy value; the row-count gates are structural —
    # folding preserves exact row sets, so codes = m rows/vector and vecs
    # = 1 row/vector over the whole corpus, and everything folds into ONE
    # epoch partition.
    oracle=_cmp_oracle(),
    doc="C10+/C19+ (VERDICT r12 #6): ANN index compaction — the index "
    "analogue of the C19 small-file maintenance pass.  Builds an "
    "epoch-partitioned PQ index on disk (codes/epoch=N + vecs/epoch=N per "
    "arrival epoch, codebooks trained once on epoch 0), folds a copy of "
    "every epoch fragment with compact_ann_index "
    "(operators/ann.py), then searches a "
    "frozen panel against the fragmented and the folded index as "
    "parallel subplans of ONE action, emitting the invariant as gates: "
    "result triples (query, neighbour, rank) and quantized re-rank "
    "cosines identical, row sets preserved, fragments folded to one "
    "partition.  Scale shape: compaction cost is one distinct() scan per "
    "table over codes (m ints/vector) and vecs, independent of query "
    "load; search cost is the broadcast-ADC codes scan + rerank-bounded "
    "join per side.  Crash-safety of the fold itself is pytest-pinned "
    "(kill between table folds, staged-swap resume).",
)
def c10_index_compaction_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.ann import (
        compact_ann_index,
        pq_encode,
        pq_index,
        pq_topk,
    )

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _CMP_STRIDE == 0)
        .select(
            "vec_id",
            # Quantize every coordinate to a multiple of 2^-10: products
            # are then exact multiples of 2^-20 far below the 2^53 integer
            # bound, so EVERY aggregated sum in the search (the ADC
            # per-pair sums of m partial dots and codebook norms, whose
            # accumulation order changes when the fold rewrites the row
            # layout) is exact and ORDER-INDEPENDENT — which is what makes
            # "search results identical" a true invariant instead of an
            # ulp-level coin flip at the rerank cutoff (r13 review).  The
            # iters=0 codebooks are exact seed subvectors, so they stay
            # quantized too.
            F.transform(
                "embedding", lambda x: F.round(x * 1024) / F.lit(1024.0)
            ).alias("embedding"),
            (F.col("vec_id") % _CMP_EPOCHS).alias("e"),
        )
        .localCheckpoint(eager=True)  # read by train + the 2 table writes
    )
    # ONE geometry probe for the whole row (VERDICT r14 #2): every dim the
    # trainer, encoder and both searches need comes from this head, and
    # the trusted-geometry params turn their 5 per-call eager probe jobs
    # into in-plan guards
    probe = (
        emb.filter(F.col("embedding").isNotNull())
        .select(F.size("embedding").alias("d"))
        .head()
    )
    dim = probe["d"] if probe else 0
    # codebook QUALITY is irrelevant to the fold invariant (the same index
    # is searched on both sides), so train at iters=0 — pq_index's
    # deterministic seed codebooks, no k-means collect rounds.  (An r14
    # variant hoisting codebooks+panel to driver-side literals measured
    # SLOWER — the two collect jobs cost more than the probe subplans they
    # removed: 4.05 s → 6.31 s interleaved medians — and was dropped.)
    # one_job=False + trusted dim: at iters=0 the distributed path is a
    # fully LAZY seed subplan (TakeOrdered ksub rows + tiny window) — the
    # one-job collect would be this row's only training action, paid for
    # codebooks that are pure seeds anyway
    codebooks = pq_index(
        emb.filter(F.col("e") == 0).coalesce(1),
        m=_CMP_M,
        ksub=_CMP_KSUB,
        iters=0,
        one_job=False,
        dim=dim,
    )[1]
    panel = emb.filter(F.col("vec_id") < _CMP_PANEL).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    index_dir = tempfile.mkdtemp(prefix="ann_compact_parity_")
    try:
        # the epoch-partitioned layout — one codes + one vecs fragment
        # per arrival epoch, encoded against the frozen epoch-0 codebooks.
        # ONE tagged partitionBy write lays down BOTH tables' epoch=N
        # fragment dirs in a single job (VERDICT r14 #2: the two per-table
        # writes each paid a scheduling floor for identical on-disk
        # layout); the tbl= partition dirs are renamed to the layout
        # compact_ann_index expects — a driver-side metadata move.  The
        # union pads each side's missing columns with NULLs; every reader
        # below projects its own columns, so the padding is pruned at scan.
        codes_rows = pq_encode(
            emb, codebooks, geometry=(_CMP_M, dim // _CMP_M)
        ).withColumn("epoch", (F.col("vec_id") % _CMP_EPOCHS).cast("int"))
        vecs_rows = emb.select(
            "vec_id", "embedding", F.col("e").cast("int").alias("epoch")
        )
        codes_rows.withColumn("tbl", F.lit("codes")).unionByName(
            vecs_rows.withColumn("tbl", F.lit("vecs")),
            allowMissingColumns=True,
        ).write.mode("overwrite").partitionBy("tbl", "epoch").parquet(index_dir)
        for tbl in ("codes", "vecs"):
            os.rename(
                os.path.join(index_dir, f"tbl={tbl}"),
                os.path.join(index_dir, tbl),
            )
        # compact a driver-side COPY of the index (the fragments are KB-MB
        # scale — the maintenance op's input is small by construction) so
        # the fragmented and folded indexes coexist and BOTH searches run
        # as parallel subplans of the single gate action below, instead of
        # a materialize-search / compact / search sequence
        compact_dir = index_dir + "_folded"
        shutil.copytree(index_dir, compact_dir)
        # count_rows=False: the row-count gates below measure the folded
        # tables themselves, so the op's own count read-back is redundant
        compact_ann_index(
            spark, compact_dir, upto_epoch=_CMP_EPOCHS, count_rows=False
        )

        def search(root: str) -> DataFrame:
            codes = spark.read.parquet(os.path.join(root, "codes")).select(
                "vec_id", "sub", "code"
            )
            vecs = spark.read.parquet(os.path.join(root, "vecs")).select(
                "vec_id", "embedding"
            )
            res = pq_topk(
                panel, vecs, k=_CMP_K, m=_CMP_M, ksub=_CMP_KSUB, rerank=20,
                index=(codes, codebooks), dim=dim,
            )
            # quantize the exact-re-rank cosine (a per-row left-fold over
            # the full-precision vectors — already partition-order-free)
            # so the identity gate compares values, not just ranks
            return res.select(
                "query_id",
                "vec_id",
                "rank",
                F.round("cosine", 15).cast("decimal(28,15)").alias("cos_q"),
            )

        # multiset symmetric difference |before ⊖ after| as ONE tagged
        # union + groupBy (Σ|count_b − count_a| per result tuple) — the
        # same invariant the old before.exceptAll(after) ∪ after.exceptAll
        # (before) computed through four aggregate branches over the two
        # search subplans (r14 harness trim: one shuffle, each search
        # subplan evaluated once)
        tagged = (
            search(index_dir)
            .withColumn("side", F.lit(1))
            .unionByName(search(compact_dir).withColumn("side", F.lit(-1)))
        )
        diff = (
            tagged.groupBy("query_id", "vec_id", "rank", "cos_q")
            .agg(F.sum("side").alias("delta"))
            # coalesce to 0: if BOTH searches return zero rows there are
            # zero diffs — the sum over no rows is NULL, which would read
            # as a gate FAIL where exceptAll correctly read 0 (ADVICE r14;
            # unreachable at fixture scale, kept for the invariant)
            .agg(
                F.coalesce(F.sum(F.abs(F.col("delta"))), F.lit(0)).alias("n_diff")
            )
        )
        codes_after = spark.read.parquet(os.path.join(compact_dir, "codes"))
        vecs_after = spark.read.parquet(os.path.join(compact_dir, "vecs"))
        gates = (
            diff
            .select(
                F.lit("search_results_identical").alias("gate"),
                F.when(F.col("n_diff") == 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("observed"),
            )
            .unionByName(
                codes_after.agg(F.count("*").cast("long").alias("observed")).select(
                    F.lit("codes_rows_after_fold").alias("gate"), "observed"
                )
            )
            .unionByName(
                vecs_after.agg(F.count("*").cast("long").alias("observed")).select(
                    F.lit("vecs_rows_after_fold").alias("gate"), "observed"
                )
            )
            .unionByName(
                codes_after.agg(
                    F.count_distinct(F.col("epoch")).cast("long").alias("observed")
                ).select(F.lit("codes_epochs_after_fold").alias("gate"), "observed")
            )
        )
        # materialize before the temp indexes are deleted below
        return gates.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
        shutil.rmtree(index_dir + "_folded", ignore_errors=True)

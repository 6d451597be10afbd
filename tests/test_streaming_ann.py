"""ANN index compaction (`compact_ann_index`): the epoch-partitioned
codes + vecs fragments of a PQ index fold table by table through the
staged-swap fold, and a kill between or inside the folds heals on re-run.
Each test builds its index by hand with ``pq_encode``."""

from __future__ import annotations

import os

import pytest as _pytest_mark_mod

pytestmark = _pytest_mark_mod.mark.slow

DIM = 8
SCHEMA = "vec_id long, embedding array<double>"


def _vec(seed: int) -> list[float]:
    # deterministic, well-separated vectors (distinct dominant axes)
    return [1.0 if d == seed % DIM else 0.1 * ((seed * 7 + d) % 5) for d in range(DIM)]


def test_compact_ann_index_kill_between_table_folds(spark, tmp_path):
    """VERDICT r12 #6: compact_ann_index folds codes THEN vecs.  A kill
    between the two folds must leave a searchable index serving identical
    results (each table's epoch<N row SET is preserved whether pre- or
    post-fold), and re-running the op must complete idempotently."""
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.operators.ann import (
        compact_ann_index,
        pq_encode,
        pq_index,
        pq_topk,
    )
    from logspout_kinesis_tests_spark.operators.dedup import compact_epoch_index

    index = str(tmp_path / "idx")
    emb = spark.createDataFrame(
        [(i, _vec(i)) for i in range(24)], SCHEMA
    ).localCheckpoint(eager=True)
    codebooks = pq_index(
        emb.filter(F.col("vec_id") % 3 == 0), m=4, ksub=4, iters=1
    )[1].localCheckpoint(eager=True)
    pq_encode(emb, codebooks).withColumn(
        "epoch", (F.col("vec_id") % 3).cast("int")
    ).write.partitionBy("epoch").parquet(os.path.join(index, "codes"))
    emb.withColumn("epoch", (F.col("vec_id") % 3).cast("int")).write.partitionBy(
        "epoch"
    ).parquet(os.path.join(index, "vecs"))
    panel = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    ).localCheckpoint(eager=True)

    def search() -> list[tuple]:
        codes = spark.read.parquet(os.path.join(index, "codes")).select(
            "vec_id", "sub", "code"
        )
        vecs = spark.read.parquet(os.path.join(index, "vecs")).select(
            "vec_id", "embedding"
        )
        res = pq_topk(
            panel, vecs, k=3, m=4, ksub=4, rerank=10, index=(codes, codebooks)
        )
        return sorted(
            (r["query_id"], r["vec_id"], r["rank"], round(r["cosine"], 12))
            for r in res.collect()
        )

    baseline = search()
    assert len(baseline) == 4 * 3

    # kill simulation: the op folds codes first — run ONLY that table's
    # fold, as if the process died before reaching vecs
    compact_epoch_index(spark, os.path.join(index, "codes"), upto_epoch=3)
    assert sorted(
        n
        for n in os.listdir(os.path.join(index, "codes"))
        if n.startswith("epoch=")
    ) == ["epoch=2"]
    assert search() == baseline, "half-compacted index diverged"

    # re-run completes the remaining fold idempotently (codes already
    # folded: its re-fold is a no-op on the same row set)
    out = compact_ann_index(spark, index, upto_epoch=3)
    assert out == {"codes": 24 * 4, "vecs": 24}
    assert sorted(
        n
        for n in os.listdir(os.path.join(index, "codes"))
        if n.startswith("epoch=")
    ) == ["epoch=2"]
    assert sorted(
        n for n in os.listdir(os.path.join(index, "vecs")) if n.startswith("epoch=")
    ) == ["epoch=2"]
    assert search() == baseline, "compacted index diverged"


def test_compact_ann_index_resumes_mid_swap_kill(spark, tmp_path):
    """A kill MID-SWAP inside one table's fold (staged dir complete, source
    partitions already deleted) must be finished by the next
    compact_ann_index call — the staged rows are the only copy."""
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.operators.ann import (
        compact_ann_index,
        pq_encode,
        pq_index,
    )

    index = str(tmp_path / "idx")
    emb = spark.createDataFrame([(i, _vec(i)) for i in range(12)], SCHEMA)
    codebooks = pq_index(emb, m=4, ksub=4, iters=1)[1]
    codes = pq_encode(emb, codebooks).withColumn(
        "epoch", (F.col("vec_id") % 3).cast("int")
    )
    codes.write.partitionBy("epoch").parquet(os.path.join(index, "codes"))
    emb.withColumn("epoch", (F.col("vec_id") % 3).cast("int")).write.partitionBy(
        "epoch"
    ).parquet(os.path.join(index, "vecs"))

    # emulate the vecs fold dying mid-swap: staging dir complete
    # (_SUCCESS), folded source partitions already deleted
    import shutil

    vroot = os.path.join(index, "vecs")
    emb.write.parquet(os.path.join(vroot, "_compact_tmp_2"))
    for n in os.listdir(vroot):
        if n.startswith("epoch="):
            shutil.rmtree(os.path.join(vroot, n))

    out = compact_ann_index(spark, index, upto_epoch=3)
    assert out == {"codes": 12 * 4, "vecs": 12}
    got = {r["vec_id"] for r in spark.read.parquet(vroot).collect()}
    assert got == set(range(12)), "mid-swap staged rows lost"
    assert sorted(
        n for n in os.listdir(vroot) if n.startswith("epoch=")
    ) == ["epoch=2"]


def test_compact_ann_index_skips_incomplete_tmp_only_dir(spark, tmp_path):
    """ADVICE r13: a table dir whose ONLY entry is an incomplete
    _compact_tmp_* (crashed before any epoch partition ever landed) must be
    skipped, not folded — the old gate admitted it, compact_epoch_index
    discarded the tmp as crashed-mid-write, and the read of the now-empty
    dir raised AnalysisException.  The healthy sibling table still folds."""
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.operators.ann import (
        compact_ann_index,
        pq_encode,
        pq_index,
    )

    index = str(tmp_path / "idx")
    emb = spark.createDataFrame([(i, _vec(i)) for i in range(12)], SCHEMA)
    codebooks = pq_index(emb, m=4, ksub=4, iters=1)[1]
    pq_encode(emb, codebooks).withColumn(
        "epoch", (F.col("vec_id") % 3).cast("int")
    ).write.partitionBy("epoch").parquet(os.path.join(index, "codes"))
    # vecs: only an incomplete staging dir — a parquet part but no _SUCCESS
    vroot = os.path.join(index, "vecs")
    tmp = os.path.join(vroot, "_compact_tmp_1")
    os.makedirs(tmp)
    with open(os.path.join(tmp, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 partial write, crashed before commit")

    out = compact_ann_index(spark, index, upto_epoch=3)
    assert out == {"codes": 12 * 4}, "vecs must be skipped, codes folded"
    # the incomplete tmp is left untouched (Spark-invisible; a later fold
    # that finds real partitions beside it cleans it up)
    assert os.listdir(vroot) == ["_compact_tmp_1"]

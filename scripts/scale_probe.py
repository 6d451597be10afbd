"""sf1-scale probe for the pair-space trio (VERDICT r2 #7).

Builds a 10×-bench corpus (sf0.1 documents × REPLICAS near-dup copies,
deterministically perturbed, written as a 32-file parquet under /tmp) and
times the three operators whose cost is driven by the candidate-PAIR space,
at their default levers and with the levers loosened — so SCALE.md can
record where each lever stops holding, not just that it holds.

Worst-case by construction: EVERY document has REPLICAS-1 planted
near-copies, so the pair space is the densest these operators would ever
see in a real crawl (real corpora are ~30-50% dup, not 90%).

Usage: python scripts/scale_probe.py [replicas]   (default 10 → 50k docs)
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from logspout_kinesis_tests_spark.operators.dedup import (  # noqa: E402
    ngram_jaccard_pairs,
    simhash_near_duplicates,
    substring_dedup,
)
from logspout_kinesis_tests_spark.session import get_spark  # noqa: E402
from logspout_kinesis_tests_spark.sources.tables import load_table  # noqa: E402

CORPUS_DIR = "/tmp/scale_probe_docs"


def build_corpus(spark, replicas: int) -> str:
    docs = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    n = docs.count()
    rep = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
        "doc_id",
        "text",
    ).select(
        (F.col("doc_id") + F.col("r") * 10_000_000).alias("doc_id"),
        # replica r>0: prepend a replica-specific token and drop the last
        # word — a near-dup (high Jaccard / low Hamming), not an exact copy
        F.when(F.col("r") == 0, F.col("text"))
        .otherwise(
            F.concat(
                F.lit("replica"),
                F.col("r").cast("string"),
                F.lit(" "),
                F.array_join(
                    F.slice(
                        F.split(F.col("text"), " "),
                        1,
                        F.greatest(F.size(F.split(F.col("text"), " ")) - 1, F.lit(1)),
                    ),
                    " ",
                ),
            )
        )
        .alias("text"),
    )
    rep.repartition(32).write.mode("overwrite").parquet(CORPUS_DIR)
    print(f"corpus: {n} docs x {replicas} replicas -> {CORPUS_DIR}", file=sys.stderr)
    return CORPUS_DIR


def timed(label: str, df) -> dict:
    # noop sink, not count(): count() lets Catalyst prune every projection
    # (the excision lambdas, the rebuilt text) and fakes a 100× speedup
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    rows = df.count()
    return {"probe": label, "wall_s": round(wall, 2), "out_rows": rows}


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2] if len(sys.argv) > 2 else None  # "ann" → ANN probes only
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    results = []
    if only == "ann":
        _ann_probes(spark, replicas, results)
        for r in results:
            print(json.dumps(r))
        return
    if only == "breadth":
        _breadth_probes(spark, replicas, results)
        for r in results:
            print(json.dumps(r))
        return
    if only == "graph":
        _graph_probes(spark, replicas, results)
        for r in results:
            print(json.dumps(r))
        return
    build_corpus(spark, replicas)
    corpus = spark.read.parquet(CORPUS_DIR)
    # n-gram Jaccard: df-cut lever on / loosened
    results.append(
        timed(
            "ngram_jaccard df<=100",
            ngram_jaccard_pairs(corpus, max_shingle_df=100, threshold=0.5),
        )
    )
    results.append(
        timed(
            "ngram_jaccard df<=1000",
            ngram_jaccard_pairs(corpus, max_shingle_df=1000, threshold=0.5),
        )
    )
    # SimHash: default 8 bands, then 16 (wider buckets -> more candidates)
    results.append(
        timed("simhash bands=8 h<=6", simhash_near_duplicates(corpus, max_hamming=6))
    )
    results.append(
        timed(
            "simhash bands=16 h<=6",
            simhash_near_duplicates(corpus, max_hamming=6, bands=16),
        )
    )
    # exact-substring: default 16-word grams, then 8 (denser dup-gram set)
    results.append(timed("substring min_words=16", substring_dedup(corpus)))
    results.append(timed("substring min_words=8", substring_dedup(corpus, min_words=8)))

    # round-3 pair-space ops at the same 10× scale
    from pyspark.sql import functions as F

    from logspout_kinesis_tests_spark.operators.dedup import (
        cross_corpus_jaccard_pairs,
        ngram_containment,
    )

    bench = (
        spark.read.parquet(CORPUS_DIR)
        .filter(F.col("doc_id") % 997 == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.concat_ws(
                " ", F.slice(F.split(F.lower("text"), " "), 5, 16)
            ).alias("text"),
        )
    )
    results.append(
        timed("containment vs 50-doc bench", ngram_containment(corpus, bench, threshold=0.8))
    )
    old_c = corpus.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("old_id"), "text"
    )
    new_c = corpus.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text")
    results.append(
        timed(
            "cross-corpus neardup 25k x 25k (df<=100)",
            cross_corpus_jaccard_pairs(new_c, old_c, threshold=0.5, max_shingle_df=100),
        )
    )

    _ann_probes(spark, replicas, results)

    for r in results:
        print(json.dumps(r))


def _ann_probes(spark, replicas: int, results: list) -> None:
    # ANN at replicas×: exact brute force vs the three approximate paths,
    # same 10 queries.  The interesting number is the exact/approx wall
    # ratio trend: brute force grows ∝ corpus × queries, PQ's ADC scan
    # touches 4-byte codes, IVF touches nprobe/nlist of the corpus —
    # index-build cost amortizes over corpus size and query volume.
    from logspout_kinesis_tests_spark.operators.ann import ivf_topk, pq_topk
    from logspout_kinesis_tests_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
    )

    emb = load_table(spark, "/root/testdata/sf0.1", "embeddings")
    emb10 = (
        emb.select(
            F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"),
            "vec_id",
            "embedding",
        )
        .select(
            (F.col("vec_id") + F.col("r") * 10_000_000).alias("vec_id"),
            # perturb one coordinate per replica so copies aren't identical
            F.transform(
                F.col("embedding"),
                lambda x, i: x + F.when(i == F.col("r") % 64, 0.01).otherwise(0.0),
            ).alias("embedding"),
        )
        .repartition(32)
    )
    emb10.write.mode("overwrite").parquet("/tmp/scale_probe_emb")
    corpus_e = spark.read.parquet("/tmp/scale_probe_emb")
    queries_e = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    results.append(
        timed(f"ann exact cosine 10q x {replicas * 5}k",
              cosine_topk(queries_e, corpus_e, k=5))
    )
    results.append(
        timed(f"ann pq m=4 ksub=16 rerank=100 x {replicas * 5}k",
              pq_topk(queries_e, corpus_e, k=5))
    )
    results.append(
        timed(f"ann ivf nlist=64 nprobe=8 x {replicas * 5}k",
              ivf_topk(queries_e, corpus_e, k=5, nlist=64, nprobe=8))
    )
    results.append(
        timed(f"ann lsh 8-plane multiprobe x {replicas * 5}k",
              cosine_topk_lsh(queries_e, corpus_e, k=5))
    )
    # search-only, index amortized: build each index ONCE and persist it
    # (the production shape — the one-shot numbers above pay the full
    # k-means per call), then time only ADC-scan/probe + re-rank.
    from logspout_kinesis_tests_spark.operators.ann import ivf_index, pq_index

    codes, codebooks = pq_index(corpus_e)
    codes.write.mode("overwrite").parquet("/tmp/scale_probe_pq_codes")
    codes_p = spark.read.parquet("/tmp/scale_probe_pq_codes")
    codebooks_p = codebooks.localCheckpoint(eager=True)
    results.append(
        timed(f"ann pq SEARCH-ONLY x {replicas * 5}k",
              pq_topk(queries_e, corpus_e, k=5, rerank=100,
                      index=(codes_p, codebooks_p)))
    )
    assignment, centroids = ivf_index(corpus_e, nlist=64)
    assignment.write.mode("overwrite").parquet("/tmp/scale_probe_ivf_assign")
    assign_p = spark.read.parquet("/tmp/scale_probe_ivf_assign")
    centroids_p = centroids.localCheckpoint(eager=True)
    results.append(
        timed(f"ann ivf SEARCH-ONLY nprobe=8 x {replicas * 5}k",
              ivf_topk(queries_e, corpus_e, k=5, nlist=64, nprobe=8,
                       index=(assign_p, centroids_p)))
    )


def _graph_probes(spark, replicas: int, results: list) -> None:
    """Round-4c iterative/stateful ops at replicas× bench scale, along BOTH
    scaling axes.  PageRank: per-round cost is |edges| shuffle bytes —
    replicate the bipartite graph with disjoint node ids (nodes AND edges
    ×replicas) and expect near-linear wall growth.  Holt: ×replicas series
    COUNT (the parallel axis — near-flat wall expected on idle cores) vs
    ×replicas series LENGTH (the sequential axis — per-task time grows,
    but tasks stay independent)."""
    from logspout_kinesis_tests_spark.operators.graph import pagerank

    orders = load_table(spark, "/root/testdata/sf0.1", "orders")
    li = load_table(spark, "/root/testdata/sf0.1", "lineitem")
    trade = (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"])
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    for r in (1, replicas):
        big = trade.select(
            F.explode(F.sequence(F.lit(0), F.lit(r - 1))).alias("rep"),
            "o_custkey",
            "l_suppkey",
        )
        # long node ids, as the registered query uses (customer = 2k,
        # supplier = 2k+1, replica-offset): the round shuffles carry longs
        c = (F.col("o_custkey") + F.col("rep") * 10_000_000) * 2
        s = (F.col("l_suppkey") + F.col("rep") * 10_000_000) * 2 + 1
        edges = big.select(c.alias("src"), s.alias("dst")).unionAll(
            big.select(s.alias("src"), c.alias("dst"))
        )
        # the iteration work happens in the eager localCheckpoints DURING
        # pagerank() — time the whole build, not just the final projection
        t0 = time.perf_counter()
        out = pagerank(edges)
        out.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        results.append(
            {
                "probe": f"pagerank x{r} nodes+edges",
                "wall_s": round(wall, 2),
                "out_rows": out.count(),
            }
        )

    ev = load_table(spark, "/root/testdata/sf0.1", "events").select(
        "event_id", "user_id", "ts", F.col("value").cast("double").alias("y")
    )

    # same recurrence as plans/enrichment_queries.c16_holt_smoothing, inlined
    # so the probe can feed it the replicated frames
    def run_holt(df, label):
        import pandas as pd

        def smooth(pdf):
            pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
            ys = pdf["y"].tolist()
            levels, trends = [], []
            level = trend = 0.0
            for i, y in enumerate(ys):
                if i == 0:
                    level, trend = y, 0.0
                else:
                    nl = 0.5 * y + 0.5 * (level + trend)
                    trend = 0.25 * (nl - level) + 0.75 * trend
                    level = nl
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

        out = df.groupBy("user_id").applyInPandas(
            smooth, schema="event_id long, user_id long, level double, trend double"
        )
        results.append(timed(label, out))

    # untimed warmup: fork the Python workers / init Arrow once, as bench does
    run_holt(ev, "holt warmup (discard)")
    results.pop()
    run_holt(ev, "holt x1 baseline")
    more_series = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep"),
        "event_id",
        "user_id",
        "ts",
        "y",
    ).select(
        (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
        (F.col("user_id") + F.col("rep") * 10_000_000).alias("user_id"),
        "ts",
        "y",
    )
    run_holt(more_series, f"holt x{replicas} series COUNT")
    longer_series = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep"),
        "event_id",
        "user_id",
        "ts",
        "y",
    ).select(
        (F.col("event_id") + F.col("rep") * 100_000_000).alias("event_id"),
        "user_id",
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.col("rep") * 4_000_000_000_000
        ).alias("ts"),
        "y",
    )
    run_holt(longer_series, f"holt x{replicas} series LENGTH")


def _breadth_probes(spark, replicas: int, results: list) -> None:
    """Round-4 breadth ops at replicas× bench scale: does the plan shape
    hold when the input grows?  Novelty's cost driver is the inverted-index
    shuffle (rows ∝ total distinct shingles); the profile's is the Expand
    multiplying scan rows by the per-column distinct-count branches."""
    build_corpus(spark, replicas)
    corpus = spark.read.parquet(CORPUS_DIR)

    from logspout_kinesis_tests_spark.operators.dedup import exploded_shingles

    sh = exploded_shingles(corpus, n=8)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    novelty = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"), novel.alias("n_novel"))
    )
    results.append(timed(f"ngram_novelty x {replicas * 5}k docs", novelty))

    # column profile at replicas× orders rows (union of shifted copies)
    orders = load_table(spark, "/root/testdata/sf0.1", "orders")
    big = orders.select(
        F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("r"), "*"
    ).select(
        (F.col("o_orderkey") + F.col("r") * 100_000_000).alias("o_orderkey"),
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    cols = (
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"nn_{c}"),
            F.countDistinct(F.col(c)).alias(f"nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    results.append(
        timed(
            f"column_profile exact ONE-AGG anti-pattern x {replicas * 150}k rows",
            big.agg(*aggs),
        )
    )
    # the registered shape: distinct-only agg + cheap basic agg, cross-joined
    nd = big.agg(*[F.countDistinct(F.col(c)).alias(f"nd_{c}") for c in cols])
    basic = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        basic += [
            F.count(F.col(c)).alias(f"nn_{c}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    results.append(
        timed(
            f"column_profile exact SPLIT (registered) x {replicas * 150}k rows",
            big.agg(*basic).crossJoin(F.broadcast(nd)),
        )
    )
    # the Expand-free alternative: HLL approx distinct, one pass, no Expand
    aggs_approx = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs_approx += [
            F.count(F.col(c)).alias(f"nn_{c}"),
            F.approx_count_distinct(F.col(c)).alias(f"nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"mx_{c}"),
        ]
    results.append(
        timed(
            f"column_profile approx(HLL) x {replicas * 150}k rows",
            big.agg(*aggs_approx),
        )
    )


if __name__ == "__main__":
    main()

"""10×-scale probe for the two newest execution shapes (VERDICT r4 #8):
perceptual-hash near-dup (`c12_phash_neardup`) and two-pass bucketed exact
quantiles (`c2_percentiles_twopass`).

Builds a 10× corpus under /tmp (documents replicated with deterministic
single-word perturbations — worst-case pair density for the banding join,
exactly like scale_probe.py's text corpus; events replicated with jittered
values/ids — 10× rows per (type, bucket) histogram cell) and times the
REGISTERED queries against it, so the probe measures the exact plan the
driver grades.

Usage: python scripts/scale_probe_r5.py [replicas]   (default 10)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from logspout_kinesis_tests_spark.plans import REGISTRY  # noqa: E402
from logspout_kinesis_tests_spark.session import get_spark  # noqa: E402
from logspout_kinesis_tests_spark.sources.tables import load_table  # noqa: E402

BASE = "/root/testdata/sf0.1"
PROBE_DIR = "/tmp/scale_probe_r5"


def build(spark, replicas: int) -> None:
    docs = load_table(spark, BASE, "documents")
    rep = docs.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(replicas - 1).cast("long"))).alias("r"),
        *docs.columns,
    )
    w = F.split(F.lower("text"), " ")
    # replica r>0: append a replica token — a near-dup under the word-length
    # pixel grid (one trailing pixel changes → ≤2 hash bits flip)
    perturbed = rep.select(
        (F.col("doc_id") + F.col("r") * F.lit(10_000_000)).alias("doc_id"),
        F.when(F.col("r") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" rep"), F.col("r").cast("string")))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    perturbed.repartition(32).write.mode("overwrite").parquet(
        f"{PROBE_DIR}/documents.parquet"
    )

    ev = load_table(spark, BASE, "events")
    rep_e = ev.select(
        # LONG replica index: r * 1e8 overflows int32 past r=21, which the
        # ANSI mode turns into a corpus-build crash at 30x replicas
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(replicas - 1).cast("long"))).alias("r"),
        *ev.columns,
    ).select(
        (F.col("event_id") + F.col("r") * F.lit(100_000_000)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("r") * F.lit(1_000_000)).alias("user_id"),
        "event_type",
        # deterministic 2-decimal jitter keeps the value distribution wide
        F.round(F.col("value") + (F.col("r") % 10).cast("double") / 100, 2).alias(
            "value"
        ),
        "props",
    )
    rep_e.repartition(32).write.mode("overwrite").parquet(
        f"{PROBE_DIR}/events.parquet"
    )

    # orders/lineitem for the graph probes: orderkeys, custkeys AND
    # partkeys all offset per replica — ten disjoint copies of the graph,
    # the realistic 10× growth axis (edges, candidate pairs and triangles
    # all scale ~10×; an unsalted part space would instead blow every
    # part's customer list past the link-prediction df-cut)
    orders = load_table(spark, BASE, "orders")
    rep_o = orders.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(replicas - 1).cast("long"))).alias("r"),
        *orders.columns,
    ).select(
        (F.col("o_orderkey") + F.col("r") * F.lit(100_000_000)).alias(
            "o_orderkey"
        ),
        (F.col("o_custkey") + F.col("r") * F.lit(10_000_000)).alias(
            "o_custkey"
        ),
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    rep_o.repartition(32).write.mode("overwrite").parquet(
        f"{PROBE_DIR}/orders.parquet"
    )
    li = load_table(spark, BASE, "lineitem")
    rep_l = li.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(replicas - 1).cast("long"))).alias("r"),
        *li.columns,
    ).select(
        (F.col("l_orderkey") + F.col("r") * F.lit(100_000_000)).alias(
            "l_orderkey"
        ),
        (F.col("l_partkey") + F.col("r") * F.lit(10_000_000)).alias(
            "l_partkey"
        ),
        *[c for c in li.columns if c not in ("l_orderkey", "l_partkey")],
    )
    rep_l.repartition(32).write.mode("overwrite").parquet(
        f"{PROBE_DIR}/lineitem.parquet"
    )

    # embeddings for the ANN probes: ids offset per replica, one component
    # deterministically jittered so replicas are near- but not exact-copies
    emb = load_table(spark, BASE, "embeddings")
    rep_v = emb.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.lit(replicas - 1).cast("long"))).alias("r"),
        *emb.columns,
    ).select(
        (F.col("vec_id") + F.col("r") * F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x, i: x
            + F.when(i == 0, (F.col("r") % 10).cast("double") / 1000).otherwise(
                F.lit(0.0)
            ),
        ).alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    rep_v.repartition(32).write.mode("overwrite").parquet(
        f"{PROBE_DIR}/embeddings.parquet"
    )


def timed(spark, name: str, sf_dir: str, repeats: int = 3) -> float:
    build_q = REGISTRY[name].build
    build_q(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
    runs = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        build_q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    return round(statistics.median(runs), 2)


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="scale-probe-r5")
    build(spark, replicas)
    probes = (
        sys.argv[2].split(",")
        if len(sys.argv) > 2
        else [
            "c12_phash_neardup",
            "c2_percentiles_twopass",
            "c2_bootstrap_ci",
            "c17_triangle_count",
            "c17_link_prediction",
        ]
    )
    out = {}
    for name in probes:
        out[f"{name}@1x"] = timed(spark, name, BASE)
        out[f"{name}@{replicas}x"] = timed(spark, name, PROBE_DIR)
    print(json.dumps(out))


if __name__ == "__main__":
    main()

"""Round-12 additions: cross-modal dedup composite + epoch-arrival ANN
recall monitor.

Registered LAST (plans/__init__) so the driver window's stale-green drain
(the r5/r6 cohort, VERDICT r11 #2) loses as few slots as possible — this
round's batch is deliberately small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.plans.registry import register
from logspout_kinesis_tests_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# C8+/C12+ — cross-modal keep-best dedup (VERDICT r11 #5): pHash image
# near-dup pairs and n-gram-Jaccard text near-dup pairs resolved into ONE
# cluster space, one quality-ranked survivor per cluster.
# --------------------------------------------------------------------------

#: planted-variant knobs shared by the Spark builder and the oracle: every
#: 7th doc gets a TEXT variant (suffix — text-similar, and 4 chars longer
#: so keep-best observably prefers it over the original) and an IMAGE
#: variant (one word perturbed — flips <= 2 dHash bits).
_XM_TEXT_OFFSET = 1_000_000
_XM_IMG_OFFSET = 7_000_000
_XM_JACCARD = 0.3


def _crossmodal_oracle() -> str:
    from logspout_kinesis_tests_spark.plans.multimodal_ext_queries import (
        PHASH_SQL_CTES,
    )

    return f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, lang, lower(text) AS text FROM documents),
    cmod AS MATERIALIZED (
        SELECT doc_id, lang, text FROM base
        UNION ALL
        SELECT doc_id + {_XM_TEXT_OFFSET}, lang, text || ' zz9'
        FROM base WHERE doc_id % 7 = 0
        UNION ALL
        SELECT doc_id + {_XM_IMG_OFFSET}, lang,
               array_to_string(CASE WHEN len(w) >= 10
                    THEN list_concat(list_concat(
                             list_slice(w, 1, 9), [w[10] || 'x']),
                             list_slice(w, 11, len(w)))
                    ELSE list_append(w, 'x') END, ' ')
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM base)
        WHERE doc_id % 7 = 0),
    corpus AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS w FROM cmod),
    {PHASH_SQL_CTES},
    sh AS MATERIALIZED (
        SELECT c.doc_id, c.lang,
               list_distinct(CASE WHEN len(w.w) >= 3
                    THEN list_transform(range(1, len(w.w) - 1),
                           i -> array_to_string(list_slice(w.w, i, i + 2), ' '))
                    ELSE [array_to_string(w.w, ' ')] END) AS shingles
        FROM cmod c JOIN corpus w USING (doc_id)),
    txtpairs AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / CAST(len(a.shingles) + len(b.shingles)
                        - len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              >= {_XM_JACCARD}),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM txtpairs
        UNION SELECT id_a, id_b FROM imgpairs
        UNION SELECT id_b, id_a FROM txtpairs
        UNION SELECT id_b, id_a FROM imgpairs),
    reach(id, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
    comp AS MATERIALIZED (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
    best AS MATERIALIZED (
        SELECT doc_id FROM (
            SELECT c.doc_id,
                   ROW_NUMBER() OVER (PARTITION BY comp.component
                                      ORDER BY length(c.text) DESC, c.doc_id) AS rn
            FROM cmod c JOIN comp ON c.doc_id = comp.id)
        WHERE rn = 1)
    SELECT doc_id, CAST(length(text) AS BIGINT) AS score FROM cmod
    WHERE doc_id IN (SELECT doc_id FROM best)
       OR doc_id NOT IN (SELECT id FROM comp)
    """


@register(
    "c8_crossmodal_keep_best",
    oracle=_crossmodal_oracle(),
    doc="C8+/C12+ composite (VERDICT r11 #5): cross-MODAL duplicate "
    "resolution — perceptual-hash image near-dup pairs (the "
    "c12_phash_neardup banded dHash pipeline, shared helpers) and exact "
    "n-gram-Jaccard text near-dup pairs (inverted-index, lang-blocked) "
    "are UNIONED into one edge set, resolved by one connected-components "
    "pass, and each cluster keeps its highest-quality member "
    "(longest text, ties -> lowest id; the c8_dedup_keep_best policy).  "
    "Planted per-source text and image variants bridge through the "
    "source doc into ONE 3-member cluster, so the cross-modal "
    "transitivity is observable: exactly one of the three survives.  "
    "Scale shape: both pair generators are banded/inverted-index joins "
    "(never all-pairs), the edge union is linear in pairs, CC is the "
    "shared min-label fixpoint, and the keep-best window partitions by "
    "cluster (tiny by construction) with singletons bypassing via "
    "anti-join.",
)
def c8_crossmodal_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.dedup import (
        dedup_keep_best,
        exploded_shingles,
    )
    from logspout_kinesis_tests_spark.plans.multimodal_ext_queries import (
        _PHASH_BANDS,
        _PHASH_HAMMING,
        phash_hashes,
    )
    from logspout_kinesis_tests_spark.sources.tables import spread_for_compute

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.lower("text").alias("text")
    )
    w = F.split("text", " ")
    variant_words = F.when(
        F.size(w) >= 10,
        F.concat(
            F.slice(w, 1, 9),
            F.array(F.concat(F.element_at(w, 10), F.lit("x"))),
            F.slice(w, 11, F.size(w) - 10),
        ),
    ).otherwise(F.concat(w, F.array(F.lit("x"))))
    seventh = docs.filter(F.col("doc_id") % 7 == 0)
    cmod = (
        docs.unionAll(
            seventh.select(
                (F.col("doc_id") + _XM_TEXT_OFFSET).alias("doc_id"),
                "lang",
                F.concat("text", F.lit(" zz9")).alias("text"),
            )
        ).unionAll(
            seventh.select(
                (F.col("doc_id") + _XM_IMG_OFFSET).alias("doc_id"),
                "lang",
                F.array_join(variant_words, " ").alias("text"),
            )
        )
        # four consumers (jaccard index build, phash_hashes, keep-best's
        # clustered join + singles anti-join) — materialize the corpus +
        # variant construction once instead of re-scanning per branch
        .localCheckpoint(eager=True)
    )
    # Fused pair generation (r16, VERDICT r15 #5 — the O3/recall-monitor
    # tag-union reshape): both candidate generators are self-equi-joins —
    # text on (lang, shingle-hash) over the inverted index, image on
    # (band, band_val) over the banded dHash table — so one side-tagged
    # union runs BOTH through a single self-join + a single per-pair
    # aggregation (guide §2.4: two operations keyed the same way share one
    # exchange) instead of two separate join+aggregate plans.  Keys stay
    # EXACT: the text rows keep the raw ``lang`` string and the same
    # xxhash64(shingle) the unfused ngram_jaccard_pairs joined on; the
    # image rows pack (band, band_val) into one collision-free long
    # (band_val is 16 bits) with lang='' — the tag + key equality is
    # row-for-row the same candidate set as the two unfused joins, and the
    # grouped count reproduces both the text n_inter and the image
    # DISTINCT (each image pair carries a unique (h_a, h_b)).
    inv = exploded_shingles(
        spread_for_compute(cmod.select("doc_id", "lang", "text")),
        "doc_id",
        "text",
        3,
        ("lang",),
    ).select("doc_id", "lang", F.xxhash64("shingle").alias("shingle"))
    # the inverted index feeds the per-doc sizes AND both self-join sides;
    # same materialize-once rationale as ngram_jaccard_pairs' default
    inv = inv.localCheckpoint(eager=True)
    sizes = inv.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hashed = phash_hashes(cmod.select("doc_id", w.alias("w")))
    bands = spark.range(_PHASH_BANDS).select(F.col("id").cast("int").alias("band"))
    banded = hashed.crossJoin(F.broadcast(bands)).select(
        "doc_id",
        "h",
        (
            F.col("band").cast("long") * 65536
            + F.expr("shiftright(h, band * 16) & 65535")
        ).alias("key"),
    )
    null_h = F.lit(None).cast("long")
    tagged = inv.select(
        F.lit(0).alias("side"),
        "lang",
        F.col("shingle").alias("key"),
        F.col("doc_id").alias("id"),
        null_h.alias("h"),
    ).unionAll(
        banded.select(
            F.lit(1).alias("side"),
            F.lit("").alias("lang"),
            "key",
            F.col("doc_id").alias("id"),
            "h",
        )
    )
    a, b = tagged.alias("a"), tagged.alias("b")
    grouped = (
        a.join(
            b,
            (F.col("a.side") == F.col("b.side"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.side").alias("side"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    # ONE consumer chain off ``grouped`` — per-side filters would give it
    # two downstream consumers and Catalyst (which shares no subplans
    # within an action) would duplicate the whole fused join per side,
    # undoing the fuse.  Instead the sizes left-join onto every grouped
    # row (image rows ignore the values) and one OR filter keeps exactly
    # the union of the old text_pairs and img_pairs row sets.
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n_shingles") + F.col("sb.n_shingles") - F.col("n_inter")
    ).cast("double")
    img_ok = (F.col("side") == 1) & (
        F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))) <= _PHASH_HAMMING
    )
    text_ok = (F.col("side") == 0) & (jac >= _XM_JACCARD)
    # no checkpoint here: connected_components (inside dedup_keep_best) is
    # the edge set's ONLY consumer and materializes its own symmetrized
    # copy — an extra barrier would just add a job
    pairs = (
        grouped.join(sa, F.col("id_a") == F.col("sa.doc_id"), "left")
        .join(sb, F.col("id_b") == F.col("sb.doc_id"), "left")
        .filter(img_ok | text_ok)
        .select("id_a", "id_b")
    )
    kept = dedup_keep_best(
        cmod.withColumn("score", F.length("text")), pairs, "score"
    )
    return kept.select("doc_id", F.col("score").cast("long").alias("score"))


# --------------------------------------------------------------------------
# C10+ — ANN recall monitor over an epoch-arriving corpus (VERDICT r11 #6).
# --------------------------------------------------------------------------

_ANN_MON_EPOCHS = 3
_ANN_MON_PANEL = 50
_ANN_MON_K = 5
#: minimum panel-agreement (of 50 queries x 5 exact neighbors = 250 pairs)
#: per epoch before the monitor emits a violation row.  Measured agreement
#: across sf0.001/0.01/0.1: 163-189 (nprobe=4 of nlist=16 on near-uniform
#: synthetic vectors ≈ 65-75% recall) — the gate sits ~25% below the
#: observed floor, so it trips only on a real probe/rank regression.
_ANN_MON_FLOOR = 120
#: minimum fraction of arrived panel queries the APPROX search must recover
#: as their own top-k self-match before a violation row is emitted.  The
#: approx side recovers all of them on this data, but a marginal panel
#: query whose L2-assigned cell drops out of its top-nprobe cosine-probed
#: cells is a data-dependent possibility, not a plumbing bug (ADVICE r12)
#: — so the hash-pinned row derives from the EXACT side and the approx
#: side is floor-gated instead of equality-pinned.
_ANN_MON_SELF_FLOOR = 0.8


def _ann_monitor_oracle() -> str:
    rows = [
        f"""SELECT CAST('epoch_{n}_self_matches' AS VARCHAR) AS gate,
               CAST(count(*) AS BIGINT) AS observed
        FROM embeddings WHERE vec_id < {_ANN_MON_PANEL} AND vec_id % {_ANN_MON_EPOCHS} <= {n}"""
        for n in range(_ANN_MON_EPOCHS)
    ]
    return " UNION ALL ".join(rows)


def _epoch_topk_marks(scored: DataFrame) -> DataFrame:
    """Per-epoch top-k membership flags from ONE scored (side, query_id,
    vec_id, cosine, e) frame: column ``in_{n}`` is true iff the pair is in
    the epoch-``n`` snapshot's top-k for its (side, query).

    Snapshot membership is monotone (``e <= n``), so a pair's rank within
    epoch ``n`` equals the count of epoch-``<= n`` rows at-or-above it in
    the (cosine DESC, vec_id) order — a cumulative conditional sum.  All
    epochs AND both search sides (exact scan / IVF probe, tagged ``side``)
    share ONE window spec, hence one exchange and one sort, instead of one
    ranked scan per (epoch, side) (VERDICT r12 #2: 6 scans → 2, then the
    two rankings fused into one).  Tie-breaks (cosine DESC, vec_id ASC;
    NULL cosines last) match cosine_topk/ivf_topk row_number ranking
    exactly."""
    w = (
        Window.partitionBy("side", "query_id")
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flags = [
        (
            (F.sum((F.col("e") <= n).cast("long")).over(w) <= _ANN_MON_K)
            & (F.col("e") <= n)
        ).alias(f"in_{n}")
        for n in range(_ANN_MON_EPOCHS)
    ]
    marked = scored.select("side", "query_id", "vec_id", *flags)
    keep = marked["in_0"]
    for n in range(1, _ANN_MON_EPOCHS):
        keep = keep | marked[f"in_{n}"]
    return marked.filter(keep)


@register(
    "c10_ann_recall_monitor",
    # Self-checking gate (the c10_ivf_recall_gate shape): the healthy
    # output is one COMPUTED row per epoch — how many frozen-panel queries
    # recovered THEMSELVES from the epoch snapshot's EXACT top-k — which
    # the oracle derives structurally from the same table (a panel query's
    # own vector is in the snapshot iff its epoch has arrived, and
    # cosine(q,q)=1 ranks first in an exact scan).  The approx side is
    # floor-gated, not equality-pinned: whether IVF's top-nprobe probed
    # cells contain the query's own L2-assigned cell is a data-dependent
    # recall property, not an invariant (ADVICE r12), so approx health
    # surfaces as low_agreement / low_self_recovery violation rows that go
    # red against the oracle when emitted.
    oracle=_ann_monitor_oracle(),
    doc="C10+/C7+ (VERDICT r11 #6): ANN recall monitor over an "
    "epoch-arriving corpus — the corpus arrives in 3 deterministic epochs "
    "(vec_id mod 3), IVF centroids train ONCE on epoch 0 (the "
    "train-once contract), and after each epoch the frozen 50-query "
    "panel's approximate (IVF) and exact top-5 are compared; per-epoch "
    "exact-side self-match counts are the oracle-pinned structural truth "
    "and agreement-/self-recovery-floor violations are the tripwire.  "
    "Scale shape (VERDICT r12 #2): snapshot membership is monotone in the "
    "epoch, so ONE epoch-tagged exact scan (broadcast panel × corpus) and "
    "ONE epoch-tagged probe join (over the shared corpus-wide ivf_assign) "
    "yield every epoch's top-k via cumulative per-epoch ranks over a "
    "single window sort each — 2 scans total instead of 3 epochs × 2, "
    "and one full-outer pair join feeds every gate from one action.",
)
def c10_ann_recall_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from logspout_kinesis_tests_spark.operators.ann import (
        ivf_assign,
        ivf_index,
        ivf_probe_scored,
    )
    from logspout_kinesis_tests_spark.operators.similarity import cosine_scored

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            "embedding",
            (F.col("vec_id") % _ANN_MON_EPOCHS).alias("e"),
        )
        .localCheckpoint(eager=True)  # read by both scans + train + assign
    )
    # no checkpoint: a trivial filter over the checkpointed corpus, cheaper
    # to re-derive per consumer than to schedule a materialization job
    panel = emb.filter(F.col("vec_id") < _ANN_MON_PANEL).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # no checkpoint: at this geometry ivf_index returns a driver-side
    # literal centroid table (train-once: frozen after epoch 0), so there
    # is no lineage to cut.  coalesce(1) keeps the k-means rounds'
    # shuffles single-task at panel/epoch scale (a fraction of one
    # executor's data even at 100 TB corpus: training reads one epoch);
    # monitor-side centroid numerics are floor-gated, not value-pinned,
    # so call-site partitioning is free to choose
    # one_job=True: the training sample is bounded by construction (one
    # epoch of the fixture corpus, coalesce(1) — the task already holds
    # every row), so the explicit flag keeps the pre-collect sizes-probe
    # job (the ADVICE r14 auto-path bound) off this hot row; the
    # NULL/raggedness gates still apply post-collect
    cents = ivf_index(
        emb.filter(F.col("e") == 0).coalesce(1), nlist=16, iters=2, one_job=True
    )[1]
    # ONE inverted-file assignment for the whole corpus: per-vector cell
    # membership is snapshot-independent (frozen centroids) — an
    # incremental index would append it epoch by epoch; it is read
    # here in one piece instead of re-assigned per epoch.  Its single
    # consumer is the probe join inside the one big action, so no
    # checkpoint either.
    assign = ivf_assign(emb, cents)

    # exact side: ONE broadcast-panel × corpus scan, each pair tagged with
    # the corpus row's arrival epoch — cosine_topk's own scan half
    # (cosine_scored), so the monitor's exact side can never drift from
    # the operator it mirrors
    exact_scored = cosine_scored(panel, emb, carry_cols=("e",)).select(
        F.lit("x").alias("side"), "query_id", "vec_id", "cosine", "e"
    )
    # approx side: ONE probe join over the shared assignment, epoch carried
    approx_scored = ivf_probe_scored(
        panel, emb, (assign, cents), nprobe=4, carry_cols=("e",)
    ).select(F.lit("a").alias("side"), "query_id", "vec_id", "cosine", "e")
    # one tagged union → one window sort ranks BOTH sides; marks are
    # <= panel × k × epochs × 2 rows, re-paired by a tiny groupBy instead
    # of a (shuffle-heavier) full-outer join; one aggregation row feeds
    # every gate below through a single action (the eager checkpoint),
    # which runs the exact scan and the probe join as parallel stages of
    # one job
    marks = _epoch_topk_marks(exact_scored.unionByName(approx_scored))
    pair_aggs = []
    for n in range(_ANN_MON_EPOCHS):
        pair_aggs += [
            F.coalesce(
                F.max(F.when(F.col("side") == "x", F.col(f"in_{n}"))),
                F.lit(False),
            ).alias(f"x{n}"),
            F.coalesce(
                F.max(F.when(F.col("side") == "a", F.col(f"in_{n}"))),
                F.lit(False),
            ).alias(f"a{n}"),
        ]
    pairs = marks.groupBy("query_id", "vec_id").agg(*pair_aggs)
    is_self = F.col("query_id") == F.col("vec_id")
    aggs = []
    for n in range(_ANN_MON_EPOCHS):
        xn = F.col(f"x{n}")
        an = F.col(f"a{n}")
        aggs += [
            F.sum((xn & is_self).cast("long")).alias(f"self_{n}"),
            F.sum((xn & an).cast("long")).alias(f"agree_{n}"),
            F.sum((an & is_self).cast("long")).alias(f"aself_{n}"),
        ]
    stats = pairs.agg(*aggs).localCheckpoint(eager=True)

    out: DataFrame | None = None
    for n in range(_ANN_MON_EPOCHS):
        self_row = stats.select(
            F.lit(f"epoch_{n}_self_matches").alias("gate"),
            F.col(f"self_{n}").cast("long").alias("observed"),
        )
        viol_row = stats.filter(F.col(f"agree_{n}") < _ANN_MON_FLOOR).select(
            F.lit(f"epoch_{n}_low_agreement").alias("gate"),
            F.col(f"agree_{n}").cast("long").alias("observed"),
        )
        self_viol = stats.filter(
            F.col(f"aself_{n}")
            < F.ceil(F.col(f"self_{n}") * _ANN_MON_SELF_FLOOR)
        ).select(
            F.lit(f"epoch_{n}_low_self_recovery").alias("gate"),
            F.col(f"aself_{n}").cast("long").alias("observed"),
        )
        rows = self_row.unionByName(viol_row).unionByName(self_viol)
        out = rows if out is None else out.unionByName(rows)
    return out

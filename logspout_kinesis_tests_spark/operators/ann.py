"""IVF (inverted-file) approximate nearest neighbor — the clustered scale
path for similarity search (SURVEY.md §2 C10, north-star "IVF or LSH").

Classic IVF: partition the corpus into ``nlist`` Voronoi cells around
centroids; a query probes only the ``nprobe`` nearest cells.  Here the
k-means runs as a short, fully deterministic DataFrame loop:

- seeds: the ``nlist`` lowest-id corpus vectors (no RNG);
- assign: broadcast centroids × corpus scan, ``min_by`` over cells;
- update: per-cell elementwise mean via posexplode → (cell, dim) average.

At 100 TB the corpus is scanned once per iteration (2-3 iterations suffice
for bucketing purposes — IVF needs balanced cells, not converged k-means),
and the search-time join touches only nprobe cells per query.  The
assignment table is the "index": persist it once, reuse across queries.
An index that grows by arrival epoch (``codes/epoch=N``, ``vecs/epoch=N``)
is folded by ``compact_ann_index``, one table at a time through
``operators.dedup.compact_epoch_index``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from logspout_kinesis_tests_spark.functions.vectors import cosine_similarity
from logspout_kinesis_tests_spark.operators.dedup import compact_epoch_index


def _nearest_cell(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, cell) for each vector: nearest centroid by cosine (max_by with a
    deterministic tie-break on cell id).  Zero-norm rows score NULL and so
    never win the argmax.  Groups by the id only — grouping on the
    embedding array would hash 64 floats per row for nothing."""
    from logspout_kinesis_tests_spark.functions.vectors import dot_product, l2_norm

    # row norm folded once, not once per centroid (nlist× the folds
    # otherwise); same operation shape as cosine_similarity → identical sims
    denom = F.col("_nv") * F.col("_ncent")
    sims = (
        df.select(
            F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_nv")
        )
        .crossJoin(
            F.broadcast(
                centroids.select(
                    "cell", "centroid", l2_norm(F.col("centroid")).alias("_ncent")
                )
            )
        )
        .select(
            F.col(id_col),
            F.col("cell"),
            F.when(denom == 0, F.lit(None))
            .otherwise(dot_product(F.col(vec_col), F.col("centroid")) / denom)
            .alias("sim"),
        )
    )
    return sims.groupBy(id_col).agg(
        F.max_by("cell", F.struct(F.col("sim"), -F.col("cell"))).alias("cell")
    )


def _lloyd_one_job(
    rows: list[tuple], nlist: int, iters: int
) -> list[tuple[int, list[float]]]:
    """All Lloyd rounds over an already-collected training sample, in ONE
    pass of driver-side Python (VERDICT r13 #2): a single-partition training
    frame pays one distributed agg round (≈0.9-1.2 s scheduling floor on
    local[32]) PER iteration for work that is KBs of arithmetic — fold the
    seed job + ``iters`` assign/update jobs into zero extra jobs.

    Equivalence contract with the distributed path (pinned by
    ``tests/test_ann_winnowing.py::test_ivf_one_job_training_equivalence``):
    the same Lloyd recurrence with the same deterministic decisions —

    - sims: sequential left folds matching ``dot_product``/``l2_norm``
      (``acc + x*y`` / ``sqrt(acc + x*x)`` over double-cast elements);
    - argmax: ``max_by(cell, struct(sim, -cell))`` = NULL sims smallest,
      ties to the lowest cell;
    - update: per-(cell, dim) sum / count, accumulated in the collected
      row order (= the single partition's iteration order);
    - empty cells drop out of the centroid table, exactly as the
      distributed ``groupBy("cell")`` drops groups with no rows.

    The one float caveat: the distributed ``F.avg`` merges per-shuffle-
    partition partial sums, so its summation ORDER differs — centroid
    coordinates can differ from this path's by ulps (measured ≤1e-15
    relative).  Assignments are argmax decisions whose margins on real
    data sit many orders of magnitude above ulp, so the equivalence test
    pins assignments EXACTLY equal and centroids allclose(rtol=1e-9);
    the DuckDB oracle gates (c10_ivf_md5_gate / recall gates) compare
    assignments and exact-side ranks, both invariant under this drift.
    """
    seeds = sorted(rows, key=lambda r: r[0])  # orderBy(corpus_id) seeds
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in seeds[i][1]]) for i in range(min(nlist, len(seeds)))
    ]

    def _sims_argmax(vec, norms) -> int:
        nv = 0.0
        for x in vec:
            nv += float(x) * float(x)
        nv = nv**0.5
        best = None
        for (cell, cent), ncent in zip(cents, norms):
            denom = nv * ncent
            if denom == 0:
                key = (0, 0.0, -cell)  # NULL sim: smallest in struct order
            else:
                dot = 0.0
                for x, y in zip(vec, cent):
                    dot += float(x) * y
                sim = dot / denom
                # Spark's double ordering ranks NaN ABOVE every finite
                # value (and NaN == NaN ties to the next struct field);
                # Python tuple compares would instead always reject NaN,
                # silently diverging from max_by (r14 review) — class 2
                # reproduces the Spark ordering exactly
                key = (2, 0.0, -cell) if sim != sim else (1, sim, -cell)
            if best is None or key > best[0]:
                best = (key, cell)
        return best[1]

    def _norms() -> list[float]:
        out = []
        for _, cent in cents:
            acc = 0.0
            for y in cent:
                acc += y * y
            out.append(acc**0.5)
        return out

    for _ in range(iters):
        norms = _norms()
        sums: dict[int, list[float]] = {}
        counts: dict[int, int] = {}
        for rid, vec in rows:
            cell = _sims_argmax(vec, norms)
            if cell not in sums:
                sums[cell] = [0.0] * len(vec)
                counts[cell] = 0
            acc = sums[cell]
            for pos, x in enumerate(vec):
                acc[pos] += float(x)
            counts[cell] += 1
        cents = [
            (cell, [s / counts[cell] for s in sums[cell]])
            for cell in sorted(sums)
        ]
    return cents


def _probe_dim(c: DataFrame, vec_col: str) -> int:
    """Vector dimensionality from the first NON-NULL vector (a head() on
    the raw frame reads the first row, whose NULL embedding would yield a
    NULL/-1 size and poison the m/nlist arithmetic — r14 review)."""
    head = (
        c.filter(F.col(vec_col).isNotNull())
        .select(F.size(F.col(vec_col)).alias("d"))
        .head()
    )
    return head["d"] if head else 0


def _has_null_vecs(rows: list[tuple]) -> bool:
    """True if any collected training vector is NULL or carries a NULL
    element.  The distributed path has well-defined SQL semantics for both
    (NULL sims excluded from argmax; ``F.avg`` skips NULL elements
    per-position) that the exact-fold Python loops do not reproduce — a
    NULL-bearing frame therefore always takes the distributed loop, so the
    one-job path never changes NULL semantics (r14 review)."""
    return any(
        v is None or any(x is None for x in v) for _, v in rows
    )


#: Row bound on the one-job training collect (ADVICE r14): the full-vector
#: collect is only paid for frames the sizes probe has shown to be at most
#: this many rows.  At the dims the ops cap admits (``_ONE_JOB_MAX_OPS`` /
#: (nlist·iters) cells ≈ 1-2 M rows×dims), 64 Ki rows is never the binding
#: constraint for dim ≥ ~16; tiny-dim frames beyond it just keep the
#: distributed loop — a correct, merely slower path.
_ONE_JOB_MAX_ROWS = 65_536


def _one_job_sample(
    c: DataFrame,
    corpus_id: str,
    vec_col: str,
    unit_cost: int,
    forced: bool,
    dim_gate=None,
) -> tuple[list[tuple] | None, int]:
    """Bounded one-job training sample: ``(rows, dim)`` when every gate
    holds, ``(None, dim)`` to send the caller to the distributed loop.

    ADVICE r14 (medium): the previous auto path collected the ENTIRE
    single-partition frame to the driver and only then checked the ops
    cap — CPU was bounded but the collect's memory was not.  Probe first
    with ``limit(_ONE_JOB_MAX_ROWS+1).select(size(vec))`` — a collect of
    ints, byte-safe at any dim — which yields the row-count bound, the
    dim (first non-null size, matching :func:`_probe_dim`), top-level
    NULL vectors, and raggedness (ADVICE r14 low: a ragged frame would
    IndexError / zip-truncate in the Python folds, diverging from Spark's
    NULL-padding ``zip_with``) all BEFORE the full-vector collect.  Once
    the gates pass, that collect is provably small: n·dim ≤
    ``_ONE_JOB_MAX_OPS`` / unit_cost cells ≈ ≤16 MB of doubles.

    ``forced`` (explicit ``one_job=True``) keeps the pre-ADVICE single
    direct collect — the caller vouches for the frame's size (the bench
    shapes pass a ``coalesce(1)`` bounded sample, where the one task
    already holds every row) and opts out of the probe job and the
    ops/row/dim budgets — but the correctness gates (NULLs, raggedness)
    are still applied to the collected rows at zero extra jobs.
    Element-level NULLs are invisible to ``size()``; the caller's
    :func:`_has_null_vecs` scan covers them after either collect.
    """
    if forced:
        rows = [(r[0], r[1]) for r in c.select(corpus_id, vec_col).collect()]
        sizes = [None if v is None else len(v) for _, v in rows]
    else:
        rows = None
        sizes = [
            r[0]
            for r in c.limit(_ONE_JOB_MAX_ROWS + 1)
            .select(F.size(F.col(vec_col)))
            .collect()
        ]
    n = len(sizes)
    non_null = [s for s in sizes if s is not None and s >= 0]
    dim = non_null[0] if non_null else 0
    ok = (
        len(non_null) == n  # no top-level NULL vectors
        and all(s == dim for s in non_null)  # no ragged vectors
        and (
            forced
            or (
                n <= _ONE_JOB_MAX_ROWS
                and n * dim * unit_cost <= _ONE_JOB_MAX_OPS
                and (dim_gate is None or dim_gate(dim))
            )
        )
    )
    if ok:
        if rows is None:
            rows = [(r[0], r[1]) for r in c.select(corpus_id, vec_col).collect()]
        if not _has_null_vecs(rows):
            return rows, dim
    if dim == 0 and n > 0 and not forced:
        # first _ONE_JOB_MAX_ROWS rows all NULL — the real dim (if any)
        # lives beyond the probe window
        dim = _probe_dim(c, vec_col)
    return None, dim


#: Auto one-job training cap, in cell-dim ops (rows × dim × cells × iters).
#: Below it, driver Python beats the per-iteration distributed-agg
#: scheduling floor (~0.9-1.2 s/round on local[32]); above it the
#: pure-Python loop loses to the cluster, so the auto gate falls back to
#: the distributed loop even on a single-partition frame (the already-paid
#: sample collect is the bounded cost of finding out).  Calibrated r14:
#: the exact-fold loop runs ~14-16 M ops/s (0.25 s at 4 M ops / 2.9 s at
#: 41 M), and the distributed alternative costs ~(iters+1) scheduling
#: rounds, so 32 M ≈ 2.2 s of Python sits safely below break-even for the
#: iters=1-2 shapes every call site uses.  ``one_job=True`` overrides.
_ONE_JOB_MAX_OPS = 32_000_000


def ivf_index(
    corpus: DataFrame,
    nlist: int = 16,
    iters: int = 2,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    driver_materialize_cells: int = 1_000_000,
    one_job: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build (assignment, centroids): the inverted file.

    Returns ``assignment`` (corpus_id, cell) and ``centroids``
    (cell, centroid: array<double>).

    Training cost shape: a single-partition training frame (the
    ``coalesce(1)`` bounded-sample shape the batch gate rows and the
    recall monitor use — standard IVF practice trains on a sample, not
    the corpus) takes the one-job path: collect the sample once and run
    all Lloyd rounds in driver Python (:func:`_lloyd_one_job`; assignments
    provably identical, centroids within ulps — see its docstring).  The
    collect is bounded BEFORE it is paid (ADVICE r14): a byte-safe sizes probe
    (:func:`_one_job_sample`) checks the row bound, ops cap, NULLs and
    raggedness first, so a large single-partition frame never
    materializes on the driver.  Multi-partition frames keep the
    distributed loop: one corpus scan per iteration, centroids
    re-broadcast each round.
    """
    spark = corpus.sparkSession
    c = corpus.select(F.col(corpus_id), F.col(vec_col))
    # One-job training (VERDICT r13 #2): a single-partition training frame
    # already holds the whole sample in one task, so collecting it once and
    # running every Lloyd round in driver Python replaces the dim probe +
    # 1 seed job + ``iters`` distributed agg rounds (~0.9-1.2 s scheduling
    # floor each on local[32]) with TWO cheap single-task jobs — the
    # byte-safe sizes probe that bounds the collect (ADVICE r14), then the
    # collect itself.  ``one_job=None`` auto-detects; True/False force the
    # path (False also via ``driver_materialize_cells=0``, which keeps the
    # executor-side localCheckpoint loop reachable in tests).
    if one_job is True or (one_job is None and c.rdd.getNumPartitions() == 1):
        rows, dim = _one_job_sample(
            c,
            corpus_id,
            vec_col,
            nlist * max(iters, 1),
            forced=one_job is True,
            dim_gate=lambda d: d * nlist <= driver_materialize_cells,
        )
        if rows is not None:
            centroids = spark.createDataFrame(
                _lloyd_one_job(rows, nlist, iters),
                "cell int, centroid array<double>",
            )
            return _nearest_cell(c, centroids, corpus_id, vec_col), centroids
    else:
        dim = _probe_dim(c, vec_col)
    # Each k-means round must materialize its centroids — without cutting
    # the lineage, round N re-executes ALL previous rounds (lazy-plan
    # chaining: measured 5 min → 30 s at 500 vectors; fatal at scale).
    # Small centroid tables (nlist × dim cells) come back to the driver and
    # re-enter as a literal broadcast table; above ``driver_materialize_cells``
    # (default 1M cells ≈ 8 MB; nlist=65k × dim=1k would be a multi-GB
    # driver object) they stay on the executors via an eager
    # ``localCheckpoint`` instead — same lineage cut, no driver transfer.
    driver_side = dim * nlist <= driver_materialize_cells

    def _materialize(cents: DataFrame) -> DataFrame:
        if driver_side:
            rows = [
                # a NULL seed vector (NULL corpus embedding among the nlist
                # lowest ids) stays a NULL centroid: its sims are NULL →
                # excluded from argmax, and the next update round drops the
                # cell — same semantics as the executor-side path
                # (pre-existing crash, caught by the r14 review tests)
                (r["cell"], None if r["centroid"] is None else list(r["centroid"]))
                for r in cents.collect()
            ]
            return spark.createDataFrame(rows, "cell int, centroid array<double>")
        return cents.localCheckpoint(eager=True)

    seeds = (
        c.orderBy(corpus_id)
        .limit(nlist)
        .select(
            (F.row_number().over(Window.orderBy(corpus_id)) - 1).alias("cell"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("centroid"),
        )
    )
    centroids = _materialize(seeds)
    for _ in range(iters):
        assigned = c.join(_nearest_cell(c, centroids, corpus_id, vec_col), corpus_id)
        # elementwise mean per cell: explode dims, average, re-assemble
        centroids = _materialize(
            assigned.select(
                "cell", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("centroid")
            )
        )
    assignment = _nearest_cell(c, centroids, corpus_id, vec_col)
    return assignment, centroids


def _pq_subvectors(vec_col: str, m: int, dsub: int):
    """array of m contiguous dsub-length double subvectors of ``vec_col`` —
    the ONE splitting expression shared by index build and search (any
    drift between the two corrupts the code/codebook-vs-query pairing)."""
    return F.array(
        *[
            F.transform(
                F.slice(F.col(vec_col), i * dsub + 1, dsub),
                lambda x: x.cast("double"),
            )
            for i in range(m)
        ]
    )


def _pq_lloyd_one_job(
    rows: list[tuple], m: int, dsub: int, ksub: int, iters: int
) -> list[tuple[int, int, list[float]]]:
    """All per-subspace Lloyd rounds over an already-collected training
    sample (the PQ analogue of :func:`_lloyd_one_job`, same contract):
    same recurrence and deterministic decisions as the distributed loop —
    d2 as the sequential ``(x−y)²`` left fold, ``min_by(cell, struct(d2,
    cell))`` ties to the lowest cell, per-(cell, dim) sum/count updates in
    collected row order, empty cells dropped — with the same one caveat:
    the distributed ``F.avg`` merges partial sums in shuffle order, so
    centroid coordinates may differ by ulps; codes are argmin decisions
    with real margins, pinned exactly equal by
    ``tests/test_ann_winnowing.py::test_pq_one_job_training_equivalence``.
    """
    seeds = sorted(rows, key=lambda r: r[0])[: min(ksub, len(rows))]
    books: list[tuple[int, int, list[float]]] = []
    for s in range(m):
        lo = s * dsub
        cents = [
            (i, [float(x) for x in seeds[i][1][lo : lo + dsub]])
            for i in range(len(seeds))
        ]
        for _ in range(iters):
            sums: dict[int, list[float]] = {}
            counts: dict[int, int] = {}
            for _rid, vec in rows:
                sv = vec[lo : lo + dsub]
                best = None
                for cell, cent in cents:
                    d2 = 0.0
                    for x, y in zip(sv, cent):
                        diff = float(x) - y
                        d2 += diff * diff
                    # Spark's double ordering ranks NaN ABOVE every finite
                    # value, so min_by never picks a NaN distance while any
                    # finite one exists; a raw Python tuple compare would
                    # instead FREEZE on a NaN best (all compares False) —
                    # class 1 reproduces the Spark ordering (r14 review)
                    key = (1, 0.0, cell) if d2 != d2 else (0, d2, cell)
                    if best is None or key < best[0]:
                        best = (key, cell)
                cell = best[1]
                if cell not in sums:
                    sums[cell] = [0.0] * dsub
                    counts[cell] = 0
                acc = sums[cell]
                for pos, x in enumerate(sv):
                    acc[pos] += float(x)
                counts[cell] += 1
            cents = [
                (cell, [v / counts[cell] for v in sums[cell]])
                for cell in sorted(sums)
            ]
        books.extend((s, cell, cent) for cell, cent in cents)
    return books


def pq_index(
    corpus: DataFrame,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    one_job: bool | None = None,
    dim: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization index: per-subspace codebooks + per-vector codes.

    ``dim`` (trusted geometry, VERDICT r14 #2): on the distributed path
    (``one_job=False`` or a multi-partition corpus) a caller that KNOWS
    the vector dim passes it here to skip the eager ``_probe_dim`` head —
    an in-plan :func:`_checked_geometry` guard keeps mismatches loud at
    zero probe jobs.  The one-job path ignores it: its sizes probe IS the
    safety gate bounding the training collect (ADVICE r14) and supplies
    the dim as a byproduct.

    Splits each d-dim vector into ``m`` contiguous subvectors and k-means
    quantizes every subspace independently to ``ksub`` centroids (the
    Jégou et al. PQ construction).  Fully deterministic, like :func:`ivf_index`:
    seeds are the ``ksub`` lowest-id vectors' subvectors, assignment is
    min squared-L2 with a cell-id tie-break, updates are exact per-dim means.
    One refinement round is the default — seeds are real corpus subvectors,
    and measured top-5 agreement is equal-or-better at iters=1 vs 2
    (44-47/50 vs 41-46/50 across SFs) at ~15% less index-build wall.

    Returns ``(codes, codebooks)``:

    - ``codes``: (corpus_id, sub, code) — m small integers per vector.  At
      m=4/ksub=16 this is 4 bytes of index payload per vector vs 256+ bytes
      of float32 — the 64× compression that lets a 100 TB corpus's index fit
      in cluster memory; search never touches the original vectors until
      the re-rank stage.
    - ``codebooks``: (sub, cell, centroid: array<double>, cent_sq: double) —
      m·ksub rows total, broadcastable at any corpus size.

    All k-means rounds run as one plan over an exploded (corpus_id, sub,
    svec) table — the m subspace problems share every scan and shuffle
    instead of looping m× over the corpus.
    """
    c = corpus.select(F.col(corpus_id), F.col(vec_col))
    # One-job training, same gate and contract as ivf_index (VERDICT r13
    # #2): a single-partition training frame is collected once and every
    # subspace's Lloyd rounds run in driver Python, replacing the dim
    # probe + seed materialize + per-iteration distributed agg rounds.
    trusted_dim = dim
    one_rows = None
    if one_job is True or (one_job is None and c.rdd.getNumPartitions() == 1):
        # same bounded gate as ivf_index (ADVICE r14): sizes probe before
        # the full-vector collect; max(iters, 1) so iters=0 cannot bypass
        # the ops bound (r14 review); the probe's measured dim overrides a
        # caller-passed one
        one_rows, dim = _one_job_sample(
            c, corpus_id, vec_col, ksub * max(iters, 1), forced=one_job is True
        )
    elif dim is None:
        dim = _probe_dim(c, vec_col)
    if m <= 0 or dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    if one_rows is None and trusted_dim is not None:
        # trusted-dim distributed plan: keep a dim mismatch loud in-plan
        # (a wrong dim would slice short subvectors whose zip_with
        # NULL-pads silently).  null_ok: the distributed loop's documented
        # NULL-vector SQL semantics must survive the guard.
        c = _checked_geometry(
            c, corpus_id, vec_col, m, dsub, "pq_index", null_ok=True
        )
    subs = _pq_subvectors(vec_col, m, dsub)
    sub_df = c.select(
        F.col(corpus_id), F.posexplode(subs).alias("sub", "svec")
    )

    def _dist2(svec, cent):
        # ‖x−c‖² as a single deterministic fold over zipped pairs
        return F.aggregate(
            F.zip_with(svec, cent, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _assign(cents: DataFrame) -> DataFrame:
        scored = sub_df.join(
            F.broadcast(cents.select("sub", "cell", "centroid")), "sub"
        ).select(
            F.col(corpus_id),
            "sub",
            "cell",
            _dist2(F.col("svec"), F.col("centroid")).alias("d2"),
        )
        return scored.groupBy(corpus_id, "sub").agg(
            F.min_by("cell", F.struct(F.col("d2"), F.col("cell"))).alias("code")
        )

    if one_rows is not None:
        centroids = corpus.sparkSession.createDataFrame(
            _pq_lloyd_one_job(one_rows, m, dsub, ksub, iters),
            "sub int, cell int, centroid array<double>",
        )
        codes = _assign(centroids)
        codebooks = centroids.select(
            "sub",
            "cell",
            "centroid",
            F.aggregate(
                F.col("centroid"), F.lit(0.0), lambda acc, x: acc + x * x
            ).alias("cent_sq"),
        )
        return codes, codebooks
    # Seeds: subvectors of the ksub lowest-id corpus rows (no RNG).  The
    # seed rows come from a TakeOrdered limit on the UN-exploded corpus —
    # a full per-subspace sort of the N·m exploded table would shuffle the
    # whole corpus just to pick ksub rows.  The seed table is m·ksub rows —
    # always driver-small.
    seed_rows = c.orderBy(corpus_id).limit(ksub)
    seed_w = Window.partitionBy("sub").orderBy(corpus_id)
    centroids = seed_rows.select(
        F.col(corpus_id), F.posexplode(subs).alias("sub", "svec")
    ).withColumn("rn", F.row_number().over(seed_w)).select(
        "sub", (F.col("rn") - 1).alias("cell"), F.col("svec").alias("centroid")
    )
    if iters > 0:
        # lineage cut between k-means rounds; at iters=0 there is no loop to
        # cut and the seed subplan (TakeOrdered ksub rows + tiny window) is
        # cheaper re-derived per consumer than a dedicated materialize job
        centroids = centroids.localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = sub_df.join(
            _assign(centroids).withColumnRenamed("code", "cell"), [corpus_id, "sub"]
        )
        centroids = (
            assigned.select(
                "sub", "cell", F.posexplode(F.col("svec")).alias("pos", "val")
            )
            .groupBy("sub", "cell", "pos")
            .agg(F.avg("val").alias("mu"))
            .groupBy("sub", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mu"))),
                    lambda s: s.getField("mu"),
                ).alias("centroid")
            )
            # lineage cut per round, same rationale as ivf_index
            .localCheckpoint(eager=True)
        )
    codes = _assign(centroids)
    codebooks = centroids.select(
        "sub",
        "cell",
        "centroid",
        F.aggregate(
            F.col("centroid"), F.lit(0.0), lambda acc, x: acc + x * x
        ).alias("cent_sq"),
    )
    return codes, codebooks


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    m: int = 4,
    ksub: int = 16,
    iters: int = 1,
    rerank: int = 50,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
    dim: int | None = None,
) -> DataFrame:
    """PQ approximate cosine top-k with asymmetric distance + exact re-rank.

    Pass ``index=(codes, codebooks)`` from a prior :func:`pq_index` call to
    reuse a persisted index — the production shape: the index is built once
    per corpus snapshot and amortized over every query batch, so the
    per-search cost is only the ADC scan + re-rank.

    ``dim`` (trusted geometry, VERDICT r14 #2): the default ``None`` probes
    the query dim and the index geometry with two eager ``head()`` jobs —
    two scheduling floors a hot search loop pays per call.  A caller that
    KNOWS the dim it built the index with passes it here; both probes are
    then replaced by in-plan loud guards (:func:`_checked_geometry` on the
    queries, :func:`_guarded_codebooks` on the index) that run inside the
    consuming action at zero extra jobs.

    Empty-queries contract (ADVICE r15): on the self-built path the dim is
    trusted from the index's own codebooks, so EMPTY queries return an
    empty result instead of raising — there is nothing to mismatch against
    a geometry the call itself constructed.  The prebuilt-index path keeps
    the eager query-dim probe and still raises on empty queries with a
    dsub=0 mismatch, because there a wrong *index* (e.g. larger m) is a
    real possibility the probe exists to catch.

    Search-time shape (the part that matters at 100 TB):

    1. ADC tables: dot(q_sub, centroid) for every (query, sub, cell) —
       Q·m·ksub rows, built from a broadcast of the m·ksub codebook.
    2. Approximate score: join the corpus ``codes`` (m ints per vector —
       the only corpus-side payload) to the broadcast ADC table and sum the
       m partial dots; the reconstructed norm ‖x̂‖² = Σ_sub ‖c_code‖² comes
       from the same lookup.  No original vector is read here.
    3. Exact re-rank: only the top-``rerank`` candidates per query join
       back to the full-precision vectors for true cosine; final top-k.
    """
    self_built = index is None
    codes, codebooks = (
        index if index is not None
        else pq_index(corpus, m, ksub, iters, corpus_id, vec_col)
    )
    trusted = dim is not None
    derived = False  # dim derived from our own codebooks (NULL-tolerant)
    if not trusted and self_built:
        # r15: a SELF-BUILT index's geometry is ours by construction —
        # pq_index just validated ``corpus_dim % m`` and built exactly
        # ``m`` subspaces of one dsub — so the two eager probe jobs this
        # path used to pay (query-dim head + codebook-geometry head) are
        # pure scheduling floor.  Derive the plan-time dim from the
        # codebooks we built (a LocalRelation head on the one-job path —
        # job-free; one tiny checkpointed-block read at iters>0) and let
        # the in-plan trusted guards below keep mismatched QUERY lengths
        # exactly as loud, inside the consuming action at zero extra jobs.
        # Empty corpus → no codebook rows → fall through to the query
        # head probe, preserving the old empty-input error surface.
        # NULL-centroid rows are skipped (ADVICE r15): at iters=0 a NULL
        # embedding among the ksub lowest-id seed rows yields NULL seed
        # centroids, whose size() is NULL — deriving from one of those
        # would compute ``None * m``.  NULL corpus vectors are in-contract
        # (the null_ok guards below), so filter to a real centroid and let
        # the all-NULL case fall through to the query probe too.
        row = (
            codebooks.where(F.col("centroid").isNotNull())
            .select(F.size("centroid").alias("dsub"))
            .head()
        )
        if row is not None and row["dsub"] is not None:
            dim = row["dsub"] * m
            trusted = True
            derived = True
    if not trusted:
        head = queries.select(F.size(F.col(vec_col)).alias("d")).head()
        dim = head["d"] if head else 0
    if m <= 0 or dim % m != 0:
        raise ValueError(f"query dim {dim} not divisible by m={m}")
    dsub = dim // m
    # An index whose geometry differs from the queries' would silently NULL
    # every ADC partial (zip_with pads short arrays) and degrade to id-order
    # candidates — fail loudly instead.  This guards BOTH paths: a prebuilt
    # index with a different m, and a self-built index over a corpus whose
    # dim differs from the query dim (each divisible by m, e.g. 32-dim
    # queries against a 64-dim corpus).  With trusted geometry the same
    # failures raise in-plan instead (zero probe jobs — see the ``dim``
    # docstring paragraph).
    if trusted:
        # null_ok: the default path tolerates NULL query vectors (their
        # sims are NULL — SQL semantics rank them out), so the trusted
        # guard must not turn them into a crash; only LENGTH mismatches
        # are the loud failure here
        queries = _checked_geometry(
            queries, query_id, vec_col, m, dsub, "pq_topk", null_ok=True
        )
        # derived → self-built codebooks may hold NULL seed centroids
        # (in-contract NULL corpus vectors at iters=0) — rank out, not raise
        codebooks = _guarded_codebooks(codebooks, dsub, "pq_topk", null_ok=derived)
    else:
        cb = codebooks.select(
            F.max("sub").alias("max_sub"), F.max(F.size("centroid")).alias("dsub")
        ).head()
        if cb["max_sub"] != m - 1 or cb["dsub"] != dsub:
            raise ValueError(
                f"PQ index has m={cb['max_sub'] + 1}, dsub={cb['dsub']}; "
                f"query expects m={m}, dsub={dsub}"
            )
    from logspout_kinesis_tests_spark.functions.vectors import dot_product, l2_norm

    q_subs = queries.select(
        F.col(query_id),
        l2_norm(F.col(vec_col)).alias("_nq"),
        F.posexplode(_pq_subvectors(vec_col, m, dsub)).alias("sub", "qsub"),
    )
    adc = q_subs.join(F.broadcast(codebooks), "sub").select(
        F.col(query_id),
        "_nq",
        "sub",
        F.col("cell").alias("code"),
        dot_product(F.col("qsub"), F.col("centroid")).alias("pdot"),
        "cent_sq",
    )
    approx = (
        codes.join(F.broadcast(adc), ["sub", "code"])
        .groupBy(query_id, corpus_id)
        .agg(
            F.sum("pdot").alias("adot"),
            F.sum("cent_sq").alias("recon_sq"),
            F.first("_nq").alias("_nq"),
        )
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.when(
                (F.col("_nq") == 0) | (F.col("recon_sq") == 0), F.lit(None)
            )
            .otherwise(
                F.col("adot") / (F.col("_nq") * F.sqrt(F.col("recon_sq")))
            )
            .alias("approx_cos"),
        )
    )
    w_cand = Window.partitionBy(query_id).orderBy(
        F.col("approx_cos").desc(), F.col(corpus_id)
    )
    cands = (
        approx.withColumn("crn", F.row_number().over(w_cand))
        .filter(F.col("crn") <= rerank)
        .select(query_id, corpus_id)
    )
    qv = queries.select(
        F.col(query_id),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("_nq"),
    )
    cv = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("_nc"),
    )
    denom = F.col("_nq") * F.col("_nc")
    scored = (
        F.broadcast(cands.join(qv, query_id))
        .join(cv, corpus_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.when(denom == 0, F.lit(None))
            .otherwise(dot_product(F.col("q_vec"), F.col("c_vec")) / denom)
            .alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def ivf_probe_scored(
    queries: DataFrame,
    corpus: DataFrame,
    index: tuple[DataFrame, DataFrame],
    nprobe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Every IVF candidate pair scored by exact cosine, BEFORE ranking:
    (query_id, corpus_id, cosine[, *carry_cols]).

    This is the probe half shared by :func:`ivf_topk` (which ranks it to
    top-k) and consumers that rank the SAME candidate frame several ways —
    e.g. the ``c10_ann_recall_monitor`` row derives every epoch's top-k from
    one probe join by carrying each corpus row's arrival epoch through
    ``carry_cols`` and ranking per epoch, instead of re-probing per epoch.
    Candidate pairs are unique (each corpus vector lives in exactly one
    cell), so downstream rankings need no dedup."""
    assignment, centroids = index
    q = queries.select(F.col(query_id), F.col(vec_col).alias("q_vec"))
    # nprobe nearest cells per query
    q_cells = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("sim", cosine_similarity(F.col("q_vec"), F.col("centroid")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col("cell"))
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select(query_id, "q_vec", "cell")
    )
    from logspout_kinesis_tests_spark.functions.vectors import dot_product, l2_norm

    cand = corpus.select(
        F.col(corpus_id),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("_nc"),
        *[F.col(c) for c in carry_cols],
    ).join(assignment, corpus_id)
    qn = q_cells.withColumn("_nq", l2_norm(F.col("q_vec")))
    denom = F.col("_nq") * F.col("_nc")
    return (
        F.broadcast(qn)
        .join(cand, "cell")
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.when(denom == 0, F.lit(None))
            .otherwise(dot_product(F.col("q_vec"), F.col("c_vec")) / denom)
            .alias("cosine"),
            *[F.col(c) for c in carry_cols],
        )
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k: probe the ``nprobe`` nearest cells per query,
    exact cosine re-ranks the candidates.

    Pass ``index=(assignment, centroids)`` from a prior :func:`ivf_index`
    call to reuse a persisted inverted file across query batches."""
    assignment, centroids = (
        index if index is not None
        else ivf_index(corpus, nlist, iters, corpus_id, vec_col)
    )
    scored = ivf_probe_scored(
        queries, corpus, (assignment, centroids), nprobe, query_id, corpus_id, vec_col
    )
    w = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def _guarded_codebooks(
    codebooks: DataFrame, dsub: int, who: str, null_ok: bool = False
) -> DataFrame:
    """In-plan analogue of the eager codebook-geometry head for the
    trusted-geometry paths (VERDICT r14 #2): every centroid's length is
    checked WHERE IT IS READ — a mismatch raises loudly during the
    consuming action instead of costing a dedicated probe job up front.
    (The per-row check cannot see an index whose ``m`` exceeds the
    caller's at equal dsub — trusted geometry means the caller asserts the
    ``m`` it built the index with; the eager default path still catches
    that case.)

    ``null_ok`` passes NULL centroids through unchanged (ADVICE r15): a
    self-built index can legitimately hold them — at iters=0 a NULL
    corpus vector among the seed rows slices to a NULL centroid — and the
    eager default path tolerates them (its probe is max over non-NULL
    sizes; NULL ADC partials rank out SQL-side).  Only LENGTH mismatches
    stay loud."""
    ok = F.size("centroid") == dsub
    if null_ok:
        ok = F.col("centroid").isNull() | ok
    return codebooks.select(
        "sub",
        "cell",
        F.when(ok, F.col("centroid"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{who}: codebook centroid length "),
                    F.coalesce(F.size("centroid"), F.lit(-1)).cast("string"),
                    F.lit(f" != trusted dsub = {dsub}"),
                )
            )
        )
        .alias("centroid"),
        *(["cent_sq"] if "cent_sq" in codebooks.columns else []),
    )


def _checked_geometry(
    vectors: DataFrame,
    corpus_id: str,
    vec_col: str,
    m: int,
    dsub: int,
    who: str,
    null_ok: bool = False,
) -> DataFrame:
    """Shared loud length guard for the encode, build and search paths —
    one contract for malformed input.  NULL embeddings report length -1
    (F.size(NULL) is NULL; an unguarded concat would feed raise_error a
    NULL message, killing the batch with no diagnostics).  ``null_ok``
    passes NULL vectors through unchanged instead — for consumers whose
    documented semantics already handle NULLs SQL-side (the distributed
    pq_index loop) and only need the length check kept loud."""
    ok = F.size(vec_col) == m * dsub
    if null_ok:
        ok = F.col(vec_col).isNull() | ok
    return vectors.select(
        F.col(corpus_id),
        F.when(ok, F.col(vec_col))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{who}: vector length "),
                    F.coalesce(F.size(vec_col), F.lit(-1)).cast("string"),
                    F.lit(f" != m*dsub = {m * dsub} (-1 = NULL embedding)"),
                )
            )
        )
        .alias(vec_col),
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    geometry: tuple[int, int] | None = None,
) -> DataFrame:
    """Encode vectors against FROZEN codebooks → (corpus_id, sub, code).

    The incremental-ingest half of the PQ lifecycle: ``pq_index`` trains
    codebooks once per corpus snapshot; arriving vectors are then encoded
    with this function and appended to the codes table — no retraining, no
    index rebuild.  The assignment is the IDENTICAL min-(d², cell) rule as
    ``pq_index``'s internal ``_assign`` (same fold, same tie-break), so
    codes produced here are indistinguishable from build-time codes; m and
    dsub are inferred from the codebooks, and any vector whose length
    differs from m·dsub fails the job loudly — F.slice on a short vector
    would otherwise yield short subvectors, zip_with would null-pad, d2
    would fold to NULL and min_by would append an arbitrary code to the
    index silently.

    ``geometry=(m, dsub)`` (trusted geometry, VERDICT r14 #2): skips the
    eager codebook-probe ``head()`` — one scheduling floor per call — for
    callers that KNOW the geometry they trained the codebooks with; the
    in-plan guards (:func:`_checked_geometry` on the vectors,
    :func:`_guarded_codebooks` on the codebooks) keep the loud-failure
    contract at zero extra jobs.
    """
    if geometry is not None:
        m, dsub = geometry
        codebooks = _guarded_codebooks(codebooks, dsub, "pq_encode")
    else:
        meta = codebooks.agg(
            F.max("sub").alias("max_sub"), F.max(F.size("centroid")).alias("dsub")
        ).head()
        m, dsub = meta["max_sub"] + 1, meta["dsub"]
    checked = _checked_geometry(vectors, corpus_id, vec_col, m, dsub, "pq_encode")
    sub_df = checked.select(
        F.col(corpus_id), F.posexplode(_pq_subvectors(vec_col, m, dsub)).alias("sub", "svec")
    )
    scored = sub_df.join(
        F.broadcast(codebooks.select("sub", "cell", "centroid")), "sub"
    ).select(
        F.col(corpus_id),
        "sub",
        "cell",
        F.aggregate(
            F.zip_with(F.col("svec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("d2"),
    )
    return scored.groupBy(corpus_id, "sub").agg(
        F.min_by("cell", F.struct(F.col("d2"), F.col("cell"))).alias("code")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to FROZEN IVF centroids → (corpus_id, cell) — the
    incremental-ingest half of the IVF lifecycle, the inverted-file twin
    of :func:`pq_encode`.  Delegates to the SAME ``_nearest_cell`` rule
    the index build uses (min squared-L2, cell-id tie-break), so
    incrementally-appended assignment rows are indistinguishable from
    build-time ones."""
    return _nearest_cell(
        vectors.select(F.col(corpus_id), F.col(vec_col)),
        centroids,
        corpus_id,
        vec_col,
    )


#: Epoch-partitioned tables of an ANN index, in fold order.  Anything else
#: under the index dir (e.g. frozen codebooks, which are not
#: epoch-partitioned) is left alone.
_ANN_INDEX_TABLES = ("codes", "vecs")


def compact_ann_index(
    spark: SparkSession, index_dir: str, upto_epoch: int, count_rows: bool = True
) -> dict[str, int]:
    """Fold an epoch-partitioned ANN index's fragments (VERDICT r12 #6) —
    the index analogue of the C19 small-file problem: every arrival epoch
    adds ``codes/epoch=N`` (m ints/vector) and ``vecs/epoch=N`` (re-rank
    precision), so a long-lived index accumulates thousands of small
    fragments whose per-file open/footer cost eventually dominates
    the probe scan.

    Invariant: the fold preserves each table's exact row SET — both tables
    are membership-shaped (one row per (id, sub) / per id; replay can only
    duplicate whole rows, which ``distinct()`` collapses).  Search results
    are therefore identical before/after up to floating-point summation
    order: the exact re-rank cosine is a per-row fold (layout-free), and
    ranking ties break on id, but the ADC candidate scores sum m partial
    dots per pair in row-arrival order, so a re-layout can move a score by
    an ulp and swap candidates exactly at the rerank cutoff.  Real
    deployments keep rerank ≫ k, where an ulp-level cutoff swap cannot
    reach the top-k; the parity row (c10_index_compaction_parity) goes
    further and quantizes its vectors so every aggregated sum is exact and
    order-independent, making result identity a strict invariant there.
    ``tests/test_streaming_ann.py`` pins triple-identity (query,
    neighbour, rank) plus quantized distances across the fold, including
    a kill between the two table folds.

    Crash contract (inherited per table from :func:`compact_epoch_index`'s
    staged-swap recovery, extended across tables by ORDER): tables fold
    one at a time, so a kill leaves at most one table mid-swap — that
    table self-heals on the next call, the other is either fully pre- or
    fully post-fold, and BOTH states serve identical ``epoch < N`` row
    sets.  Re-running with the same ``upto_epoch`` is idempotent and
    completes the remaining folds.  Same quiesce rule as the per-table op:
    only fold epochs that can no longer replay (``upto_epoch <=`` last
    committed epoch + 1).

    Returns {table: rows_in_compacted_partition} for the tables present.
    """
    out: dict[str, int] = {}
    for sub in _ANN_INDEX_TABLES:
        path = os.path.join(index_dir, sub)
        if not os.path.isdir(path):
            continue
        entries = os.listdir(path)
        # Gate on a readable fold source: epoch= partitions, or a COMPLETED
        # (_SUCCESS) staging dir whose swap compact_epoch_index can resume.
        # A dir holding only an incomplete _compact_tmp_* must be skipped
        # (ADVICE r13): compact_epoch_index would discard the stale tmp as
        # crashed-mid-write and then fail reading the now-empty dir.  The
        # incomplete tmp is left in place — it is Spark-invisible, and a
        # later fold that finds real partitions beside it cleans it up.
        foldable = any(n.startswith("epoch=") for n in entries) or any(
            n.startswith("_compact_tmp_")
            and os.path.exists(os.path.join(path, n, "_SUCCESS"))
            for n in entries
        )
        if foldable:
            out[sub] = compact_epoch_index(
                spark, path, upto_epoch, count_rows=count_rows
            )
    return out

"""Custom stateful streaming operators — ``applyInPandasWithState``.

The reference keeps no stream state (SURVEY.md §2 Part B).  These are the
monitoring operators of the batch catalogue lifted into cross-batch streams:
CUSUM, Hampel, PSI, bucketed percentiles and the term monitor.  Each keeps a
small per-key state (a running sum, a tail, a histogram) in the state store;
state is per-key and partitioned by the shuffle, so it scales horizontally
with executors.

Cross-batch dedup is not here: the exact path is the epoch-partitioned index
(``streaming/batch_apply.py::streaming_incremental_dedup``) and the
bounded-state path is Spark's native ``dropDuplicatesWithinWatermark``
(``streaming/joins.py::dedup_within_watermark``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# Streaming CUSUM — the batch operator (plans/monitor_queries.c16_cusum) as
# a cross-batch stateful stream.
# --------------------------------------------------------------------------

CUSUM_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("cusum", DoubleType()),
        StructField("alarm", LongType()),
    ]
)

_CUSUM_STATE = StructType([StructField("s", DoubleType())])


def streaming_cusum(
    stream: DataFrame,
    target: float,
    slack: float,
    threshold: float,
) -> DataFrame:
    """Upper-CUSUM control chart per (user, metric) series across
    micro-batches: S_t = max(0, S_{t-1} + (x_t − target − slack)), alarm
    while S exceeds ``threshold``.

    The per-key state is ONE double — the running S — so the store is
    bounded by the live key count regardless of stream length (contrast
    with dedup state, which grows with distinct payloads).  Rows are
    stepped in (ts, event_id) order WITHIN each micro-batch and batches
    are stepped in arrival order: the standard monitoring contract — a
    metric point arriving a batch late is folded in where it lands, which
    for a control chart is the desired at-ingest behavior (the batch
    variant ``c16_cusum`` is the event-time-exact replay).  Same recurrence
    arithmetic as the batch operator: one add + one max per step.
    """

    def walk(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        s = state.get[0] if state.exists else 0.0
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return iter(())
        pdf = pd.concat(frames).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        out = []
        for x in pdf["value"].tolist():
            s = max(0.0, s + (x - target - slack))
            out.append(s)
        state.update((s,))
        return iter(
            [
                pd.DataFrame(
                    {
                        "event_id": pdf["event_id"].values,
                        "user_id": pdf["user_id"].values,
                        "event_type": pdf["event_type"].values,
                        "cusum": out,
                        "alarm": [1 if v > threshold else 0 for v in out],
                    }
                )
            ]
        )

    return stream.groupBy("user_id", "event_type").applyInPandasWithState(
        walk,
        outputStructType=CUSUM_OUTPUT,
        stateStructType=_CUSUM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HAMPEL_OUTPUT = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("cents", LongType()),
        StructField("med", LongType()),
        StructField("mad", LongType()),
        StructField("outlier", LongType()),
    ]
)

from pyspark.sql.types import ArrayType  # noqa: E402

_HAMPEL_STATE = StructType(
    [StructField("tail", ArrayType(LongType()))]
)

#: Same fence as the batch operator (operators note in
#: plans/round6b_queries.c16_hampel): 3 · 1.4826 × 10⁴ as an exact integer.
_HAMPEL_FENCE_E4 = 44478
_HAMPEL_TAPS = 7


def streaming_hampel(stream: DataFrame) -> DataFrame:
    """Streaming Hampel despiker per user: TRAILING 7-tap rolling median +
    rolling MAD over integer cents, outlier where |x − med| > 3·1.4826·MAD
    (exact ×10⁴ integer comparison, like the batch ``c16_hampel``).

    The batch operator's frame is CENTERED (±3) — exact, but it needs the
    future.  The streaming variant trades that for zero latency with the
    trailing frame, the same at-ingest contract as ``streaming_cusum``.
    Per-key state is the last 6 values (a bounded ring), so the store is
    O(live keys), and the integer arithmetic is deterministic across
    retries/replays — a recovered checkpoint recomputes identical flags.
    """

    def walk(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tail = list(state.get[0]) if state.exists else []
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return iter(())
        pdf = pd.concat(frames).sort_values(
            ["ts", "event_id"], kind="mergesort"
        )
        # HALF-AWAY-FROM-ZERO to integer cents, matching the batch
        # c16_hampel's F.round / DuckDB round semantics — pandas .round(0)
        # is half-to-even and would flip values landing exactly on a
        # half-cent.  Sign-aware like streaming_psi below: floor(x·100+0.5)
        # alone rounds toward +inf for negative values, and negative
        # ``value`` is in-domain for streams (ADVICE r7)
        vals = pdf["value"].to_numpy(dtype="float64")
        cents = [
            int(v)
            for v in np.where(
                vals >= 0,
                np.floor(vals * 100 + 0.5),
                -np.floor(-vals * 100 + 0.5),
            ).astype("int64").tolist()
        ]
        meds, mads, flags = [], [], []
        for c in cents:
            vs = sorted(tail[-(_HAMPEL_TAPS - 1) :] + [c])
            med = vs[(len(vs) + 1) // 2 - 1]
            mad = sorted(abs(x - med) for x in vs)[(len(vs) + 1) // 2 - 1]
            meds.append(med)
            mads.append(mad)
            flags.append(
                1 if abs(c - med) * 10000 > _HAMPEL_FENCE_E4 * mad else 0
            )
            tail.append(c)
        state.update((tail[-(_HAMPEL_TAPS - 1) :],))
        return iter(
            [
                pd.DataFrame(
                    {
                        "event_id": pdf["event_id"].values,
                        "user_id": pdf["user_id"].values,
                        "cents": cents,
                        "med": meds,
                        "mad": mads,
                        "outlier": flags,
                    }
                )
            ]
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        walk,
        outputStructType=HAMPEL_OUTPUT,
        stateStructType=_HAMPEL_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming PSI — the batch train/serve drift monitor
# (plans/round6b_queries.c20_psi_drift) as a cross-batch stateful stream.
# --------------------------------------------------------------------------

PSI_OUTPUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("psi", DoubleType()),
    ]
)

_PSI_STATE = StructType([StructField("counts", ArrayType(LongType()))])


def streaming_psi(
    stream: DataFrame,
    expected: list[float],
    mn: int,
    mx: int,
    eps: float = 0.0001,
) -> DataFrame:
    """Streaming population-stability-index monitor per event type: the
    serving distribution accumulates across micro-batches and each batch
    emits the current PSI against a FROZEN training histogram — the
    production form of the batch ``c20_psi_drift`` (training proportions
    are computed once at train time; the monitor watches serving traffic
    drift away from them, alerting at the standard 0.1/0.25 thresholds).

    ``expected`` is the frozen per-bucket training proportion list (its
    length fixes the bucket count); ``mn``/``mx`` are the training grid's
    integer-cent range, with the SAME bucket rule as the batch operator —
    ``(cents − mn) · B // (mx − mn + 1)`` — and serving values outside the
    training range clipped to the edge buckets (drift beyond the grid is
    still drift INTO its outermost bucket, the standard monitor contract).
    Zero-count buckets take the same ``eps`` substitution on both sides.

    Per-key state is ONE bounded long array (B counts), so the store is
    O(live keys · B) regardless of stream length; integer accumulation
    makes recovered checkpoints recompute identical PSIs.  Cents are
    rounded HALF-UP like the batch operator's ``F.round``.
    """
    buckets = len(expected)
    span = mx - mn + 1
    # freeze the eps substitution into the expected side once
    exp = [e if e > 0 else eps for e in expected]

    def monitor(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        counts = list(state.get[0]) if state.exists else [0] * buckets
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return iter(())
        vals = pd.concat(frames)["value"].to_numpy(dtype="float64")
        vals = vals[~np.isnan(vals)]
        # HALF-UP (away from zero) integer cents, matching F.round
        cents = np.where(
            vals >= 0,
            np.floor(vals * 100 + 0.5),
            -np.floor(-vals * 100 + 0.5),
        ).astype("int64")
        b = np.clip((cents - mn) * buckets // span, 0, buckets - 1)
        for i, c in zip(*np.unique(b, return_counts=True)):
            counts[int(i)] += int(c)
        nt = sum(counts)
        psi = 0.0
        if nt:
            import math

            for c, e in zip(counts, exp):
                a = (c / nt) if c else eps
                psi += (a - e) * math.log(a / e)
        state.update((counts,))
        return iter(
            [
                pd.DataFrame(
                    {
                        "event_type": [key[0]],
                        "n_events": [nt],
                        "psi": [psi],
                    }
                )
            ]
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        monitor,
        outputStructType=PSI_OUTPUT,
        stateStructType=_PSI_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming percentile monitor — grid-exact integer quantiles over the
# accumulated serving distribution, the latency-SLO twin of streaming_psi
# (same frozen integer-cent grid, same bounded O(keys·buckets) state).
# --------------------------------------------------------------------------

PCT_OUTPUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("p50_c", LongType()),
        StructField("p95_c", LongType()),
        StructField("p99_c", LongType()),
    ]
)

_PCT_STATE = StructType(
    [
        StructField("counts", ArrayType(LongType())),
        # the grid RANGE travels with the counts: a restart with the same
        # bucket count but shifted [mn, mx] would silently re-grid history
        StructField("grid_mn", LongType()),
        StructField("grid_mx", LongType()),
    ]
)


def streaming_percentiles(
    stream: DataFrame,
    mn: int,
    mx: int,
    buckets: int = 256,
) -> DataFrame:
    """Cross-batch p50/p95/p99 monitor per event type: counts accumulate on
    a FROZEN ``buckets``-cell integer-cent grid over ``[mn, mx]`` (values
    outside clip to the edge cells, like streaming_psi) and each batch
    emits the grid quantiles of ALL traffic so far.

    "Grid-exact": the emitted value is the exact inclusive upper cent
    bound of the bucket holding the q-th ranked observation — pure integer
    arithmetic (rank k = ceil(q·n) via ``(q_num·n + q_den − 1) // q_den``,
    bound = ``mn + ((i+1)·span + B − 1) // B − 1``), so recovered
    checkpoints and replays recompute identical values, and the error is
    bounded by one bucket width (span/B) by construction — the same
    contract as a fixed-boundary HDR histogram, which is what production
    latency monitors actually ship.

    Per-key state is ONE bounded long array; at 100 TB stream scale the
    store is O(live keys · buckets) regardless of history length.

    Upgrade note: widening the state row from 1 field (counts) to 3
    (counts, grid_mn, grid_mx) was a ONE-TIME checkpoint-layout break —
    Spark's state-store schema check rejects a pre-widening checkpoint
    before this function runs, so the error is Spark's schema-incompat
    message, not the grid-contract one below.  Restarting such a query
    means re-aggregating from the source (the monitor is a derived view
    of the event stream, so nothing is lost — only recomputed).  Within
    the current layout, restarts with an unchanged grid recover cleanly
    and any grid change fails loud below.
    """
    span = mx - mn + 1
    qs = ((1, 2, "p50_c"), (19, 20, "p95_c"), (99, 100, "p99_c"))

    def monitor(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stored, s_mn, s_mx = state.get
            counts = np.array(stored, dtype=np.int64)
        else:
            counts, s_mn, s_mx = np.zeros(buckets, dtype=np.int64), mn, mx
        if len(counts) != buckets or s_mn != mn or s_mx != mx:
            # Checkpoint written under a different grid: a smaller
            # `buckets` would clip indices silently, and the SAME bucket
            # count over a shifted [mn, mx] would re-grid every
            # historical count into the wrong cells.  All three grid
            # parameters are part of the contract — changing any of them
            # requires a fresh checkpoint.
            raise ValueError(
                f"streaming_percentiles: restored state has {len(counts)} "
                f"buckets over [{s_mn}, {s_mx}] but the query was started "
                f"with buckets={buckets} over [{mn}, {mx}]; "
                "grid changes across restart require a new checkpoint"
            )
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return iter(())
        vals = pd.concat(frames)["value"].to_numpy(dtype="float64")
        vals = vals[~np.isnan(vals)]
        cents = np.where(
            vals >= 0,
            np.floor(vals * 100 + 0.5),
            -np.floor(-vals * 100 + 0.5),
        ).astype("int64")
        b = np.clip((cents - mn) * buckets // span, 0, buckets - 1)
        for i, c in zip(*np.unique(b, return_counts=True)):
            counts[int(i)] += int(c)
        state.update((counts.tolist(), mn, mx))
        n = int(counts.sum())
        if n == 0:
            # A key whose traffic so far is all-NULL/NaN values has no
            # distribution to report: emit nothing rather than an
            # out-of-grid percentile bar with n_events=0.
            return iter(())
        out = {"event_type": [key[0]], "n_events": [n]}
        cum = np.cumsum(counts)
        for q_num, q_den, name in qs:
            k = (q_num * n + q_den - 1) // q_den  # ceil(q·n), exact ints
            i = int(np.searchsorted(cum, max(k, 1)))
            out[name] = [mn + ((i + 1) * span + buckets - 1) // buckets - 1]
        return iter([pd.DataFrame(out)])

    return stream.groupBy("event_type").applyInPandasWithState(
        monitor,
        outputStructType=PCT_OUTPUT,
        stateStructType=_PCT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming fixed-vocabulary term monitor — cross-batch exact counts of a
# frozen reference vocabulary per language, the OOV/vocab-drift twin of
# the batch c20_term_monitor row (plans/round10_queries.py).  Same
# contract pattern as streaming_percentiles: the "grid" here is the
# vocabulary itself, fingerprinted into the state row so a restart with a
# different term list fails loud instead of silently re-keying history.
# --------------------------------------------------------------------------

TERM_MON_OUTPUT = StructType(
    [
        StructField("lang", StringType()),
        StructField("term", StringType()),
        StructField("cnt", LongType()),
        StructField("n_tokens", LongType()),
        StructField("share", DoubleType()),
    ]
)

_TERM_MON_STATE = StructType(
    [
        StructField("counts", ArrayType(LongType())),
        StructField("n_tokens", LongType()),
        # md5-derived fingerprint of the vocab list: the term order AND
        # spelling are part of the state contract
        StructField("vocab_fp", LongType()),
    ]
)


def _vocab_fingerprint(vocab: list[str]) -> int:
    import hashlib

    digest = hashlib.md5("\x00".join(vocab).encode("utf-8")).hexdigest()
    return int(digest[:15], 16)


def _spark_round6(x: float) -> float:
    """Replicate F.round(x, 6): HALF_UP over the shortest decimal repr
    (Python's round() is binary half-even and diverges in the last digit)."""
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def streaming_term_monitor(stream: DataFrame, vocab: list[str]) -> DataFrame:
    """Cross-batch term monitor: exact occurrence counts of a FROZEN
    ``vocab`` (order-significant) per language over all documents seen so
    far, emitted each batch as (lang, term, cnt, n_tokens, share).

    Tokenization is byte-identical to the batch family (lower, split on
    single space, drop empties), counts and token totals are exact int64
    (order-free, replay-deterministic), and ``share`` rounds HALF-UP like
    ``F.round(·, 6)`` so the batch twin pins equality bit-for-bit.

    State per language is ONE bounded |vocab| long array + a total — at
    100 TB stream scale the store is O(live langs · |vocab|) regardless of
    history.  A restart whose ``vocab`` differs from the list that wrote
    the checkpoint fails loud on the stored fingerprint (the
    streaming_percentiles grid contract, applied to vocabularies)."""
    vocab = list(vocab)
    vfp = _vocab_fingerprint(vocab)
    vindex = {t: i for i, t in enumerate(vocab)}

    def monitor(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            stored, n_tokens, s_fp = state.get
            counts = list(stored)
            if len(counts) != len(vocab) or s_fp != vfp:
                raise ValueError(
                    f"streaming_term_monitor: restored state was written by "
                    f"a different vocabulary (fp {s_fp} != {vfp} or size "
                    f"{len(counts)} != {len(vocab)}); vocab changes across "
                    "restart require a new checkpoint"
                )
        else:
            counts, n_tokens = [0] * len(vocab), 0
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            return iter(())
        for text in pd.concat(frames)["text"].tolist():
            toks = [t for t in (text or "").lower().split(" ") if t]
            n_tokens += len(toks)
            for t in toks:
                i = vindex.get(t)
                if i is not None:
                    counts[i] += 1
        state.update((counts, n_tokens, vfp))
        if n_tokens == 0:
            # nothing tokenizable yet: no distribution to report
            return iter(())
        return iter(
            [
                pd.DataFrame(
                    {
                        "lang": [key[0]] * len(vocab),
                        "term": vocab,
                        "cnt": counts,
                        "n_tokens": [n_tokens] * len(vocab),
                        "share": [
                            _spark_round6(c / n_tokens) for c in counts
                        ],
                    }
                )
            ]
        )

    return stream.groupBy("lang").applyInPandasWithState(
        monitor,
        outputStructType=TERM_MON_OUTPUT,
        stateStructType=_TERM_MON_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

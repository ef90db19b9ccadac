"""Time-series and event-stream operators.

Families, in file order:

- **Joins**: as-of joins (backward, forward, with tolerance), banded,
  gridded and binned range/proximity joins.
- **Sessions and funnels**: sessionization, ``windowFunnel`` /
  ``sequenceMatch`` / ``sequenceCount`` folds, retention, cohorts,
  Markov transitions, touch attribution.
- **Series rollups**: OHLC bars, resampling with forward fill, EWMA,
  CUSUM, Holt / Holt–Winters, ClickHouse-parity delta and interval
  aggregates.
- **Spectral and autoregressive diagnostics**: ACF/PACF, Yule–Walker,
  periodograms, Haar energy, ADF/KPSS, Hurst, entropies.
- **Control charts**: Shewhart x̄/I-MR/p/np/c/u/g, EWMA chart.
- **Indicators**: the bounded-series and OHLC-bar technical
  indicators (RSI, Bollinger, MACD, Keltner, Supertrend, SAR, …).
- **Forecasting and anomalies**: theta, Croston, seasonal ESD, Theil's
  U, variance ratio.

Every statistic keeps the exact-arithmetic contract of
:mod:`._exact` (the 2^-20 grid, exact sums, NULL for undefined), so
its result hash-matches a DuckDB replay. Two private helpers carry
the shapes most operators share: :func:`_series` (the gridded
``(_g, _o, _v)`` series prologue) and :func:`_ema_fold` (the seeded
EMA recursion unrolled into one weighted fold).

Scale design of the joins: ``asof_join`` is the union + single
window pass formulation — the naive equi-join on key + range predicate
+ argmax explodes to |left| × |right rows per key| before pruning; the
window formulation shuffles each row once on the key and fills values
with a running ``last(ignorenulls)`` inside the sorted partition.
``range_join_bands`` broadcasts the (tiny) band table so the fact side
never shuffles (a BroadcastNestedLoopJoin, the right plan when one side
is a handful of rows).
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import let_bind
from ._arrow import apply_groups
from ._exact import GRID, grid, grid_sum, grid_sum128, row_ranks


def _series(
    df: DataFrame, group_col: str, order_col: str, value_col: str
) -> DataFrame:
    """The bounded-series prologue: one row per observation as
    (``_g`` group, ``_o`` order, ``_v`` value on the 2^-20 grid), NULL
    values dropped."""
    return df.select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull())


def _ema_fold(alpha: float, term=lambda x: x.cast("double")):
    """The EMA e_t = α·x_t + (1−α)·e_{t−1} seeded at x_1, unrolled
    over a prefix list ``l`` (for :func:`let_bind`) as one left-to-right
    weighted sum Σ term(x_i)·w_i with w_1 = (1−α)^(n−1) and
    w_i = α·(1−α)^(n−i): the recursion would serialize the series and
    resist SQL replay, the fold is an ordinary list lambda."""
    a, d = float(alpha), 1.0 - float(alpha)

    def fold(l):
        n = F.size(l)
        return F.aggregate(
            F.transform(
                l,
                lambda x, i: term(x)
                * F.when(i == 0, F.pow(F.lit(d), (n - 1).cast("double")))
                .otherwise(
                    F.lit(a) * F.pow(F.lit(d), (n - 1 - i).cast("double"))
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return fold


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    prefix: str = "asof_",
) -> DataFrame:
    """For every left row, attach ``payload`` from the LATEST right row
    with ``right_ts <= left_ts`` on the same ``key`` (backward as-of
    join, inclusive — DuckDB/pandas ``merge_asof`` default semantics).
    Left rows with no earlier right row get NULLs.

    DETERMINISM CONTRACT: (key, right_ts) must be unique on the right —
    pre-dedupe with ``latest_view``/``row_number`` if it is not; with
    duplicates the winner would depend on sort stability.

    Implementation: tag and union both sides, then one window pass per
    payload column — ``last(col, ignorenulls=True)`` over
    (partitionBy key, orderBy ts, side) with side ordering right-first
    so an exactly-equal timestamp is visible to the left row (<=, not <).
    """
    lcols = left.columns
    out_names = [f"{prefix}{c}" for c in payload]
    l_tagged = left.select(
        F.col(key).alias("_ak"),
        F.col(left_ts).cast("timestamp").alias("_ats"),
        F.lit(1).alias("_aside"),
        *[F.col(c) for c in lcols],
        *[F.lit(None).cast(right.schema[c].dataType).alias(n)
          for c, n in zip(payload, out_names)],
    )
    r_tagged = right.select(
        F.col(key).alias("_ak"),
        F.col(right_ts).cast("timestamp").alias("_ats"),
        F.lit(0).alias("_aside"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
        *[F.col(c).alias(n) for c, n in zip(payload, out_names)],
    )
    w = (
        Window.partitionBy("_ak")
        .orderBy(F.col("_ats"), F.col("_aside"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tagged.unionByName(r_tagged)
    for n in out_names:
        filled = filled.withColumn(n, F.last(n, ignorenulls=True).over(w))
    return filled.filter(F.col("_aside") == 1).select(*lcols, *out_names)


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
    out_col: str = "session_seq",
) -> DataFrame:
    """Batch gap-based sessionization: rows of the same ``key_col``
    whose timestamps are within ``gap_minutes`` of the previous row
    share a session; a longer silence starts a new one. Adds
    ``out_col`` = the per-key session ordinal (1-based) — the batch
    twin of Structured Streaming's ``session_window``.

    Plan: ONE window pass partitioned by the key (boundary flag via
    ``lag``, then a running sum over the same window spec — Spark plans
    both over a single sort within hash-partitioned keys; no global
    sort, no second shuffle). The gap comparison is integer microsecond
    arithmetic, exact in any engine. ``tiebreak_col`` makes equal-ts
    rows deterministic.
    """
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    gap_us = F.lit(gap_minutes * 60_000_000)
    prev = F.lag(F.col(ts_col)).over(w)
    new_sess = (
        prev.isNull()
        | ((F.unix_micros(F.col(ts_col)) - F.unix_micros(prev)) > gap_us)
    ).cast("int")
    return df.withColumn(
        out_col,
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def range_join_bands(
    fact: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Attach band attributes where ``lo <= value < hi`` (left join).

    ``bands`` must be small (a classification table — quality tiers,
    price bands, length buckets): it is broadcast, so the fact side
    streams through a BroadcastNestedLoopJoin with zero shuffle. For a
    LARGE range side, pre-bucket both sides to a common grid and
    equi-join on the bucket instead — not this operator's job.
    """
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return fact.join(F.broadcast(bands), cond, "left")


def window_funnel(
    df: DataFrame,
    steps: list[str],
    window_micros: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """ClickHouse ``windowFunnel`` analog: per user, the deepest funnel
    step reached by a chain of events matching ``steps`` in order, with
    every chain event inside ``window_micros`` of the chain's FIRST
    event. Chain order is strict in (ts, type) lexicographic order (the
    deterministic tie rule — for distinct timestamps this is plain
    time order).

    One aggregate per user, then a linear Catalyst fold (F.aggregate)
    over the time-sorted event structs — no window function, no
    self-join per step, no Python. DP state: for each depth k, the
    LATEST feasible anchor (first-step ts) among chains reaching k —
    the extension test depends only on the anchor, so max-anchor
    dominates and one array<long> of length |steps| is the whole state.
    Reached depths form a prefix, so depth = count of non-null slots.
    Per-user event lists are collected (bounded by per-user activity,
    the same contract as sessionize/journeys); the fold is O(events ×
    steps)."""
    n = len(steps)
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros(F.col(ts_col)).alias("t"),
                F.col(type_col).alias("y"),
            )
        )
    )

    def advance(acc, e):
        outs = []
        for k, st in enumerate(steps):
            cur = F.element_at(acc, k + 1)
            cond = e["y"] == F.lit(st)
            if k == 0:
                cand = e["t"]
            else:
                prev = F.element_at(acc, k)
                cond = (
                    cond
                    & prev.isNotNull()
                    & (e["t"] - prev <= F.lit(window_micros))
                )
                cand = prev
            outs.append(
                F.when(
                    cond,
                    F.greatest(F.coalesce(cur, F.lit(-(2**62))), cand),
                ).otherwise(cur)
            )
        return F.array(*outs)

    init = F.array(*[F.lit(None).cast("long") for _ in range(n)])
    state = F.aggregate(seq, init, advance)
    return df.groupBy(user_col).agg(
        F.size(F.filter(state, lambda x: x.isNotNull())).alias("funnel_depth")
    )


def sequence_match(
    df: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    max_gap_micros: int | None = None,
) -> DataFrame:
    """ClickHouse ``sequenceMatch('(?1).*(?2).*(?3)')`` +
    ``sequenceCount`` analog with EXACT semantics: per user, does the
    time-ordered event stream contain ``steps`` as a subsequence with
    each step within ``max_gap_micros`` of the previous matched step
    (the ``(?t<=N)`` condition), and the MAXIMAL number of disjoint
    (non-overlapping) such matches.

    Both answers come from one linear Catalyst fold over the
    time-sorted per-user step events — no backtracking needed:

    - Existence uses the max-anchor DP (the ``window_funnel`` trick):
      state slot k holds the LATEST timestamp of a step-k event that
      completes a gap-feasible chain of steps 1..k. A later anchor is
      always at least as permissive for the next gap test, so max
      dominates and the DP is exact.
    - Count uses greedy earliest-completion with restart: the fold
      fires at the first event where a full chain becomes feasible,
      increments, clears the state, and continues — the classic
      interval-scheduling exchange argument makes earliest-completion
      restart optimal for the disjoint-match count, so the count is
      exact too (matched ≡ n_matches >= 1).

    Shape: events not matching any step are filtered BEFORE the
    per-user collect (at 100 TB the pattern alphabet is usually a tiny
    slice of the stream), then ONE shuffle groups each user's step
    events and the fold runs entirely in codegen — no window function,
    no per-step self-join, no Python. Per-user step-event lists are
    bounded by per-user activity, the same contract as
    ``window_funnel``/``sessionize``. Returns (user, matched boolean,
    n_matches int); users with zero step events are absent (the filter
    precedes the group).
    """
    n = len(steps)
    step_expr = F.lit(0)
    for i, st in enumerate(reversed(steps)):
        step_expr = F.when(
            F.col(type_col) == F.lit(st), F.lit(len(steps) - i)
        ).otherwise(step_expr)
    evs = df.select(
        F.col(user_col),
        F.unix_micros(F.col(ts_col)).alias("_t"),
        step_expr.alias("_k"),
    ).filter(F.col("_k") > 0)
    seq = F.array_sort(
        F.collect_list(F.struct(F.col("_t").alias("t"), F.col("_k").alias("k")))
    )
    null_slots = [F.lit(None).cast("long") for _ in range(n)]
    init = F.struct(
        F.array(*null_slots).alias("a"), F.lit(0).alias("c")
    )

    def feasible(acc, e, k):
        """Can event e (known to be step k) extend a chain of 1..k-1?"""
        if k == 1:
            return F.lit(True)
        prev = F.element_at(acc["a"], k - 1)
        ok = prev.isNotNull()
        if max_gap_micros is not None:
            ok = ok & (e["t"] - prev <= F.lit(max_gap_micros))
        return ok

    def advance(acc, e):
        complete = (e["k"] == F.lit(n)) & feasible(acc, e, n)
        slots = []
        for j in range(1, n + 1):
            # ts are sorted ascending and unique per user, so a slot
            # update is always the max — plain overwrite suffices.
            slots.append(
                F.when(
                    (e["k"] == F.lit(j)) & feasible(acc, e, j), e["t"]
                ).otherwise(F.element_at(acc["a"], j))
            )
        return F.struct(
            F.when(complete, F.array(*null_slots))
            .otherwise(F.array(*slots))
            .alias("a"),
            F.when(complete, acc["c"] + 1).otherwise(acc["c"]).alias("c"),
        )

    state = F.aggregate(seq, init, advance)
    return (
        evs.groupBy(user_col)
        .agg(state.alias("_st"))
        .select(
            user_col,
            (F.col("_st.c") >= 1).alias("matched"),
            F.col("_st.c").cast("int").alias("n_matches"),
        )
    )


def retention(
    df: DataFrame,
    conds: Sequence[Column],
    user_col: str = "user_id",
) -> DataFrame:
    """ClickHouse ``retention`` analog: per user, r1 = condition 1 ever
    held (the cohort anchor — e.g. "signed up in week 0") and
    rk = r1 AND condition k ever held ("…and came back in week k").
    Downstream, `sum(rk)/sum(r1)` per cohort is the retention curve.
    One aggregate, conditional max per condition — partial-aggregated,
    no windows, no joins."""
    aggs = [
        F.max(F.when(c, F.lit(1)).otherwise(F.lit(0))).alias(f"_c{i}")
        for i, c in enumerate(conds)
    ]
    got = df.groupBy(user_col).agg(*aggs)
    first = F.col("_c0") == 1
    return got.select(
        user_col,
        first.alias("r1"),
        *[
            (first & (F.col(f"_c{i}") == 1)).alias(f"r{i + 1}")
            for i in range(1, len(conds))
        ],
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    step: str = "1 hour",
    unit: str = "hour",
) -> DataFrame:
    """Regularize an irregular event stream onto a fixed time grid with
    forward fill (TimescaleDB ``time_bucket_gapfill`` + ``locf``,
    ClickHouse ``WITH FILL`` analog) → one row per (key, bucket) between
    each key's first and last event: ``n_events`` (0 on gap buckets),
    ``val`` = the bucket's aggregate carried forward over gaps, and
    ``is_gap``.

    Shape at scale: the per-bucket aggregate is one hash aggregation of
    the raw stream (map-side partial); the dense grid is GENERATED, not
    joined from a calendar table — ``sequence()`` explodes per key from
    a 2-row-per-key bounds aggregate, so grid size is output-sized, not
    input-sized. The gap join is keyed on (key, bucket) and the forward
    fill is one ``last(ignorenulls)`` running window inside each key's
    sorted partition — the same single-shuffle formulation as
    ``asof_join`` above. Everything is codegen'd; nothing is collected.
    """
    bucket = F.date_trunc(unit, F.col(ts_col))
    agg = (
        df.groupBy(F.col(key_col).alias("key"), bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 6).alias("_val"),
        )
    )
    spine = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.min(bucket).alias("_lo"),
            F.max(bucket).alias("_hi"),
        )
        .select(
            "key",
            F.explode(
                F.sequence("_lo", "_hi", F.expr(f"INTERVAL {step}"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(agg, ["key", "bucket"], "left")
        .select(
            "key",
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("_val", ignorenulls=True).over(w).alias("val"),
            F.col("_val").isNull().cast("int").alias("is_gap"),
        )
    )


def proximity_join_binned(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    tolerance_us: int = 300_000_000,
    left_prefix: str = "l_",
    right_prefix: str = "r_",
) -> DataFrame:
    """Large×large time-proximity join: all (left, right) pairs with
    ``|ts_l - ts_r| <= tolerance`` — when NEITHER side fits in a
    broadcast, so ``range_join_bands``'s BroadcastNestedLoop shape (and
    a raw theta join, which Spark can only execute as a nested-loop
    cartesian) is off the table.

    The scalable shape is bucketize-and-verify: bucket width = the
    tolerance, the left side is exploded to its bucket and both
    neighbors (any qualifying pair is then guaranteed to share a
    bucket — pigeonhole on ``floor(ts/tol)``), the join is a plain
    EQUI-join on the bucket key (hash-partitioned, AQE-skew-splittable),
    and the exact ``|Δts| <= tol`` predicate prunes the candidates.
    Cost: 3× duplication of the smaller-exploded side versus an
    unbounded quadratic nested loop.

    Returns all left columns prefixed ``left_prefix``, right columns
    prefixed ``right_prefix``, plus ``delta_us``.
    """
    lcols = [
        F.col(c).alias(f"{left_prefix}{c}") for c in left.columns
    ]
    rcols = [
        F.col(c).alias(f"{right_prefix}{c}") for c in right.columns
    ]
    lt = f"{left_prefix}{ts_col}"
    rt = f"{right_prefix}{ts_col}"
    tol = F.lit(int(tolerance_us))
    l = left.select(*lcols).withColumn(
        "_bucket",
        F.explode(
            F.array(
                F.floor(F.unix_micros(F.col(lt)) / tol) - 1,
                F.floor(F.unix_micros(F.col(lt)) / tol),
                F.floor(F.unix_micros(F.col(lt)) / tol) + 1,
            )
        ),
    )
    r = right.select(*rcols).withColumn(
        "_bucket", F.floor(F.unix_micros(F.col(rt)) / tol)
    )
    return (
        l.join(r, "_bucket")
        .withColumn(
            "delta_us", F.unix_micros(F.col(lt)) - F.unix_micros(F.col(rt))
        )
        .filter(F.abs(F.col("delta_us")) <= tol)
        .drop("_bucket")
    )


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "6 hours",
) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (key, time-bucket) →
    (open, high, low, close, volume, sum_value). Open/close are the
    value at the first/last observation in the bar, ordered by
    (ts, tiebreak) so simultaneous observations resolve
    deterministically.

    One partial-aggregated groupBy — min_by/max_by over a (ts, tie)
    struct make open/close ordinary decomposable aggregates, so the
    whole bar computes map-side first and each group ships ONE partial
    row per task. The window-function formulation (first_value over a
    sorted partition) would sort every bar's rows; this never sorts at
    all. At 100 TB: bars aggregate tick-level facts 1000:1 or better
    before the one shuffle."""
    tie = F.struct(F.col(ts_col), F.col(tiebreak_col))
    return (
        df.groupBy(F.col(key_col), F.window(F.col(ts_col), bar).alias("_bar"))
        .agg(
            F.min_by(F.col(value_col), tie).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(F.col(value_col), tie).alias("close"),
            F.count(F.lit(1)).alias("volume"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            key_col,
            F.col("_bar.start").alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "sum_value",
        )
    )


def ewma_smooth(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float = 0.3,
    lookback: int = 5,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Bounded-window exponential moving average per key (ClickHouse
    ``exponentialMovingAverage`` analog, window-bounded so state and
    replay cost are fixed): for each row, the normalized decayed mean
    of the last ``lookback`` non-NULL values in (ts, tiebreak) order —
    smoothed = Σ (1−α)^age · x / Σ (1−α)^age, age 0 at the current row.

    Plan: ONE keyed window pass collecting the ≤ lookback-element
    trailing frame, then a JVM-side HOF fold over it (``let_bind``
    keeps the frame list evaluated once — HOF lambdas are INTERPRETED
    expressions, outside both codegen and common-subexpression
    elimination, which the bounded frame makes affordable). No
    self-joins, no Python; the
    fold order is left-to-right over the frame, bit-replayable by an
    ANSI engine with list lambdas. NULL values are excluded before the
    frame so decay ages refer to observed points."""
    decay = 1.0 - alpha
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = (
        Window.partitionBy(F.col(key_col))
        .orderBy(*order)
        .rowsBetween(-(lookback - 1), 0)
    )
    frame = F.collect_list(F.col(value_col)).over(w)

    def fold(l):
        n = F.size(l)
        weighted = F.aggregate(
            F.transform(
                l,
                lambda x, i: x.cast("double")
                * F.pow(F.lit(decay), (n - 1 - i).cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        weights = F.aggregate(
            F.transform(
                l,
                lambda x, i: F.pow(F.lit(decay), (n - 1 - i).cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.round(weighted / weights, 6)

    return df.filter(F.col(value_col).isNotNull()).select(
        key_col,
        ts_col,
        *( [tiebreak_col] if tiebreak_col else [] ),
        let_bind(frame, fold).alias("smoothed"),
    )


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    kappa: float = 0.5,
    h: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM control chart over a bucketed series per key →
    (key, bucket_ts, xbar, s_hi, s_lo, signal).

    The textbook recursion S⁺_t = max(0, S⁺_{t-1} + (x_t − μ − κσ))
    has the closed form S⁺_i = P_i − min(0, min_{j≤i} P_j) where
    P is the prefix sum of the drift-adjusted deviations — so both
    one-sided charts compile to a window cumulative sum plus a
    running min/max over the SAME keyed window order: no recursion,
    no collected arrays, no Python. Values are standardized by the
    per-key mean/stddev of the bucketed series (one extra agg+join),
    κ and h are in σ units (classic κ=0.5, h=4 detects ~1σ shifts).

    Scale shape: the time_window bucketing agg is decomposable (one
    shuffle, map-side partials); the window pass state is one running
    (sum, min, max) per key. Bucket-mean standardization bounds the
    windowed series at periods × keys regardless of raw event volume.
    """
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(value_col).alias("xbar"))
        .select("key", F.col("_w.start").alias("bucket_ts"), "xbar")
    )
    stats = b.groupBy("key").agg(
        F.avg("xbar").alias("_mu"),
        F.stddev_samp("xbar").alias("_sigma"),
    )
    z = b.join(stats, "key").withColumn(
        "_z",
        F.when(
            F.col("_sigma") > 0, (F.col("xbar") - F.col("_mu")) / F.col("_sigma")
        ).otherwise(F.lit(0.0)),
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefixed = z.select(
        "key",
        "bucket_ts",
        "xbar",
        F.sum(F.col("_z") - F.lit(kappa)).over(w).alias("_p_hi"),
        F.sum(-F.col("_z") - F.lit(kappa)).over(w).alias("_p_lo"),
    )
    # same partitioning and order → Catalyst fuses both passes into
    # ONE Window node (no second shuffle or sort)
    out = prefixed.select(
        "key",
        "bucket_ts",
        F.round("xbar", 6).alias("xbar"),
        F.round(
            F.col("_p_hi")
            - F.least(F.lit(0.0), F.min("_p_hi").over(w)),
            6,
        ).alias("s_hi"),
        F.round(
            F.col("_p_lo")
            - F.least(F.lit(0.0), F.min("_p_lo").over(w)),
            6,
        ).alias("s_lo"),
    )
    return out.withColumn(
        "signal", (F.col("s_hi") > h) | (F.col("s_lo") > h)
    )


def holt_forecast(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    alpha: float = 0.5,
    beta: float = 0.25,
    horizon: int = 7,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing per key over a
    bucketed series → (key, n_buckets, level, trend, forecast): the
    double-smoothing recursion l' = αx + (1−α)(l+b), b' = β(l'−l) +
    (1−β)b, initialized l₁ = x₁, b₁ = 0, forecast = level +
    horizon·trend. The two-parameter workhorse for short-range
    capacity/volume forecasting where EWMA lags any trend.

    The recursion is inherently sequential, so it runs as ONE codegen
    higher-order fold over the per-key bucket series (bounded at
    periods × keys by the same bucketing argument as the CUSUM chart
    — the raw event volume never enters the fold). The fold's
    floating-point operations are written identically in the SQL
    oracle (b' expanded before l' substitution), so the replay is
    bit-deterministic, and α/β default to binary-exact constants.
    """
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(value_col).alias("xbar"))
        .select("key", F.col("_w.start").alias("bucket_ts"), "xbar")
    )
    series = b.groupBy("key").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket_ts", "xbar"))),
            lambda s: s["xbar"],
        ).alias("xs")
    )
    a, bt = float(alpha), float(beta)
    init = F.named_struct(
        F.lit("l"), F.element_at(F.col("xs"), 1).cast("double"),
        F.lit("b"), F.lit(0.0),
    )

    def step(acc, x):
        l_new = a * x + (1.0 - a) * (acc["l"] + acc["b"])
        b_new = (
            bt * ((a * x + (1.0 - a) * (acc["l"] + acc["b"])) - acc["l"])
            + (1.0 - bt) * acc["b"]
        )
        return F.named_struct(F.lit("l"), l_new, F.lit("b"), b_new)

    folded = series.select(
        "key",
        F.size("xs").alias("n_buckets"),
        F.aggregate(
            F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            init,
            step,
        ).alias("_st"),
    )
    return folded.select(
        "key",
        "n_buckets",
        F.round(F.col("_st.l"), 6).alias("level"),
        F.round(F.col("_st.b"), 6).alias("trend"),
        F.round(F.col("_st.l") + horizon * F.col("_st.b"), 6).alias(
            "forecast"
        ),
    )


def range_join_grid(
    fact: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    cell: float = 1.0,
) -> DataFrame:
    """Attach range attributes where ``lo <= value < hi`` when the
    range side is TOO LARGE to broadcast — the scale path
    ``range_join_bands`` explicitly declines.

    Both sides key to a common grid: each range explodes to the cells
    it overlaps (⌈span/cell⌉ rows — pick ``cell`` near the typical
    span so the blow-up is a small constant), each fact row keys to
    exactly one cell, and the match becomes a hash equi-join on the
    cell plus the exact residual predicate. No broadcast, no
    BroadcastNestedLoopJoin, no n×m: the shuffle is keyed and the
    per-cell fan-out is bounded by range density per cell — the same
    argument as the geo grid join. Left-join semantics: fact rows
    matching no range come back once with NULL attributes (an
    anti-join over the same hash-keyed condition — a second keyed
    pass, still no broadcast)."""
    span_cells = F.sequence(
        F.floor(F.col(lo_col) / cell).cast("long"),
        # hi is EXCLUSIVE: a range ending exactly on a cell boundary
        # does not reach into that cell
        F.ceil(F.col(hi_col) / cell).cast("long") - 1,
    )
    celled = ranges.withColumn("_cell", F.explode(span_cells))
    keyed = fact.withColumn(
        "_cell", F.floor(F.col(value_col) / cell).cast("long")
    )
    cond = (
        (F.col("_f._cell") == F.col("_r._cell"))
        & (F.col(value_col) >= F.col(lo_col))
        & (F.col(value_col) < F.col(hi_col))
    )
    fk, rk = keyed.alias("_f"), celled.alias("_r")
    matched = fk.join(rk, cond).select(
        *[F.col(f"_f.{c}") for c in fact.columns],
        *[F.col(f"_r.{c}") for c in ranges.columns],
    )
    missed = fk.join(rk, cond, "left_anti").select(
        *[F.col(f"_f.{c}") for c in fact.columns],
        *[
            F.lit(None).cast(ranges.schema[c].dataType).alias(c)
            for c in ranges.columns
        ],
    )
    return matched.unionByName(missed)


def acf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function per key over a bucketed series →
    (key, lag, acf) for lags 1..max_lag: r_l = Σ(x_t−x̄)(x_{t+l}−x̄) /
    Σ(x_t−x̄)² (the standard biased estimator — denominator is the
    full-series sum of squares, so r is a proper correlogram that
    decays with lag). The first diagnostic anyone runs on a metric
    series: seasonality shows as spikes at the period.

    One bucketing agg, one keyed window pass producing all max_lag
    lag columns over the SAME window spec (Catalyst fuses them into
    one sort), one stack + aggregation. Series length is bounded at
    periods × keys; nothing global."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(value_col).alias("xbar"))
        .select("key", F.col("_w.start").alias("bucket_ts"), "xbar")
    )
    # center with a join (window-inside-aggregate is illegal);
    # denominator comes from the same centered column
    mu = b.groupBy("key").agg(F.avg("xbar").alias("_mu"))
    c = b.join(mu, "key").withColumn("_c", F.col("xbar") - F.col("_mu"))
    w = Window.partitionBy("key").orderBy("bucket_ts")
    lagged = c.select(
        "key",
        "_c",
        *[F.lag("_c", l).over(w).alias(f"_l{l}") for l in range(1, max_lag + 1)],
    )
    den = lagged.groupBy("key").agg(
        F.sum(F.col("_c") * F.col("_c")).alias("_den")
    )
    pairs = None
    for l in range(1, max_lag + 1):
        part = (
            lagged.filter(F.col(f"_l{l}").isNotNull())
            .groupBy("key")
            .agg(F.sum(F.col("_c") * F.col(f"_l{l}")).alias("_num"))
            .withColumn("lag", F.lit(l))
        )
        pairs = part if pairs is None else pairs.unionByName(part)
    return (
        pairs.join(den, "key")
        .select(
            "key",
            "lag",
            # a constant series has no autocorrelation: NULL
            F.round(
                F.when(F.col("_den") > 0, F.col("_num") / F.col("_den")), 6
            ).alias("acf"),
        )
    )


def page_hinkley(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    delta: float = 0.0,
    lam: float = 50.0,
) -> DataFrame:
    """Page–Hinkley mean-shift drift detector per key over a bucketed
    series → (key, bucket_ts, xbar, ph, alarm): the sequential
    companion to the two-window drift tests (``ks_test``,
    ``psi_drift``) — instead of comparing two fixed halves it tracks
    m_t = Σ_{i≤t}(x_i − x̄_i − δ) against its running minimum, where
    x̄_i is the EXPANDING mean up to i; PH_t = m_t − min_{i≤t} m_i
    fires when the recent mean has risen by more than δ for long
    enough to accumulate λ of excess. The standard streaming
    changepoint test (Page 1954), here over the bucketed batch series
    so the full alarm trace is replayable.

    One bucketing aggregate then THREE stacked scans over one keyed
    window order (expanding mean → cumulative deviation → running
    min) — Catalyst fuses them into a single sort per key; series
    length is calendar-bounded."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(value_col).alias("xbar"))
        .select("key", F.col("_w.start").alias("bucket_ts"), "xbar")
    )
    w = Window.partitionBy("key").orderBy("bucket_ts")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    expanded = b.withColumn("_mbar", F.avg("xbar").over(cum))
    dev = expanded.withColumn(
        "_dev", F.col("xbar") - F.col("_mbar") - F.lit(delta)
    )
    m = dev.withColumn("_m", F.sum("_dev").over(cum))
    ph = m.withColumn("_ph", F.col("_m") - F.min("_m").over(cum))
    return ph.select(
        "key",
        "bucket_ts",
        F.round("xbar", 6).alias("xbar"),
        F.round("_ph", 6).alias("ph"),
        (F.col("_ph") > lam).alias("alarm"),
    )


def seasonal_decompose(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    period: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition per key →
    (key, bucket_ts, y, trend, seasonal, resid): trend is the centered
    ``period``-point moving average (NULL at the edges where the
    window is incomplete — no half-window bias), seasonal is the mean
    detrended value per season phase re-centered to sum to zero, and
    resid = y − trend − seasonal. The phase is POSITIONAL
    (row index mod period), not a calendar day-of-week — engines
    disagree on dow numbering, positions they can't.

    One bucketing aggregate, one keyed window pass (moving avg +
    row index share the sort), two tiny phase-level aggregates joined
    back broadcast-size (period × keys rows). Series length per key
    is calendar-bounded; nothing global."""
    half = period // 2
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(value_col).alias("y"))
        .select("key", F.col("_w.start").alias("bucket_ts"), "y")
    )
    w = Window.partitionBy("key").orderBy("bucket_ts")
    frame = w.rowsBetween(-half, half)
    t = (
        b.withColumn("_idx", F.row_number().over(w) - 1)
        .withColumn("_cnt", F.count("y").over(frame))
        .withColumn(
            "trend",
            F.when(F.col("_cnt") == period, F.avg("y").over(frame)),
        )
        .withColumn("_phase", F.col("_idx") % period)
        .withColumn("_detr", F.col("y") - F.col("trend"))
    )
    phase = t.groupBy("key", "_phase").agg(F.avg("_detr").alias("_sraw"))
    center = phase.groupBy("key").agg(F.avg("_sraw").alias("_soff"))
    season = phase.join(center, "key").select(
        "key", "_phase", (F.col("_sraw") - F.col("_soff")).alias("_seas")
    )
    return (
        t.join(F.broadcast(season), ["key", "_phase"])
        .select(
            "key",
            "bucket_ts",
            F.round("y", 6).alias("y"),
            F.round("trend", 6).alias("trend"),
            F.round("_seas", 6).alias("seasonal"),
            F.round(
                F.col("y") - F.col("trend") - F.col("_seas"), 6
            ).alias("resid"),
        )
    )


def time_decay_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tau_seconds: float = 86400.0,
) -> DataFrame:
    """Exponentially TIME-decayed aggregates per key (ClickHouse
    ``exponentialTimeDecayedSum/Count/Avg`` parity), evaluated at each
    key's latest observation → (key, ref_ts, n, decayed_count,
    decayed_sum, decayed_avg): every observation contributes weight
    exp(-Δt/τ) where Δt is the time back from the key's newest row —
    the recency-weighted rollup behind "current" quality/engagement
    scores that must discount stale signals by wall-clock age, not by
    row position (``ewma_smooth`` covers the positional form).

    Two partial-aggregated passes over the fact: max-ts per key (tiny
    result, broadcast back), then one sum pass — no window, no sort.
    Δt is computed in integer microseconds then divided once by 1e6
    and once by τ, the identical IEEE sequence any SQL engine replays.
    Decayed sums of doubles are order-sensitive in the last ulps, so
    the avg (magnitude of one value) is rounded to 6 dp and the sums
    (magnitude n·value) to 2 dp — both far above summation noise."""
    us = F.unix_micros(F.col(ts_col))
    ref = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.max(us).alias("_ref_us")
    )
    src = df.select(
        F.col(key_col).alias("_k"),
        us.alias("_us"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    wgt = F.exp(
        -((F.col("_ref_us") - F.col("_us")) / F.lit(1000000.0))
        / F.lit(float(tau_seconds))
    )
    return (
        src.join(F.broadcast(ref), "_k")
        .groupBy("_k")
        .agg(
            F.max(F.col("_ref_us")).alias("_ref"),
            F.count(F.lit(1)).alias("n"),
            F.sum(wgt).alias("_dc"),
            F.sum(F.col("_v") * wgt).alias("_ds"),
        )
        .select(
            F.col("_k").alias(key_col),
            F.timestamp_micros(F.col("_ref")).alias("ref_ts"),
            "n",
            F.round("_dc", 2).alias("decayed_count"),
            F.round("_ds", 2).alias("decayed_sum"),
            F.round(F.col("_ds") / F.col("_dc"), 6).alias("decayed_avg"),
        )
    )


def lttb_downsample(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    n_out: int = 10,
) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling per key (ClickHouse
    ``largestTriangleThreeBuckets`` parity) → the ``n_out`` points of
    each key's series that best preserve its visual shape: first and
    last point always kept, the interior split into ``n_out``−2 equal
    index buckets, and each bucket contributes the point forming the
    largest triangle with the PREVIOUSLY SELECTED point and the next
    bucket's centroid (the published LTTB greedy; Steinarsson 2013).
    Series with ≤ ``n_out`` points pass through unchanged.

    Determinism contract: the area argmax is evaluated in the
    cnt-multiplied form |(a_x·cnt − Σx)(p_y − a_y) − (a_x − p_x)
    (Σy − a_y·cnt)| — centroid division never happens, so with
    INTEGRAL x/y the whole selection is exact integer arithmetic any
    SQL engine replays bit-for-bit; ties pick the smallest x. Bucket
    assignment is pure integer index math (idx·B // M).

    Scale: the greedy is sequential per key but each key's series is
    already a BOUNDED downsampling input (you run LTTB on a bucketed
    series, not raw events), so per-key work is tiny; keys distribute
    via ``applyInArrow`` over the key hash — one shuffle, Arrow
    batches, no driver loop. Points sort by x, NULL x last."""
    out_schema = f"{key_col} string, {x_col} double, {y_col} double"

    def _one(tbl):
        x = tbl.column(x_col).to_numpy()
        num, nan = np.flatnonzero(~np.isnan(x)), np.flatnonzero(np.isnan(x))
        order = np.concatenate([num[np.argsort(x[num], kind="quicksort")], nan])
        xs = x[order].tolist()
        ys = tbl.column(y_col).to_numpy()[order].tolist()
        n = len(xs)
        if n <= n_out:
            return tbl.take(order)
        nbuckets = n_out - 2
        m = n - 2
        sel = [0]
        prev = 0
        for b in range(nbuckets):
            members = [
                 1 + j for j in range(m) if (j * nbuckets) // m == b
            ]
            if b < nbuckets - 1:
                nxt = [
                    1 + j
                    for j in range(m)
                    if (j * nbuckets) // m == b + 1
                ]
                cnt = float(len(nxt))
                sx = sum(xs[j] for j in nxt)
                sy = sum(ys[j] for j in nxt)
            else:
                cnt = 1.0
                sx = xs[n - 1]
                sy = ys[n - 1]
            ax, ay = xs[prev], ys[prev]
            best = members[0]
            best_area = -1.0
            for p in members:
                area = abs(
                    (ax * cnt - sx) * (ys[p] - ay)
                    - (ax - xs[p]) * (sy - ay * cnt)
                )
                if area > best_area:
                    best_area = area
                    best = p
            sel.append(best)
            prev = best
        sel.append(n - 1)
        return tbl.take(order[sel])

    src = df.select(
        F.col(key_col).cast("string").alias(key_col),
        F.col(x_col).cast("double").alias(x_col),
        F.col(y_col).cast("double").alias(y_col),
    )
    return apply_groups(src.groupBy(key_col), _one, out_schema)


def sequence_next_node(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    chain: "Sequence[str]",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """ClickHouse ``sequenceNextNode`` analog: per user, find the
    FIRST run of ADJACENT events matching ``chain`` (in (ts, tiebreak)
    order) and return the event type that follows it → (user, next_
    event, match_pos); ``next_event`` is NULL when the chain ends the
    user's history. The "what do users do after view→click" question.

    One keyed window pass: len(chain) ``lead`` columns mark the match
    positions (pure codegen), ``min`` over the match positions picks
    the first, and a self-equijoin on (user, pos) — against the tiny
    per-user match row — retrieves the follower. No cross joins, no
    per-user state beyond the window sort."""
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = Window.partitionBy(F.col(user_col)).orderBy(*order)
    t = df.select(
        F.col(user_col).alias("_u"),
        F.col(type_col).alias("_t"),
        F.row_number().over(w).alias("_pos"),
        *[
            F.lead(F.col(type_col), i).over(w).alias(f"_l{i}")
            for i in range(1, len(chain) + 1)
        ],
    )
    match = (F.col("_t") == chain[0])
    for i, c in enumerate(chain[1:], start=1):
        match = match & (F.col(f"_l{i}") == c)
    firsts = (
        t.filter(match)
        .groupBy("_u")
        .agg(F.min("_pos").alias("_mpos"))
        .select(F.col("_u").alias("_fu"), "_mpos")
    )
    return (
        t.join(
            firsts,
            (F.col("_u") == F.col("_fu"))
            & (F.col("_pos") == F.col("_mpos")),
        )
        .select(
            F.col("_u").alias(user_col),
            F.col(f"_l{len(chain)}").alias("next_event"),
            F.col("_mpos").alias("match_pos"),
        )
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort-retention matrix → (cohort_week, offset_weeks,
    active_users, cohort_size, retention_rate): users are cohorted by
    the week of their FIRST event; each later active week counts them
    at offset = (active week − cohort week)/7. The standard product-
    analytics triangle; offset 0 rate is 1.0 by construction.

    Two partial-aggregated passes (first-event per user, then distinct
    user-weeks) + one broadcast of cohort sizes — the fact table
    shuffles on the user key once; the matrix itself is
    weeks × offsets, dashboard-sized."""
    wk = F.date_trunc("week", F.col(ts_col))
    first = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(wk).alias("_cohort")
    )
    active = df.select(
        F.col(user_col).alias("_u"), wk.alias("_wk")
    ).distinct()
    sizes = first.groupBy("_cohort").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    joined = active.join(first, "_u").select(
        "_cohort",
        (
            F.datediff(F.col("_wk"), F.col("_cohort")) / 7
        ).cast("long").alias("offset_weeks"),
        "_u",
    )
    return (
        joined.groupBy("_cohort", "offset_weeks")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(sizes), "_cohort")
        .select(
            F.col("_cohort").alias("cohort_week"),
            "offset_weeks",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention_rate"),
        )
    )


def touch_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    touch_types: "Sequence[str]",
    conversion_type: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First/last-touch conversion attribution → one row per
    (first_touch, last_touch) pair with the conversion count: every
    ``conversion_type`` event is credited to the FIRST and the LAST
    preceding ``touch_types`` event in the user's strictly-prior
    history (NULL when the user converts untouched). The marketing
    question "which touch opened the journey and which closed it".

    ONE keyed window pass: first/last touch ride as
    ``first/last(…, ignorenulls)`` over the UNBOUNDED-to-1-PRECEDING
    frame (codegen window, no self-join against the touch history),
    then a conversions-only aggregate."""
    order = [F.col(ts_col)]
    if tiebreak_col:
        order.append(F.col(tiebreak_col))
    w = (
        Window.partitionBy(F.col(user_col))
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col(type_col).isin(*touch_types), F.col(type_col)
    )
    t = df.select(
        F.col(type_col).alias("_t"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    return (
        t.filter(F.col("_t") == conversion_type)
        .groupBy("first_touch", "last_touch")
        .agg(F.count(F.lit(1)).alias("conversions"))
    )


def rolling_corr(
    df: DataFrame,
    ts_col: str,
    x_col: str,
    y_col: str,
    window_rows: int = 7,
    part_cols: "Sequence[str]" = (),
) -> DataFrame:
    """Trailing-window Pearson correlation between two series →
    original rows + (n_window, roll_corr): the do-these-metrics-move-
    together monitor (e.g. purchases vs views over the trailing week).

    Numerical contract: both inputs are CENTERED first by their
    per-part mean ROUNDED to 6 dp — a constant both engines subtract
    identically — so the windowed moments run on small-magnitude
    values and the classic sum-of-products formula never hits
    catastrophic cancellation (corr is shift-invariant, so results
    are unchanged). One keyed window pass collects each frame's
    ≤ ``window_rows`` pairs; output rounded to 6 dp.

    The frame's correlation is Spark's own ``corr`` update (running
    means, co-moment C, moments Mx and My) replayed as a fold over the
    collected pairs — the same IEEE operations in the same order, so
    the value is ``corr``'s to the bit — with its final C/√(Mx·My)
    guarded: a frame where one column is constant has no correlation
    and reads NULL, where the ``corr`` window function kills the query
    with an ANSI divide-by-zero."""
    pc = list(part_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    means = df.groupBy(*pc).agg(
        F.round(F.avg(x), 6).alias("_mx"),
        F.round(F.avg(y), 6).alias("_my"),
    )
    base = (
        df.join(F.broadcast(means), pc)
        if pc
        else df.crossJoin(F.broadcast(means))
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in pc])
        .orderBy(F.col(ts_col))
        .rowsBetween(-(window_rows - 1), 0)
    )
    pairs = F.collect_list(
        F.struct((x - F.col("_mx")).alias("x"), (y - F.col("_my")).alias("y"))
    ).over(w)
    zero = F.lit(0.0)
    init = F.struct(
        *(zero.alias(f) for f in ("n", "xa", "ya", "ck", "xm", "ym"))
    )

    def update(s, e):
        n = s["n"] + 1.0
        dx, dy = e["x"] - s["xa"], e["y"] - s["ya"]
        xa, ya = s["xa"] + dx / n, s["ya"] + dy / n
        return F.when(e["x"].isNull() | e["y"].isNull(), s).otherwise(
            F.struct(
                n.alias("n"), xa.alias("xa"), ya.alias("ya"),
                (s["ck"] + dx * (e["y"] - ya)).alias("ck"),
                (s["xm"] + dx * (e["x"] - xa)).alias("xm"),
                (s["ym"] + dy * (e["y"] - ya)).alias("ym"),
            )
        )

    def corr(s):
        den = s["xm"] * s["ym"]
        return F.when(den > 0, s["ck"] / F.sqrt(den))

    return base.select(
        *pc,
        ts_col,
        x_col,
        y_col,
        F.count(F.lit(1)).over(w).alias("n_window"),
        F.round(F.aggregate(pairs, init, update, corr), 6).alias("roll_corr"),
    )


_SPARKBAR_BLOCKS = "▁▂▃▄▅▆▇█"


def sparkbar(
    df: DataFrame,
    key_col: str,
    slot_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """ClickHouse ``sparkbar`` analog: per key, render the slot
    histogram as a string of 8-level block characters → (key, n_slots,
    bar) — the dashboard-in-a-string trick for eyeballing activity
    shape in a terminal or a SQL client. Level is pure integer arithmetic
    ``cnt·7 // max_cnt`` (no float scaling to disagree over) and the
    glyph comes from an 8-element lookup array, so the rendered string
    is byte-identical on every engine.

    One partial-aggregated (key, slot) count, per-key max as a window
    over the SLOT table (slots × keys rows, dashboard-sized), ordered
    assembly via sort-then-join of the collected array — no ordered
    string_agg dependence."""
    w = F.lit(1) if weight_col is None else F.col(weight_col)
    cells = df.groupBy(
        F.col(key_col).alias("k"), F.col(slot_col).alias("slot")
    ).agg(F.sum(w).cast("long").alias("cnt"))
    wk = Window.partitionBy("k")
    lvl = (F.col("cnt") * 7).cast("long") / F.max("cnt").over(wk)
    blocks = F.array(*[F.lit(c) for c in _SPARKBAR_BLOCKS])
    glyph = F.element_at(blocks, F.floor(lvl).cast("int") + 1)
    return (
        cells.select("k", "slot", glyph.alias("g"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("slot", "g"))
                    ),
                    lambda s: s.getField("g"),
                ),
                "",
            ).alias("bar"),
        )
        .select(F.col("k").alias(key_col), "n_slots", "bar")
    )


def markov_transitions(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix of within-session event
    flows → (from_type, to_type, n, p): adjacent event pairs inside
    each gap-based session, counted and row-normalized per source
    state. The "where do users go next" model behind path sankeys and
    next-action prediction baselines.

    ONE keyed window pass: ``sessionize``'s running session ordinal
    and the ``lead`` successor come off the same (user, ts, tiebreak)
    sort; cross-session boundaries drop because the successor's
    session ordinal differs. Probabilities divide by a window sum
    over the |states|² transition table — dashboard-sized."""
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(F.col(user_col)).orderBy(*order)
    sess = sessionize(
        df, user_col, ts_col, gap_minutes=gap_minutes,
        tiebreak_col=tiebreak_col, out_col="_sess",
    )
    pairs = sess.select(
        F.col(type_col).alias("from_type"),
        F.lead(F.col(type_col)).over(w).alias("to_type"),
        (F.lead(F.col("_sess")).over(w) == F.col("_sess")).alias("_ok"),
    ).filter(F.col("_ok") & F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n") / F.sum("n").over(wf).cast("double"), 6
        ).alias("p"),
    )


# -- ClickHouse-parity interval / delta aggregates -------------------------

def delta_sum(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """ClickHouse ``deltaSum`` / ``runningDifference`` rollup per key
    → (key…, n, delta_sum, neg_delta_sum, net): the sum of positive
    adjacent differences (monotone-counter resets ignored), the sum of
    drops, and last−first. Deltas are quantized onto the 2^-20 grid
    (exact power-of-two multiply) so the sums are exact integers —
    order-independent across engines.

    One keyed window pass (lag + row_number over the same sort —
    Catalyst fuses them into a single sort) + one aggregate."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    v = F.col(value_col).cast("double")
    d = v - F.lag(v).over(w)
    rn = F.row_number().over(w)
    rows = df.select(
        F.col(key_col).alias("key"),
        v.alias("_v"),
        d.alias("_d"),
        rn.alias("_rn"),
        F.count("*").over(Window.partitionBy(key_col)).alias("_n"),
    )
    return rows.groupBy("key").agg(
        F.count("*").alias("n"),
        grid_sum(
            F.when(F.col("_d") > 0, F.col("_d")).otherwise(F.lit(0))
        ).alias("delta_sum"),
        grid_sum(
            F.when(F.col("_d") < 0, -F.col("_d")).otherwise(F.lit(0))
        ).alias("neg_delta_sum"),
        F.round(
            F.max(F.when(F.col("_rn") == F.col("_n"), F.col("_v")))
            - F.max(F.when(F.col("_rn") == 1, F.col("_v"))),
            6,
        ).alias("net"),
    )


def bounding_ratio(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """ClickHouse ``boundingRatio`` per key → (key…, n, rate_per_s):
    (last value − first value) / (last ts − first ts in seconds) over
    the (ts, tiebreak)-ordered series — the average slope between the
    series endpoints. One keyed window pass + aggregate."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    rows = df.select(
        F.col(key_col).alias("key"),
        F.col(value_col).cast("double").alias("_v"),
        F.unix_micros(F.col(ts_col)).alias("_t"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(key_col)).alias("_n"),
    )
    agg = rows.groupBy("key").agg(
        F.count("*").alias("n"),
        F.max(F.when(F.col("_rn") == 1, F.col("_v"))).alias("_v0"),
        F.max(F.when(F.col("_rn") == F.col("_n"), F.col("_v"))).alias("_v1"),
        F.max(F.when(F.col("_rn") == 1, F.col("_t"))).alias("_t0"),
        F.max(F.when(F.col("_rn") == F.col("_n"), F.col("_t"))).alias("_t1"),
    )
    dt = (F.col("_t1") - F.col("_t0")).cast("double") / 1e6
    return agg.select(
        "key",
        "n",
        F.round(
            F.when(dt > 0, (F.col("_v1") - F.col("_v0")) / dt), 6
        ).alias("rate_per_s"),
    )


def twap(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "day",
) -> DataFrame:
    """Time-weighted average value per (key, bucket) → (key, bucket_ts,
    n, twap): each observation holds until the next one INSIDE the
    bucket; the bucket's last observation carries no weight (no
    look-ahead across the boundary). The fix for duration bias that a
    plain AVG has when sampling is irregular.

    Exactness: weights are integer microseconds, values are quantized
    to the 2^-10 grid, so Σ qv·Δt is an exact BIGINT (≤ 2^19 · 86.4e9
    · rows_per_bucket — safely inside int64 for day buckets) and the
    final division is the only float op. One keyed window pass."""
    qv = F.floor(F.col(value_col).cast("double") * (1 << 10))
    b = F.date_trunc(bucket, F.col(ts_col))
    rows = df.select(
        F.col(key_col).alias("key"),
        b.alias("_b"),
        F.unix_micros(F.col(ts_col)).alias("_t"),
        qv.alias("_qv"),
    ).withColumn("_dt", F.lead("_t").over(
        Window.partitionBy("key", "_b").orderBy("_t", "_qv")
    ) - F.col("_t"))
    # Tie order at identical _t is weight-neutral: equal-_t neighbors
    # get _dt = 0 and contribute nothing, so (_t, _qv) is a sufficient
    # deterministic sort — no unique tiebreak needed.
    agg = rows.filter(F.col("_dt").isNotNull()).groupBy("key", "_b").agg(
        F.count("*").alias("n"),
        F.sum(F.col("_qv") * F.col("_dt")).alias("_num"),
        F.sum("_dt").alias("_den"),
    )
    return agg.select(
        "key",
        F.col("_b").alias("bucket_ts"),
        "n",
        F.round(
            F.col("_num").cast("double")
            / F.col("_den").cast("double")
            / float(1 << 10),
            6,
        ).alias("twap"),
    )


def interval_union_length(
    df: DataFrame, key_col: str, ts_col: str, dur_seconds: int
) -> DataFrame:
    """ClickHouse ``intervalLengthSum`` per key → (key, n, n_islands,
    covered_us): total length of the UNION of the [ts, ts+dur) activity
    intervals — overlap counted once. Classic gaps-and-islands: a new
    island starts where the start exceeds the running max of prior
    ends; island lengths are max(end) − min(start). All integer
    microseconds, exact on every engine. Two keyed window passes +
    one aggregate, nothing global."""
    dur_us = int(dur_seconds) * 1_000_000
    w = Window.partitionBy("key").orderBy("_s")
    prev_max_end = F.max("_e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    rows = (
        df.select(
            F.col(key_col).alias("key"),
            F.unix_micros(F.col(ts_col)).alias("_s"),
        )
        .withColumn("_e", F.col("_s") + F.lit(dur_us))
        .withColumn(
            "_new",
            F.when(
                prev_max_end.isNull() | (F.col("_s") > prev_max_end), 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(w))
    )
    isl = rows.groupBy("key", "_isl").agg(
        F.count("*").alias("_cnt"),
        (F.max("_e") - F.min("_s")).alias("_len"),
    )
    return isl.groupBy("key").agg(
        F.sum("_cnt").alias("n"),
        F.count("*").alias("n_islands"),
        F.sum("_len").alias("covered_us"),
    )


def max_intersections(
    df: DataFrame, key_col: str, ts_col: str, dur_seconds: int
) -> DataFrame:
    """ClickHouse ``maxIntersections`` / ``maxIntersectionsPosition``
    per key → (key, max_conc, at_us): the peak number of
    simultaneously-open [ts, ts+dur) intervals and the earliest
    microsecond where the peak is reached. Sweep line: +1 at starts,
    −1 at ends, ends sort before starts at the same instant
    (half-open), running sum's max. One keyed window pass over
    2·n points + one aggregate — integer-exact."""
    dur_us = int(dur_seconds) * 1_000_000
    base = df.select(
        F.col(key_col).alias("key"),
        F.unix_micros(F.col(ts_col)).alias("_s"),
    )
    pts = base.select(
        "key", F.col("_s").alias("_t"), F.lit(1).alias("_d")
    ).unionByName(
        base.select(
            "key",
            (F.col("_s") + F.lit(dur_us)).alias("_t"),
            F.lit(-1).alias("_d"),
        )
    )
    w = Window.partitionBy("key").orderBy("_t", "_d")
    run = pts.withColumn("_run", F.sum("_d").over(w))
    mx = run.groupBy("key").agg(F.max("_run").alias("max_conc"))
    return (
        run.join(mx, "key")
        .filter(F.col("_run") == F.col("max_conc"))
        .groupBy("key", "max_conc")
        .agg(F.min("_t").alias("at_us"))
        .select("key", "max_conc", "at_us")
    )


# -- spectral / autoregressive series diagnostics ---------------------------


def periodogram(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    max_k: int = 8,
) -> DataFrame:
    """Discrete-Fourier periodogram of a bucketed series per key →
    (key, k, power) for harmonics k = 1..max_k: power_k =
    ((Σ x̃·cos(2πkt/N))² + (Σ x̃·sin(2πkt/N))²) / N over the mean-
    centered series — the direct way to FIND the period that acf()
    only confirms. Exactly Schuster's periodogram; a spike at k means
    the series repeats every N/k buckets.

    The series is bounded (keys × buckets), so the k-harmonic
    expansion is a bounded columnar crossJoin — the corpus is touched
    once by the bucketing aggregate. Trig inputs are identical
    integers on both engines; 1-ulp libm noise is ~9 orders below
    the 6dp output round."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(F.col(value_col).cast("double")).alias("_x"))
        .select("key", F.col("_w.start").alias("_b"), "_x")
    )
    w = Window.partitionBy("key").orderBy("_b")
    s = b.select(
        "key",
        "_x",
        (F.row_number().over(w) - 1).alias("_t"),
        F.count("*").over(Window.partitionBy("key")).alias("_n"),
    )
    mu = s.groupBy("key").agg(F.avg("_x").alias("_mu"))
    ks = df.sparkSession.range(1, max_k + 1).select(
        F.col("id").cast("int").alias("k")
    )
    c = (
        s.join(mu, "key")
        .withColumn("_c", F.col("_x") - F.col("_mu"))
        .crossJoin(F.broadcast(ks))
    )
    ang = (
        F.lit(2.0 * math.pi)
        * F.col("k")
        * F.col("_t")
        / F.col("_n").cast("double")
    )
    agg = c.groupBy("key", "k").agg(
        F.sum(F.col("_c") * F.cos(ang)).alias("_re"),
        F.sum(F.col("_c") * F.sin(ang)).alias("_im"),
        F.max("_n").alias("_n"),
    )
    return agg.select(
        "key",
        "k",
        F.round(
            (F.col("_re") * F.col("_re") + F.col("_im") * F.col("_im"))
            / F.col("_n").cast("double"),
            6,
        ).alias("power"),
    )


def _acf_rounded(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str,
    lags: int,
) -> DataFrame:
    """Biased ACF r_1..r_lags per key as 6dp-ROUNDED columns — the
    shared front half of yule_walker_ar2/pacf: rounding makes the
    downstream scalar recursions engine-exact."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(F.col(value_col).cast("double")).alias("_x"))
        .select("key", F.col("_w.start").alias("_b"), "_x")
    )
    mu = b.groupBy("key").agg(F.avg("_x").alias("_mu"))
    c = b.join(mu, "key").withColumn("_c", F.col("_x") - F.col("_mu"))
    w = Window.partitionBy("key").orderBy("_b")
    lagged = c.select(
        "key",
        "_c",
        *[F.lag("_c", i).over(w).alias(f"_l{i}") for i in range(1, lags + 1)],
    )
    den = F.sum(F.col("_c") * F.col("_c"))
    return lagged.groupBy("key").agg(
        F.count("*").alias("n"),
        *[
            F.round(
                F.when(den > 0, F.sum(F.col("_c") * F.col(f"_l{i}")) / den),
                6,
            ).alias(f"r{i}")
            for i in range(1, lags + 1)
        ],
    )


def yule_walker_ar2(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """AR(2) fit per key via the Yule–Walker equations → (key, n, r1,
    r2, phi1, phi2, sigma2_ratio): φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ =
    (r₂−r₁²)/(1−r₁²), innovation-variance fraction 1 − φ₁r₁ − φ₂r₂.
    The autocorrelations are rounded to 6dp FIRST, so the closed-form
    solve is identical scalar arithmetic on every engine. One
    bucketing pass + one keyed window pass, series bounded."""
    r = _acf_rounded(df, key_col, ts_col, value_col, bucket, 2)
    r1, r2 = F.col("r1"), F.col("r2")
    den = 1.0 - r1 * r1
    phi1 = r1 * (1.0 - r2) / den
    phi2 = (r2 - r1 * r1) / den
    return r.select(
        "key",
        "n",
        "r1",
        "r2",
        F.round(phi1, 6).alias("phi1"),
        F.round(phi2, 6).alias("phi2"),
        F.round(1.0 - phi1 * r1 - phi2 * r2, 6).alias("sigma2_ratio"),
    )


def pacf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Partial autocorrelation at lags 1..3 per key → (key, lag,
    pacf) via the Durbin–Levinson recursion unrolled in closed form
    from the 6dp-rounded ACF: the AR-order diagnostic (an AR(p)
    series cuts off after lag p, where the plain ACF just decays).

    φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²); φ₃₃ from the level-2
    coefficients φ₂₁ = r₁(1−φ₂₂). Scalar arithmetic on rounded
    inputs — engine-exact."""
    r = _acf_rounded(df, key_col, ts_col, value_col, bucket, 3)
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p1 = r1
    p2 = (r2 - r1 * r1) / (1.0 - r1 * r1)
    phi21 = r1 * (1.0 - p2)
    p3 = (r3 - phi21 * r2 - p2 * r1) / (1.0 - phi21 * r1 - p2 * r2)
    out = None
    for lag, expr in ((1, p1), (2, p2), (3, p3)):
        part = r.select(
            "key", F.lit(lag).alias("lag"), F.round(expr, 6).alias("pacf")
        )
        out = part if out is None else out.unionByName(part)
    return out


def haar_energy(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    points: int = 28,
) -> DataFrame:
    """Two-level Haar wavelet energy split of a bucketed COUNT/SUM
    series per key → (key, n, e_total, e_d1, e_d2, e_a2): detail
    energy at scale 1 (bucket-to-bucket jitter), scale 2, and the
    coarse approximation energy, with the exact conservation
    e_total = e_d1 + e_d2 + e_a2 (orthogonality of the Haar basis —
    a built-in self-check). The multi-resolution complement of
    periodogram(): WHERE the variance lives by scale, not frequency.

    Series truncated to the first ``points`` buckets (a multiple of
    4) so both levels pair completely. Pair sums/differences are
    conditional aggregates on t's parity — integer-exact for count
    series; energies divide by dyadic powers only."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.count("*").cast("double").alias("_x"))
        .select("key", F.col("_w.start").alias("_b"), "_x")
    )
    w = Window.partitionBy("key").orderBy("_b")
    s = b.select(
        "key", "_x", (F.row_number().over(w) - 1).alias("_t")
    ).filter(F.col("_t") < points)
    even = F.when(F.col("_t") % 2 == 0, F.col("_x")).otherwise(-F.col("_x"))
    l1 = s.groupBy("key", F.floor(F.col("_t") / 2).alias("_p")).agg(
        F.sum("_x").alias("_a1"),
        F.sum(even).alias("_d1"),
        F.sum(F.col("_x") * F.col("_x")).alias("_xx"),
        F.count("*").alias("_cnt"),
    )
    even2 = F.when(F.col("_p") % 2 == 0, F.col("_a1")).otherwise(
        -F.col("_a1")
    )
    l2 = l1.groupBy("key", F.floor(F.col("_p") / 2).alias("_q")).agg(
        F.sum("_a1").alias("_a2"),
        F.sum(even2).alias("_d2"),
        F.sum(F.col("_d1") * F.col("_d1")).alias("_d1sq"),
        F.sum("_xx").alias("_xx"),
        F.sum("_cnt").alias("_cnt"),
    )
    agg = l2.groupBy("key").agg(
        F.sum("_cnt").alias("n"),
        F.sum("_xx").alias("_et"),
        (F.sum("_d1sq") / 2.0).alias("_ed1"),
        (F.sum(F.col("_d2") * F.col("_d2")) / 4.0).alias("_ed2"),
        (F.sum(F.col("_a2") * F.col("_a2")) / 4.0).alias("_ea2"),
    )
    return agg.select(
        "key",
        "n",
        F.round("_et", 6).alias("e_total"),
        F.round("_ed1", 6).alias("e_d1"),
        F.round("_ed2", 6).alias("e_d2"),
        F.round("_ea2", 6).alias("e_a2"),
    )


def forecast_eval(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    season: int = 7,
) -> DataFrame:
    """Forecast-accuracy scorecard per key → (key, n_eval, mae_naive,
    rmse_naive, smape_naive, mae_snaive, mase): the naive (last
    value) and seasonal-naive (value ``season`` buckets ago)
    benchmark forecasts evaluated on the SAME rows (those with both
    lags defined), plus MASE = naive MAE / seasonal-naive MAE — the
    scale-free "is there even weekly structure" number (< 1 means
    yesterday beats last-week-same-day).

    One bucketing aggregate + one keyed window pass producing both
    lags over the same sort + one aggregate. Bounded by keys ×
    buckets."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(F.col(value_col).cast("double")).alias("_x"))
        .select("key", F.col("_w.start").alias("_b"), "_x")
    )
    w = Window.partitionBy("key").orderBy("_b")
    lagged = b.select(
        "key",
        "_x",
        F.lag("_x", 1).over(w).alias("_f1"),
        F.lag("_x", season).over(w).alias("_fs"),
    ).filter(F.col("_f1").isNotNull() & F.col("_fs").isNotNull())
    e1 = F.abs(F.col("_x") - F.col("_f1"))
    es = F.abs(F.col("_x") - F.col("_fs"))
    smape_term = (
        F.lit(2.0) * e1 / (F.abs(F.col("_x")) + F.abs(F.col("_f1")))
    )
    agg = lagged.groupBy("key").agg(
        F.count("*").alias("n_eval"),
        F.avg(e1).alias("_mae1"),
        F.sqrt(F.avg(e1 * e1)).alias("_rmse1"),
        F.avg(smape_term).alias("_smape1"),
        F.avg(es).alias("_maes"),
    )
    return agg.select(
        "key",
        "n_eval",
        F.round("_mae1", 6).alias("mae_naive"),
        F.round("_rmse1", 6).alias("rmse_naive"),
        F.round("_smape1", 6).alias("smape_naive"),
        F.round("_maes", 6).alias("mae_snaive"),
        F.round(
            F.when(F.col("_maes") > 0, F.col("_mae1") / F.col("_maes")),
            6,
        ).alias("mase"),
    )


def holt_winters(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    period: int = 7,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.25,
) -> DataFrame:
    """Additive Holt–Winters (level + trend + seasonal) per key →
    (key, n_buckets, level, trend, s_next, forecast): the seasonal
    extension of :func:`holt_forecast`. Init from the first
    ``period`` buckets (l₀ = their mean, b₀ = 0, sᵢ = xᵢ − l₀), then
    the standard coupled recursion over the rest:

        l' = α(x − s_{t%m}) + (1−α)(l + b)
        b' = β(l' − l) + (1−β)b
        s'_{t%m} = γ(x − l') + (1−γ)s_{t%m}

    ``forecast`` is the one-bucket-ahead l' + b' + s_next.

    Same scale/determinism contract as holt_forecast: ONE codegen
    higher-order fold over the bounded per-key bucket series, α/β/γ
    binary-exact by default, every arithmetic expression written in
    the exact shape the SQL oracle replays (l' expanded inside b'
    and s'), so the trajectory is bit-identical across engines."""
    a, bt, g = float(alpha), float(beta), float(gamma)
    m = int(period)
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(F.col(value_col).cast("double")).alias("xbar"))
        .select("key", F.col("_w.start").alias("bucket_ts"), "xbar")
    )
    series = b.groupBy("key").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("bucket_ts", "xbar"))),
            lambda s: s["xbar"],
        ).alias("xs")
    )
    head = F.slice(F.col("xs"), 1, m)
    l0 = (
        F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x)
        / float(m)
    )
    series = series.withColumn("_l0", l0)
    init = F.named_struct(
        F.lit("l"), F.col("_l0"),
        F.lit("b"), F.lit(0.0),
        F.lit("s"), F.transform(head, lambda x: x - F.col("_l0")),
        F.lit("t"), F.lit(float(m)),
    )

    def step(acc, x):
        idx = (acc["t"].cast("int") % m).cast("int")
        s_cur = F.element_at(acc["s"], idx + 1)
        l_new = a * (x - s_cur) + (1.0 - a) * (acc["l"] + acc["b"])
        b_new = (
            bt * ((a * (x - s_cur) + (1.0 - a) * (acc["l"] + acc["b"]))
                  - acc["l"])
            + (1.0 - bt) * acc["b"]
        )
        s_upd = F.transform(
            acc["s"],
            lambda v, i: F.when(
                i == idx,
                g * (x - (a * (x - s_cur)
                          + (1.0 - a) * (acc["l"] + acc["b"])))
                + (1.0 - g) * v,
            ).otherwise(v),
        )
        return F.named_struct(
            F.lit("l"), l_new,
            F.lit("b"), b_new,
            F.lit("s"), s_upd,
            F.lit("t"), acc["t"] + 1.0,
        )

    folded = series.select(
        "key",
        F.size("xs").alias("n_buckets"),
        F.aggregate(
            F.slice(
                F.col("xs"), m + 1, F.greatest(F.size("xs") - m, F.lit(0))
            ),
            init,
            step,
        ).alias("_st"),
    )
    s_next = F.element_at(
        F.col("_st.s"), (F.col("_st.t").cast("int") % m) + 1
    )
    return folded.select(
        "key",
        "n_buckets",
        F.round(F.col("_st.l"), 6).alias("level"),
        F.round(F.col("_st.b"), 6).alias("trend"),
        F.round(s_next, 6).alias("s_next"),
        F.round(F.col("_st.l") + F.col("_st.b") + s_next, 6).alias(
            "forecast"
        ),
    )


def control_chart(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Shewhart x̄ control chart with Western-Electric run rules per
    key → (key, bucket_ts, xbar, z, rule1, rule2, rule3, rule4):
    bucket means scored against the key's own center line ±kσ, with
    the four classic out-of-control signals — rule1 |z| > 3, rule2
    two of three consecutive beyond 2σ on the SAME side, rule3 four
    of five beyond 1σ same side, rule4 eight consecutive same side.
    The ops-monitoring classic that catches drifts a plain threshold
    misses.

    Bucket means land on the 2^-20 grid and σ comes from grid-
    quantized squared deviations, so every z — and therefore every
    rule flag, which compares z against exact integers via side
    indicators — is engine-identical. One bucketing pass + one keyed
    window pass over the bounded series."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(grid(F.avg(F.col(value_col).cast("double"))).alias("xbar"))
        .select("key", F.col("_w.start").alias("bucket_ts"), "xbar")
    )
    gm = b.groupBy("key").agg(
        F.count("*").alias("_n"), grid(F.avg("xbar")).alias("_mu")
    )
    dev = b.join(gm, "key")
    d = F.col("xbar") - F.col("_mu")
    ss = dev.groupBy("key").agg(grid_sum(d * d).alias("_ss"))
    # one bucket has no spread: NULL sigma and z, as for a constant
    # series (not an ANSI divide-by-zero)
    j = dev.join(ss, "key").withColumn(
        "_sigma",
        F.when(
            F.col("_n") > 1,
            F.sqrt(F.col("_ss") / (F.col("_n").cast("double") - 1.0)),
        ),
    )
    # sigma = 0 (constant series) has no control limits -> NULL z and
    # all-false rules, not an ANSI divide-by-zero
    z = F.when(
        F.col("_sigma") > 0,
        (F.col("xbar") - F.col("_mu")) / F.col("_sigma"),
    )
    j = j.withColumn("_z", z)
    side = F.signum("_z")
    over2 = (F.abs(F.col("_z")) > 2.0).cast("int") * side
    over1 = (F.abs(F.col("_z")) > 1.0).cast("int") * side
    w = Window.partitionBy("key").orderBy("bucket_ts")
    r2 = (
        F.sum(F.when(over2 == 1, 1).otherwise(0)).over(
            w.rowsBetween(-2, 0)
        )
        >= 2
    ) | (
        F.sum(F.when(over2 == -1, 1).otherwise(0)).over(
            w.rowsBetween(-2, 0)
        )
        >= 2
    )
    r3 = (
        F.sum(F.when(over1 == 1, 1).otherwise(0)).over(
            w.rowsBetween(-4, 0)
        )
        >= 4
    ) | (
        F.sum(F.when(over1 == -1, 1).otherwise(0)).over(
            w.rowsBetween(-4, 0)
        )
        >= 4
    )
    r4 = (
        F.sum(F.when(side == 1, 1).otherwise(0)).over(
            w.rowsBetween(-7, 0)
        )
        == 8
    ) | (
        F.sum(F.when(side == -1, 1).otherwise(0)).over(
            w.rowsBetween(-7, 0)
        )
        == 8
    )
    return j.select(
        "key",
        "bucket_ts",
        "xbar",
        F.round("_z", 6).alias("z"),
        (F.abs(F.col("_z")) > 3.0).alias("rule1"),
        r2.alias("rule2"),
        r3.alias("rule3"),
        r4.alias("rule4"),
    )


def asof_join_directed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: Sequence[str],
    direction: str = "backward",
    tolerance_seconds: "int | None" = None,
    prefix: str = "asof_",
) -> DataFrame:
    """:func:`asof_join` with pandas ``merge_asof``'s remaining knobs:
    ``direction`` ("backward" = latest earlier row, "forward" =
    earliest later row, both inclusive) and ``tolerance_seconds``
    (matches farther than the tolerance are nulled out, exactly like
    merge_asof — the row survives, the payload doesn't).

    Same union + single-keyed-window shape as asof_join (one shuffle,
    no per-row range join): forward runs ``first(ignorenulls)`` over
    the FOLLOWING frame with the side tag ordered so an equal
    timestamp on the right is still visible. The matched right
    timestamp rides along as one extra filled column, so tolerance is
    a codegen filter, not a second join."""
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    lcols = left.columns
    out_names = [f"{prefix}{c}" for c in payload]
    l_tagged = left.select(
        F.col(key).alias("_ak"),
        F.col(left_ts).cast("timestamp").alias("_ats"),
        F.lit(1 if direction == "backward" else 0).alias("_aside"),
        *[F.col(c) for c in lcols],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(n)
            for c, n in zip(payload, out_names)
        ],
        F.lit(None).cast("timestamp").alias("_amts"),
    )
    r_tagged = right.select(
        F.col(key).alias("_ak"),
        F.col(right_ts).cast("timestamp").alias("_ats"),
        F.lit(0 if direction == "backward" else 1).alias("_aside"),
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
        ],
        *[F.col(c).alias(n) for c, n in zip(payload, out_names)],
        F.col(right_ts).cast("timestamp").alias("_amts"),
    )
    base = Window.partitionBy("_ak").orderBy(F.col("_ats"), F.col("_aside"))
    filled = l_tagged.unionByName(r_tagged)
    fill_cols = [*out_names, "_amts"]
    if direction == "backward":
        w = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        for n in fill_cols:
            filled = filled.withColumn(
                n, F.last(n, ignorenulls=True).over(w)
            )
    else:
        w = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        for n in fill_cols:
            filled = filled.withColumn(
                n, F.first(n, ignorenulls=True).over(w)
            )
    out = filled.filter(
        F.col("_aside") == (1 if direction == "backward" else 0)
    )
    if tolerance_seconds is not None:
        gap = F.abs(
            F.unix_micros(F.col("_amts")) - F.unix_micros(F.col("_ats"))
        )
        ok = F.col("_amts").isNotNull() & (
            gap <= int(tolerance_seconds) * 1_000_000
        )
        for n in out_names:
            out = out.withColumn(n, F.when(ok, F.col(n)))
    return out.select(*lcols, *out_names)


def binary_segment(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Offline single-changepoint detection by binary segmentation →
    (key, n, split_idx, split_ts, stat, mean_left, mean_right): the
    split k maximizing |x̄_left − x̄_right|·√(k(n−k)/n) over the
    bucketed series — the first recursion step of the classic
    binary-segmentation changepoint algorithm, and the offline
    complement of the online CUSUM/Page–Hinkley charts (it LOCATES
    the break, they detect it in flight). Ties break to the earliest
    split.

    Bucket means land on the 2^-20 grid, so prefix sums are exact and
    the argmax comparison is engine-identical. One bucketing pass,
    one keyed window for the prefix sums, one max_by aggregate."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(grid(F.avg(F.col(value_col).cast("double"))).alias("_x"))
        .select("key", F.col("_w.start").alias("_b"), "_x")
    )
    w = Window.partitionBy("key").orderBy("_b")
    rows = b.select(
        "key",
        "_b",
        F.row_number().over(w).alias("_k"),
        F.sum("_x").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_cum"),
        F.count("*").over(Window.partitionBy("key")).alias("_n"),
        F.sum("_x").over(Window.partitionBy("key")).alias("_s"),
    ).filter(F.col("_k") < F.col("_n"))
    k = F.col("_k").cast("double")
    n = F.col("_n").cast("double")
    ml = F.col("_cum") / k
    mr = (F.col("_s") - F.col("_cum")) / (n - k)
    stat = F.abs(ml - mr) * F.sqrt(k * (n - k) / n)
    best = rows.groupBy("key").agg(
        F.max(
            F.struct(
                stat.alias("s"),
                (-F.col("_k")).alias("negk"),
                F.col("_k").alias("k"),
                F.col("_b").alias("b"),
                F.round(ml, 6).alias("ml"),
                F.round(mr, 6).alias("mr"),
                F.col("_n").alias("n"),
            )
        ).alias("_w")
    )
    return best.select(
        "key",
        F.col("_w.n").cast("long").alias("n"),
        F.col("_w.k").cast("int").alias("split_idx"),
        F.col("_w.b").alias("split_ts"),
        F.round(F.col("_w.s"), 6).alias("stat"),
        F.col("_w.ml").alias("mean_left"),
        F.col("_w.mr").alias("mean_right"),
    )


def markov_entropy(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    state_col: str,
    gap_minutes: int = 30,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-state transition entropy over the session Markov chain →
    (from_type, n_out, h_nats, perplexity): H_i = −Σ_j p_ij ln p_ij
    of :func:`markov_transitions`' rows — how predictable the next
    action is FROM each state (perplexity = e^H is the effective
    branching factor). The follow-up question to the transition
    matrix itself; rides the same single window pass."""
    tm = markov_transitions(
        df, user_col, ts_col, state_col,
        gap_minutes=gap_minutes, tiebreak_col=tiebreak_col,
    )
    agg = tm.groupBy("from_type").agg(
        F.sum("n").alias("n_out"),
        F.sum(-F.col("p") * F.log(F.col("p"))).alias("_h"),
    )
    return agg.select(
        "from_type",
        "n_out",
        F.round("_h", 6).alias("h_nats"),
        F.round(F.exp("_h"), 6).alias("perplexity"),
    )


def u_shaped_attribution(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    touch_types: "Sequence[str]",
    conversion_type: str,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Position-based (U-shaped, 40/20/40) multi-touch attribution →
    (touch_type, n_touches, credit): every conversion distributes one
    unit of credit over its journey's touches — 0.4 to the opener,
    0.4 to the closer, 0.2 split evenly among the middles (a single
    touch takes the full 1.0, a pair splits 0.5/0.5). The standard
    middle ground between the first/last extremes of
    :func:`touch_attribution`.

    Journeys are delimited by conversions: a touch belongs to the
    NEXT conversion in its user's stream, found with one reverse
    cumulative conversion count — two keyed window passes total, no
    self-join of the touch history against conversions."""
    order = [F.col(ts_col), F.col(tiebreak_col)]
    wafter = (
        Window.partitionBy(F.col(user_col))
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    is_conv = (F.col(type_col) == conversion_type).cast("int")
    t = df.select(
        F.col(user_col).alias("_u"),
        *order,
        F.col(type_col).alias("_t"),
        F.sum(is_conv).over(wafter).alias("_cafter"),
    )
    touches = t.filter(
        F.col("_t").isin(*list(touch_types)) & (F.col("_cafter") >= 1)
    )
    wj = Window.partitionBy("_u", "_cafter").orderBy(*order)
    ranked = touches.select(
        "_t",
        F.row_number().over(wj).alias("_r"),
        F.count("*").over(Window.partitionBy("_u", "_cafter")).alias(
            "_n"
        ),
    )
    credit = (
        F.when(F.col("_n") == 1, 1.0)
        .when(F.col("_n") == 2, 0.5)
        .when((F.col("_r") == 1) | (F.col("_r") == F.col("_n")), 0.4)
        .otherwise(F.lit(0.2) / (F.col("_n").cast("double") - 2.0))
    )
    return (
        ranked.groupBy(F.col("_t").alias("touch_type"))
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum(credit), 6).alias("credit"),
        )
    )


def sequence_count(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    first_type: str,
    then_type: str,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """ClickHouse ``sequenceCount('(?1).*(?2)')`` parity per key →
    (user, n_events, seq_count): GREEDY NON-OVERLAPPING matches of
    "a ``first_type`` eventually followed by a ``then_type``" over
    the time-ordered event stream (each event participates in at most
    one match — the scan holds one open match slot, exactly CH's
    automaton). The counting cousin of the boolean ``sequence_match``.

    The scan is inherently sequential per key, so it runs as ONE
    codegen higher-order fold over the bounded per-key event-code
    list (the same shape as holt_winters); the accumulator is
    (count, open-slot) and the oracle replays it with a prepended
    list accumulator."""
    return _sequence_count_fold(
        df, user_col, ts_col, type_col, first_type, then_type,
        tiebreak_col, strict=False,
    )


def sequence_count_strict(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    first_type: str,
    then_type: str,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """STREAM-ADJACENCY variant of :func:`sequence_count`: the
    ``then_type`` event must IMMEDIATELY follow the ``first_type``
    event in the full time-ordered stream — ANY intervening event
    (matching a condition or not) voids the open match; a fresh
    ``first_type`` re-opens it. NOTE this is deliberately STRONGER
    than ClickHouse ``sequenceCount('(?1)(?2)')``: CH ignores events
    matching no condition when judging adjacency (and with only two
    conditions its (?1)(?2) therefore coincides with the relaxed
    ``(?1).*(?2)`` automaton) — "purchase as the very next user
    action" is not expressible in CH patterns at all. Same greedy
    non-overlapping single-slot automaton, same codegen fold shape."""
    return _sequence_count_fold(
        df, user_col, ts_col, type_col, first_type, then_type,
        tiebreak_col, strict=True,
    )


def _sequence_count_fold(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    first_type: str,
    then_type: str,
    tiebreak_col: str,
    strict: bool,
) -> DataFrame:
    order = F.struct(F.col(ts_col), F.col(tiebreak_col))
    code = (
        F.when(F.col(type_col) == first_type, 1)
        .when(F.col(type_col) == then_type, 2)
        .otherwise(0)
    )
    series = (
        df.select(
            F.col(user_col).alias("user"),
            order.alias("_o"),
            code.alias("_c"),
        )
        .groupBy("user")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_o", "_c"))),
                lambda s: s["_c"],
            ).alias("_cs")
        )
    )
    init = F.named_struct(
        F.lit("cnt"), F.lit(0), F.lit("st"), F.lit(0)
    )

    if strict:
        # strict adjacency: anything except a hit resets the slot to
        # "open iff this very event is a first_type".
        def step(acc, e):
            hit = (acc["st"] == 1) & (e == 2)
            return F.named_struct(
                F.lit("cnt"),
                acc["cnt"] + F.when(hit, 1).otherwise(0),
                F.lit("st"),
                F.when(hit, 0)
                .when(e == 1, 1)
                .otherwise(0),
            )
    else:
        def step(acc, e):
            hit = (acc["st"] == 1) & (e == 2)
            opened = (acc["st"] == 0) & (e == 1)
            return F.named_struct(
                F.lit("cnt"),
                acc["cnt"] + F.when(hit, 1).otherwise(0),
                F.lit("st"),
                F.when(opened, 1).when(hit, 0).otherwise(acc["st"]),
            )

    folded = series.select(
        "user",
        F.size("_cs").alias("n_events"),
        F.aggregate(F.col("_cs"), init, step).alias("_st"),
    )
    return folded.select(
        "user", "n_events", F.col("_st.cnt").alias("seq_count")
    )


def cohort_ltv(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "week",
) -> DataFrame:
    """Cohort lifetime-value accumulation → (cohort_ts, age, n_users,
    revenue, cum_revenue, cum_ltv): users cohorted by first-activity
    bucket, revenue rolled up per (cohort, age-in-buckets) on the
    exact 2^-20 grid, then the running total and the per-user
    cumulative LTV the growth model actually plots. The revenue
    triangle companion of ``cohort_retention``.

    Two shuffles (first-activity per user, cohort×age rollup) + one
    ordered window over the triangle (cohorts × ages rows). Exact
    integer arithmetic until the final per-user division."""
    src = df.select(
        F.col(user_col).alias("_u"),
        F.date_trunc(bucket, F.col(ts_col)).alias("_b"),
        F.floor(F.col(value_col).cast("double") * GRID).alias("_qv"),
    )
    first = src.groupBy("_u").agg(F.min("_b").alias("_cohort"))
    j = src.join(first, "_u")
    age = (
        F.datediff(F.col("_b"), F.col("_cohort"))
        / (7 if bucket == "week" else 1)
    ).cast("int")
    cohort_size = first.groupBy("_cohort").agg(
        F.countDistinct("_u").alias("n_users")
    )
    tri = (
        j.groupBy("_cohort", age.alias("age"))
        .agg(F.sum("_qv").alias("_qr"))
    )
    w = Window.partitionBy("_cohort").orderBy("age")
    out = (
        tri.join(cohort_size, "_cohort")
        .withColumn(
            "_cum", F.sum("_qr").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
        )
    )
    return out.select(
        F.col("_cohort").alias("cohort_ts"),
        "age",
        "n_users",
        F.round(F.col("_qr") / GRID, 6).alias("revenue"),
        F.round(F.col("_cum") / GRID, 6).alias("cum_revenue"),
        F.round(
            F.col("_cum") / GRID / F.col("n_users").cast("double"), 6
        ).alias("cum_ltv"),
    )


def data_gaps(
    df: DataFrame, key_col: str, ts_col: str, bucket: str = "1 day"
) -> DataFrame:
    """Data-freshness / completeness panel per key → (key, first_ts,
    last_ts, expected, present, missing, longest_gap): the expected
    bucket count from the key's own [first, last] span vs the buckets
    actually present, and the longest run of consecutive missing
    buckets (from the ordered present-bucket deltas — no spine
    generation, no calendar join). The first data-quality dashboard
    any ingest pipeline grows.

    One bucketing aggregate + one keyed window over the per-key
    bucket list. Integer day arithmetic throughout."""
    b = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc("day", F.col(ts_col)).alias("_b"),
    ).agg(F.count("*").alias("_n"))
    w = Window.partitionBy("key").orderBy("_b")
    gaps = b.withColumn(
        "_gap",
        F.datediff(F.col("_b"), F.lag("_b").over(w)) - 1,
    )
    agg = gaps.groupBy("key").agg(
        F.min("_b").alias("first_ts"),
        F.max("_b").alias("last_ts"),
        F.count("*").alias("present"),
        F.max(F.coalesce(F.col("_gap"), F.lit(0))).alias("longest_gap"),
    )
    expected = F.datediff(F.col("last_ts"), F.col("first_ts")) + 1
    return agg.select(
        "key",
        "first_ts",
        "last_ts",
        expected.cast("long").alias("expected"),
        "present",
        (expected - F.col("present")).cast("long").alias("missing"),
        F.col("longest_gap").cast("long").alias("longest_gap"),
    )


_DTW_INF = 1e18  # finite sentinel: both engines treat it identically


def dtw_distance(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    ref_key: str,
    bucket: str = "day",
) -> DataFrame:
    """Dynamic-time-warping distance (Sakoe & Chiba 1978) between each
    key's bucketed daily series and a reference key's series →
    (key, n_x, n_y, dtw): the minimal cumulative |x_i − y_j| cost over
    monotone alignments — the shape-similarity measure that tolerates
    phase shift, where Euclidean/rolling-corr punish it. "Which event
    types follow the same daily rhythm as purchases, possibly lagged?"

    The O(n·m) DP runs as ONE codegen fold per key: the outer
    ``aggregate`` walks the key's series carrying the previous DP row
    (an array), the inner ``aggregate`` builds the next row — series
    are bucket-bounded (≤ 31 here), so state is tiny and per-key work
    is constant. Inputs are 6dp-rounded bucket means shared by both
    engines; every DP cell is the same IEEE add/min sequence, so the
    oracle replays it bit-for-bit via nested list_reduce. One shuffle
    (bucket means), one broadcast of the 1-row reference series."""
    daily = df.groupBy(
        F.col(key_col).alias("key"),
        F.date_trunc(bucket, F.col(ts_col)).alias("_b"),
    ).agg(F.round(F.avg(F.col(value_col).cast("double")), 6).alias("_v"))
    series = daily.groupBy("key").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_b", "_v"))),
            lambda s: s["_v"],
        ).alias("_xs")
    )
    # materialize the 1-row reference series eagerly: a misspelled
    # ref_key must raise, not silently produce an empty result (the
    # crossJoin against an empty broadcast side drops every row), and
    # the checkpoint stops the ref branch recomputing the bucket-means
    # aggregate a second time inside the join.
    ref = (
        series.filter(F.col("key") == ref_key)
        .select(F.col("_xs").alias("_ys"))
        .localCheckpoint(eager=True)
    )
    if ref.count() == 0:
        raise ValueError(
            f"dtw_distance: reference key {ref_key!r} has no rows"
        )
    j = series.crossJoin(F.broadcast(ref))
    m = F.size("_ys")
    inf = F.lit(_DTW_INF)
    # prev row, 1-indexed, length m+1: D[i-1][0..m]; row 0 = [0, inf..]
    row0 = F.concat(
        F.array(F.lit(0.0)),
        F.transform(F.sequence(F.lit(1), m), lambda _: inf),
    )

    def outer_step(prev, x):
        # build D[i][0..m]: starts [inf] (j=0 border), append j=1..m
        def inner_step(cur, jj):
            cost = F.abs(x - F.element_at(F.col("_ys"), jj))
            best = F.least(
                F.element_at(prev, jj + F.lit(1)),  # D[i-1][j]
                F.element_at(prev, jj),             # D[i-1][j-1]
                F.element_at(cur, -1),              # D[i][j-1]
            )
            return F.concat(cur, F.array(cost + best))

        return F.aggregate(
            F.sequence(F.lit(1), m), F.array(inf), inner_step
        )

    dtw = F.element_at(
        F.aggregate(F.col("_xs"), row0, outer_step), m + F.lit(1)
    )
    return j.select(
        "key",
        F.size("_xs").cast("int").alias("n_x"),
        m.cast("int").alias("n_y"),
        F.round(dtw, 6).alias("dtw"),
    )


def hurst_rs(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_col: str,
    window_sizes: "Sequence[int]" = (8, 16, 32, 64),
) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis per group →
    (grp, n, n_scales, h): chunk each series into blocks of size w,
    compute each block's range-of-cumulative-deviations over its
    standard deviation, average R/S per scale, and fit
    ln(R/S) = H·ln(w) + c by least squares — H≈0.5 random walk,
    >0.5 trending/persistent, <0.5 mean-reverting. The long-memory
    readout that complements acf/ljung_box (which only see fixed
    lags).

    One scan: scales ride an explode (|scales|× fan-out, bounded),
    block means/sds use the 2^-20-grid two-pass, cumulative
    deviations are per-(group, scale, block) prefix windows — every
    window is partitioned, never global. Per-scale mean R/S is
    grid-floored (ratio rule) before the bounded ≤|scales|-point
    regression, so the slope is engine-identical."""
    sizes = sorted(set(int(w) for w in window_sizes))
    if len(sizes) < 2 or sizes[0] < 2:
        raise ValueError(f"hurst_rs needs >= 2 scales >= 2, got {sizes}")
    src = df.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    wg = Window.partitionBy("grp").orderBy("_o")
    idx = src.withColumn("_rn", F.row_number().over(wg))
    ex = idx.withColumn(
        "_ws", F.explode(F.array(*[F.lit(w) for w in sizes]))
    ).withColumn("_blk", F.floor((F.col("_rn") - 1) / F.col("_ws")))
    # complete blocks only: block b of size w covers rows (bw, (b+1)w]
    bm = (
        ex.groupBy("grp", "_ws", "_blk")
        .agg(
            F.count("*").alias("_nb"),
            grid(F.avg("_v")).alias("_mb"),
        )
        .filter(F.col("_nb") == F.col("_ws"))
    )
    blk = ex.join(bm, ["grp", "_ws", "_blk"])
    dev = F.col("_v") - F.col("_mb")
    wb = Window.partitionBy("grp", "_ws", "_blk").orderBy("_rn")
    cd = blk.withColumn(
        "_cum",
        F.sum(dev).over(
            wb.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    per_blk = cd.groupBy("grp", "_ws", "_blk").agg(
        (F.max("_cum") - F.least(F.min("_cum"), F.lit(0.0))).alias("_r"),
        F.sqrt(
            grid_sum(dev * dev)
            / F.col("_ws").cast("double")
        ).alias("_s"),
    )
    per_ws = (
        per_blk.filter(F.col("_s") > 0)
        .groupBy("grp", "_ws")
        .agg(grid(F.avg(F.col("_r") / F.col("_s"))).alias("_rs"))
        .filter(F.col("_rs") > 0)
    )
    pts = per_ws.select(
        "grp",
        F.log(F.col("_ws").cast("double")).alias("_x"),
        F.log("_rs").alias("_y"),
    )
    reg = pts.groupBy("grp").agg(
        F.count("*").alias("_k"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    n_per = src.groupBy("grp").agg(F.count("*").alias("_n"))
    j = reg.join(n_per, "grp")
    kk = F.col("_k").cast("double")
    den = kk * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    h = F.when(
        (F.col("_k") >= 2) & (den > 0),
        (kk * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / den,
    )
    return j.select(
        "grp",
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("long").alias("n_scales"),
        F.round(h, 6).alias("h"),
    )


def max_drawdown(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Maximum drawdown per series → (group, n, peak, max_dd,
    max_dd_frac): the largest peak-to-trough drop of a cumulative
    metric (running max minus current, absolute and as a fraction of
    the peak) — the risk summary for revenue/engagement curves.

    One running-max window + one aggregate per series, both
    partitioned by the series key (series are bounded buckets by
    contract — daily rollups — so no skewed global sort). Values
    quantize to the 2^-20 grid first: every max/ratio is then exact
    and engine-identical."""
    src = _series(df, group_col, order_col, value_col)
    w = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = src.withColumn("_peak", F.max("_v").over(w))
    agg = run.groupBy("_g").agg(
        F.count("*").alias("n"),
        F.max("_peak").alias("_maxpeak"),
        F.max(F.col("_peak") - F.col("_v")).alias("_dd"),
        F.max(
            F.when(
                F.col("_peak") > 0,
                F.lit(1.0) - F.col("_v") / F.col("_peak"),
            )
        ).alias("_ddf"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round("_maxpeak", 6).alias("peak"),
        F.round("_dd", 6).alias("max_dd"),
        F.round("_ddf", 6).alias("max_dd_frac"),
    )


def rsi(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 14,
) -> DataFrame:
    """Relative Strength Index (SMA variant) per series point →
    (group, order, rsi): average gain vs average loss over the
    trailing ``period`` deltas, RSI = 100 − 100/(1+RS). The
    Cutler/SMA form (plain window means), not Wilder's recursive
    smoothing — windowed means parallelize; the recursion would
    serialize the series. Rows with fewer than ``period`` trailing
    deltas yield NULL (warm-up).

    Two windows per series partition (lag + trailing frame); deltas
    are grid-quantized so the frame sums are exact."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    d = src.withColumn("_d", F.col("_v") - F.lag("_v").over(wl))
    wf = wl.rowsBetween(-(period - 1), 0)
    gain = F.when(F.col("_d") > 0, F.col("_d")).otherwise(
        F.when(F.col("_d").isNotNull(), F.lit(0.0))
    )
    loss = F.when(F.col("_d") < 0, -F.col("_d")).otherwise(
        F.when(F.col("_d").isNotNull(), F.lit(0.0))
    )
    out = (
        d.withColumn("_cnt", F.count("_d").over(wf))
        .withColumn("_ag", F.sum(gain).over(wf) / F.col("_cnt"))
        .withColumn("_al", F.sum(loss).over(wf) / F.col("_cnt"))
    )
    rsi_c = F.when(
        F.col("_cnt") >= period,
        F.when(
            F.col("_al") > 0,
            F.lit(100.0) - F.lit(100.0) / (F.lit(1.0) + F.col("_ag") / F.col("_al")),
        )
        # no losses: all-gain window reads 100; a FLAT window (no
        # gains either) is neutral 50, not "overbought"
        .when(F.col("_ag") > 0, F.lit(100.0))
        .otherwise(F.lit(50.0)),
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(rsi_c, 6).alias("rsi"),
    )


def bollinger(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 20,
    width: float = 2.0,
) -> DataFrame:
    """Bollinger bands per series point → (group, order, ma, upper,
    lower, pct_b): trailing ``period`` mean ± ``width``·sd (sample),
    %B = (v − lower)/(upper − lower). The volatility envelope for
    metric-drift dashboards. NULL until the frame fills.

    One trailing window per series partition. Values quantize to the
    grid, so the frame's Σv and Σv² are exact integers scaled by
    2^-20/2^-40 — identical on every engine regardless of frame
    iteration order; sd uses the (Σv² − n·m²)/(n−1) form with the
    SAME operation order in the SQL twin."""
    src = _series(df, group_col, order_col, value_col)
    wf = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-(period - 1), 0)
    )
    out = (
        src.withColumn("_cnt", F.count("_v").over(wf))
        .withColumn("_s1", F.sum("_v").over(wf))
        .withColumn("_s2", F.sum(F.col("_v") * F.col("_v")).over(wf))
    )
    n = F.col("_cnt").cast("double")
    m = F.col("_s1") / n
    s2 = (F.col("_s2") - n * m * m) / (n - 1.0)
    sd = F.sqrt(F.greatest(s2, F.lit(0.0)))
    ok = F.col("_cnt") >= period
    upper = m + F.lit(width) * sd
    lower = m - F.lit(width) * sd
    pctb = F.when(
        upper > lower, (F.col("_v") - lower) / (upper - lower)
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(F.when(ok, m), 6).alias("ma"),
        F.round(F.when(ok, upper), 6).alias("upper"),
        F.round(F.when(ok, lower), 6).alias("lower"),
        F.round(F.when(ok, pctb), 6).alias("pct_b"),
    )


def var_cvar(
    df: DataFrame,
    value_col: str,
    group_col: str,
    q: float = 0.95,
) -> DataFrame:
    """Value-at-Risk and Conditional VaR (expected shortfall) per
    group → (group, n, var_q, cvar_q, n_tail): the q-th order
    statistic of the value distribution (upper-tail loss convention:
    large values are the risk) and the mean of the tail at or beyond
    it. The tail-risk companion to percentile dashboards: VaR says
    where the tail starts, CVaR says how bad it is inside.

    VaR is the exact order statistic at position ceil(q·n) via a
    per-group distinct-value prefix window (mood_median convention —
    no approximate percentile, no full sort); CVaR is one fxp-summed
    conditional aggregate against the broadcast per-group cutoffs."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"), v.alias("_v")
    ).filter(F.col("_v").isNotNull())
    pv = src.groupBy("_g", "_v").agg(F.count("*").alias("_c"))
    w = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pv.withColumn("_cum", F.sum("_c").over(w))
    ng = pv.groupBy("_g").agg(F.sum("_c").alias("_n"))
    var_g = (
        cum.join(ng, "_g")
        .filter(F.col("_cum") >= F.ceil(F.lit(q) * F.col("_n")))
        .groupBy("_g")
        .agg(F.min("_v").alias("_var"), F.min("_n").alias("_n"))
    )
    tail = (
        pv.join(var_g.select("_g", "_var"), "_g")
        .filter(F.col("_v") >= F.col("_var"))
        .groupBy("_g")
        .agg(
            grid_sum(F.col("_v") * F.col("_c")).alias("_ts"),
            F.sum("_c").alias("_tc"),
        )
    )
    out = var_g.join(tail, "_g")
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.round("_var", 6).alias("var_q"),
        F.round(F.col("_ts") / F.col("_tc").cast("double"), 6).alias(
            "cvar_q"
        ),
        F.col("_tc").cast("long").alias("n_tail"),
    )


def pettitt_test(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Pettitt changepoint test per series → (group, n, k_stat,
    change_at, p_approx): the rank-based single-changepoint detector
    (no distribution assumed, unlike cusum's mean-shift-in-gaussian
    frame): U_t = 2·S_t − t(n+1) with S_t the running midrank sum,
    K = max|U_t|, first-argmax position reported, p ≈
    2·exp(−6K²/(n³+n²)).

    Midranks via :func:`row_ranks` inside the series partition
    (bounded series by contract), one running sum, one argmax via
    min(struct) — everything per-partition, exact 0.5-grid rank
    arithmetic."""
    src = _series(df, group_col, order_col, value_col)
    mid = row_ranks(src, "_v", ["_g"])
    wo = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("_g")
    run = mid.withColumn("_st", F.sum("_r").over(wo)).withColumn(
        "_t", F.count("*").over(wo)
    ).withColumn("_n", F.count("*").over(wn))
    u = 2.0 * F.col("_st") - F.col("_t") * (F.col("_n") + 1.0)
    au = run.select("_g", "_o", "_n", F.abs(u).alias("_au")).withColumn(
        "_kmax", F.max("_au").over(wn)
    )
    agg = au.groupBy("_g").agg(
        F.min("_n").alias("n"),
        F.min("_kmax").alias("_k"),
        F.min(
            F.when(F.col("_au") == F.col("_kmax"), F.struct("_o"))
        ).alias("_arg"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round("_k", 6).alias("k_stat"),
        F.col("_arg._o").alias("change_at"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(2.0)
                * F.exp(
                    F.lit(-6.0)
                    * F.col("_k")
                    * F.col("_k")
                    / (
                        F.col("n").cast("double") ** 3
                        + F.col("n").cast("double") ** 2
                    )
                ),
            ),
            6,
        ).alias("p_approx"),
    )


def _lag1_moments(
    df: DataFrame, group_col: str, order_col: str, value_col: str
):
    """Shared lag-1 regression moments per series → one row per group
    with (n_pairs, grid means, fxp-summed Sxx/Sxy/Syy) over the
    (y_{t-1}, y_t) pairs — the OLS primitive behind the ADF and AR(1)
    operators. Series values grid-quantize first; means grid-floor;
    cross-moment sums floor-quantize (corr_matrix discipline)."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    pairs = src.withColumn("_x", F.lag("_v").over(wl)).filter(
        F.col("_x").isNotNull()
    )
    m = pairs.groupBy("_g").agg(
        F.count("*").alias("_n"),
        grid(F.avg("_x")).alias("_mx"),
        grid(F.avg("_v")).alias("_my"),
    )
    j = pairs.join(m, "_g")
    dx = F.col("_x") - F.col("_mx")
    dy = F.col("_v") - F.col("_my")
    return j.groupBy("_g", "_n", "_mx", "_my").agg(
        grid_sum(dx * dx).alias("_sxx"),
        grid_sum(dx * dy).alias("_sxy"),
        grid_sum(dy * dy).alias("_syy"),
    )


def adf_test(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Dickey–Fuller unit-root test (lag 0, intercept) per series →
    (group, n_pairs, beta, t_stat, stationary_5pct): regress Δy_t on
    y_{t−1}; under a unit root β = 0, and the DF t-statistic
    t = β̂/se(β̂) is compared to the Dickey–Fuller (NOT normal)
    critical value — the 5% constant-only asymptotic cutoff −2.86 is
    applied for the boolean. The mean-reversion gate before trusting
    an AR-style forecast (holt/yule_walker entries).

    Closed-form OLS on the shared lag-1 moments: β_DF = Sxy/Sxx − 1,
    RSS = Syy − Sxy²/Sxx (regression identity — Δy-on-x and y-on-x
    leave the SAME residuals, their slopes differ by exactly 1), so
    no second pass over the data is needed."""
    m = _lag1_moments(df, group_col, order_col, value_col)
    n = F.col("_n").cast("double")
    phi = F.when(F.col("_sxx") > 0, F.col("_sxy") / F.col("_sxx"))
    beta = phi - F.lit(1.0)
    rss = F.col("_syy") - F.when(
        F.col("_sxx") > 0, F.col("_sxy") * F.col("_sxy") / F.col("_sxx")
    ).otherwise(F.lit(0.0))
    s2 = F.when(n > 2, rss / (n - 2.0))
    se = F.when(F.col("_sxx") > 0, F.sqrt(s2 / F.col("_sxx")))
    t = F.when(se > 0, beta / se)
    return m.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_pairs"),
        F.round(beta, 6).alias("beta"),
        F.round(t, 6).alias("t_stat"),
        (t < F.lit(-2.86)).alias("stationary_5pct"),
    )


def ar1_halflife(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """AR(1) mean-reversion half-life per series → (group, n_pairs,
    phi, half_life): φ from the lag-1 OLS (with intercept), half-life
    = −ln 2 / ln φ for 0 < φ < 1 — "how many buckets until a shock
    decays halfway back", the capacity-planning companion to the ADF
    gate. NULL half-life when φ is outside (0, 1) (no mean
    reversion). Same shared single-pass moments as ``adf_test``."""
    m = _lag1_moments(df, group_col, order_col, value_col)
    phi = F.when(F.col("_sxx") > 0, F.col("_sxy") / F.col("_sxx"))
    hl = F.when(
        (phi > 0) & (phi < 1), -F.log(F.lit(2.0)) / F.log(phi)
    )
    return m.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_pairs"),
        F.round(phi, 6).alias("phi"),
        F.round(hl, 6).alias("half_life"),
    )


def vwap(
    df: DataFrame,
    bucket_col,
    price_col: str,
    qty_col: str,
) -> DataFrame:
    """Volume-weighted average price per bucket → (bucket, n, volume,
    vwap): Σ(p·q)/Σq with the exact-DECIMAL detour on the weighted
    sum (order-independent, engine-identical to the cent) — the
    volume-aware counterpart to the ``twap`` operator. One aggregate
    pass with map-side combine."""
    b = bucket_col if isinstance(bucket_col, Column) else F.col(bucket_col)
    p = F.col(price_col).cast("double")
    q = F.col(qty_col).cast("double")
    agg = df.select(b.alias("_b"), p.alias("_p"), q.alias("_q")).filter(
        F.col("_p").isNotNull() & F.col("_q").isNotNull()
    ).groupBy("_b").agg(
        F.count("*").alias("n"),
        F.sum(F.col("_q").cast("decimal(18,2)"))
        .cast("double")
        .alias("_vol"),
        F.sum((F.col("_p") * F.col("_q")).cast("decimal(28,6)"))
        .cast("double")
        .alias("_pq"),
    )
    return agg.select(
        F.col("_b").alias("bucket"),
        F.col("n").cast("long").alias("n"),
        F.round("_vol", 2).alias("volume"),
        F.round(
            F.when(F.col("_vol") > 0, F.col("_pq") / F.col("_vol")), 6
        ).alias("vwap"),
    )


def spectral_entropy(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    max_k: int = 8,
) -> DataFrame:
    """Normalized spectral entropy per series → (key, k_used, h_norm,
    peak_k, peak_frac): Shannon entropy of the periodogram's
    normalized power over harmonics 1..max_k, divided by ln(k_used)
    — 0 means one harmonic carries everything (pure seasonality),
    1 means white-flat spectrum (no structure). The single-number
    "how forecastable is this series" score built directly on the
    ``periodogram`` operator (whose 6dp-rounded powers are the
    engine-identical inputs here). peak_k is the lowest harmonic
    achieving the max power; peak_frac its share."""
    p = periodogram(df, key_col, ts_col, value_col, bucket, max_k)
    tot = p.groupBy("key").agg(
        grid_sum(F.col("power")).alias("_tot"),
        F.count("*").alias("_k"),
    )
    j = (
        p.join(tot, "key")
        .withColumn(
            "_p", F.when(F.col("_tot") > 0, F.col("power") / F.col("_tot"))
        )
        .withColumn(
            "_wmax", F.max("power").over(Window.partitionBy("key"))
        )
    )
    agg = j.groupBy("key").agg(
        F.min("_k").cast("int").alias("k_used"),
        (
            F.sum(
                F.when(
                    F.col("_p") > 0,
                    F.floor(-F.col("_p") * F.log("_p") * GRID),
                ).otherwise(F.lit(0.0))
            )
            / GRID
        ).alias("_h"),
        F.max("_p").alias("_pmax"),
        F.min(
            F.when(F.col("power") == F.col("_wmax"), F.col("k"))
        ).alias("peak_k"),
    )
    return agg.select(
        "key",
        "k_used",
        # a one-harmonic spectrum gives 0/ln(1) = 0/0 = NaN in Spark
        # (vs NULL in the DuckDB twin) — surface NULL (ADVICE r12)
        F.round(
            F.when(
                F.col("k_used") > 1,
                F.col("_h") / F.log(F.col("k_used").cast("double")),
            ),
            6,
        ).alias("h_norm"),
        "peak_k",
        F.round("_pmax", 6).alias("peak_frac"),
    )


_SAX_BREAKS_4 = (-0.6745, 0.0, 0.6745)


def sax_symbols(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    w: int = 8,
) -> DataFrame:
    """SAX symbolization per series → (key, n, sax): z-normalize the
    bucketed series (grid mean/sd), Piecewise-Aggregate-Approximate
    into ``w`` equal segments, and map each segment mean through the
    alphabet-4 Gaussian breakpoints (−0.6745, 0, 0.6745) → 'a'..'d'.
    The classic Lin/Keogh symbolic fingerprint: equal strings ⇒
    similar shapes, so a plain groupBy on the sax column clusters
    series shapes at corpus scale with no distance computation.

    Bucketing aggregate touches the corpus once; everything after
    runs on the bounded (key × w) table. Segment of bucket t is
    floor(t·w/n) (standard PAA with ragged tails); all means grid-
    floored before symbol lookup so the letter never flips across
    engines."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(F.col(value_col).cast("double")).alias("_x"))
        .select("key", F.col("_w.start").alias("_b"), "_x")
    )
    wo = Window.partitionBy("key").orderBy("_b")
    wk = Window.partitionBy("key")
    s = b.select(
        "key",
        grid(F.col("_x")).alias("_x"),
        (F.row_number().over(wo) - 1).alias("_t"),
        F.count("*").over(wk).alias("_n"),
    )
    mom = s.groupBy("key").agg(
        F.min("_n").alias("_n2"),
        grid(F.avg("_x")).alias("_m"),
    )
    withm = s.join(mom, "key")
    ss = withm.groupBy("key").agg(
        grid_sum((F.col("_x") - F.col("_m")) ** 2).alias("_ss"),
        F.min("_m").alias("_m"),
        F.min("_n2").alias("_n"),
    )
    z = (
        s.drop("_n").join(ss, "key")
        .withColumn(
            "_sd",
            F.when(
                F.col("_n") > 1,
                F.sqrt(F.col("_ss") / (F.col("_n").cast("double") - 1.0)),
            ),
        )
        .withColumn(
            "_z",
            F.when(
                F.col("_sd") > 0,
                (F.col("_x") - F.col("_m")) / F.col("_sd"),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "_seg",
            F.floor(
                F.col("_t") * F.lit(w) / F.col("_n").cast("double")
            ).cast("int"),
        )
    )
    paa = z.groupBy("key", "_seg").agg(
        grid(F.avg("_z")).alias("_pz"),
        F.min("_n").alias("_n"),
    )
    b1, b2, b3 = (F.lit(x) for x in _SAX_BREAKS_4)
    sym = (
        F.when(F.col("_pz") < b1, "a")
        .when(F.col("_pz") < b2, "b")
        .when(F.col("_pz") < b3, "c")
        .otherwise("d")
    )
    out = paa.select("key", "_seg", sym.alias("_s"), "_n").groupBy(
        "key"
    ).agg(
        F.min("_n").cast("long").alias("n"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_seg", "_s"))),
                lambda st: st["_s"],
            ),
        ).alias("sax"),
    )
    return out


def croston_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Intermittent-demand profile + Croston-style rate forecast per
    series → (key, n_buckets, n_nonzero, adi, cv2, pattern,
    forecast): ADI = buckets per demand event, CV² = squared
    variation of the nonzero demand sizes, quadrant-classified per
    Syntetos–Boylan (smooth / intermittent / erratic / lumpy at the
    1.32 / 0.49 cutoffs), forecast = mean demand ÷ ADI (the SMA
    Croston estimate — windowed means, not the serializing EWMA
    recursion). The demand-shape router that decides whether
    holt/ewma forecasts can be trusted at all.

    One bucketing pass + one per-key aggregate; demand sums exact on
    the grid, variance closed-form from Σz/Σz²."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(
            grid(
                F.sum(F.coalesce(F.col(value_col).cast("double"), F.lit(0.0)))
            ).alias("_z")
        )
        .select("key", F.col("_z"))
    )
    agg = b.groupBy("key").agg(
        F.count("*").alias("_nb"),
        F.count(F.when(F.col("_z") != 0, 1)).alias("_nz"),
        grid_sum(F.when(F.col("_z") != 0, F.col("_z"))).alias("_sz"),
        grid_sum(
            F.when(F.col("_z") != 0, F.col("_z") * F.col("_z"))
        ).alias("_sz2"),
    )
    nz = F.col("_nz").cast("double")
    mz = F.col("_sz") / nz
    var = F.when(
        F.col("_nz") > 1, (F.col("_sz2") - nz * mz * mz) / (nz - 1.0)
    )
    cv2 = F.when(mz != 0, var / (mz * mz))
    adi = F.col("_nb").cast("double") / nz
    pattern = (
        F.when((adi < 1.32) & (cv2 < 0.49), "smooth")
        .when((adi >= 1.32) & (cv2 < 0.49), "intermittent")
        .when((adi < 1.32) & (cv2 >= 0.49), "erratic")
        .otherwise("lumpy")
    )
    return agg.filter(F.col("_nz") > 0).select(
        "key",
        F.col("_nb").cast("long").alias("n_buckets"),
        F.col("_nz").cast("long").alias("n_nonzero"),
        F.round(adi, 6).alias("adi"),
        F.round(cv2, 6).alias("cv2"),
        F.when(cv2.isNull(), F.lit("degenerate")).otherwise(pattern).alias(
            "pattern"
        ),
        F.round(mz / adi, 6).alias("forecast"),
    )


def ts_features(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Per-series shape-feature vector → (key, n, mean, sd, cv, acf1,
    trend_slope, turning_rate, longest_flat): the catch-all
    clustering/routing features for millions of series at once —
    level (mean), scale-free spread (cv), short memory (lag-1
    autocorrelation), drift (OLS slope on the bucket index),
    roughness (fraction of interior points that are local extrema)
    and stuck-sensor runs (longest streak of equal grid values).

    One bucketing pass, then windows and aggregates on the bounded
    per-key series: lag/lead for turning points, a run-id prefix sum
    for flat runs, grid means + fxp moment sums for acf1/slope
    (corr_matrix discipline)."""
    b = (
        df.groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), bucket).alias("_w"),
        )
        .agg(F.avg(F.col(value_col).cast("double")).alias("_x0"))
        .select(
            "key",
            F.col("_w.start").alias("_b"),
            grid(F.col("_x0")).alias("_v"),
        )
    )
    wo = Window.partitionBy("key").orderBy("_b")
    wk = Window.partitionBy("key")
    s = b.select(
        "key",
        "_v",
        (F.row_number().over(wo) - 1).cast("double").alias("_t"),
        F.lag("_v").over(wo).alias("_pr"),
        F.lead("_v").over(wo).alias("_nx"),
    )
    wt = Window.partitionBy("key").orderBy("_t")
    run = s.withColumn(
        "_chg",
        F.when(
            F.col("_pr").isNull() | (F.col("_v") != F.col("_pr")), 1
        ).otherwise(0),
    ).withColumn(
        "_run",
        F.sum("_chg").over(
            wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    flat = (
        run.groupBy("key", "_run")
        .agg(F.count("*").alias("_len"))
        .groupBy("key")
        .agg(F.max("_len").alias("_flat"))
    )
    m = s.groupBy("key").agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_mv"),
        grid(F.avg("_t")).alias("_mt"),
        F.count(
            F.when(
                F.col("_pr").isNotNull()
                & F.col("_nx").isNotNull()
                & (
                    ((F.col("_v") > F.col("_pr")) & (F.col("_v") > F.col("_nx")))
                    | ((F.col("_v") < F.col("_pr")) & (F.col("_v") < F.col("_nx")))
                ),
                1,
            )
        ).alias("_turns"),
    )
    jm = s.join(m, "key")
    dv = F.col("_v") - F.col("_mv")
    dt = F.col("_t") - F.col("_mt")
    mom = jm.groupBy("key", "_n", "_mv", "_turns").agg(
        grid_sum(dv * dv).alias("_svv"),
        grid_sum(dt * dt).alias("_stt"),
        grid_sum(dt * dv).alias("_stv"),
    )
    lagm = (
        s.filter(F.col("_pr").isNotNull())
        .groupBy("key")
        .agg(
            F.count("*").alias("_np"),
            grid(F.avg("_pr")).alias("_mx"),
            grid(F.avg("_v")).alias("_my"),
        )
    )
    lx = F.col("_pr") - F.col("_mx")
    ly = F.col("_v") - F.col("_my")
    lagj = (
        s.filter(F.col("_pr").isNotNull())
        .join(lagm, "key")
        .groupBy("key")
        .agg(
            grid_sum(lx * lx).alias("_lxx"),
            grid_sum(ly * ly).alias("_lyy"),
            grid_sum(lx * ly).alias("_lxy"),
        )
    )
    out = mom.join(lagj, "key").join(flat, "key")
    n = F.col("_n").cast("double")
    sd = F.sqrt(F.col("_svv") / (n - 1.0))
    acf1den = F.sqrt(F.col("_lxx") * F.col("_lyy"))
    return out.select(
        "key",
        F.col("_n").cast("long").alias("n"),
        F.round("_mv", 6).alias("mean"),
        F.round(sd, 6).alias("sd"),
        F.round(F.when(F.col("_mv") != 0, sd / F.abs("_mv")), 6).alias("cv"),
        F.round(
            F.when(acf1den > 0, F.col("_lxy") / acf1den), 6
        ).alias("acf1"),
        F.round(
            F.when(F.col("_stt") > 0, F.col("_stv") / F.col("_stt")), 6
        ).alias("trend_slope"),
        F.round(
            F.when(n > 2, F.col("_turns") / (n - 2.0)), 6
        ).alias("turning_rate"),
        F.col("_flat").cast("long").alias("longest_flat"),
    )


# ---------------------------------------------------------------------------
# Channel and beta indicators over the gridded ``ohlc_bars`` aggregate,
# the seasonal-strength summary of ``seasonal_decompose``, control
# charts, and the EMA / oscillator / volatility indicator tier.


def _ohlc_grid(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str,
) -> DataFrame:
    """:func:`ohlc_bars` with the value column pre-quantized onto the
    2^-20 grid — the indicator operators need exact H/L/C inputs so
    every downstream window sum is engine-identical."""
    v = grid(F.col(value_col).cast("double"))
    src = df.filter(v.isNotNull()).withColumn("_qv", v)
    return ohlc_bars(src, key_col, ts_col, "_qv", tiebreak_col, bar).select(
        F.col(key_col).alias("key"),
        F.col("bar_start").alias("bucket_ts"),
        "open",
        "high",
        "low",
        "close",
    )


def keltner_channel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    period: int = 10,
    mult: float = 2.0,
) -> DataFrame:
    """Keltner channel per key → (key, bucket_ts, center, upper,
    lower, atr): center = trailing ``period`` SMA of the typical
    price (H+L+C)/3 over :func:`ohlc_bars`, band = ``mult`` × the
    SMA of the true range TR = max(H−L, |H−prev C|, |L−prev C|) —
    the volatility envelope that, unlike ``bollinger``, reads range
    expansion rather than close-to-close variance (the original
    Chester Keltner construction with Wilder's TR). NULL until the
    frame fills.

    One OHLC aggregate, one lag, one trailing window — all keyed.
    Typical price and TR land on the 2^-20 grid (sums of grid values
    divided by 3 stay engine-exact as IEEE doubles of exact
    inputs)."""
    bars = _ohlc_grid(df, key_col, ts_col, value_col, tiebreak_col, bar)
    w = Window.partitionBy("key").orderBy("bucket_ts")
    pc = F.lag("close").over(w)
    tr = F.when(pc.isNull(), F.col("high") - F.col("low")).otherwise(
        F.greatest(
            F.col("high") - F.col("low"),
            F.abs(F.col("high") - pc),
            F.abs(F.col("low") - pc),
        )
    )
    # typical price divides by 3 (off-grid) — re-floor it so the
    # trailing-window averages sum exact grid values in any frame
    # iteration order (Spark recomputes frames, DuckDB segment-trees
    # them; only exact terms make the two orders agree)
    typ = (
        grid((F.col("high") + F.col("low") + F.col("close")) / 3.0)
    )
    lt = bars.withColumn("_tr", tr).withColumn("_typ", typ)
    wf = w.rowsBetween(-(period - 1), 0)
    out = (
        lt.withColumn("_cnt", F.count("_typ").over(wf))
        .withColumn("_c", F.avg("_typ").over(wf))
        .withColumn("_a", F.avg("_tr").over(wf))
    )
    ok = F.col("_cnt") >= period
    return out.select(
        "key",
        "bucket_ts",
        F.round(F.when(ok, F.col("_c")), 6).alias("center"),
        F.round(
            F.when(ok, F.col("_c") + F.lit(mult) * F.col("_a")), 6
        ).alias("upper"),
        F.round(
            F.when(ok, F.col("_c") - F.lit(mult) * F.col("_a")), 6
        ).alias("lower"),
        F.round(F.when(ok, F.col("_a")), 6).alias("atr"),
    )


def donchian_channel(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    period: int = 10,
) -> DataFrame:
    """Donchian channel per key → (key, bucket_ts, upper, lower, mid,
    breakout): trailing ``period``-bar extreme envelope over
    :func:`ohlc_bars` (upper = max high, lower = min low), plus the
    turtle-trading breakout flag: +1 when the bar's close exceeds the
    PREVIOUS bar's upper band, −1 below the previous lower, else 0.
    NULL bands until the frame fills.

    One OHLC aggregate + one trailing min/max window per key — exact
    order statistics of grid values, no arithmetic to drift."""
    bars = _ohlc_grid(df, key_col, ts_col, value_col, tiebreak_col, bar)
    w = Window.partitionBy("key").orderBy("bucket_ts")
    wf = w.rowsBetween(-(period - 1), 0)
    out = (
        bars.withColumn("_cnt", F.count("high").over(wf))
        .withColumn("_u", F.max("high").over(wf))
        .withColumn("_l", F.min("low").over(wf))
    )
    ok = F.col("_cnt") >= period
    u = F.when(ok, F.col("_u"))
    lo = F.when(ok, F.col("_l"))
    out = out.withColumn("_pu", F.lag(u).over(w)).withColumn(
        "_pl", F.lag(lo).over(w)
    )
    breakout = (
        F.when(
            F.col("_pu").isNotNull() & (F.col("close") > F.col("_pu")), 1
        )
        .when(
            F.col("_pl").isNotNull() & (F.col("close") < F.col("_pl")), -1
        )
        .otherwise(0)
    )
    return out.select(
        "key",
        "bucket_ts",
        F.round(u, 6).alias("upper"),
        F.round(lo, 6).alias("lower"),
        F.round((u + lo) / 2.0, 6).alias("mid"),
        breakout.cast("int").alias("breakout"),
    )


def rolling_beta(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    market_col: str,
    period: int = 20,
) -> DataFrame:
    """Rolling OLS beta of a series against a market/benchmark series
    → (group, order, beta, corr): over the trailing ``period`` rows,
    beta = cov(v, mkt)/var(mkt) and the matching correlation — the
    "how much does this metric move with the aggregate" exposure
    dashboards plot per segment. The caller joins the market column
    onto the series first (one row per (group, order) with both
    values, the ``bollinger`` input contract). NULL until the frame
    fills or the market variance is zero.

    Both columns grid-quantize; the frame's Σx, Σy, Σxy, Σx², Σy²
    are exact sums of grid products, so cov/var/corr are
    engine-identical IEEE expressions of exact integers."""
    qv = grid(F.col(value_col).cast("double"))
    qm = grid(F.col(market_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        qv.alias("_v"),
        qm.alias("_m"),
    ).filter(F.col("_v").isNotNull() & F.col("_m").isNotNull())
    wf = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-(period - 1), 0)
    )
    # products of grid values live on the 2^-40 grid and exceed 2^53
    # at metric scale — floor each product back onto the 2^-20 grid
    # so the frame sums are exact integers (order-independent across
    # engines' differing frame-iteration strategies)
    out = (
        src.withColumn("_cnt", F.count("_v").over(wf))
        .withColumn("_sv", F.sum("_v").over(wf))
        .withColumn("_sm", F.sum("_m").over(wf))
        .withColumn("_svm", grid_sum(F.col("_v") * F.col("_m"), over=wf))
        .withColumn("_smm", grid_sum(F.col("_m") * F.col("_m"), over=wf))
        .withColumn("_svv", grid_sum(F.col("_v") * F.col("_v"), over=wf))
    )
    n = F.col("_cnt").cast("double")
    cov = F.col("_svm") - F.col("_sv") * F.col("_sm") / n
    varm = F.col("_smm") - F.col("_sm") * F.col("_sm") / n
    varv = F.col("_svv") - F.col("_sv") * F.col("_sv") / n
    ok = (F.col("_cnt") >= period) & (varm > 0)
    beta = F.when(ok, cov / varm)
    corr = F.when(
        ok & (varv > 0), cov / F.sqrt(varm * varv)
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(beta, 6).alias("beta"),
        F.round(corr, 6).alias("corr"),
    )


def seasonal_strength(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
    period: int = 7,
) -> DataFrame:
    """Seasonal / trend strength per key → (key, n, f_seasonal,
    f_trend): the Hyndman forecastability decomposition summary
    F_seasonal = max(0, 1 − Var(resid)/Var(y − trend)) and
    F_trend = max(0, 1 − Var(resid)/Var(y − seasonal)), computed over
    :func:`seasonal_decompose`'s output rows where the trend is
    defined (full centered windows only). The single-number "does
    this series have real weekly structure" gate that decides whether
    ``croston_profile``-style or seasonal models apply.

    The decomposition's 6dp-rounded components re-quantize onto the
    2^-20 grid; the three variances are grid-floored mean + per-term
    floor-quantized squared deviations per key — engine-exact."""
    dec = seasonal_decompose(
        df, key_col, ts_col, value_col, bucket, period
    ).filter(F.col("trend").isNotNull())
    src = dec.select(
        "key",
        grid(F.col("resid")).alias("_r"),
        grid(F.col("y") - F.col("trend")).alias("_dt"),
        grid(F.col("y") - F.col("seasonal")).alias("_ds"),
    )
    m = src.groupBy("key").agg(
        F.count("*").alias("_n"),
        grid(F.avg("_r")).alias("_mr"),
        grid(F.avg("_dt")).alias("_mdt"),
        grid(F.avg("_ds")).alias("_mds"),
    )
    c = src.join(F.broadcast(m), "key")
    agg = c.groupBy("key", "_n").agg(
        grid_sum(
            (F.col("_r") - F.col("_mr")) * (F.col("_r") - F.col("_mr"))
        ).alias("_vr"),
        grid_sum(
            (F.col("_dt") - F.col("_mdt")) * (F.col("_dt") - F.col("_mdt"))
        ).alias("_vdt"),
        grid_sum(
            (F.col("_ds") - F.col("_mds")) * (F.col("_ds") - F.col("_mds"))
        ).alias("_vds"),
    )
    fs = F.when(
        F.col("_vdt") > 0,
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("_vr") / F.col("_vdt")
        ),
    )
    ft = F.when(
        F.col("_vds") > 0,
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("_vr") / F.col("_vds")
        ),
    )
    return agg.select(
        "key",
        F.col("_n").cast("long").alias("n"),
        F.round(fs, 6).alias("f_seasonal"),
        F.round(ft, 6).alias("f_trend"),
    )


def imr_chart(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Shewhart individuals / moving-range control summary per key →
    (key, n, center, mr_bar, ucl, lcl, n_out): center line = mean,
    average moving range M̄R = mean |vₜ − vₜ₋₁|, control limits
    center ± 2.66·M̄R (the d₂-based I-MR constant), and the exact
    count of points outside the limits — the SPC companion to
    ``process_capability`` for metric streams without rational
    subgroups.

    One keyed window (lag) + two grid-exact aggregates; the moving
    ranges land on the 2^-20 grid (differences of grid values), so
    every mean is an exact sum divided once."""
    w = Window.partitionBy("key").orderBy("_ts", "_tb")
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
        v.alias("_v"),
    ).filter(F.col("_v").isNotNull())
    lagged = src.withColumn("_mr", F.abs(F.col("_v") - F.lag("_v").over(w)))
    m = lagged.groupBy("key").agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_c"),
        grid(F.avg("_mr")).alias("_mrb"),
    )
    ucl = F.col("_c") + F.lit(2.66) * F.col("_mrb")
    lcl = F.col("_c") - F.lit(2.66) * F.col("_mrb")
    lim = m.select(
        "key", "_n", "_c", "_mrb", ucl.alias("_u"), lcl.alias("_l")
    )
    out = (
        src.join(F.broadcast(lim), "key")
        .groupBy("key", "_n", "_c", "_mrb", "_u", "_l")
        .agg(
            F.count(
                F.when(
                    (F.col("_v") > F.col("_u")) | (F.col("_v") < F.col("_l")),
                    1,
                )
            ).alias("_out")
        )
    )
    return out.select(
        "key",
        F.col("_n").cast("long").alias("n"),
        F.round("_c", 6).alias("center"),
        F.round("_mrb", 6).alias("mr_bar"),
        F.round("_u", 6).alias("ucl"),
        F.round("_l", 6).alias("lcl"),
        F.col("_out").cast("long").alias("n_out"),
    )


def ccf(
    df: DataFrame,
    ts_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 5,
) -> DataFrame:
    """Cross-correlation function of two aligned series → one row per
    lag k in 0..max_lag (lag, n, ccf): corr(x_{t−k}, y_t) — which
    shifts of the driver series x best explain y, the exploratory
    companion that tells ``granger_lag1`` WHICH lag to test. Input is
    an already-bucketed (ts, x, y) series (the ``adf_test``
    contract); the window sort is one pass producing all max_lag lag
    columns.

    Per lag: pairwise-complete rows, grid-floored means, floored
    cross sums — every correlation is engine-exact before the 6dp
    round."""
    w = Window.orderBy(ts_col)
    src = df.select(
        F.col(ts_col),
        grid(F.col(x_col).cast("double")).alias("_x"),
        grid(F.col(y_col).cast("double")).alias("_y"),
    )
    for k in range(1, max_lag + 1):
        src = src.withColumn(f"_x{k}", F.lag("_x", k).over(w))
    outs = []
    for k in range(0, max_lag + 1):
        xk = F.col("_x") if k == 0 else F.col(f"_x{k}")
        rows = src.filter(xk.isNotNull() & F.col("_y").isNotNull())
        m = rows.agg(
            F.count("*").alias("_n"),
            grid(F.avg(xk)).alias("_mx"),
            grid(F.avg("_y")).alias("_my"),
        )
        c = rows.crossJoin(F.broadcast(m))
        dx = xk - F.col("_mx")
        dy = F.col("_y") - F.col("_my")
        s = c.groupBy("_n").agg(
            grid_sum(dx * dx).alias("_sxx"),
            grid_sum(dy * dy).alias("_syy"),
            grid_sum(dx * dy).alias("_sxy"),
        )
        r = F.when(
            (F.col("_sxx") > 0) & (F.col("_syy") > 0),
            F.col("_sxy") / F.sqrt(F.col("_sxx") * F.col("_syy")),
        )
        outs.append(
            s.select(
                F.lit(k).alias("lag"),
                F.col("_n").cast("long").alias("n"),
                F.round(r, 6).alias("ccf"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def p_chart(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    flag_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Shewhart p-chart (attribute control) summary per key → (key,
    n_buckets, n_total, p_bar, n_out): bucket the boolean defect flag
    into subgroups, center line p̄ = total defects / total n, per-
    bucket 3σ binomial limits p̄ ± 3·√(p̄(1−p̄)/nᵢ) (clamped to
    [0, 1]), and the exact count of out-of-control buckets — the
    attribute-data sibling of ``imr_chart`` for error/defect rates.

    Two aggregates (bucket proportions, then the center line joined
    back broadcast); every proportion is an exact integer ratio and
    the limits are IEEE expressions of those exact ratios."""
    src = df.select(
        F.col(key_col).alias("key"),
        F.window(F.col(ts_col), bucket).alias("_w"),
        F.col(flag_col).cast("int").alias("_f"),
    ).filter(F.col("_f").isNotNull())
    per = src.groupBy("key", "_w").agg(
        F.count("*").alias("_ni"), F.sum("_f").alias("_di")
    )
    tot = per.groupBy("key").agg(
        F.count("*").alias("_nb"),
        F.sum("_ni").alias("_n"),
        F.sum("_di").alias("_d"),
    )
    pb = F.col("_d").cast("double") / F.col("_n")
    lim = tot.select(
        "key", "_nb", "_n", pb.alias("_pb")
    )
    j = per.join(F.broadcast(lim), "key")
    se = F.sqrt(
        F.col("_pb") * (1.0 - F.col("_pb")) / F.col("_ni").cast("double")
    )
    ucl = F.least(F.col("_pb") + 3.0 * se, F.lit(1.0))
    lcl = F.greatest(F.col("_pb") - 3.0 * se, F.lit(0.0))
    pi = F.col("_di").cast("double") / F.col("_ni")
    out = j.groupBy("key", "_nb", "_n", "_pb").agg(
        F.count(F.when((pi > ucl) | (pi < lcl), 1)).alias("_out")
    )
    return out.select(
        "key",
        F.col("_nb").cast("long").alias("n_buckets"),
        F.col("_n").cast("long").alias("n_total"),
        F.round("_pb", 6).alias("p_bar"),
        F.col("_out").cast("long").alias("n_out"),
    )


def hampel_outliers(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    window: int = 7,
    k: float = 3.0,
) -> DataFrame:
    """Hampel filter outlier census per key → (key, n, n_flagged,
    flagged_frac): a point is flagged when it sits more than
    k·1.4826·MAD away from the rolling median of its ``window``-point
    centered neighborhood — the robust despike detector that, unlike
    global ``mad_outliers``, survives level shifts and trends (each
    point is judged against its LOCAL neighborhood).

    One keyed window collects the centered frame as an array of grid
    values; median and MAD are exact order statistics of the sorted
    (≤ window+1)-element arrays — tiny interpreted transforms over
    bounded arrays, never over the corpus. Engine-exact: grid values,
    half-grid medians, IEEE thresholds of exact inputs."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
        v.alias("_v"),
    ).filter(F.col("_v").isNotNull())
    half = window // 2
    w = (
        Window.partitionBy("key")
        .orderBy("_ts", "_tb")
        .rowsBetween(-half, half)
    )
    arr = F.array_sort(F.collect_list("_v").over(w))

    def med(a):
        m = F.size(a)
        lo = F.element_at(a, ((m + 1) / 2).cast("int"))
        hi = F.element_at(a, (m / 2 + 1).cast("int"))
        return (lo + hi) / 2.0

    rows = src.withColumn("_arr", arr)
    rows = rows.withColumn("_med", med(F.col("_arr")))
    dev = F.array_sort(
        F.transform(F.col("_arr"), lambda x: F.abs(x - F.col("_med")))
    )
    rows = rows.withColumn("_mad", med(dev))
    flag = F.abs(F.col("_v") - F.col("_med")) > F.lit(k) * F.lit(
        1.4826
    ) * F.col("_mad")
    return rows.groupBy("key").agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(flag, 1)).cast("long").alias("n_flagged"),
        F.round(
            F.count(F.when(flag, 1)) / F.count("*").cast("double"), 6
        ).alias("flagged_frac"),
    )


def c_chart(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Shewhart c-chart (count-of-defects control) summary per key →
    (key, n_buckets, c_bar, n_out): bucket event counts into equal
    subgroups, center line c̄ = mean bucket count, Poisson 3σ limits
    c̄ ± 3·√c̄ (LCL clamped at 0), and the count of out-of-control
    buckets — the count-data sibling of ``p_chart`` (rates) and
    ``imr_chart`` (measurements). The bucket axis is DENSIFIED per key
    (sequence over the min..max bucket starts, zero-filled): an empty
    period is a real zero-count subgroup — dropping it would inflate
    c̄ and hide exactly the below-LCL signal a c-chart exists to catch
    when c̄ > 9. Aggregates plus one bounded per-key sequence explode
    (span/bucket elements); every count and the center line (an
    integer ratio) are exact."""
    src = df.select(
        F.col(key_col).alias("key"),
        F.window(F.col(ts_col), bucket).alias("_w"),
    )
    per = (
        src.groupBy("key", "_w")
        .agg(F.count("*").alias("_ci"))
        .select("key", F.col("_w.start").alias("_s"), "_ci")
    )
    axis = per.groupBy("key").agg(
        F.min("_s").alias("_lo"), F.max("_s").alias("_hi")
    )
    axis = axis.select(
        "key",
        F.explode(
            F.sequence(
                F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {bucket}")
            )
        ).alias("_s"),
    )
    dense = axis.join(per, ["key", "_s"], "left").withColumn(
        "_ci", F.coalesce("_ci", F.lit(0))
    )
    tot = dense.groupBy("key").agg(
        F.count("*").alias("_nb"),
        F.sum("_ci").alias("_c"),
    )
    cb = F.col("_c").cast("double") / F.col("_nb")
    lim = tot.select("key", "_nb", cb.alias("_cb"))
    j = dense.join(F.broadcast(lim), "key")
    ucl = F.col("_cb") + 3.0 * F.sqrt(F.col("_cb"))
    lcl = F.greatest(F.col("_cb") - 3.0 * F.sqrt(F.col("_cb")), F.lit(0.0))
    ci = F.col("_ci").cast("double")
    out = j.groupBy("key", "_nb", "_cb").agg(
        F.count(F.when((ci > ucl) | (ci < lcl), 1)).alias("_out")
    )
    return out.select(
        "key",
        F.col("_nb").cast("long").alias("n_buckets"),
        F.round("_cb", 6).alias("c_bar"),
        F.col("_out").cast("long").alias("n_out"),
    )


def sortino_ratio(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    target: float = 0.0,
) -> DataFrame:
    """Sortino ratio per series → (group, n_returns, mean_excess,
    downside_dev, sortino): period-over-period returns against a
    target, penalizing ONLY downside variance — the risk-adjusted
    summary where Sharpe double-counts upside volatility. Returns are
    grid-quantized (2^-20), so every sum of returns and of squared
    downside is an exact multiple of 2^-20/2^-40 far below the 2^53
    mantissa — order-free exact, any engine."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(wl)
    r = F.when(
        prev > 0, grid((F.col("_v") - prev) / prev)
    )
    t = src.withColumn("_r", r).filter(F.col("_r").isNotNull())
    ex = F.col("_r") - F.lit(float(target))
    dn = F.least(ex, F.lit(0.0))
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"),
        F.sum(ex).alias("_se"),
        F.sum(dn * dn).alias("_sd2"),
    )
    nn = F.col("_n").cast("double")
    mean_ex = F.col("_se") / nn
    dd = F.sqrt(F.col("_sd2") / nn)
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_returns"),
        F.round(mean_ex, 6).alias("mean_excess"),
        F.round(dd, 6).alias("downside_dev"),
        F.round(F.when(dd > 0, mean_ex / dd), 6).alias("sortino"),
    )


def macd(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD per series point → (group, order, macd, signal, histogram):
    EMA(fast) − EMA(slow) of the value, with the signal line an
    EMA(signal) of the MACD itself. Each EMA is :func:`_ema_fold` over
    the full prefix frame — series are bounded buckets by contract
    (daily rollups), so the prefix arrays are small and the JVM-side
    fold — interpreted, as all HOF lambdas are — stays cheap.
    """
    src = _series(df, group_col, order_col, value_col)
    wp = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    frame = F.collect_list("_v").over(wp)
    t = src.select(
        "_g",
        "_o",
        let_bind(frame, _ema_fold(2.0 / (fast + 1.0))).alias("_ef"),
        let_bind(frame, _ema_fold(2.0 / (slow + 1.0))).alias("_es"),
    )
    t = t.withColumn("_macd", F.col("_ef") - F.col("_es"))
    mframe = F.collect_list("_macd").over(wp)
    t = t.withColumn(
        "_sig", let_bind(mframe, _ema_fold(2.0 / (signal + 1.0)))
    )
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round("_macd", 6).alias("macd"),
        F.round("_sig", 6).alias("signal"),
        F.round(F.col("_macd") - F.col("_sig"), 6).alias("histogram"),
    )


def stochastic_oscillator(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    k_period: int = 14,
    d_period: int = 3,
) -> DataFrame:
    """Stochastic oscillator per series point → (group, order, pct_k,
    pct_d): %K = 100·(v − min)/(max − min) over the trailing
    ``k_period`` rows (NULL during warm-up or on a flat window), %D =
    the ``d_period``-point SMA of %K (NULL until fully warmed). Two
    keyed window frames over grid values — min/max are exact, %K is
    one IEEE ratio of exact inputs."""
    src = _series(df, group_col, order_col, value_col)
    wk = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-(k_period - 1), 0)
    )
    t = src.select(
        "_g",
        "_o",
        "_v",
        F.count("*").over(wk).alias("_ck"),
        F.min("_v").over(wk).alias("_lo"),
        F.max("_v").over(wk).alias("_hi"),
    )
    k = F.when(
        (F.col("_ck") >= k_period) & (F.col("_hi") > F.col("_lo")),
        F.lit(100.0)
        * (F.col("_v") - F.col("_lo"))
        / (F.col("_hi") - F.col("_lo")),
    )
    t = t.withColumn("_k", k)
    wd = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-(d_period - 1), 0)
    )
    d = F.when(
        F.count("_k").over(wd) >= d_period,
        F.sum("_k").over(wd) / F.lit(float(d_period)),
    )
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round("_k", 6).alias("pct_k"),
        F.round(d, 6).alias("pct_d"),
    )


def obv(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    volume_col: str,
) -> DataFrame:
    """On-balance volume per series point → (group, order, obv): the
    running sum of volume signed by the value's direction (+vol on an
    up-move, −vol on a down-move, 0 on flat/first) — the classic
    'is volume confirming the trend' accumulator. Grid values make
    every direction comparison exact; volumes are integer counts, so
    the running sum is exact integer arithmetic."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        v.alias("_v"),
        F.col(volume_col).cast("long").alias("_vol"),
    ).filter(F.col("_v").isNotNull() & F.col("_vol").isNotNull())
    wl = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(wl)
    signed = (
        F.when(prev.isNull(), F.lit(0))
        .when(F.col("_v") > prev, F.col("_vol"))
        .when(F.col("_v") < prev, -F.col("_vol"))
        .otherwise(F.lit(0))
    )
    run = Window.partitionBy("_g").orderBy("_o").rowsBetween(
        Window.unboundedPreceding, 0
    )
    t = src.withColumn("_s", signed)
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.sum("_s").over(run).cast("long").alias("obv"),
    )


def ulcer_index(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Ulcer index per series → (group, n, max_dd_pct, ulcer): the
    RMS of percentage drawdowns from the running peak — unlike
    ``max_drawdown`` it charges for how LONG the curve stays under
    water, not just the worst dip. Grid values make each drawdown an
    IEEE ratio of exact inputs; the squared-drawdown sum accumulates
    on the 2^-20 grid in decimal(38,0), order-free exact."""
    src = _series(df, group_col, order_col, value_col)
    w = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = src.withColumn("_peak", F.max("_v").over(w))
    dd = F.when(
        F.col("_peak") > 0,
        F.lit(100.0) * (F.lit(1.0) - F.col("_v") / F.col("_peak")),
    ).otherwise(F.lit(0.0))
    t = run.withColumn("_dd", dd)
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"),
        F.max("_dd").alias("_mx"),
        grid_sum128(F.col("_dd") * F.col("_dd")).alias("_sq"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.round("_mx", 6).alias("max_dd_pct"),
        F.round(
            F.sqrt(F.col("_sq") / F.col("_n").cast("double")), 6
        ).alias("ulcer"),
    )


def garman_klass(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
) -> DataFrame:
    """Garman–Klass range volatility per key → (key, n_bars, gk_var,
    gk_vol): σ² = mean over OHLC bars of 0.5·ln(H/L)² −
    (2ln2−1)·ln(C/O)² — ~7× more efficient than close-to-close
    variance because the intrabar range carries information a single
    close discards. Bars come from the shared ``ohlc_bars`` one-pass
    aggregate; bars with nonpositive prices are excluded (log
    domain). The per-bar terms are IEEE doubles of exact bar stats;
    the mean accumulates on the 2^-20 grid in decimal, order-free."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    ok = bars.filter(
        (F.col("low") > 0) & (F.col("open") > 0)
    )
    hl = F.log(F.col("high").cast("double") / F.col("low"))
    co = F.log(F.col("close").cast("double") / F.col("open"))
    term = F.lit(0.5) * hl * hl - F.lit(
        2.0 * math.log(2.0) - 1.0
    ) * co * co
    t = ok.withColumn("_t", term)
    agg = t.groupBy(key_col).agg(
        F.count("*").alias("_n"),
        # the 2^-40 grid: the log-ratio terms are ~1e-4
        grid_sum128(F.col("_t"), GRID * GRID).alias("_s"),
    )
    var = F.col("_s") / F.col("_n").cast("double")
    return agg.select(
        key_col,
        F.col("_n").cast("long").alias("n_bars"),
        F.round(var, 8).alias("gk_var"),
        F.round(F.when(var >= 0, F.sqrt(var)), 6).alias("gk_vol"),
    )


def permutation_entropy(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Permutation entropy (embedding dimension 3) per series →
    (group, n_windows, n_patterns, h_norm): Shannon entropy of the
    ordinal pattern distribution over sliding (v_t, v_{t+1}, v_{t+2})
    triples, normalized by ln 6 — ~0 for monotone/predictable
    dynamics, ~1 for white noise (Bandt & Pompe 2002). Patterns are
    coded by the three strict pairwise comparisons of grid values
    (ties collapse deterministically toward the earlier index); the
    pattern table is ≤ 8 cells, every probability an exact integer
    ratio."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    t = src.select(
        "_g",
        F.col("_v").alias("_v0"),
        F.lead("_v", 1).over(wl).alias("_v1"),
        F.lead("_v", 2).over(wl).alias("_v2"),
    ).filter(F.col("_v2").isNotNull())
    code = (
        (F.col("_v1") > F.col("_v0")).cast("int") * 4
        + (F.col("_v2") > F.col("_v0")).cast("int") * 2
        + (F.col("_v2") > F.col("_v1")).cast("int")
    )
    cells = t.groupBy("_g", code.alias("_c")).agg(
        F.count("*").alias("_o")
    )
    w_g = Window.partitionBy("_g")
    p = F.col("_o").cast("double") / F.sum("_o").over(w_g)
    scored = cells.select(
        "_g",
        F.sum("_o").over(w_g).alias("_n"),
        (-p * F.log(p)).alias("_h"),
    )
    agg = scored.groupBy("_g", "_n").agg(
        F.count("*").alias("_k"),
        F.sum("_h").alias("_hs"),
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n_windows"),
        F.col("_k").cast("long").alias("n_patterns"),
        F.round(F.col("_hs") / F.lit(math.log(6.0)), 6).alias("h_norm"),
    )


def kpss_test(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    lags: int = 3,
) -> DataFrame:
    """KPSS level-stationarity test per series → (group, n, lrv,
    kpss_stat, stationary): η = Σ S_t² / (n²·σ̂²_lrv) with S_t the
    partial sums of demeaned values and the Bartlett-kernel long-run
    variance over ``lags`` autocovariances — the null here is
    STATIONARY, the mirror image of ``adf_test`` (use both: ADF
    rejects unit root, KPSS fails to reject stationarity → trust the
    series). ``stationary`` flags η below the 5% critical value
    0.463. Demeaned values sit on the exact 2^-20 grid (grid-floored
    mean), partial sums stay exact; Σ S² and the autocovariance sums
    accumulate grid-floored in decimal, order-free."""
    src = _series(df, group_col, order_col, value_col)
    m = src.groupBy("_g").agg(
        grid(F.avg("_v")).alias("_m"),
        F.count("*").alias("_n"),
    )
    t = src.join(F.broadcast(m), "_g").withColumn(
        "_e", F.col("_v") - F.col("_m")
    )
    wl = Window.partitionBy("_g").orderBy("_o")
    wc = wl.rowsBetween(Window.unboundedPreceding, 0)
    t = t.withColumn("_s", F.sum("_e").over(wc))
    lagged = [F.lag("_e", ell).over(wl).alias(f"_e{ell}") for ell in
              range(1, lags + 1)]
    t = t.select("_g", "_n", "_e", "_s", *lagged)
    # 2^30 grid: fine enough that the ≤2^-30-per-term floor loss is
    # invisible under the 1e-6 output rounding, coarse enough that
    # floor(S_t² · 2^30) stays inside the long range for partial sums
    # of price-scale series (S_t ≤ n·|e|max).
    q2 = float(1 << 30)
    aggs = [
        F.max("_n").alias("_nn"),
        grid_sum128(F.col("_s") * F.col("_s"), q2).alias("_ss2"),
        grid_sum128(F.col("_e") * F.col("_e"), q2).alias("_g0"),
    ]
    for ell in range(1, lags + 1):
        e_l = F.col(f"_e{ell}")
        aggs.append(
            grid_sum128(
                F.when(e_l.isNotNull(), F.col("_e") * e_l), q2
            ).alias(f"_g{ell}")
        )
    agg = t.groupBy("_g").agg(*aggs)
    nn = F.col("_nn").cast("double")
    lrv = F.col("_g0") / nn
    for ell in range(1, lags + 1):
        wgt = 1.0 - float(ell) / (lags + 1.0)
        lrv = lrv + 2.0 * F.lit(wgt) * (F.col(f"_g{ell}") / nn)
    stat = F.when(lrv > 0, F.col("_ss2") / (nn * nn * lrv))
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_nn").cast("long").alias("n"),
        F.round(lrv, 6).alias("lrv"),
        F.round(stat, 6).alias("kpss_stat"),
        (stat < 0.463).cast("int").alias("stationary"),
    )


def amihud_illiquidity(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    volume_col: str,
) -> DataFrame:
    """Amihud illiquidity per series → (group, n, amihud_x1m): the
    mean of |return| / volume, scaled ×10⁶ (the conventional
    per-million units — raw values are ~1e-5 and would vanish under
    6-dp rounding) — 'how much does one unit of flow move the price',
    the standard price-impact proxy. Returns grid-quantize (2^-20) so
    each |r|/vol is an IEEE ratio of exact inputs; the mean
    accumulates the ×10⁶-scaled terms grid-floored in decimal,
    order-free exact."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        v.alias("_v"),
        F.col(volume_col).cast("double").alias("_vol"),
    ).filter(F.col("_v").isNotNull() & (F.col("_vol") > 0))
    wl = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(wl)
    r = F.when(
        prev > 0, grid(F.abs(F.col("_v") - prev) / prev)
    )
    t = src.withColumn("_r", r).filter(F.col("_r").isNotNull())
    term = F.col("_r") / F.col("_vol") * 1000000.0
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"), grid_sum128(term).alias("_s")
    )
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_s") / F.col("_n").cast("double"), 6).alias(
            "amihud_x1m"
        ),
    )


def cci(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 20,
) -> DataFrame:
    """Commodity Channel Index per series point → (group, order,
    cci): (tp − SMA) / (0.015·MD) where MD is the mean absolute
    deviation of the trailing window FROM THAT WINDOW'S OWN SMA —
    the deviation recomputes against each row's window mean, so both
    stats come from one collected frame and two left-to-right codegen
    folds (the ``ewma_smooth`` discipline); NULL until the window
    fills. Callers pass the typical price ((H+L+C)/3 off
    ``ohlc_bars``) or any bounded series."""
    src = _series(df, group_col, order_col, value_col)
    w = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-(period - 1), 0)
    )
    frame = F.collect_list("_v").over(w)

    def fold(l):
        n = F.size(l)
        sma = (
            F.aggregate(l, F.lit(0.0), lambda a, x: a + x)
            / n.cast("double")
        )
        md = F.aggregate(
            F.transform(l, lambda x: F.abs(x - sma)),
            F.lit(0.0),
            lambda a, x: a + x,
        ) / n.cast("double")
        return F.when(
            (n >= period) & (md > 0),
            (F.element_at(l, n) - sma) / (F.lit(0.015) * md),
        )

    return src.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(let_bind(frame, fold), 6).alias("cci"),
    )


def mfi(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    volume_col: str,
    period: int = 14,
) -> DataFrame:
    """Money Flow Index per series point → (group, order, mfi): the
    volume-weighted RSI — raw money flow tp·vol splits into positive
    and negative by the price direction, MFI = 100 − 100/(1 + posMF/
    negMF) over the trailing window; NULL during warm-up, 100/0 when
    one side is empty, 50 on an all-flat window. Grid prices × integer
    volumes keep every flow an exact 2^-20 multiple; the frame sums
    are window-ordered and exact."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        v.alias("_v"),
        F.col(volume_col).cast("long").alias("_vol"),
    ).filter(F.col("_v").isNotNull() & F.col("_vol").isNotNull())
    wl = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(wl)
    flow = F.col("_v") * F.col("_vol").cast("double")
    pos = F.when(prev.isNotNull() & (F.col("_v") > prev), flow).otherwise(
        F.when(prev.isNotNull(), F.lit(0.0))
    )
    neg = F.when(prev.isNotNull() & (F.col("_v") < prev), flow).otherwise(
        F.when(prev.isNotNull(), F.lit(0.0))
    )
    wf = wl.rowsBetween(-(period - 1), 0)
    t = (
        src.withColumn("_p", pos)
        .withColumn("_m", neg)
        .withColumn("_cnt", F.count("_p").over(wf))
        .withColumn("_sp", F.sum("_p").over(wf))
        .withColumn("_sn", F.sum("_m").over(wf))
    )
    m = F.when(
        F.col("_cnt") >= period,
        F.when(
            F.col("_sn") > 0,
            F.lit(100.0)
            - F.lit(100.0)
            / (F.lit(1.0) + F.col("_sp") / F.col("_sn")),
        )
        .when(F.col("_sp") > 0, F.lit(100.0))
        .otherwise(F.lit(50.0)),
    )
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(m, 6).alias("mfi"),
    )


def tracking_signal(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Forecast tracking signal per series → (group, n, cum_error,
    mad, tracking_signal): cumulative naive-forecast error over the
    mean absolute error — the SPC-style bias alarm for a forecasting
    pipeline (|TS| > 4 conventionally flags systematic drift; an
    unbiased forecast oscillates near 0). Naive forecast = previous
    value; errors are exact grid differences, both sums order-free
    exact."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    e = F.col("_v") - F.lag("_v").over(wl)
    t = src.withColumn("_e", e).filter(F.col("_e").isNotNull())
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"),
        F.sum("_e").alias("_ce"),
        F.sum(F.abs(F.col("_e"))).alias("_sae"),
    )
    mad = F.col("_sae") / F.col("_n").cast("double")
    return agg.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.round("_ce", 6).alias("cum_error"),
        F.round(mad, 6).alias("mad"),
        F.round(
            F.when(mad > 0, F.col("_ce") / mad), 6
        ).alias("tracking_signal"),
    )


def u_chart(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    defect_col: str,
    unit_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Shewhart u-chart (defects per unit, varying subgroup sizes) per
    key → (key, n_buckets, u_bar, n_out): per bucket, defect count
    over unit count; center ū = Σd/Σn with per-bucket limits
    ū ± 3·√(ū/nᵢ) — the Poisson-rate chart for 'errors per active
    user/request/page' where both the numerator and the denominator
    move. Distinct-count units are exact; every rate an integer
    ratio."""
    src = df.select(
        F.col(key_col).alias("key"),
        F.window(F.col(ts_col), bucket).alias("_w"),
        F.col(defect_col).cast("int").alias("_d"),
        F.col(unit_col).alias("_u"),
    )
    per = src.groupBy("key", "_w").agg(
        F.sum("_d").alias("_di"),
        F.count_distinct("_u").alias("_ni"),
    ).filter(F.col("_ni") > 0)
    tot = per.groupBy("key").agg(
        F.count("*").alias("_nb"),
        F.sum("_di").alias("_dt"),
        F.sum("_ni").alias("_nt"),
    )
    ub = F.col("_dt").cast("double") / F.col("_nt")
    lim = tot.select("key", "_nb", ub.alias("_ub"))
    j = per.join(F.broadcast(lim), "key")
    se = F.sqrt(F.col("_ub") / F.col("_ni").cast("double"))
    ucl = F.col("_ub") + 3.0 * se
    lcl = F.greatest(F.col("_ub") - 3.0 * se, F.lit(0.0))
    ui = F.col("_di").cast("double") / F.col("_ni")
    out = j.groupBy("key", "_nb", "_ub").agg(
        F.count(F.when((ui > ucl) | (ui < lcl), 1)).alias("_out")
    )
    return out.select(
        "key",
        F.col("_nb").cast("long").alias("n_buckets"),
        F.round("_ub", 6).alias("u_bar"),
        F.col("_out").cast("long").alias("n_out"),
    )


def np_chart(
    df: DataFrame,
    key_col: str,
    order_col: str,
    flag_col: str,
    subgroup_size: int = 200,
) -> DataFrame:
    """Shewhart np-chart (defective COUNTS in equal-size subgroups)
    per key → (key, n_subgroups, np_bar, n_out): rows chunk into
    consecutive ``subgroup_size``-row subgroups in ``order_col``
    order, the defective count per chunk is charted against
    np̄ ± 3·√(np̄(1−p̄)) — the fixed-n twin of ``p_chart`` (counts are
    what the floor actually tallies; rates need varying-n math).
    Trailing partial chunks are dropped (their limits would need the
    u/p forms). One row_number window + two aggregates, all exact
    integers."""
    w = Window.partitionBy(F.col(key_col)).orderBy(F.col(order_col))
    src = df.select(
        F.col(key_col).alias("key"),
        F.col(flag_col).cast("int").alias("_f"),
        ((F.row_number().over(w) - 1) / subgroup_size)
        .cast("long")
        .alias("_chunk"),
    ).filter(F.col("_f").isNotNull())
    per = src.groupBy("key", "_chunk").agg(
        F.count("*").alias("_n"), F.sum("_f").alias("_d")
    ).filter(F.col("_n") == subgroup_size)
    tot = per.groupBy("key").agg(
        F.count("*").alias("_nb"), F.sum("_d").alias("_dt")
    )
    npb = F.col("_dt").cast("double") / F.col("_nb")
    pb = npb / float(subgroup_size)
    lim = tot.select("key", "_nb", npb.alias("_npb"), pb.alias("_pb"))
    j = per.join(F.broadcast(lim), "key")
    se = F.sqrt(F.col("_npb") * (1.0 - F.col("_pb")))
    ucl = F.col("_npb") + 3.0 * se
    lcl = F.greatest(F.col("_npb") - 3.0 * se, F.lit(0.0))
    d = F.col("_d").cast("double")
    out = j.groupBy("key", "_nb", "_npb").agg(
        F.count(F.when((d > ucl) | (d < lcl), 1)).alias("_out")
    )
    return out.select(
        "key",
        F.col("_nb").cast("long").alias("n_subgroups"),
        F.round("_npb", 6).alias("np_bar"),
        F.col("_out").cast("long").alias("n_out"),
    )


def ewma_chart(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    lam: float = 0.2,
    width: float = 3.0,
) -> DataFrame:
    """EWMA control chart per key → (key, n, center, sigma_hat,
    n_out): z_t = λx_t + (1−λ)z_{t−1} seeded at the series mean,
    charted against center ± L·σ̂·√(λ/(2−λ)·(1−(1−λ)^{2t})) with σ̂
    from the average moving range / d₂ (the ``imr_chart``
    estimator) — the small-persistent-shift detector Shewhart charts
    miss. The recursion unrolls into one prefix fold per row (the
    ``macd`` discipline); the time-varying limit factor is exact
    arithmetic of the row index."""
    lam = float(lam)
    src = _series(df, key_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    stats = src.groupBy("_g").agg(
        grid(F.avg("_v")).alias("_c"),
        F.count("*").alias("_n"),
    )
    mr = src.withColumn(
        "_mr", F.abs(F.col("_v") - F.lag("_v").over(wl))
    ).groupBy("_g").agg(
        grid(F.avg("_mr")).alias("_mrb")
    )
    base = stats.join(mr, "_g")
    t = src.join(F.broadcast(base), "_g")
    wp = wl.rowsBetween(Window.unboundedPreceding, 0)
    frame = F.collect_list("_v").over(wp)
    d = 1.0 - lam

    def fold(l):
        n = F.size(l)
        return F.aggregate(
            F.transform(
                l,
                lambda x, i: x
                * F.lit(lam)
                * F.pow(F.lit(d), (n - 1 - i).cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ) + F.col("_c") * F.pow(F.lit(d), n.cast("double"))

    t = t.withColumn("_z", let_bind(frame, fold))
    t = t.withColumn(
        "_t", F.row_number().over(wl).cast("double")
    )
    sig = F.col("_mrb") / 1.128
    fac = F.sqrt(
        F.lit(lam / (2.0 - lam))
        * (1.0 - F.pow(F.lit(d), 2.0 * F.col("_t")))
    )
    ucl = F.col("_c") + F.lit(float(width)) * sig * fac
    lcl = F.col("_c") - F.lit(float(width)) * sig * fac
    flag = (F.col("_z") > ucl) | (F.col("_z") < lcl)
    agg = t.groupBy("_g", "_c").agg(
        F.count("*").alias("_nn"),
        F.max(sig).alias("_sig"),
        F.count(F.when(flag, 1)).alias("_out"),
    )
    return agg.select(
        F.col("_g").alias(key_col),
        F.col("_nn").cast("long").alias("n"),
        F.round("_c", 6).alias("center"),
        F.round("_sig", 6).alias("sigma_hat"),
        F.col("_out").cast("long").alias("n_out"),
    )


def pivot_points(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
) -> DataFrame:
    """Classic floor-trader pivot levels per (key, bar) → (key,
    bar_start, pivot, r1, s1, r2, s2) from the bar's OHLC: P =
    (H+L+C)/3, R1 = 2P−L, S1 = 2P−H, R2 = P+(H−L), S2 = P−(H−L) —
    the next-period support/resistance scaffold downstream alerting
    joins against. One ``ohlc_bars`` aggregate + pure codegen
    arithmetic."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    p = (
        F.col("high").cast("double") + F.col("low") + F.col("close")
    ) / 3.0
    return bars.select(
        key_col,
        "bar_start",
        F.round(p, 6).alias("pivot"),
        F.round(2.0 * p - F.col("low"), 6).alias("r1"),
        F.round(2.0 * p - F.col("high"), 6).alias("s1"),
        F.round(p + (F.col("high") - F.col("low")), 6).alias("r2"),
        F.round(p - (F.col("high") - F.col("low")), 6).alias("s2"),
    )


def entropy_rate(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    state_col: str,
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Entropy rate of the per-user state chain → one row
    (n_transitions, n_states, h_rate, h_max, predictability): the
    stationary-weighted scalar H = −Σᵢ π̂ᵢ Σⱼ pᵢⱼ ln pᵢⱼ with π̂ from
    the empirical from-state mass — ``markov_entropy`` answers 'how
    predictable from EACH state'; this is the one-number source rate,
    with predictability = 1 − H/ln(K) as the headline. Transitions
    come from one (user, ts, tiebreak)-ordered lag window; all cell
    arithmetic is exact integer ratios over the K²-scale table."""
    wl = Window.partitionBy(F.col(user_col)).orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    t = df.select(
        F.lag(F.col(state_col)).over(wl).alias("_from"),
        F.col(state_col).alias("_to"),
    ).filter(F.col("_from").isNotNull())
    cells = t.groupBy("_from", "_to").agg(F.count("*").alias("_c"))
    w_from = Window.partitionBy("_from")
    w_all = Window.partitionBy()
    sc = cells.select(
        "_from",
        "_c",
        F.sum("_c").over(w_from).alias("_cf"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    p = F.col("_c").cast("double") / F.col("_cf")
    pi = F.col("_cf").cast("double") / F.col("_n")
    agg = sc.groupBy("_n").agg(
        F.count_distinct("_from").alias("_k"),
        F.sum(-pi * p * F.log(p)).alias("_h"),
    )
    k = F.col("_k").cast("double")
    hmax = F.log(k)
    return agg.select(
        F.col("_n").cast("long").alias("n_transitions"),
        F.col("_k").cast("long").alias("n_states"),
        F.round("_h", 6).alias("h_rate"),
        F.round(hmax, 6).alias("h_max"),
        F.round(
            F.when(hmax > 0, 1.0 - F.col("_h") / hmax), 6
        ).alias("predictability"),
    )


def heikin_ashi(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
) -> DataFrame:
    """Heikin-Ashi smoothed candles per (key, bar) → (key, bar_start,
    ha_open, ha_high, ha_low, ha_close): ha_close = (O+H+L+C)/4 and
    the ha_open recursion ha_openₜ = (ha_openₜ₋₁ + ha_closeₜ₋₁)/2
    seeded at (O₁+C₁)/2 — the trend-denoising transform that turns a
    choppy candle series into runs. The recursion unrolls into one
    prefix fold over the bounded bar series (2^{1−t}·seed +
    Σ 2^{i−t}·ha_closeᵢ — the ``macd`` discipline), a bounded
    JVM-side interpreted fold."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    b = bars.select(
        F.col(key_col).alias("_g"),
        F.col("bar_start").alias("_d"),
        grid(F.col("open").cast("double")).alias("_o"),
        grid(F.col("high").cast("double")).alias("_h"),
        grid(F.col("low").cast("double")).alias("_l"),
        grid(F.col("close").cast("double")).alias("_c"),
    )
    hac = (F.col("_o") + F.col("_h") + F.col("_l") + F.col("_c")) / 4.0
    b = b.withColumn("_hac", hac)
    wl = Window.partitionBy("_g").orderBy("_d")
    wp = wl.rowsBetween(Window.unboundedPreceding, 0)
    seed = F.first((F.col("_o") + F.col("_c")) / 2.0).over(wp)
    frame = F.collect_list("_hac").over(wp)

    def fold(l):
        # ha_open_t uses ha_close_1..t-1: drop the current row's hac
        n = F.size(l)
        prev = F.slice(l, 1, n - 1)
        return F.when(n == 1, F.col("_seed")).otherwise(
            F.col("_seed")
            * F.pow(F.lit(0.5), (n - 1).cast("double"))
            + F.aggregate(
                F.transform(
                    prev,
                    lambda x, i: x
                    * F.pow(F.lit(0.5), (n - 1 - i).cast("double")),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    b = b.withColumn("_seed", seed)
    b = b.withColumn("_hao", let_bind(frame, fold))
    return b.select(
        F.col("_g").alias(key_col),
        F.col("_d").alias("bar_start"),
        F.round("_hao", 6).alias("ha_open"),
        F.round(F.greatest("_h", "_hao", "_hac"), 6).alias("ha_high"),
        F.round(F.least("_l", "_hao", "_hac"), 6).alias("ha_low"),
        F.round("_hac", 6).alias("ha_close"),
    )


# ---------------------------------------------------------------------------
# Trend and money-flow indicators, theta forecasting and seasonal ESD
# anomalies over the shared bounded-series / OHLC-bar machinery.


def aroon(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 14,
) -> DataFrame:
    """Aroon indicator per series point → (group, order, aroon_up,
    aroon_down): 100·(period − bars_since_extreme)/period over the
    trailing period+1 rows — 'how FRESH is the high/low', the
    trend-age readout ``stochastic_oscillator`` (distance-based)
    doesn't give. Ties resolve to the most recent bar.

    One window pass: lexicographic max of (value, idx) / (−value,
    idx) structs makes argmax/argmin ordinary decomposable window
    aggregates (both engines order structs field-by-field), so bars-
    since is exact integer arithmetic — no self-join, no sort beyond
    the keyed window."""
    src = _series(df, group_col, order_col, value_col)
    wo = Window.partitionBy("_g").orderBy("_o")
    t = src.withColumn("_i", F.row_number().over(wo).cast("long"))
    wf = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-period, 0)
    )
    hi_i = F.max(F.struct(F.col("_v"), F.col("_i"))).over(wf)["_i"]
    lo_i = F.max(F.struct((-F.col("_v")).alias("_v"), F.col("_i"))).over(
        wf
    )["_i"]
    cnt = F.count("*").over(wf)
    p = float(period)
    up = F.when(
        cnt == period + 1,
        F.lit(100.0)
        * (p - (F.col("_i") - hi_i).cast("double"))
        / p,
    )
    dn = F.when(
        cnt == period + 1,
        F.lit(100.0)
        * (p - (F.col("_i") - lo_i).cast("double"))
        / p,
    )
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(up, 6).alias("aroon_up"),
        F.round(dn, 6).alias("aroon_down"),
    )


def chaikin_money_flow(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    period: int = 20,
) -> DataFrame:
    """Chaikin money flow per bar → (key, bar_start, cmf): CMF =
    Σ(MFV)/Σ(volume) over the trailing ``period`` bars, with the
    money-flow volume MFV = volume·((C−L)−(H−C))/(H−L) (0 on a flat
    bar) — 'is volume entering near highs or lows', the
    accumulation/distribution readout ``obv`` (direction-only)
    misses. One ``ohlc_bars`` aggregate + one keyed window; each
    bar's MFV lands on the 2^-20 grid before the trailing sum, so
    both sums are exact and order-free; CMF is one IEEE ratio.
    Warm-up rows (< period bars) are NULL."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    h = F.col("high").cast("double")
    lo = F.col("low").cast("double")
    c = F.col("close").cast("double")
    mfm = F.when(h > lo, ((c - lo) - (h - c)) / (h - lo)).otherwise(
        F.lit(0.0)
    )
    mfv = grid(mfm * F.col("volume").cast("double"))
    t = bars.select(
        F.col(key_col).alias("_k"),
        F.col("bar_start").alias("_b"),
        mfv.alias("_mfv"),
        F.col("volume").cast("long").alias("_vol"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(-(period - 1), 0)
    )
    cmf = F.when(
        F.count("*").over(w) >= period,
        (F.sum(F.col("_mfv") * GRID).over(w) / GRID)
        / F.sum("_vol").over(w).cast("double"),
    )
    return t.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bar_start"),
        F.round(cmf, 6).alias("cmf"),
    )


def vortex_indicator(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    period: int = 14,
) -> DataFrame:
    """Vortex indicator per bar → (key, bar_start, vi_plus,
    vi_minus): VI± = Σ|H_t − L_{t−1}| / ΣTR (resp. |L_t − H_{t−1}|)
    over the trailing ``period`` bars, TR the true range — the
    crossing pair traders read for trend reversals; the directional
    sibling of ``keltner_channel``'s volatility bands. Bars from one
    ``ohlc_bars`` aggregate; per-bar VM±/TR terms are grid-floored
    (2^-20) so the trailing sums are exact; NULL until period+1 bars
    (the first bar has no previous close)."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    t = bars.select(
        F.col(key_col).alias("_k"),
        F.col("bar_start").alias("_b"),
        F.col("high").cast("double").alias("_h"),
        F.col("low").cast("double").alias("_l"),
        F.col("close").cast("double").alias("_c"),
    )
    wo = Window.partitionBy("_k").orderBy("_b")
    t = t.select(
        "_k", "_b", "_h", "_l",
        F.lag("_h").over(wo).alias("_ph"),
        F.lag("_l").over(wo).alias("_pl"),
        F.lag("_c").over(wo).alias("_pc"),
    )
    vmp = grid(F.abs(F.col("_h") - F.col("_pl")))
    vmm = grid(F.abs(F.col("_l") - F.col("_ph")))
    # greatest() SKIPS nulls, so the first bar would get a TR with no
    # VM terms and the warm-up ratio would mix 4 VM over 5 TR — gate
    # TR on the previous close explicitly
    tr = F.when(
        F.col("_pc").isNotNull(),
        grid(
            F.greatest(
                F.col("_h") - F.col("_l"),
                F.abs(F.col("_h") - F.col("_pc")),
                F.abs(F.col("_l") - F.col("_pc")),
            )
        ),
    )
    t = t.select(
        "_k", "_b", vmp.alias("_vmp"), vmm.alias("_vmm"), tr.alias("_tr")
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(-(period - 1), 0)
    )
    ok = F.count("_tr").over(w) >= period
    str_ = F.sum(F.col("_tr") * GRID).over(w) / GRID
    vip = F.when(
        ok & (str_ > 0),
        (F.sum(F.col("_vmp") * GRID).over(w) / GRID) / str_,
    )
    vim = F.when(
        ok & (str_ > 0),
        (F.sum(F.col("_vmm") * GRID).over(w) / GRID) / str_,
    )
    return t.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bar_start"),
        F.round(vip, 6).alias("vi_plus"),
        F.round(vim, 6).alias("vi_minus"),
    )


def supertrend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    period: int = 7,
    mult: float = 3.0,
) -> DataFrame:
    """Supertrend trailing stop per bar → (key, bar_start, supertrend,
    direction): bands (H+L)/2 ± mult·ATR ratchet toward price (the
    upper band only moves DOWN while price is below it, mirrored for
    the lower), and the line flips sides when the close crosses —
    the classic stop-and-reverse overlay. ATR here is the SMA of
    true range over ``period`` bars (documented variant; Wilder's
    RMA would nest a second recursion for no bench-visible gain).

    The band ratchet is a genuine order-dependent recursion: it
    unrolls as a left-to-right fold over each bar's ready-prefix
    (bars with a warm ATR), the ``macd`` bounded-series discipline.
    Every fold input lands on the 2^-20 grid FIRST and the fold only
    ever selects/compares gridded values — zero accumulation drift,
    so any engine with list lambdas replays it bit-for-bit. NULL
    until the first post-warm-up bar."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    t = bars.select(
        F.col(key_col).alias("_k"),
        F.col("bar_start").alias("_b"),
        F.col("high").cast("double").alias("_h"),
        F.col("low").cast("double").alias("_l"),
        F.col("close").cast("double").alias("_c"),
    )
    wo = Window.partitionBy("_k").orderBy("_b")
    pc = F.lag("_c").over(wo)
    tr = grid(
        F.greatest(
            F.col("_h") - F.col("_l"),
            F.coalesce(F.abs(F.col("_h") - pc), F.col("_h") - F.col("_l")),
            F.coalesce(F.abs(F.col("_l") - pc), F.col("_h") - F.col("_l")),
        )
    )
    t = t.withColumn("_tr", tr)
    wp = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(-(period - 1), 0)
    )
    atr = F.when(
        F.count("_tr").over(wp) >= period,
        grid(
            (F.sum(F.col("_tr") * GRID).over(wp) / GRID)
            / F.lit(float(period))
        ),
    )
    hl2 = (F.col("_h") + F.col("_l")) / 2.0
    bu = grid(hl2 + F.lit(float(mult)) * F.col("_atr"))
    bl = grid(hl2 - F.lit(float(mult)) * F.col("_atr"))
    t = t.withColumn("_atr", atr)
    elem = F.when(
        F.col("_atr").isNotNull(),
        F.struct(
            bu.alias("bu"),
            bl.alias("bl"),
            grid(F.col("_c")).alias("cq"),
        ),
    )
    t = t.withColumn("_e", elem)
    wf = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    frame = F.collect_list("_e").over(wf)

    null_d = F.lit(None).cast("double")
    zero = F.struct(
        null_d.alias("bu"), null_d.alias("bl"), null_d.alias("cq"),
        null_d.alias("ub"), null_d.alias("lb"), null_d.alias("st"),
    )

    def widen(x):
        return F.struct(
            x["bu"].alias("bu"), x["bl"].alias("bl"), x["cq"].alias("cq"),
            null_d.alias("ub"), null_d.alias("lb"), null_d.alias("st"),
        )

    def seed(x):
        # first ready bar: bands start at their basics; trend starts
        # down (st = upper) unless close already above the band
        st = F.when(x["cq"] <= x["bu"], x["bu"]).otherwise(x["bl"])
        return F.struct(
            x["bu"].alias("bu"), x["bl"].alias("bl"), x["cq"].alias("cq"),
            x["bu"].alias("ub"), x["bl"].alias("lb"), st.alias("st"),
        )

    def step(acc, x):
        ub = F.when(
            (x["bu"] < acc["ub"]) | (acc["cq"] > acc["ub"]), x["bu"]
        ).otherwise(acc["ub"])
        lb = F.when(
            (x["bl"] > acc["lb"]) | (acc["cq"] < acc["lb"]), x["bl"]
        ).otherwise(acc["lb"])
        was_down = acc["st"] == acc["ub"]
        st = F.when(
            was_down,
            F.when(x["cq"] <= ub, ub).otherwise(lb),
        ).otherwise(F.when(x["cq"] >= lb, lb).otherwise(ub))
        return F.struct(
            x["bu"].alias("bu"), x["bl"].alias("bl"), x["cq"].alias("cq"),
            ub.alias("ub"), lb.alias("lb"), st.alias("st"),
        )

    def fold(l):
        return F.aggregate(
            l,
            zero,
            lambda acc, x: F.when(acc["bu"].isNull(), widen(x)).otherwise(
                F.when(acc["ub"].isNull(), step(seed(acc), x)).otherwise(
                    step(acc, x)
                )
            ),
            # a 1-element ready-prefix never entered step(): finish by
            # seeding it (DuckDB's list_reduce returns the raw element
            # there — its twin applies the same seed-if-unstepped)
            lambda acc: F.when(
                acc["ub"].isNull() & acc["bu"].isNotNull(),
                F.struct(
                    seed(acc)["ub"].alias("ub"),
                    seed(acc)["lb"].alias("lb"),
                    seed(acc)["st"].alias("st"),
                ),
            ).otherwise(
                F.struct(
                    acc["ub"].alias("ub"),
                    acc["lb"].alias("lb"),
                    acc["st"].alias("st"),
                )
            ),
        )

    t = t.withColumn("_fin", let_bind(frame, fold))
    stv = F.when(F.col("_atr").isNotNull(), F.col("_fin")["st"])
    dirn = F.when(
        stv.isNotNull(),
        F.when(stv == F.col("_fin")["ub"], F.lit("down")).otherwise(
            F.lit("up")
        ),
    )
    return t.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bar_start"),
        F.round(stv, 6).alias("supertrend"),
        dirn.alias("direction"),
    )


def theta_forecast(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    h: int = 1,
) -> DataFrame:
    """Theta-method point forecast per series → (group, n, intercept,
    slope, ses_theta2, forecast): the M3-winning decomposition —
    average the h-step extrapolations of the θ=0 line (the OLS trend)
    and the θ=2 line zₜ = 2vₜ − (a + b·t) smoothed by SES with FIXED
    ``alpha`` (free-α optimization is a solver, not an aggregate;
    the fixed-α contract keeps the whole thing replayable).
    ŷ_{n+h} = ½(a + b(n+h)) + ½·SES_n(z).

    Two passes: grid-exact OLS sums (t = 1..n by row_number), then
    the SES recursion as one :func:`_ema_fold` over the sorted
    per-series array (bounded series by contract)."""
    src = _series(df, group_col, order_col, value_col)
    wo = Window.partitionBy("_g").orderBy("_o")
    t = src.withColumn("_t", F.row_number().over(wo).cast("double"))
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"),
        (F.sum(F.col("_v") * GRID) / GRID).alias("_sv"),
        F.sum("_t").alias("_st"),
        F.sum(F.col("_t") * F.col("_t")).alias("_st2"),
        grid_sum(F.col("_t") * F.col("_v")).alias("_stv"),
        F.sort_array(
            F.collect_list(F.struct(F.col("_t"), F.col("_v")))
        ).alias("_arr"),
    )
    n = F.col("_n").cast("double")
    sxx = F.col("_st2") - F.col("_st") * F.col("_st") / n
    sxy = F.col("_stv") - F.col("_st") * F.col("_sv") / n
    b = F.when(sxx > 0, sxy / sxx).otherwise(F.lit(0.0))
    a = (F.col("_sv") - b * F.col("_st")) / n
    agg = agg.select(
        "_g", "_n", "_arr", a.alias("_a"), b.alias("_b")
    )
    # SES of z_i = 2v_i − (a + b·t_i)
    ses = _ema_fold(
        alpha, lambda x: 2.0 * x["_v"] - (F.col("_a") + F.col("_b") * x["_t"])
    )
    agg = agg.withColumn("_ses", let_bind(F.col("_arr"), ses))
    trend = F.col("_a") + F.col("_b") * (n + float(h))
    fc = 0.5 * trend + 0.5 * F.col("_ses")
    return agg.select(
        F.col("_g").alias("g"),
        F.col("_n").cast("long").alias("n"),
        F.round("_a", 6).alias("intercept"),
        F.round("_b", 6).alias("slope"),
        F.round("_ses", 6).alias("ses_theta2"),
        F.round(fc, 6).alias("forecast"),
    )


def seasonal_esd(
    df: DataFrame,
    group_col: str,
    date_col: str,
    value_col: str,
    lambdas: "tuple[float, float, float]" = (3.0, 3.0, 3.0),
) -> DataFrame:
    """Seasonal-hybrid ESD anomalies (3 unrolled rounds) per series →
    (g, d, v, residual, r_stat, round): deseason each daily point by
    its weekday MEDIAN (medians, not means — the S-H-ESD robustness
    trick; the overall-median level terms cancel exactly, see below),
    then run generalized-ESD: round i
    removes the largest |residual − mean| point and re-tests the
    REMAINING data, so one monster outlier can't mask its neighbors
    (exactly where a single ``grubbs_test`` stops). A point is
    emitted iff R_i = max|r−x̄|/s exceeds ``lambdas[i]`` — fixed
    critical values by contract (t-quantiles have no replayable
    closed form; the ``chow_test`` convention).

    Rounds are literally unrolled: 3× (grid-exact moment aggregate +
    lexicographic max_by pick + anti-join removal), the ``k_truss``
    unrolled-program discipline; medians are exact order statistics
    of bounded per-(g, weekday) arrays."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(date_col).alias("_d"),
        v.alias("_v"),
    ).filter(F.col("_v").isNotNull())
    src = src.withColumn("_wd", F.dayofweek("_d"))

    def arr_med(c):
        m = F.size(c)
        lo = F.element_at(c, ((m + 1) / 2).cast("int"))
        hi = F.element_at(c, (m / 2 + 1).cast("int"))
        return (lo + hi) / 2.0

    wk = Window.partitionBy("_g", "_wd")
    t = src.select(
        "_g", "_d", "_v",
        arr_med(F.array_sort(F.collect_list("_v").over(wk))).alias("_mw"),
    )
    # residual = v − seasonal − level with seasonal = med_weekday − med
    # and level = med: the overall-median terms cancel to v − med_wd
    r = grid(F.col("_v") - F.col("_mw"))
    cur = t.select("_g", "_d", "_v", r.alias("_r")).localCheckpoint(
        eager=True
    )
    out = None
    for rnd, lam in enumerate(lambdas):
        m = cur.groupBy("_g").agg(
            F.count("*").alias("_n"),
            (F.sum(F.col("_r") * GRID) / GRID).alias("_s1"),
            grid_sum(F.col("_r") * F.col("_r")).alias("_s2"),
        )
        nn = F.col("_n").cast("double")
        mean = F.col("_s1") / nn
        sd = F.sqrt(
            F.greatest(
                (F.col("_s2") - nn * mean * mean) / nn, F.lit(0.0)
            )
        )
        m = m.select("_g", mean.alias("_m"), sd.alias("_sd"), "_n")
        j = cur.join(F.broadcast(m), "_g")
        dev = F.abs(F.col("_r") - F.col("_m"))
        # deterministic worst pick: lexicographic max of (dev, r, d)
        pick = (
            j.groupBy("_g")
            .agg(
                F.max(
                    F.struct(
                        dev.alias("_dev"),
                        F.col("_r").alias("_r"),
                        F.col("_d").alias("_d"),
                        F.col("_v").alias("_v"),
                        F.col("_sd").alias("_sd"),
                        F.col("_n").alias("_n"),
                    )
                ).alias("_w")
            )
            .select(
                "_g",
                F.col("_w._d").alias("_d"),
                F.col("_w._v").alias("_v"),
                F.col("_w._r").alias("_r"),
                F.when(
                    (F.col("_w._sd") > 0) & (F.col("_w._n") > 2),
                    F.col("_w._dev") / F.col("_w._sd"),
                ).alias("_rs"),
            )
        )
        flagged = pick.filter(F.col("_rs") > float(lam)).select(
            "_g", "_d", "_v", "_r", "_rs", F.lit(rnd + 1).alias("_round")
        )
        out = flagged if out is None else out.unionByName(flagged)
        cur = cur.join(
            pick.select("_g", "_d"), ["_g", "_d"], "left_anti"
        ).localCheckpoint(eager=True)
    return out.select(
        F.col("_g").alias("g"),
        F.col("_d").alias("d"),
        F.round("_v", 6).alias("v"),
        F.round("_r", 6).alias("residual"),
        F.round("_rs", 6).alias("r_stat"),
        F.col("_round").cast("int").alias("round"),
    )


# ---------------------------------------------------------------------------
# Forecast accuracy, volatility diagnostics, event-gap control, the
# remaining indicators (KAMA, TRIX, Ichimoku, Coppock, Elder ray, SAR)
# and the fixed-length periodogram.


def theil_u(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    sma_period: int = 3,
) -> DataFrame:
    """Theil's forecast-accuracy coefficients per series → (group, n,
    u1, u2): U1 (inequality of the naive 1-step walk against the
    series scale) and U2 (the trailing-SMA forecast against the naive
    benchmark — U2 < 1 means the SMA actually beats 'tomorrow equals
    today', the question ``tracking_signal`` never answers). All
    ratio terms grid-floored (2^-20) before their sums; warm-up rows
    excluded from both numerator and denominator identically."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(wl)
    wp = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-sma_period, -1)
    )
    fc = F.when(
        F.count("_v").over(wp) >= sma_period,
        grid(
            F.sum(F.col("_v") * GRID).over(wp)
            / F.lit(float(sma_period))
            / GRID
        ),
    )
    t = src.select(
        "_g", "_o", "_v", prev.alias("_p"), fc.alias("_f")
    ).filter(F.col("_p").isNotNull() & (F.col("_p") != 0))
    naive_e = grid((F.col("_v") - F.col("_p")) / F.col("_p"))
    fc_e = grid((F.col("_f") - F.col("_v")) / F.col("_p"))
    ok = F.col("_f").isNotNull()
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"),
        grid_sum(naive_e * naive_e).alias("_sn"),
        grid_sum(F.when(ok, fc_e * fc_e)).alias("_sf"),
        grid_sum(F.when(ok, naive_e * naive_e)).alias("_snf"),
        grid_sum(F.col("_v") * F.col("_v")).alias("_sv2"),
        grid_sum(F.col("_p") * F.col("_p")).alias("_sp2"),
        grid_sum(
            (F.col("_v") - F.col("_p")) * (F.col("_v") - F.col("_p"))
        ).alias("_sd2"),
    )
    n = F.col("_n").cast("double")
    u1 = F.sqrt(F.col("_sd2") / n) / (
        F.sqrt(F.col("_sv2") / n) + F.sqrt(F.col("_sp2") / n)
    )
    u2 = F.when(
        F.col("_snf") > 0, F.sqrt(F.col("_sf") / F.col("_snf"))
    )
    return agg.select(
        F.col("_g").alias("g"),
        F.col("_n").cast("long").alias("n"),
        F.round(u1, 6).alias("u1"),
        F.round(u2, 6).alias("u2"),
    )


def arch_lm(
    df: DataFrame, group_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Engle's ARCH LM test (lag 1) per series → (group, n, r2,
    lm_stat, p_value, reject_5pct): regress squared returns on their
    own lag; LM = n·R² ~ χ²(1) under no-ARCH, tail 2·Φ̄(√LM) exact
    for one df — 'is volatility clustered', the question
    ``ljung_box`` asks of LEVELS. Lag-1 contract documented (the
    closed-form simple-regression R² keeps every moment a grid-exact
    sum; multi-lag needs a matrix solve)."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(wl)
    r = F.when(
        prev.isNotNull() & (prev != 0),
        grid((F.col("_v") - prev) / prev),
    )
    t = src.select("_g", "_o", (r * r).alias("_r2"))
    t = t.select(
        "_g",
        "_o",
        F.floor(F.col("_r2") * GRID).alias("_yq"),
        F.floor(F.lag("_r2").over(wl) * GRID).alias("_xq"),
    )
    t = t.filter(F.col("_yq").isNotNull() & F.col("_xq").isNotNull())
    # regress on the INTEGER grid units themselves: R² is invariant
    # under linear rescaling, and r⁴-scale cross moments (~1e-10)
    # would vanish on any fixed grid — integer products sum exactly
    # as longs instead (HUGEINT + VARCHAR round-trip in the twin)
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_yq")).alias("_sy"),
        F.sum(F.col("_xq")).alias("_sx"),
        F.sum(F.col("_yq") * F.col("_yq")).cast("double").alias("_syy"),
        F.sum(F.col("_xq") * F.col("_xq")).cast("double").alias("_sxx"),
        F.sum(F.col("_xq") * F.col("_yq")).cast("double").alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sxx = F.col("_sxx") - F.col("_sx").cast("double") * F.col(
        "_sx"
    ).cast("double") / n
    syy = F.col("_syy") - F.col("_sy").cast("double") * F.col(
        "_sy"
    ).cast("double") / n
    sxy = F.col("_sxy") - F.col("_sx").cast("double") * F.col(
        "_sy"
    ).cast("double") / n
    r2 = F.when(
        (sxx > 0) & (syy > 0), sxy * sxy / (sxx * syy)
    ).otherwise(F.lit(0.0))
    lm = n * r2
    from from_superset_to_clickhouse_spark.operators.stats import normal_sf

    p = 2.0 * normal_sf(F.sqrt(lm))
    return agg.select(
        F.col("_g").alias("g"),
        F.col("_n").cast("long").alias("n"),
        F.round(r2, 6).alias("r2"),
        F.round(lm, 6).alias("lm_stat"),
        F.round(p, 6).alias("p_value"),
        (p < 0.05).cast("int").alias("reject_5pct"),
    )


def variance_ratio(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    q: int = 4,
) -> DataFrame:
    """Lo–MacKinlay variance-ratio test per series → (group, n, vr,
    z_stat, reject_5pct): VR(q) = Var(q-period increments, overlapping)
    / (q·Var(1-period)) — a random walk has VR = 1; mean reversion
    drags it below, momentum above (the martingale question ``kpss``
    and ``adf_test`` approach through unit roots). Homoskedastic
    z = (VR−1)/√(2(2q−1)(q−1)/(3qn)). Mean-adjusted increments on
    the 2^-20 grid; overlapping q-sums from one trailing window."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    d = F.when(
        F.lag("_v").over(wl).isNotNull(),
        F.col("_v") - F.lag("_v").over(wl),
    )
    t = src.select("_g", "_o", d.alias("_d")).filter(
        F.col("_d").isNotNull()
    )
    wq = (
        Window.partitionBy("_g").orderBy("_o").rowsBetween(-(q - 1), 0)
    )
    t = t.select(
        "_g",
        "_o",
        "_d",
        F.when(
            F.count("_d").over(wq) >= q,
            F.sum(F.col("_d") * GRID).over(wq) / GRID,
        ).alias("_dq"),
    )
    agg = t.groupBy("_g").agg(
        F.count("_d").alias("_n"),
        (F.sum(F.col("_d") * GRID) / GRID).alias("_sd"),
        grid_sum(F.col("_d") * F.col("_d")).alias("_sd2"),
        F.count("_dq").alias("_nq"),
        (F.sum(F.when(F.col("_dq").isNotNull(), F.col("_dq") * GRID))
         / GRID).alias("_sq"),
        grid_sum(F.col("_dq") * F.col("_dq")).alias("_sq2"),
    )
    n = F.col("_n").cast("double")
    nq = F.col("_nq").cast("double")
    mu = F.col("_sd") / n
    var1 = F.col("_sd2") / n - mu * mu
    muq = F.col("_sq") / nq
    varq = F.col("_sq2") / nq - muq * muq
    vr = F.when(var1 > 0, varq / (float(q) * var1))
    se = F.sqrt(
        2.0 * (2.0 * q - 1.0) * (q - 1.0) / (3.0 * q * n)
    )
    z = (vr - 1.0) / se
    return agg.select(
        F.col("_g").alias("g"),
        F.col("_n").cast("long").alias("n"),
        F.round(vr, 6).alias("vr"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_5pct"),
    )


def g_chart(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """g-chart (geometric, time-between-events control) per key →
    (key, n_gaps, g_bar, ucl, n_out): day-gaps between consecutive
    events, center ḡ, UCL = ḡ + 3√(ḡ(ḡ+1)) (geometric-distribution
    3σ), flagged when a gap exceeds it — the LOW-frequency event
    monitor (infections, outages) where ``c_chart`` buckets would be
    almost all zeros. Exact integer gaps; one keyed window + one
    aggregate + one broadcast-back flag count."""
    src = df.select(
        F.col(key_col).alias("_k"), F.col(ts_col).alias("_ts")
    ).filter(F.col("_ts").isNotNull())
    wl = Window.partitionBy("_k").orderBy("_ts")
    gap = F.datediff(F.col("_ts"), F.lag("_ts").over(wl))
    t = src.select("_k", gap.alias("_gap")).filter(
        F.col("_gap").isNotNull()
    )
    agg = t.groupBy("_k").agg(
        F.count("*").alias("_n"),
        F.sum("_gap").alias("_s"),
    )
    gb = F.col("_s").cast("double") / F.col("_n")
    lim = agg.select(
        "_k", "_n", gb.alias("_gb"),
        (gb + 3.0 * F.sqrt(gb * (gb + 1.0))).alias("_ucl"),
    )
    j = t.join(F.broadcast(lim), "_k")
    out = j.groupBy("_k", "_n", "_gb", "_ucl").agg(
        F.count(
            F.when(F.col("_gap").cast("double") > F.col("_ucl"), 1)
        ).alias("_out")
    )
    return out.select(
        F.col("_k").alias(key_col),
        F.col("_n").cast("long").alias("n_gaps"),
        F.round("_gb", 6).alias("g_bar"),
        F.round("_ucl", 6).alias("ucl"),
        F.col("_out").cast("long").alias("n_out"),
    )


def ultimate_oscillator(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    p1: int = 7,
    p2: int = 14,
    p3: int = 28,
) -> DataFrame:
    """Williams' Ultimate Oscillator per bar → (key, bar_start, uo):
    buying pressure BP = C − min(L, prev C) and true range against
    the same anchor, averaged over three nested horizons and blended
    4:2:1 — the multi-timeframe momentum read a single-window
    oscillator whipsaws on. Grid-floored BP/TR terms, exact trailing
    sums, NULL until p3+1 bars."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    t = bars.select(
        F.col(key_col).alias("_k"),
        F.col("bar_start").alias("_b"),
        F.col("high").cast("double").alias("_h"),
        F.col("low").cast("double").alias("_l"),
        F.col("close").cast("double").alias("_c"),
    )
    wo = Window.partitionBy("_k").orderBy("_b")
    pc = F.lag("_c").over(wo)
    bp = F.when(
        pc.isNotNull(), grid(F.col("_c") - F.least(F.col("_l"), pc))
    )
    tr = F.when(
        pc.isNotNull(),
        grid(F.greatest(F.col("_h"), pc) - F.least(F.col("_l"), pc)),
    )
    t = t.select("_k", "_b", bp.alias("_bp"), tr.alias("_tr"))

    def avg_p(p):
        wp = (
            Window.partitionBy("_k").orderBy("_b").rowsBetween(-(p - 1), 0)
        )
        s_tr = F.sum(F.col("_tr") * GRID).over(wp) / GRID
        return F.when(
            (F.count("_tr").over(wp) >= p) & (s_tr > 0),
            (F.sum(F.col("_bp") * GRID).over(wp) / GRID) / s_tr,
        )

    uo = 100.0 * (4.0 * avg_p(p1) + 2.0 * avg_p(p2) + avg_p(p3)) / 7.0
    return t.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bar_start"),
        F.round(uo, 6).alias("uo"),
    )


def kama(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    er_period: int = 10,
    fast: int = 2,
    slow: int = 30,
) -> DataFrame:
    """Kaufman's adaptive moving average per series point → (group,
    order, kama): the EMA whose smoothing constant follows the
    efficiency ratio ER = |net move| / Σ|moves| over ``er_period`` —
    flat markets damp it toward EMA(slow), trends open it toward
    EMA(fast); the data-dependent recursion neither ``macd`` (fixed
    α) nor ``supertrend`` (band logic) covers. The recursion unrolls
    as a fold over each point's ready-prefix of (sc, v) pairs with sc
    grid-floored first — identical left-to-right IEEE order on every
    engine (the macd discipline); seed = the first ready value.
    NULL during the er_period warm-up."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(wl)
    move = F.abs(F.col("_v") - prev)
    wp = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-(er_period - 1), 0)
    )
    t = src.select("_g", "_o", "_v", move.alias("_m"))
    net = F.abs(
        F.col("_v") - F.lag("_v", er_period).over(wl)
    )
    t = t.select(
        "_g", "_o", "_v",
        F.when(
            F.count("_m").over(wp) >= er_period,
            F.sum(F.col("_m") * GRID).over(wp) / GRID,
        ).alias("_vol"),
        net.alias("_net"),
    )
    fa = 2.0 / (fast + 1.0)
    sl = 2.0 / (slow + 1.0)
    er = F.when(
        F.col("_vol").isNotNull() & F.col("_net").isNotNull(),
        F.when(F.col("_vol") > 0, F.col("_net") / F.col("_vol")).otherwise(
            F.lit(0.0)
        ),
    )
    sc = grid((er * (fa - sl) + sl) * (er * (fa - sl) + sl))
    elem = F.when(
        sc.isNotNull(),
        F.struct(sc.alias("sc"), F.col("_v").alias("v")),
    )
    t = t.withColumn("_e", elem)
    wf = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    frame = F.collect_list("_e").over(wf)

    def fold(l):
        return F.aggregate(
            l,
            F.lit(None).cast("double"),
            lambda acc, x: F.when(acc.isNull(), x["v"]).otherwise(
                acc + x["sc"] * (x["v"] - acc)
            ),
        )

    t = t.withColumn("_kama", let_bind(frame, fold))
    out = F.when(F.col("_e").isNotNull(), F.col("_kama"))
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(out, 6).alias("kama"),
    )


def trix(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    period: int = 9,
) -> DataFrame:
    """TRIX per series point → (group, order, ema3, trix): the
    1-period rate of change (×10,000) of a TRIPLE-smoothed EMA — the
    momentum line whose triple pass filters out cycles shorter than
    the period entirely (``macd``'s two EMAs still pass them). Each
    EMA level is one :func:`_ema_fold` over a collected prefix frame,
    level feeding level — bounded series by contract."""
    ema_fold = _ema_fold(2.0 / (period + 1.0))
    src = _series(df, group_col, order_col, value_col)
    wf = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = src.withColumn(
        "_e1", let_bind(F.collect_list("_v").over(wf), ema_fold)
    )
    t = t.withColumn(
        "_e2", let_bind(F.collect_list("_e1").over(wf), ema_fold)
    )
    t = t.withColumn(
        "_e3", let_bind(F.collect_list("_e2").over(wf), ema_fold)
    )
    wl = Window.partitionBy("_g").orderBy("_o")
    pe3 = F.lag("_e3").over(wl)
    tx = F.when(
        pe3.isNotNull() & (pe3 != 0),
        10000.0 * (F.col("_e3") - pe3) / pe3,
    )
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round("_e3", 6).alias("ema3"),
        F.round(tx, 6).alias("trix"),
    )


def ichimoku(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    p1: int = 9,
    p2: int = 26,
) -> DataFrame:
    """Ichimoku cloud per bar → (key, bar_start, conversion, base,
    span_a, span_b, lagging): trailing (max H + min L)/2 midpoints at
    two horizons, the cloud spans displaced FORWARD p2 bars (span A =
    midpoint of conversion/base, span B = the 2·p2 midpoint) and the
    lagging close displaced back — the one-glance trend framework.
    Displacement is lag/lead over the bar axis (no spine generation:
    spans attach to the bar that exists p2 later, the standard
    backtest convention). Exact min/max windows; IEEE midpoints of
    exact inputs."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    t = bars.select(
        F.col(key_col).alias("_k"),
        F.col("bar_start").alias("_b"),
        F.col("high").cast("double").alias("_h"),
        F.col("low").cast("double").alias("_l"),
        F.col("close").cast("double").alias("_c"),
    )

    def mid(p):
        wp = (
            Window.partitionBy("_k").orderBy("_b").rowsBetween(-(p - 1), 0)
        )
        return F.when(
            F.count("*").over(wp) >= p,
            (F.max("_h").over(wp) + F.min("_l").over(wp)) / 2.0,
        )

    t = t.select(
        "_k", "_b", "_c",
        mid(p1).alias("_conv"),
        mid(p2).alias("_base"),
        mid(2 * p2).alias("_mid2"),
    )
    wl = Window.partitionBy("_k").orderBy("_b")
    span_a = F.lag((F.col("_conv") + F.col("_base")) / 2.0, p2).over(wl)
    span_b = F.lag("_mid2", p2).over(wl)
    lagging = F.lead("_c", p2).over(wl)
    return t.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bar_start"),
        F.round("_conv", 6).alias("conversion"),
        F.round("_base", 6).alias("base"),
        F.round(span_a, 6).alias("span_a"),
        F.round(span_b, 6).alias("span_b"),
        F.round(lagging, 6).alias("lagging"),
    )


def coppock_curve(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    roc1: int = 14,
    roc2: int = 11,
    wma_period: int = 10,
) -> DataFrame:
    """Coppock curve per series point → (group, order, coppock): the
    WMA(10) of ROC(14)+ROC(11) — the long-horizon bottom-finder
    designed for exactly the smoothed momentum turn ``macd`` reacts
    to too fast. ROCs are grid-floored ratios; the WMA is an exact
    weighted window sum (weights 1..p); NULL until every component
    is warm."""
    src = _series(df, group_col, order_col, value_col)
    wl = Window.partitionBy("_g").orderBy("_o")

    def roc(p):
        pv = F.lag("_v", p).over(wl)
        return F.when(
            pv.isNotNull() & (pv != 0),
            grid(100.0 * (F.col("_v") - pv) / pv),
        )

    t = src.select(
        "_g", "_o", (roc(roc1) + roc(roc2)).alias("_rc")
    )
    t = t.withColumn("_i", F.row_number().over(wl).cast("long"))
    # WMA over the trailing wma_period _rc values with weights 1..p
    wp = (
        Window.partitionBy("_g")
        .orderBy("_o")
        .rowsBetween(-(wma_period - 1), 0)
    )
    arr = F.collect_list(F.struct(F.col("_i"), F.col("_rc"))).over(wp)

    def wma(l):
        n = F.size(l)
        num = F.aggregate(
            F.transform(
                l, lambda x, i: x["_rc"] * (i + 1).cast("double")
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(
            n == wma_period,
            num / F.lit(float(wma_period * (wma_period + 1) // 2)),
        )

    cc = F.when(
        F.count("_rc").over(wp) >= wma_period,
        let_bind(arr, wma),
    )
    return t.select(
        F.col("_g").alias(group_col),
        F.col("_o").alias(order_col),
        F.round(cc, 6).alias("coppock"),
    )


def elder_ray(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    period: int = 13,
) -> DataFrame:
    """Elder-ray bull/bear power per bar → (key, bar_start, ema,
    bull_power, bear_power): H − EMA(close) and L − EMA(close) — can
    the bulls push above / bears below consensus value; the
    band-free complement to ``keltner_channel``. The EMA is
    :func:`_ema_fold` over the prefix of grid closes."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    t = bars.select(
        F.col(key_col).alias("_k"),
        F.col("bar_start").alias("_b"),
        F.col("high").cast("double").alias("_h"),
        F.col("low").cast("double").alias("_l"),
        grid(F.col("close").cast("double")).alias("_c"),
    )
    wf = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ema = _ema_fold(2.0 / (period + 1.0))
    t = t.withColumn("_ema", let_bind(F.collect_list("_c").over(wf), ema))
    return t.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bar_start"),
        F.round("_ema", 6).alias("ema"),
        F.round(F.col("_h") - F.col("_ema"), 6).alias("bull_power"),
        F.round(F.col("_l") - F.col("_ema"), 6).alias("bear_power"),
    )


def sample_entropy(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    m: int = 2,
    r_frac: float = 0.2,
) -> DataFrame:
    """Sample entropy per series → (group, n, r_tol, n_template,
    n_match, sampen): −ln(A/B) where B counts template pairs of
    length m within Chebyshev tolerance r = r_frac·σ and A the same
    at m+1 — the regularity measure that, unlike ``perm_entropy``
    (ordinal patterns only), sees amplitude. m = 2 contract: each row
    carries (v, lead, lead2) and pairs come from ONE within-series
    self-join — O(len²) per series under the documented
    bounded-series contract (``kendall_tau_b`` precedent), exact
    integer counts; σ from grid moments, r floored to the grid so
    every tolerance comparison is exact."""
    src = _series(df, group_col, order_col, value_col)
    mom = src.groupBy("_g").agg(
        F.count("*").alias("_n"),
        (F.sum(F.col("_v") * GRID) / GRID).alias("_s1"),
        grid_sum(F.col("_v") * F.col("_v")).alias("_s2"),
    )
    nn = F.col("_n").cast("double")
    mean = F.col("_s1") / nn
    sd = F.sqrt(
        F.greatest((F.col("_s2") - nn * mean * mean) / nn, F.lit(0.0))
    )
    r = grid(sd * F.lit(float(r_frac)))
    mom = mom.select("_g", "_n", r.alias("_r"))
    wl = Window.partitionBy("_g").orderBy("_o")
    t = src.select(
        "_g",
        F.row_number().over(wl).alias("_i"),
        "_v",
        F.lead("_v", 1).over(wl).alias("_v1"),
        F.lead("_v", 2).over(wl).alias("_v2"),
    )
    lhs = t.filter(F.col("_v1").isNotNull()).select(
        "_g", F.col("_i").alias("_ia"),
        F.col("_v").alias("_a0"), F.col("_v1").alias("_a1"),
        F.col("_v2").alias("_a2"),
    )
    rhs = t.filter(F.col("_v1").isNotNull()).select(
        "_g", F.col("_i").alias("_ib"),
        F.col("_v").alias("_b0"), F.col("_v1").alias("_b1"),
        F.col("_v2").alias("_b2"),
    )
    pairs = lhs.join(rhs, "_g").filter(F.col("_ia") < F.col("_ib"))
    pairs = pairs.join(F.broadcast(mom), "_g")
    near_m = (
        (F.abs(F.col("_a0") - F.col("_b0")) <= F.col("_r"))
        & (F.abs(F.col("_a1") - F.col("_b1")) <= F.col("_r"))
    )
    near_m1 = (
        near_m
        & F.col("_a2").isNotNull()
        & F.col("_b2").isNotNull()
        & (F.abs(F.col("_a2") - F.col("_b2")) <= F.col("_r"))
    )
    both2 = F.col("_a2").isNotNull() & F.col("_b2").isNotNull()
    agg = pairs.groupBy("_g").agg(
        F.max("_n").alias("_nn"),
        F.max("_r").alias("_rr"),
        F.count(F.when(near_m & both2, 1)).alias("_bm"),
        F.count(F.when(near_m1, 1)).alias("_am"),
    )
    sampen = F.when(
        (F.col("_am") > 0) & (F.col("_bm") > 0),
        -F.log(F.col("_am").cast("double") / F.col("_bm")),
    )
    return agg.select(
        F.col("_g").alias("g"),
        F.col("_nn").cast("long").alias("n"),
        F.round("_rr", 6).alias("r_tol"),
        F.col("_bm").cast("long").alias("n_template"),
        F.col("_am").cast("long").alias("n_match"),
        F.round(sampen, 6).alias("sampen"),
    )


def parabolic_sar(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    bar: str = "1 day",
    af0: float = 0.02,
    af_step: float = 0.02,
    af_max: float = 0.2,
) -> DataFrame:
    """Wilder's Parabolic SAR per bar → (key, bar_start, sar,
    direction): the accelerating trailing stop — SAR ratchets toward
    price by the af·(EP − SAR) parabola, af growing each new extreme,
    the whole state FLIPPING when price crosses it; the
    stop-and-reverse where ``supertrend`` merely switches bands.

    Exact classic rules, seeded at bar 2 (trend up iff the bar
    midpoint rose; SAR = the opposite extreme of the first two bars):
    SARₜ = clamp(SAR + af(EP − SAR)) against the prior two bars'
    lows (up) / highs (down), flip on penetration resetting
    (SAR ← EP, af ← af0). The recursion is one left-to-right fold
    over each bar's prefix of gridded (h, l, prev-lows/highs)
    elements — the ``supertrend`` discipline, replayable via
    list_reduce with the same unified-struct trick. NULL on bar 1."""
    bars = ohlc_bars(df, key_col, ts_col, value_col, tiebreak_col, bar)
    t = bars.select(
        F.col(key_col).alias("_k"),
        F.col("bar_start").alias("_b"),
        grid(F.col("high").cast("double")).alias("_h"),
        grid(F.col("low").cast("double")).alias("_l"),
    )
    wo = Window.partitionBy("_k").orderBy("_b")
    t = t.select(
        "_k", "_b", "_h", "_l",
        F.lag("_h", 1).over(wo).alias("_ph"),
        F.lag("_l", 1).over(wo).alias("_pl"),
        F.lag("_h", 2).over(wo).alias("_ph2"),
        F.lag("_l", 2).over(wo).alias("_pl2"),
    )
    elem = F.struct(
        F.col("_h").alias("h"), F.col("_l").alias("l"),
        F.col("_ph").alias("ph"), F.col("_pl").alias("pl"),
        F.col("_ph2").alias("ph2"), F.col("_pl2").alias("pl2"),
    )
    t = t.withColumn("_e", elem)
    wf = (
        Window.partitionBy("_k")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    frame = F.collect_list("_e").over(wf)

    nd = F.lit(None).cast("double")
    nb = F.lit(None).cast("boolean")

    def pack(up, sar, ep, af, h, l):
        return F.struct(
            up.alias("up"), sar.alias("sar"), ep.alias("ep"),
            af.alias("af"), h.alias("h"), l.alias("l"),
        )

    zero = pack(nb, nd, nd, nd, nd, nd)

    def seed(acc, x):
        # acc holds bar 1 (h, l); x is bar 2
        up = (x["h"] + x["l"]) > (acc["h"] + acc["l"])
        sar = F.when(up, F.least(acc["l"], x["l"])).otherwise(
            F.greatest(acc["h"], x["h"])
        )
        ep = F.when(up, F.greatest(acc["h"], x["h"])).otherwise(
            F.least(acc["l"], x["l"])
        )
        return pack(up, sar, ep, F.lit(float(af0)), x["h"], x["l"])

    def step(acc, x):
        raw = acc["sar"] + acc["af"] * (acc["ep"] - acc["sar"])
        up_sar = F.least(
            raw,
            F.coalesce(x["pl"], raw),
            F.coalesce(x["pl2"], raw),
        )
        dn_sar = F.greatest(
            raw,
            F.coalesce(x["ph"], raw),
            F.coalesce(x["ph2"], raw),
        )
        flip_up = acc["up"] & (x["l"] < up_sar)
        flip_dn = (~acc["up"]) & (x["h"] > dn_sar)
        new_ext_up = x["h"] > acc["ep"]
        new_ext_dn = x["l"] < acc["ep"]
        af_up = F.when(
            new_ext_up,
            F.least(acc["af"] + af_step, F.lit(float(af_max))),
        ).otherwise(acc["af"])
        af_dn = F.when(
            new_ext_dn,
            F.least(acc["af"] + af_step, F.lit(float(af_max))),
        ).otherwise(acc["af"])
        return F.when(
            flip_up,
            pack(F.lit(False), acc["ep"], x["l"],
                 F.lit(float(af0)), x["h"], x["l"]),
        ).when(
            flip_dn,
            pack(F.lit(True), acc["ep"], x["h"],
                 F.lit(float(af0)), x["h"], x["l"]),
        ).when(
            acc["up"],
            pack(F.lit(True), up_sar,
                 F.greatest(acc["ep"], x["h"]), af_up, x["h"], x["l"]),
        ).otherwise(
            pack(F.lit(False), dn_sar,
                 F.least(acc["ep"], x["l"]), af_dn, x["h"], x["l"]),
        )

    def fold(l):
        return F.aggregate(
            l,
            zero,
            lambda acc, x: F.when(
                acc["h"].isNull(),
                pack(nb, nd, nd, nd, x["h"], x["l"]),
            ).otherwise(
                F.when(acc["up"].isNull(), seed(acc, x)).otherwise(
                    step(acc, x)
                )
            ),
        )

    t = t.withColumn("_fin", let_bind(frame, fold))
    sar = F.col("_fin")["sar"]
    dirn = F.when(
        sar.isNotNull(),
        F.when(F.col("_fin")["up"], F.lit("up")).otherwise(F.lit("down")),
    )
    return t.select(
        F.col("_k").alias(key_col),
        F.col("_b").alias("bar_start"),
        F.round(sar, 6).alias("sar"),
        dirn.alias("direction"),
    )


def periodogram_fixed(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    n: int = 28,
) -> DataFrame:
    """Fixed-length periodogram summary per series → (g, m, peak_j,
    g_stat, p_value, spec_entropy): over the FIRST ``n`` points in
    order, the Fourier-frequency intensities I_j = (a_j² + b_j²)/n
    for j = 1..m = ⌊(n−1)/2⌋, Fisher's g = max I / Σ I with its EXACT
    null tail p = Σ_k (−1)^{k−1} C(m,k)(1−kg)₊^{m−1} (the classic
    hidden-periodicity test), and the normalized spectral entropy
    −Σ p_j ln p_j / ln m (1 = white, 0 = pure tone). Complements —
    not duplicates — :func:`periodogram`/:func:`spectral_entropy`:
    those explore a CHOSEN harmonic band of a variable-length series;
    this one fixes the length so Fisher's EXACT null tail (literal
    binomials over a fixed m) and the literal trig tables stay
    replayable.

    CROSS-ENGINE TRIG CONTRACT: the cos/sin tables are generated ONCE
    driver-side and embedded as literal doubles in BOTH the Spark
    expression and the SQL twin — two engines' libm cos need not
    agree to the last ulp, identical literals do by construction. The
    dot products are left-to-right list folds over the ≤ n-element
    per-series arrays (bounded-series contract); series shorter than
    ``n`` are dropped (fixed-length contract keeps the table static).
    Skipping mean-centering is exact here: Fourier frequencies are
    orthogonal to the constant (the literal-table residual ~1e-15·n·v̄
    sits far below the 1e-6 output rounding)."""
    m = (n - 1) // 2
    cos_t = [
        [math.cos(2.0 * math.pi * j * t / n) for t in range(n)]
        for j in range(1, m + 1)
    ]
    sin_t = [
        [math.sin(2.0 * math.pi * j * t / n) for t in range(n)]
        for j in range(1, m + 1)
    ]
    src = _series(df, group_col, order_col, value_col)
    arr = (
        src.groupBy("_g")
        .agg(
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("_o"), F.col("_v")))
                    ),
                    lambda s: s["_v"],
                ),
                1,
                n,
            ).alias("_a"),
            F.count("*").alias("_n"),
        )
        .filter(F.col("_n") >= n)
    )

    def dot(lst, coeffs):
        lit = F.array(*[F.lit(float(c)) for c in coeffs])
        return F.aggregate(
            F.transform(
                lst, lambda x, i: x * F.element_at(lit, i + 1)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def intensity(lst):
        return F.array(
            *[
                (
                    dot(lst, cos_t[j]) * dot(lst, cos_t[j])
                    + dot(lst, sin_t[j]) * dot(lst, sin_t[j])
                )
                / float(n)
                for j in range(m)
            ]
        )

    t = arr.withColumn("_i", let_bind(F.col("_a"), intensity))
    tot = F.aggregate(
        F.col("_i"), F.lit(0.0), lambda acc, x: acc + x
    )
    t = t.withColumn("_tot", tot)
    gmax = F.array_max(F.col("_i"))
    peak = F.array_position(F.col("_i"), gmax).cast("int")
    g = gmax / F.col("_tot")
    # exact Fisher tail: sum over k of (-1)^(k-1) C(m,k) (1-kg)_+^(m-1)
    pterms = [
        F.lit(((-1.0) ** (k - 1)) * math.comb(m, k))
        * F.pow(
            F.greatest(1.0 - F.lit(float(k)) * g, F.lit(0.0)),
            F.lit(float(m - 1)),
        )
        for k in range(1, m + 1)
    ]
    pv = sum(pterms[1:], pterms[0])
    ent = (
        -F.aggregate(
            F.col("_i"),
            F.lit(0.0),
            lambda acc, x: acc
            + F.when(
                x > 0,
                (x / F.col("_tot")) * F.log(x / F.col("_tot")),
            ).otherwise(F.lit(0.0)),
        )
        / math.log(m)
    )
    return t.select(
        F.col("_g").alias("g"),
        F.lit(m).cast("long").alias("m"),
        peak.alias("peak_j"),
        F.round(g, 6).alias("g_stat"),
        F.round(F.least(F.greatest(pv, F.lit(0.0)), F.lit(1.0)), 6).alias(
            "p_value"
        ),
        F.round(ent, 6).alias("spec_entropy"),
    )

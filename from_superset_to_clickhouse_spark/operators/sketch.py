"""Mergeable quantile sketches: per-period equi-width histograms.

The quantile analog of the HLL rollup (``q_sketch_merge``): each
period's data is summarized ONCE into bounded-size partial state, and
any later question — global quantiles, quantiles over an arbitrary
period range — merges partials instead of rescanning history. Unlike
HLL the state here is deterministic exact integer counts, so the whole
pipeline (bucketing, merge, quantile extraction) has an exact ANSI-SQL
twin and a hard error bound: an equi-width histogram over [lo, hi)
with B buckets answers any quantile within (hi-lo)/B of the true
value (plus any mass outside [lo, hi), which is clamped into the edge
buckets and surfaced by ``hist_partials``'s clamp columns).

Scale design: a partial is ≤ B rows per period regardless of row count
(map-side combine does the heavy lifting); merge is a sum over
periods × B rows; quantile extraction sorts ≤ B rows through one
bounded SinglePartition window — the only non-partial-aggregated step,
and it touches sketch state, never data. [lo, hi) comes from domain
knowledge or a prior pass; it is part of the sketch's identity and
merging sketches with different configs is refused.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._arrow import map_batches


def bucket_index(value: Column, lo: float, hi: float, buckets: int) -> Column:
    """Equi-width bucket of ``value`` in [lo, hi): floor((v-lo)/(hi-lo)*B)
    clamped to [0, B-1] — out-of-range mass lands in the edge buckets
    (the clamp keeps the sketch total equal to the row count, so ranks
    stay exact even when the configured range is wrong)."""
    raw = F.floor((value - F.lit(lo)) / F.lit(hi - lo) * F.lit(buckets))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(buckets - 1)).cast("int")


def hist_partials(
    df: DataFrame,
    value_col: str,
    period_col: Column,
    lo: float,
    hi: float,
    buckets: int = 256,
) -> DataFrame:
    """One histogram partial per period: (period, bucket, cnt) rows,
    ≤ ``buckets`` per period. NULL values are excluded (quantiles are
    over observed values, matching percentile semantics)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            period_col.alias("period"),
            bucket_index(F.col(value_col), lo, hi, buckets).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(partials: DataFrame) -> DataFrame:
    """Merge partials (any subset of periods, any number of appends)
    into one histogram: (bucket, cnt). Associative + commutative by
    construction — the property that makes the sketch a rollup."""
    return partials.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    merged: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    buckets: int = 256,
) -> DataFrame:
    """Quantile estimates from a merged histogram: for each q, the
    upper edge of the first bucket whose cumulative count reaches
    q·total — deterministic, within (hi-lo)/buckets above the true
    quantile of the sketched values. Output (q, est, total).

    The cumulative window runs over ≤ ``buckets`` rows of sketch state
    (documented-bounded SinglePartition, like the scalar probes)."""
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = merged.select(
        "bucket",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    q_df = cum.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    width = (hi - lo) / buckets
    return (
        q_df.crossJoin(cum)  # qs × buckets: tiny (sketch state only)
        .filter(F.col("cum") >= F.col("q") * F.col("total"))
        .groupBy("q")
        .agg(
            F.min("bucket").alias("_b"),
            F.max("total").alias("total"),
        )
        .select(
            "q",
            F.round(F.lit(lo) + (F.col("_b") + 1) * F.lit(width), 6).alias(
                "est"
            ),
            "total",
        )
    )


def _mg_items(src: DataFrame, k: int, agg: tuple[str, str]) -> DataFrame:
    """Distinct items kept by a Misra–Gries(k) summary of each partition
    of ``src``: each Arrow batch is pre-aggregated per item (``agg``:
    ``("item", "count")`` or ``("w", "sum")``), added to the running
    counters, and whenever more than k counters remain the (k+1)-th
    largest is subtracted from all and the non-positive ones dropped —
    the standard mergeable-MG reduction."""
    col = "_".join(agg)

    def mg_partial(batches):
        counters: dict = {}
        for batch in batches:
            per = pa.Table.from_batches([batch]).group_by("item").aggregate([agg])
            for it, c in zip(per["item"].to_pylist(), per[col].to_pylist()):
                counters[it] = counters.get(it, 0) + c
            if len(counters) > k:
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {
                    i: v - kth for i, v in counters.items() if v - kth > 0
                }
        yield {"item": list(counters)}

    return map_batches(src, mg_partial, "item string").distinct()


def heavy_hitters(df: DataFrame, item_col: str, k: int = 100) -> DataFrame:
    """EXACT heavy hitters without a full-cardinality shuffle: all items
    with frequency > n/k, with exact counts — (item, cnt).

    Two passes. Pass 1 runs a Misra–Gries summary per partition
    (``_mg_items``), emitting ≤ k candidate rows per partition. The union of
    per-partition summaries PROVABLY contains every global >n/k item:
    such an item is >local_n/k in at least one partition (pigeonhole),
    and MG(k) retains everything above local_n/(k+1). Pass 2 exactly
    counts candidates only (broadcast semi-join, then a shuffle bounded
    by the candidate set, not the vocabulary). The exact groupBy twin
    shuffles one row per DISTINCT item — at web-corpus vocabularies
    that is the cost this operator deletes; results are identical,
    which is what the oracle checks."""
    # items ride as strings (the Arrow summary schema is fixed); the
    # cast is injective for scalar types, so counts are unchanged
    src = df.select(F.col(item_col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    cand = _mg_items(src, k, ("item", "count"))
    total = src.count()
    return (
        src.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > F.lit(total / k))
    )


# -- Linear counting (Whang, Vander-Zanden & Taylor 1990) ----------------
#
# Deterministic, MERGEABLE cardinality sketch with a FULL SQL oracle —
# the cardinality-tier answer to cms_build: buckets derive from md5, so
# an independent engine rebuilds the identical occupied-bucket set and
# the identical m*ln(m/z) estimate bit-for-bit (unlike the xxhash64
# HLL twins, which are rows-only by design). State is <= m rows
# regardless of input size; merge is union-distinct (associative,
# commutative, idempotent — the rollup property). Standard error is
# ~sqrt(m*(e^t - t - 1))/(t*m) with t = n/m; the sweet spot is load
# factor well under 1 (estimate is infinite at z = 0 — pick m >> n or
# fall back to the HLL tier for unbounded domains).


def _lc_bucket(col: Column, m: int) -> Column:
    """First 8 md5 hex digits of ``lc:value`` as an integer mod m —
    deterministic in any engine with md5."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("lc"), col)), 1, 8),
            16,
            10,
        ).cast("long")
        % m
    ).cast("int")


def lc_build(df: DataFrame, col: str, m: int = 1024) -> DataFrame:
    """Build the sketch: the DISTINCT occupied buckets (single `bucket`
    column, <= m rows). One shuffle with map-side partial distinct;
    NULLs excluded (cardinality of observed values)."""
    return (
        df.filter(F.col(col).isNotNull())
        .select(_lc_bucket(F.col(col), m).alias("bucket"))
        .distinct()
    )


def lc_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the SAME m: union of occupied sets."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct()


def lc_estimate(sketch: DataFrame, m: int = 1024) -> DataFrame:
    """(n_used, est): occupied-bucket count and the linear-counting
    estimate m*ln(m/z), z = m - n_used, rounded to 6 decimals so the
    SQL twin's float64 ln agrees bit-for-bit. Aggregates <= m sketch
    rows — never the data."""
    return sketch.agg(F.count(F.lit(1)).alias("n_used")).select(
        F.col("n_used").cast("int"),
        F.round(
            F.lit(float(m))
            * F.log(F.lit(float(m)) / (F.lit(float(m)) - F.col("n_used"))),
            6,
        ).alias("est"),
    )


# -- Count-Min sketch (Cormode & Muthukrishnan 2005) ---------------------
#
# Deterministic, MERGEABLE frequency sketch with a FULL SQL oracle:
# the d hash rows are derived from md5 (an ANSI-replicable hash, unlike
# xxhash64), so an independent engine can rebuild the identical sketch
# and verify both construction and estimates bit-for-bit. Point
# estimates overcount only (min over d rows bounds the error by
# eps*N with probability 1-delta for w = ceil(e/eps), d = ceil(ln 1/delta)).


def _cms_bucket(col: Column, row: int, width: int) -> Column:
    """Row-``row`` bucket: first 8 md5 hex digits of ``row:value``,
    as an integer mod width — deterministic in any engine with md5."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit(str(row)), col)), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    ).cast("int")


def cms_build(
    df: DataFrame, col: str, width: int = 256, depth: int = 4
) -> DataFrame:
    """Build the sketch: (row, bucket, cnt) with ≤ width×depth rows
    total regardless of input size. One shuffle, partial-aggregated
    map-side; NULLs excluded (frequency of observed values). Merge two
    sketches by unioning and re-aggregating (``cms_merge``) —
    associative and commutative, the rollup property."""
    rows = None
    src = df.filter(F.col(col).isNotNull())
    for r in range(depth):
        part = src.select(
            F.lit(r).alias("row"),
            _cms_bucket(F.col(col), r, width).alias("bucket"),
        )
        rows = part if rows is None else rows.unionByName(part)
    return rows.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Merge any number of sketches built with the SAME (width, depth):
    cell-wise sum."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_query(
    sketch: DataFrame, keys: DataFrame, col: str, width: int = 256,
    depth: int = 4,
) -> DataFrame:
    """Point-frequency estimates for each key: min over the key's
    ``depth`` cells → (key, est). Estimates never undercount; the
    expected overcount is N/width per non-colliding row. The probe
    joins the (tiny) sketch broadcast onto the key set — no pass over
    the original data."""
    probes = None
    for r in range(depth):
        part = keys.select(
            F.col(col).alias("key"),
            F.lit(r).alias("row"),
            _cms_bucket(F.col(col), r, width).alias("bucket"),
        )
        probes = part if probes is None else probes.unionByName(part)
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def weighted_heavy_hitters(
    df: DataFrame, item_col: str, weight_col: str, k: int = 100
) -> DataFrame:
    """EXACT weighted heavy hitters (ClickHouse ``topKWeighted``'s
    exact cousin): all items whose TOTAL WEIGHT exceeds W/k, with
    exact sums → (item, wsum). Same two-pass shape as
    ``heavy_hitters`` with weights in place of counts: pass 1 runs a
    weighted Misra–Gries / SpaceSaving-style summary per partition
    (add weight, and when the table overflows subtract the (k+1)-th
    largest residual from everyone — the standard mergeable reduction,
    which preserves every item whose partition weight share exceeds
    1/(k+1)), pass 2 exactly sums candidates only. An item with global
    weight > W/k has > local_W/k share in ≥1 partition (pigeonhole),
    so the candidate union provably contains every answer; NULL items
    and NULL/negative weights are excluded (weights must be
    non-negative for the MG guarantee)."""
    src = df.select(
        F.col(item_col).cast("string").alias("item"),
        F.col(weight_col).cast("double").alias("w"),
    ).filter(F.col("item").isNotNull() & (F.col("w") > 0))
    cand = _mg_items(src, k, ("w", "sum"))
    total = src.agg(F.sum("w")).first()[0] or 0.0
    # Both sides of the threshold are rounded to 4 decimals so an
    # engine that sums in a different order (the DuckDB oracle)
    # lands on the identical grand total before dividing — an item
    # within a few ulps of W/k can't pass on one engine and fail on
    # the other.
    return (
        src.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.round(F.sum("w"), 4).alias("wsum"))
        .filter(F.col("wsum") > F.lit(round(total, 4) / k))
    )


def bloom_build(
    df: DataFrame, col: str, width: int = 2048, depth: int = 3
) -> DataFrame:
    """Bloom filter as a relation → distinct (row, bucket) set-bit
    pairs over ``depth`` md5-derived hash rows (the same
    engine-replayable hashing as the CMS above — every cell replays
    bit-for-bit in SQL, unlike engine-native bloom internals). The
    bit table is ≤ width·depth rows regardless of corpus size:
    broadcastable state built in one pass."""
    bits = None
    for r in range(depth):
        part = df.select(
            F.lit(r).alias("row"),
            _cms_bucket(F.col(col), r, width).alias("bucket"),
        )
        bits = part if bits is None else bits.unionByName(part)
    return bits.distinct()


def bloom_probe(
    bits: DataFrame,
    keys: DataFrame,
    col: str,
    width: int = 2048,
    depth: int = 3,
) -> DataFrame:
    """Membership probe against :func:`bloom_build`'s bit table →
    (key, maybe): ``maybe`` is true iff all ``depth`` cells are set
    (no false negatives; false-positive rate ≈ fill^depth). The
    (tiny) bit table broadcasts onto the probe side — one pass over
    the probes, no shuffle of the corpus."""
    probes = None
    for r in range(depth):
        part = keys.select(
            F.col(col).alias("key"),
            F.lit(r).alias("row"),
            _cms_bucket(F.col(col), r, width).alias("bucket"),
        )
        probes = part if probes is None else probes.unionByName(part)
    hit = F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
    return (
        probes.join(
            F.broadcast(bits.withColumn("_hit", F.lit(1))),
            ["row", "bucket"],
            "left",
        )
        .groupBy("key")
        .agg((F.sum(hit) == depth).alias("maybe"))
    )


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 64
) -> DataFrame:
    """K-minimum-values cardinality sketch per group → (group, n_seen,
    est): hash every value to (0, 2³²) via the same engine-replayable
    md5 derivation as the CMS/Bloom above, keep each group's k
    smallest DISTINCT hashes, estimate distinct = (k−1)/θ with θ =
    kth-min/2³² (Bar-Yossef et al.'s classic order-statistics sketch
    — the mergeable ancestor of ThetaSketch). Groups with fewer than
    k distinct values report their EXACT count (every hash kept).

    Scale shape: one hash projection, one per-group k-smallest
    (rank window over the distinct-hash table, bounded by distinct
    values), state per group is k longs. Unlike HLL, every step
    replays bit-for-bit in SQL — this is the fully-oracled member of
    the cardinality tier."""
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("kmv"), F.col(value_col))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1
    )  # shift to (0, 2^32]: theta = 0 is impossible
    hashes = (
        df.select(F.col(group_col).alias("grp"), h.alias("_h"))
        .filter(F.col("_h").isNotNull())
        .distinct()
    )
    w = Window.partitionBy("grp").orderBy("_h")
    ranked = hashes.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= k
    )
    agg = ranked.groupBy("grp").agg(
        F.count("*").alias("n_seen"), F.max("_h").alias("_kth")
    )
    est = F.when(
        F.col("n_seen") < k, F.col("n_seen").cast("double")
    ).otherwise(
        (F.lit(float(k - 1)))
        / (F.col("_kth").cast("double") / F.lit(float(1 << 32)))
    )
    return agg.select(
        "grp", "n_seen", F.round(est, 6).alias("est")
    )

"""ClickHouse relational-surface parity operators.

The reference pipelines publish into ClickHouse, whose SQL dialect
adds three relational conveniences that plain ANSI lacks and that
downstream dashboards (Superset charts over the published tables)
lean on heavily: ``LIMIT n BY group`` (top-n rows per group without a
self-join), ``GROUP BY ... WITH TOTALS`` (grouped rows plus one
grand-total row in the same result), and the ``argMax/argMin``
aggregate family (value of one column at the extreme of another).
This module re-expresses each Spark-first:

- ``limit_by`` is a keyed ``row_number`` window — one hash-partition
  shuffle on the group key, no global sort, no self-join. At 100 TB
  the state per task is one counter per group.
- ``with_totals`` is a single ``ROLLUP`` pass filtered to the two
  grouping-id levels ClickHouse emits (the full grouping and the
  grand total) — ONE shuffle computes both, instead of the naive
  union of two aggregations that scans the fact table twice.
- ``arg_max_expr``/``arg_min_expr`` compile to ``max``/``min`` over a
  struct whose lexicographic field order makes the result
  deterministic under ties (ClickHouse's own argMax picks an
  arbitrary row on ties; we tighten the contract with an explicit
  tiebreak column so results are replayable).

Reference parity: from_superset_to_clickhouse uses ClickHouse as the
serving engine (superset_to_clickhouse/operators.py:1-60 publishes
tables that Superset queries with the ClickHouse dialect); these
constructs are part of that served query surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._exact import GRID


def limit_by(
    df: DataFrame,
    by: "list[str]",
    order: "list[Column]",
    n: int,
    offset: int = 0,
) -> DataFrame:
    """ClickHouse ``LIMIT [offset,] n BY by`` — keep rows ``offset+1
    .. offset+n`` of each group in the given order.

    ``order`` must be a total order within each group (include a
    unique tiebreak column) or the selection is nondeterministic —
    same caveat ClickHouse documents. One keyed window, no global
    sort; the per-group counter state is O(1) per task.
    """
    w = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") > offset) & (F.col("_rn") <= offset + n))
        .drop("_rn")
    )


def with_totals(
    df: DataFrame,
    group_cols: "list[str]",
    aggs: "dict[str, Column]",
) -> DataFrame:
    """``GROUP BY group_cols WITH TOTALS``: the grouped rows plus one
    grand-total row (``is_totals = true``, group columns NULL).

    Implemented as a single ``ROLLUP`` filtered to grouping-id 0 (the
    full grouping) and 2^k - 1 (the grand total) — one shuffle
    produces both levels with map-side partial aggregation, instead
    of a union of two scans. Intermediate rollup levels (for k > 1)
    are filtered out post-agg; Catalyst prunes nothing extra but the
    rollup expansion is k+1 copies of each partial row, bounded and
    map-side-combined. Totals are computed over all input rows
    (ClickHouse ``totals_mode = before_having`` semantics).
    """
    gid_all = (1 << len(group_cols)) - 1
    out = (
        df.rollup(*group_cols)
        .agg(
            F.grouping_id(*group_cols).alias("_gid"),
            *[c.alias(name) for name, c in aggs.items()],
        )
        .filter(F.col("_gid").isin(0, gid_all))
        .withColumn("is_totals", F.col("_gid") == gid_all)
        .drop("_gid")
    )
    return out


def arg_max_expr(arg: Column, value: Column, *tiebreak: Column) -> Column:
    """``argMax(arg, value)`` with a deterministic tie rule: the row
    with the greatest ``(value, *tiebreak)`` tuple wins (struct
    comparison is lexicographic in field order). Compiles to a plain
    ``max`` over a struct — codegen aggregate, map-side combinable,
    mergeable across partitions (associative max)."""
    return F.max(F.struct(value.alias("v"), *[t.alias(f"t{i}") for i, t in enumerate(tiebreak)], arg.alias("a"))).getField("a")


def arg_min_expr(arg: Column, value: Column, *tiebreak: Column) -> Column:
    """``argMin(arg, value)`` with the deterministic tie rule: the
    row with the least ``(value, *tiebreak)`` tuple wins."""
    return F.min(F.struct(value.alias("v"), *[t.alias(f"t{i}") for i, t in enumerate(tiebreak)], arg.alias("a"))).getField("a")


def bucketed_cumsum(
    df: DataFrame,
    value_col: str,
    weight_col: str | None,
    tiebreak_cols: "Sequence[str]",
    part_cols: "Sequence[str]" = (),
    buckets: int = 256,
    out_col: str = "cw",
) -> DataFrame:
    """EXACT running total of ``weight_col`` in ``(value, tiebreaks)``
    order per part — ``sum(w) OVER ([PARTITION BY part] ORDER BY
    value, tiebreaks ROWS UNBOUNDED PRECEDING)`` — without serializing
    each part through one sorting task. Two-phase: (1) rows are
    range-bucketed on the value (equal values always share a bucket,
    so bucket order IS value order), one aggregate computes per-(part,
    bucket) weight sums — at most parts × buckets scalars reach the
    driver, (2) the driver prefix-sums them into per-bucket starting
    offsets, broadcast-joins them back, and each (part, bucket)
    window-sums only its own slice. ``weight_col=None`` sums 1 per row
    (row_number). Weights are cast to long — integral weights make the
    running total exact under ANY summation order, which is what lets
    a SQL oracle replay it bit-for-bit.

    Bucket boundaries are fixed-width over the observed [min, max] per
    part (one tiny pre-aggregate). Skewed value distributions skew
    bucket sizes, not correctness; crank ``buckets`` or pre-transform
    the value if one bucket dominates."""
    pc = list(part_cols)
    v = F.col(value_col).cast("double")
    w = (
        F.lit(1).cast("long")
        if weight_col is None
        else F.col(weight_col).cast("long")
    )
    stats = df.groupBy(*pc).agg(
        F.min(v).alias("_bmin"), F.max(v).alias("_bmax")
    )
    width = (F.col("_bmax") - F.col("_bmin")) / buckets
    tagged = df.join(F.broadcast(stats), pc) if pc else df.crossJoin(
        F.broadcast(stats)
    )
    bucket = F.when(
        F.col("_bmax") == F.col("_bmin"), F.lit(0)
    ).otherwise(
        F.least(
            F.floor((v - F.col("_bmin")) / width).cast("int"),
            F.lit(buckets - 1),
        )
    )
    tagged = tagged.withColumn("_bkt", bucket).drop("_bmin", "_bmax")
    partials = (
        tagged.groupBy(*pc, "_bkt").agg(F.sum(w).alias("_c"))
        .collect()
    )
    by_part: dict = {}
    for r in partials:
        key = tuple(r[c] for c in pc)
        by_part.setdefault(key, []).append((r["_bkt"], r["_c"]))
    offsets = []
    for key, lst in by_part.items():
        run = 0
        for b, c in sorted(lst):
            offsets.append((*key, b, run))
            run += c
    spark = df.sparkSession
    types = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in pc
    )
    off_schema = (types + ", " if types else "") + "_bkt int, _off long"
    off_df = spark.createDataFrame(offsets, off_schema)
    win = (
        Window.partitionBy(*pc, "_bkt")
        .orderBy(v, *[F.col(c) for c in tiebreak_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.join(F.broadcast(off_df), pc + ["_bkt"])
        .withColumn(out_col, F.col("_off") + F.sum(w).over(win))
        .drop("_bkt", "_off")
    )


def bucketed_row_number(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: "Sequence[str]",
    part_cols: "Sequence[str]" = (),
    buckets: int = 256,
    out_col: str = "rn",
) -> DataFrame:
    """EXACT ``row_number() OVER ([PARTITION BY part] ORDER BY value,
    tiebreaks)`` without serializing each partition through one task —
    the primitive behind global ranking at scale. Row number is the
    running count, i.e. ``bucketed_cumsum`` with unit weights; see
    that function for the two-phase plan shape. Result is row-for-row
    identical to the single-window form (which is what SQL oracle
    twins replay); parallelism is parts × buckets."""
    return bucketed_cumsum(
        df,
        value_col,
        None,
        tiebreak_cols,
        part_cols=part_cols,
        buckets=buckets,
        out_col=out_col,
    )


def basket_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
) -> DataFrame:
    """Market-basket association rules → (item_a, item_b, pair_cnt,
    support, conf_ab, conf_ba, lift): co-occurrence of item pairs
    inside a basket (order, session, document), with the classic
    support / directional confidence / lift scores. The relational
    cousin of the text tier's PMI pairs.

    Scale shape: the pair expansion is keyed BY BASKET and costs
    Σ items_per_basket² — bounded by basket width, never catalog².
    Items collapse to DISTINCT per basket first (quantity doesn't
    multiply the join); ``min_pair_count`` prunes the long random
    tail before the scoring joins, which then touch only the
    surviving pairs against two broadcast-sized marginal tables."""
    i = df.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()
    tot = i.agg(F.countDistinct("_bk").alias("_nb"))
    item_cnt = i.groupBy("_it").agg(F.count("*").alias("_ic"))
    a = i.select("_bk", F.col("_it").alias("item_a"))
    b = i.select("_bk", F.col("_it").alias("item_b"))
    pairs = (
        a.join(b, "_bk")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("pair_cnt"))
        .filter(F.col("pair_cnt") >= min_pair_count)
    )
    ca = item_cnt.select(
        F.col("_it").alias("item_a"), F.col("_ic").alias("_ca")
    )
    cb = item_cnt.select(
        F.col("_it").alias("item_b"), F.col("_ic").alias("_cb")
    )
    j = (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("_nb").cast("double")
    pc = F.col("pair_cnt").cast("double")
    return j.select(
        "item_a",
        "item_b",
        "pair_cnt",
        F.round(pc / n, 6).alias("support"),
        F.round(pc / F.col("_ca").cast("double"), 6).alias("conf_ab"),
        F.round(pc / F.col("_cb").cast("double"), 6).alias("conf_ba"),
        F.round(
            pc * n
            / (F.col("_ca").cast("double") * F.col("_cb").cast("double")),
            6,
        ).alias("lift"),
    )


def rfm_segments(
    df: DataFrame,
    customer_col: str,
    ts_col: str,
    amount_col: str,
    tiles: int = 5,
) -> DataFrame:
    """RFM segmentation → (customer, recency_days, frequency,
    monetary, r_score, f_score, m_score, rfm): the classic CRM
    scoring. Recency is days from the customer's last order to the
    corpus max date (no wall clock — deterministic), scores are
    ``ntile`` quantile ranks (higher = better: more recent, more
    frequent, more spend) with the customer key as the universal tie
    break so every engine assigns identical tiles.

    One aggregate per customer + three window passes over the (small,
    one row per customer) aggregate — the corpus is scanned once.
    Monetary sums quantize to the 2^-20 grid (exact integers) so the
    ntile ORDER is engine-stable even between near-equal spenders."""
    fxp = GRID
    src = df.select(
        F.col(customer_col).alias("customer"),
        F.col(ts_col).alias("_ts"),
        F.floor(F.col(amount_col).cast("double") * fxp).alias("_qa"),
    )
    per_c = src.groupBy("customer").agg(
        F.max("_ts").alias("_last"),
        F.count("*").alias("frequency"),
        (F.sum("_qa") / fxp).alias("monetary"),
    )
    mx = per_c.agg(F.max("_last").alias("_mx"))
    per_c = per_c.crossJoin(F.broadcast(mx)).withColumn(
        "recency_days", F.datediff(F.col("_mx"), F.col("_last"))
    )
    w_r = Window.orderBy(F.col("recency_days").desc(), "customer")
    w_f = Window.orderBy(F.col("frequency").asc(), "customer")
    w_m = Window.orderBy(F.col("monetary").asc(), "customer")
    out = per_c.select(
        "customer",
        "recency_days",
        "frequency",
        F.round("monetary", 6).alias("monetary"),
        F.ntile(tiles).over(w_r).alias("r_score"),
        F.ntile(tiles).over(w_f).alias("f_score"),
        F.ntile(tiles).over(w_m).alias("m_score"),
    )
    return out.withColumn(
        "rfm",
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ),
    )


def abc_analysis(
    df: DataFrame,
    item_col: str,
    amount_col: str,
    a_cut: float = 0.8,
    b_cut: float = 0.95,
) -> DataFrame:
    """ABC / Pareto classification → (item, revenue, revenue_share,
    cum_share, abc_class): items ranked by revenue, class A while the
    running share ≤ ``a_cut``, B to ``b_cut``, C after — the 80/15/5
    inventory rule. Revenue sums quantize to the 2^-20 grid (exact
    integer totals), so the ranking, the shares and therefore the
    class boundaries are bit-identical on every engine; the item key
    breaks exact-revenue ties.

    The window runs over the per-item AGGREGATE (catalog-sized, not
    corpus-sized); at 100 TB the single-partition rank over ~10⁶
    items is trivially bounded."""
    fxp = GRID
    per_i = (
        df.select(
            F.col(item_col).alias("item"),
            F.floor(F.col(amount_col).cast("double") * fxp).alias("_qa"),
        )
        .groupBy("item")
        .agg(F.sum("_qa").alias("_qr"))
    )
    tot = per_i.agg(F.sum("_qr").alias("_qt"))
    w = Window.orderBy(F.col("_qr").desc(), "item")
    ranked = per_i.crossJoin(F.broadcast(tot)).withColumn(
        "_cum", F.sum("_qr").over(w)
    )
    share = F.col("_qr").cast("double") / F.col("_qt").cast("double")
    cum = F.col("_cum").cast("double") / F.col("_qt").cast("double")
    return ranked.select(
        "item",
        F.round(F.col("_qr") / fxp, 6).alias("revenue"),
        F.round(share, 6).alias("revenue_share"),
        F.round(cum, 6).alias("cum_share"),
        F.when(cum <= a_cut, "A")
        .when(cum <= b_cut, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


def encoding_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Columnar-encoding cost model per key → (key, n, rle_runs,
    varint_bytes, raw_bytes, ratio): what the column WOULD cost under
    run-length encoding (count of value-change positions in the
    (ts, tiebreak) order) and under delta + zigzag + LEB128 varint
    (the Parquet/ORC integer workhorse — byte count from the exact
    zigzagged delta magnitudes), against 8-byte raw storage. The
    storage-planning analytic a table designer runs before choosing
    sort keys: a column that RLEs to 1% under one ordering is worth
    sorting by.

    One keyed window pass (lag over the same sort), one aggregate —
    all integer arithmetic, bit-identical on every engine."""
    w = Window.partitionBy("key").orderBy("_ts", "_tb")
    v = F.col("_v")
    rows = df.select(
        F.col(key_col).alias("key"),
        F.col(ts_col).alias("_ts"),
        F.col(tiebreak_col).alias("_tb"),
        F.col(value_col).cast("long").alias("_v"),
    ).withColumn("_pv", F.lag(v).over(w))
    d = v - F.col("_pv")
    zz = F.when(d >= 0, 2 * d).otherwise(-2 * d - 1)
    # LEB128 width ladder: 1 byte per started 7-bit group (first
    # value of each key stored raw = 8 bytes, like a block header)
    vb = (
        F.when(zz < (1 << 7), 1)
        .when(zz < (1 << 14), 2)
        .when(zz < (1 << 21), 3)
        .when(zz < (1 << 28), 4)
        .when(zz < (1 << 35), 5)
        .when(zz < (1 << 42), 6)
        .when(zz < (1 << 49), 7)
        .when(zz < (1 << 56), 8)
        .otherwise(9)
    )
    agg = rows.groupBy("key").agg(
        F.count("*").alias("n"),
        F.sum(
            F.when(
                F.col("_pv").isNull() | (v != F.col("_pv")), 1
            ).otherwise(0)
        ).alias("rle_runs"),
        (
            F.sum(F.when(F.col("_pv").isNotNull(), vb).otherwise(0))
            + F.lit(8)
        ).alias("varint_bytes"),
    )
    return agg.select(
        "key",
        "n",
        "rle_runs",
        "varint_bytes",
        (F.col("n") * 8).alias("raw_bytes"),
        F.round(
            F.col("varint_bytes").cast("double")
            / (F.col("n") * 8.0),
            6,
        ).alias("ratio"),
    )


def audience_overlap(
    df: DataFrame, group_col: str, unit_col: str
) -> DataFrame:
    """Pairwise audience overlap between groups → (group_a, group_b,
    n_a, n_b, n_both, n_any, jaccard, lift): |A∩B| / |A∪B| of the
    distinct unit sets — ClickHouse's ``groupBitmapAnd/Or`` dashboards
    done relationally. lift = n_both·N/(n_a·n_b) over the N distinct
    units anywhere (> 1 = audiences attract, < 1 = repel).

    The intersection comes from a self-join of the DISTINCT
    (group, unit) projection keyed on unit — Σ per-unit group-count²
    expansion, never |units|²; union sizes are arithmetic (|A|+|B|−
    |A∩B|), not a second pass."""
    gu = (
        df.select(
            F.col(group_col).alias("_g"), F.col(unit_col).alias("_u")
        )
        .filter(F.col("_g").isNotNull() & F.col("_u").isNotNull())
        .distinct()
    )
    sizes = gu.groupBy("_g").agg(F.count("*").alias("_n"))
    tot = gu.agg(F.countDistinct("_u").alias("_tot"))
    a = gu.select(F.col("_g").alias("group_a"), "_u")
    b = gu.select(F.col("_g").alias("group_b"), "_u")
    inter = (
        a.join(b, "_u")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count("*").alias("n_both"))
    )
    na = sizes.select(F.col("_g").alias("group_a"), F.col("_n").alias("n_a"))
    nb = sizes.select(F.col("_g").alias("group_b"), F.col("_n").alias("n_b"))
    j = (
        inter.join(F.broadcast(na), "group_a")
        .join(F.broadcast(nb), "group_b")
        .crossJoin(F.broadcast(tot))
    )
    n_any = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return j.select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        "n_both",
        n_any.alias("n_any"),
        F.round(
            F.col("n_both").cast("double") / n_any.cast("double"), 6
        ).alias("jaccard"),
        F.round(
            F.col("n_both").cast("double")
            * F.col("_tot").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
            6,
        ).alias("lift"),
    )


def item_cf_topk(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    k: int = 5,
    min_pair_count: int = 2,
) -> DataFrame:
    """Item-item collaborative filtering → (item, rec, rank, cosine):
    each item's top-k most-similar items by co-occurrence cosine
    sim(a,b) = n_ab/√(n_a·n_b) over distinct baskets — the "customers
    also bought" serving table. Same by-basket pair expansion as
    :func:`basket_rules`; both directions of each unordered pair are
    ranked (a recommends b AND b recommends a), ties broken by item
    id so the top-k cut is deterministic on every engine."""
    i = df.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    ).distinct()
    item_cnt = i.groupBy("_it").agg(F.count("*").alias("_ic"))
    a = i.select("_bk", F.col("_it").alias("_a"))
    b = i.select("_bk", F.col("_it").alias("_b"))
    pairs = (
        a.join(b, "_bk")
        .filter(F.col("_a") < F.col("_b"))
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_pair_count)
    )
    both = pairs.select(
        F.col("_a").alias("item"), F.col("_b").alias("rec"), "_n"
    ).unionByName(
        pairs.select(
            F.col("_b").alias("item"), F.col("_a").alias("rec"), "_n"
        )
    )
    ca = item_cnt.select(F.col("_it").alias("item"), F.col("_ic").alias("_ci"))
    cb = item_cnt.select(F.col("_it").alias("rec"), F.col("_ic").alias("_cr"))
    scored = both.join(F.broadcast(ca), "item").join(
        F.broadcast(cb), "rec"
    ).withColumn(
        "cosine",
        F.col("_n").cast("double")
        / F.sqrt(F.col("_ci").cast("double") * F.col("_cr").cast("double")),
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("rec")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "item", "rec", "rank", F.round("cosine", 6).alias("cosine")
        )
    )


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """2-D skyline (Pareto frontier, minimize BOTH columns) →
    the non-dominated rows: p survives unless some q has q.x ≤ p.x
    and q.y ≤ p.y with at least one strict. The classic multi-
    criteria OLAP operator ("cheapest AND fastest suppliers") that
    SQL engines ship as SKYLINE OF; here it is two window passes —
    no pairwise join.

    Dominance factorizes: p is dominated iff (a) some row with
    strictly smaller x has y ≤ p.y, or (b) a same-x row has strictly
    smaller y. (a) is a prefix min over the DISTINCT-x table — one
    groupBy(x).min(y), then a ROWS frame ending 1 row before, which
    on distinct x is exactly "strictly smaller x" for ANY numeric x
    (a RANGE … 1 PRECEDING frame would skip dominators within 1.0
    of p.x — fractional data broke that; ADVICE r12). (b) is the
    same per-x min, joined back. All passes sort/shuffle the
    CANDIDATE table (pre-aggregated entities by contract), never the
    fact table. Exact duplicates of a frontier point all survive
    (no strict dominance between them)."""
    gcols = list(group_cols or [])
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    src = df.filter(x.isNotNull() & y.isNotNull())
    perx = src.groupBy(*gcols, x_col).agg(F.min(y).alias("_mx"))
    wrows = (
        Window.partitionBy(*gcols)
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    perx = perx.withColumn("_mlt", F.min("_mx").over(wrows))
    cand = src.join(perx, gcols + [x_col])
    keep = (
        F.col("_mlt").isNull() | (F.col("_mlt") > y)
    ) & (y == F.col("_mx"))
    return cand.filter(keep).drop("_mlt", "_mx").select(*df.columns)

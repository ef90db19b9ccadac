"""Classifier / ranking evaluation over distributed prediction logs.

The reference's consumers score Superset-fed models offline; these are
the standard offline metrics (ROC AUC, calibration, WoE/IV) expressed
as one- or two-pass Catalyst aggregates so a 100 TB prediction log
reduces map-side: no per-row Python, no driver-side sort of the corpus.

Numeric determinism: AUC uses midranks (multiples of 0.5 — every sum
is exact in IEEE doubles), Brier re-quantizes squared errors onto the
2^-20 grid (power-of-two multiply is exact), so Spark and any SQL
oracle agree bit-for-bit before the final 6dp round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._exact import grid, grid_sum


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Exact ROC AUC per group → (group…, n_pos, n_neg, auc,
    gini_idx): the rank-sum formulation AUC = (R⁺ − n⁺(n⁺+1)/2) /
    (n⁺·n⁻) with average (mid)ranks over tied scores — identical to
    trapezoidal ROC integration with ties, and computable in one
    per-distinct-score aggregate + one prefix window instead of a
    global sort of the corpus (scores collapse to their distinct
    values first, so the window input is bounded by score
    cardinality). gini_idx = 2·AUC − 1."""
    gcols = list(group_cols or [])
    src = df.select(
        *gcols,
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    pv = src.groupBy(*gcols, "_s").agg(
        F.count(F.when(F.col("_y") == 1, 1)).alias("_cp"),
        F.count(F.when(F.col("_y") == 0, 1)).alias("_cn"),
    )
    w = (
        Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    ).orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    t = pv.withColumn("_t", F.col("_cp") + F.col("_cn")).withColumn(
        "_bef", F.coalesce(F.sum("_t").over(w), F.lit(0))
    )
    midrank = F.col("_bef") + (F.col("_t") + F.lit(1.0)) / 2.0
    agg = t.groupBy(*gcols).agg(
        F.sum("_cp").alias("n_pos"),
        F.sum("_cn").alias("n_neg"),
        F.sum(midrank * F.col("_cp")).alias("_rp"),
    )
    np_, nn_ = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    auc = (F.col("_rp") - np_ * (np_ + 1.0) / 2.0) / (np_ * nn_)
    return agg.select(
        *gcols,
        "n_pos",
        "n_neg",
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini_idx"),
    )


def classifier_eval(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    threshold: float = 0.5,
    bins: int = 10,
) -> DataFrame:
    """Thresholded-classifier scorecard → single row (n, tp, fp, tn,
    fn, accuracy, precision_, recall, f1, brier, ece): confusion
    counts at ``threshold``, the Brier score, and expected calibration
    error over ``bins`` equal-width probability bins (the reliability-
    diagram summary).

    One conditional-aggregate pass for the confusion counts + Brier
    (squared errors re-quantized to the 2^-20 grid → exact integer
    sum), one tiny groupBy over ≤ ``bins`` rows for ECE. Callers
    should hand in probabilities already on a deterministic grid."""
    src = df.select(
        F.col(prob_col).cast("double").alias("_p"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_p").isNotNull() & F.col("_y").isNotNull())
    pred = (F.col("_p") >= F.lit(threshold)).cast("int")
    e = F.col("_p") - F.col("_y").cast("double")
    conf = src.agg(
        F.count("*").alias("n"),
        F.sum(((pred == 1) & (F.col("_y") == 1)).cast("long")).alias("tp"),
        F.sum(((pred == 1) & (F.col("_y") == 0)).cast("long")).alias("fp"),
        F.sum(((pred == 0) & (F.col("_y") == 0)).cast("long")).alias("tn"),
        F.sum(((pred == 0) & (F.col("_y") == 1)).cast("long")).alias("fn"),
        grid_sum(e * e).alias("_se"),
    )
    b = src.groupBy(
        F.least(F.floor(F.col("_p") * bins), F.lit(bins - 1)).alias("_b")
    ).agg(
        F.count("*").alias("_nb"),
        F.avg("_p").alias("_pb"),
        F.avg(F.col("_y").cast("double")).alias("_yb"),
    )
    ece = b.crossJoin(conf.select("n")).agg(
        F.sum(
            F.col("_nb").cast("double")
            / F.col("n")
            * F.abs(F.col("_pb") - F.col("_yb"))
        ).alias("_ece")
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    return conf.crossJoin(ece).select(
        "n",
        "tp",
        "fp",
        "tn",
        "fn",
        F.round(
            (F.col("tp") + F.col("tn")).cast("double") / F.col("n"), 6
        ).alias("accuracy"),
        F.round(prec, 6).alias("precision_"),
        F.round(rec, 6).alias("recall"),
        F.round(
            F.when(
                prec + rec > 0, 2.0 * prec * rec / (prec + rec)
            ),
            6,
        ).alias("f1"),
        F.round(F.col("_se") / F.col("n"), 6).alias("brier"),
        F.round("_ece", 6).alias("ece"),
    )


def woe_iv(
    df: DataFrame, bucket_col: str, label_col: str
) -> DataFrame:
    """Weight of Evidence / Information Value per feature bucket →
    (bucket, n_pos, n_neg, woe, iv_term): the credit-scoring /
    feature-screening standard. WoE_b = ln((pos_b+0.5)/P ÷
    (neg_b+0.5)/N) with Laplace 0.5 smoothing so empty cells stay
    finite; iv_term = (pos_share − neg_share)·WoE_b, Σ iv_term = IV.

    One groupBy over buckets; the marginals join is a broadcast of a
    1-row aggregate. Bucket count is the caller's binning, so the
    shuffle is bounded by #buckets."""
    cells = (
        df.select(
            F.col(bucket_col).alias("bucket"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .filter(F.col("bucket").isNotNull() & F.col("_y").isNotNull())
        .groupBy("bucket")
        .agg(
            F.sum((F.col("_y") == 1).cast("long")).alias("n_pos"),
            F.sum((F.col("_y") == 0).cast("long")).alias("n_neg"),
        )
    )
    tot = cells.agg(
        F.sum("n_pos").alias("_tp"), F.sum("n_neg").alias("_tn")
    )
    j = cells.crossJoin(F.broadcast(tot))
    ps = (F.col("n_pos") + 0.5) / F.col("_tp").cast("double")
    ns = (F.col("n_neg") + 0.5) / F.col("_tn").cast("double")
    woe = F.log(ps / ns)
    return j.select(
        "bucket",
        "n_pos",
        "n_neg",
        F.round(woe, 6).alias("woe"),
        F.round((ps - ns) * woe, 6).alias("iv_term"),
    )


def bradley_terry(
    matches: DataFrame,
    winner_col: str,
    loser_col: str,
    iters: int = 8,
    driver_max_items: int = 128,
) -> DataFrame:
    """Bradley–Terry pairwise-preference strengths via Hunter's (2004)
    MM iterations → (item, wins, n_matches, strength, rank): the model
    behind preference/RLHF reward fitting and tournament ranking —
    π_i ← W_i / Σ_j n_ij/(π_i + π_j), renormalized to mean 1 each
    round. Items are a BOUNDED label set (models, variants, arms);
    the corpus-scale work is ONE groupBy producing the ≤K² pair-count
    table, after which every iteration runs over K² rows.

    Every intermediate lands on the 1e-9 grid (term, denominator,
    update, renormalization), so the ~1e-15 float-sum noise can never
    cross a grid cell and the oracle's unrolled-CTE replay is
    bit-identical.

    r15 optimization round (guide §1.2/§5, the ``hits`` ≤128-node
    precedent): when the item set is tiny (K ≤ ``driver_max_items``
    AFTER the corpus-scale aggregation), the 8 MM rounds run as plain
    driver floats over the collected K²-bounded tables instead of
    ~8 × 6 scheduler round-trips over ≤K²-row frames — the collected
    state is K²-bounded by construction (the k-means k×dim precedent),
    and every intermediate re-lands on the same 1e-9 grid (HALF_UP via
    ``decimal``, replaying ``F.round``'s BigDecimal semantics). The
    equality with the distributed loop rests on the repo-wide
    grid-noise doctrine (ADVICE r15): the 1e-9 grid absorbs
    float-summation-order differences (sorted driver accumulation vs
    Spark's partition-order sums), and ``repr()`` is Java
    ``Double.toString``'s shortest-round-trip twin for the quantize
    input — both hold everywhere except exact half-boundary values,
    the same doctrinal exposure every gridded operator shares. Pinned
    across seeds and K sizes by
    ``test_bradley_terry_driver_path_matches_distributed``. Larger
    item sets take the distributed loop unchanged."""
    w = F.col(winner_col).cast("string")
    l = F.col(loser_col).cast("string")
    base = matches.select(w.alias("_w"), l.alias("_l")).filter(
        F.col("_w").isNotNull() & F.col("_l").isNotNull()
        & (F.col("_w") != F.col("_l"))
    )
    # r15 optimization round (guide §2.3/§2.4): ONE corpus-scale pass —
    # the directed (winner, loser) count table is ≤K² rows and every
    # other input (wins, undirected pair counts, the item universe,
    # per-item match totals) is a K²-bounded re-aggregation of it.
    # Previously wins/pairs/items/tot each re-scanned the match corpus
    # (4 corpus-scale jobs); now the scan+groupBy runs once.
    dp = (
        base.groupBy("_w", "_l")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    wins = dp.groupBy(F.col("_w").alias("item")).agg(
        F.sum("n").alias("wins")
    )
    pairs = (
        dp.select(
            F.least(F.col("_w"), F.col("_l")).alias("a"),
            F.greatest(F.col("_w"), F.col("_l")).alias("b"),
            "n",
        )
        .groupBy("a", "b")
        .agg(F.sum("n").alias("n"))
    )
    items = (
        dp.select(F.col("_w").alias("item"))
        .union(dp.select(F.col("_l").alias("item")))
        .distinct()
    )
    n_items = items.groupBy().agg(F.count("*").alias("_k"))
    tot = (
        dp.select(F.col("_w").alias("item"), "n")
        .union(dp.select(F.col("_l").alias("item"), "n"))
        .groupBy("item")
        .agg(F.sum("n").alias("n_matches"))
    )
    # directed pair table: one row per (i, j≠i) with the match count
    sym = pairs.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "n"
    ).union(
        pairs.select(
            F.col("b").alias("i"), F.col("a").alias("j"), "n"
        )
    )
    k_items = items.count()
    if k_items <= driver_max_items:
        from decimal import ROUND_HALF_UP, Decimal

        import math as _m

        def _r(x: float, places: str) -> float:
            # F.round replays: BigDecimal(Double.toString(x)) HALF_UP —
            # repr() is Python's shortest round-trip form of the same
            # double (all quantities here are >= 0). Non-finite values
            # pass through (IEEE semantics, like the double column).
            if not _m.isfinite(x):
                return float(x)
            return float(
                Decimal(repr(float(x))).quantize(
                    Decimal(places), rounding=ROUND_HALF_UP
                )
            )

        def _div(a: float, b: float) -> float:
            # IEEE double division (Spark's x/y on doubles): x/0 is
            # ±inf / nan, never a Python ZeroDivisionError.
            if b == 0.0:
                return float("nan") if a == 0.0 else _m.copysign(
                    float("inf"), a
                )
            return a / b

        il = sorted(r["item"] for r in items.collect())
        wl = {r["item"]: int(r["wins"]) for r in wins.collect()}
        tl = {r["item"]: int(r["n_matches"]) for r in tot.collect()}
        sl = sorted(
            (r["i"], r["j"], int(r["n"])) for r in sym.collect()
        )
        pi_d = {it: 1.0 for it in il}
        for _ in range(int(iters)):
            denom = {it: 0.0 for it in il}
            for i, j, n in sl:
                denom[i] += _r(_div(n, pi_d[i] + pi_d[j]), "1e-9")
            upd = {
                it: _r(
                    _div(float(wl.get(it, 0)), _r(denom[it], "1e-9")),
                    "1e-9",
                )
                for it in il
            }
            s = _r(sum(upd[it] for it in il), "1e-9")
            pi_d = {
                it: _r(_div(upd[it] * k_items, s), "1e-9") for it in il
            }
        ranked = sorted(il, key=lambda it: (-_r(pi_d[it], "1e-6"), it))
        rank_of = {it: r + 1 for r, it in enumerate(ranked)}
        rows = [
            (
                it,
                wl.get(it, 0),
                tl.get(it, 0),
                _r(pi_d[it], "1e-6"),
                rank_of[it],
            )
            for it in il
        ]
        return matches.sparkSession.createDataFrame(
            rows,
            "item string, wins long, n_matches long, "
            "strength double, rank int",
        )
    # Distributed loop: the K-bounded tables feed every MM round —
    # checkpoint them once so their (cheap, dp-derived) re-aggregations
    # don't re-run 8×.
    wins = wins.localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)
    items = items.localCheckpoint(eager=True)
    tot = tot.localCheckpoint(eager=True)
    pi = items.select("item", F.lit(1.0).alias("pi"))
    for _ in range(int(iters)):
        pj = pi.select(F.col("item").alias("j"), F.col("pi").alias("_pj"))
        pi_i = pi.select(F.col("item").alias("i"), F.col("pi").alias("_pi"))
        term = (
            sym.join(pi_i, "i")
            .join(pj, "j")
            .select(
                "i",
                F.round(
                    F.col("n").cast("double")
                    / (F.col("_pi") + F.col("_pj")),
                    9,
                ).alias("_t"),
            )
        )
        denom = term.groupBy(F.col("i").alias("item")).agg(
            F.round(F.sum("_t"), 9).alias("_d")
        )
        # LEFT join from items: a zero-win item must stay in pi with
        # strength 0 — dropping it would delete its n_ij terms from
        # every opponent's denominator next round (and in the 2-item
        # case empty the whole fit), silently inflating the winners.
        upd = (
            items.join(wins, "item", "left")
            .join(denom, "item")
            .select(
                "item",
                F.round(
                    F.coalesce(F.col("wins"), F.lit(0)).cast("double")
                    / F.col("_d"),
                    9,
                ).alias("_p"),
            )
        )
        s = upd.groupBy().agg(F.round(F.sum("_p"), 9).alias("_s"))
        pi = (
            upd.crossJoin(F.broadcast(s))
            .crossJoin(F.broadcast(n_items))
            .select(
                "item",
                F.round(
                    F.col("_p") * F.col("_k").cast("double") / F.col("_s"),
                    9,
                ).alias("pi"),
            )
            # upd feeds both the normalizer and the update, so the lazy
            # plan doubles per round — checkpoint the K-row state to
            # keep the plan linear (same shape as the graph loops).
            .localCheckpoint(eager=True)
        )
    out = (
        items.join(wins, "item", "left")
        .join(tot, "item", "left")
        .join(pi, "item", "left")
        .select(
            "item",
            F.coalesce(F.col("wins"), F.lit(0)).cast("long").alias("wins"),
            F.coalesce(F.col("n_matches"), F.lit(0))
            .cast("long")
            .alias("n_matches"),
            F.round(F.coalesce(F.col("pi"), F.lit(0.0)), 6).alias(
                "strength"
            ),
        )
    )
    rk = Window.orderBy(F.col("strength").desc(), F.col("item"))
    # rank window runs over the BOUNDED item table (K rows), the same
    # documented-legitimate single-partition class as ntile_tiers.
    return out.select(
        "item", "wins", "n_matches", "strength",
        F.row_number().over(rk).cast("int").alias("rank"),
    )


def rank_biased_overlap(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str,
    depth: int = 50,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010), truncated at
    ``depth`` → single row (depth, p, n_common, rbo): the top-weighted
    ranking similarity for comparing two retrieval/recommendation
    runs — RBO = (1−p)·Σ_d p^{d−1}·|A_d ∩ B_d|/d, where disagreement
    near the top costs more than at the tail (Kendall/Spearman weight
    all positions equally). Inputs are the two ranked lists (id +
    1-based ``rank`` column, rank ≤ depth).

    A common element entering both prefixes at d₀ = max(rank_a,
    rank_b) contributes Σ_{d≥d₀} p^{d−1}/d — computed from a
    ``depth``-row generated spine with a suffix-sum window (bounded
    rows, the documented-legitimate tiny-window class), then one
    broadcast join. Nothing corpus-scale beyond producing the ranked
    lists themselves."""
    a = ranked_a.select(F.col(id_col).alias("_id"), F.col("rank").alias("_ra"))
    b = ranked_b.select(F.col(id_col).alias("_id"), F.col("rank").alias("_rb"))
    common = a.join(b, "_id").select(
        "_id", F.greatest(F.col("_ra"), F.col("_rb")).alias("_d0")
    )
    spine = (
        F.broadcast(
            common.sparkSession.range(1, depth + 1)
            .select(F.col("id").cast("int").alias("_d"))
        )
        .withColumn(
            "_w",
            F.pow(F.lit(float(p)), F.col("_d") - 1) / F.col("_d"),
        )
    )
    suf = spine.select(
        "_d",
        F.round(
            F.sum("_w").over(
                Window.orderBy(F.col("_d").desc()).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
            9,
        ).alias("_suf"),
    )
    j = common.join(F.broadcast(suf), common["_d0"] == suf["_d"])
    agg = j.agg(
        F.count("*").alias("_nc"),
        F.round(F.coalesce(F.sum("_suf"), F.lit(0.0)), 9).alias("_ss"),
    )
    return agg.select(
        F.lit(int(depth)).cast("int").alias("depth"),
        F.lit(float(p)).alias("p"),
        F.col("_nc").cast("long").alias("n_common"),
        F.round((1.0 - float(p)) * F.col("_ss"), 6).alias("rbo"),
    )


def rouge_l(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """ROUGE-L (Lin 2004) per candidate/reference token-array pair →
    (id, n_x, n_y, lcs, rouge_p, rouge_r, rouge_f): longest common
    SUBSEQUENCE length via the O(n·m) DP, then precision lcs/n_x,
    recall lcs/n_y, F = 2PR/(P+R). The order-aware overlap metric for
    summarization eval and train/test contamination scoring where
    n-gram containment misses paraphrased-but-aligned passages.

    The DP runs as ONE codegen fold per row (outer ``aggregate`` over
    the candidate tokens carrying the previous DP row, inner building
    the next row — the dtw_distance pattern with integer cells, so the
    oracle replays it exactly via nested list_reduce). Arrays must be
    BOUNDED (truncate upstream): per-row work is n·m cells. No
    shuffle, no UDF — the fold lives inside the scan stage."""
    m = F.size(F.col(y_col))
    row0 = F.transform(F.sequence(F.lit(0), m), lambda _: F.lit(0))

    def outer_step(prev, x):
        def inner_step(cur, jj):
            up_left = F.element_at(prev, jj)        # D[i-1][j-1]
            up = F.element_at(prev, jj + F.lit(1))  # D[i-1][j]
            left = F.element_at(cur, -1)            # D[i][j-1]
            val = F.when(
                x == F.element_at(F.col(y_col), jj), up_left + F.lit(1)
            ).otherwise(F.greatest(up, left))
            return F.concat(cur, F.array(val))

        return F.aggregate(
            F.sequence(F.lit(1), m), F.array(F.lit(0)), inner_step
        )

    n_x = F.size(F.col(x_col))
    # Degenerate-input guard: sequence(1, 0) is DESCENDING [1, 0], so an
    # empty reference would drive element_at(prev, 0) out of range and
    # crash the job; an empty/null candidate or reference scores 0 by
    # definition. CASE WHEN evaluates branches lazily, so the DP never
    # runs for guarded rows.
    nonempty = (m > 0) & (n_x > 0)
    lcs = F.when(
        nonempty,
        F.element_at(F.aggregate(F.col(x_col), row0, outer_step), m + F.lit(1)),
    ).otherwise(F.lit(0))
    p = F.when(n_x > 0, lcs.cast("double") / n_x).otherwise(F.lit(0.0))
    r = F.when(m > 0, lcs.cast("double") / m).otherwise(F.lit(0.0))
    f1 = F.when(lcs > 0, 2.0 * p * r / (p + r)).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        n_x.cast("int").alias("n_x"),
        m.cast("int").alias("n_y"),
        lcs.cast("long").alias("lcs"),
        F.round(p, 6).alias("rouge_p"),
        F.round(r, 6).alias("rouge_r"),
        F.round(f1, 6).alias("rouge_f"),
    )


def logistic_gd(
    df: DataFrame,
    label_col: str,
    feature_cols: "list[str]",
    iters: int = 8,
    lr: float = 2.0,
) -> DataFrame:
    """Logistic-regression quality classifier by K unrolled
    gradient-ascent steps → single row (n, iters, w0..wd, log_loss,
    accuracy): fit p = sigmoid(w0 + Σ wj·xj) on a binary target — the
    fastText-style learned quality filter that upgrades the
    hand-weighted heuristics (gopher_gate, nb_classifier) to a trained
    decision boundary.

    Determinism contract (the platt_scale precedent generalized to d
    features): weights are ROUNDED TO THE 1e-8 GRID AFTER EVERY step,
    so per-pass aggregate ulps (~1e-13) can never move the trajectory;
    z is built left-to-right in a FIXED feature order; accuracy
    thresholds on z ≥ 0 (exact, no sigmoid round-trip). Scale: each
    step is ONE partial-aggregated pass over a cached projection
    (d+1 avg-gradients); iterations are the explicit cost knob, and
    d is bounded (hashed/selected features, never raw vocab)."""
    import math

    d = len(feature_cols)
    src = df.select(
        F.col(label_col).cast("double").alias("_y"),
        *[
            F.col(c).cast("double").alias(f"_x{j + 1}")
            for j, c in enumerate(feature_cols)
        ],
    )
    for j in range(d):
        src = src.filter(F.col(f"_x{j + 1}").isNotNull())
    src = src.filter(F.col("_y").isNotNull()).persist()
    try:
        n = src.count()
        w = [0.0] * (d + 1)

        def _z(wv):
            z = F.lit(wv[0])
            for j in range(d):
                z = z + F.lit(wv[j + 1]) * F.col(f"_x{j + 1}")
            return z

        for _ in range(iters):
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(w)))
            resid = F.col("_y") - p
            aggs = [F.avg(resid).alias("_g0")] + [
                F.avg(resid * F.col(f"_x{j + 1}")).alias(f"_g{j + 1}")
                for j in range(d)
            ]
            g = src.agg(*aggs).first()
            w = [
                math.floor((w[j] + lr * g[f"_g{j}"]) * 1e8 + 0.5) / 1e8
                for j in range(d + 1)
            ]
        z = _z(w)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        eps = F.lit(1e-12)
        fin = src.agg(
            F.round(
                -F.avg(
                    F.col("_y") * F.log(p + eps)
                    + (F.lit(1.0) - F.col("_y"))
                    * F.log(F.lit(1.0) - p + eps)
                ),
                6,
            ).alias("_ll"),
            F.round(
                F.avg(
                    F.when(
                        (z >= 0) == (F.col("_y") == 1.0), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("_acc"),
        ).first()
    finally:
        src.unpersist()
    row = (
        [n, iters]
        + [float(x) for x in w]
        + [float(fin["_ll"]), float(fin["_acc"])]
    )
    schema = (
        "n long, iters int, "
        + ", ".join(f"w{j} double" for j in range(d + 1))
        + ", log_loss double, accuracy double"
    )
    return df.sparkSession.createDataFrame([tuple(row)], schema)


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram → one row per equal-width score bin
    (bin, n_bin, conf, acc, abs_gap, wgap): mean predicted confidence
    vs realized accuracy; ECE = Σ wgap, MCE = max abs_gap — the
    calibration readout every quality-filter threshold depends on
    (platt/isotonic FIX miscalibration, this MEASURES it).

    One conditional aggregate keyed by bin = min(⌊score·B⌋, B−1);
    conf/acc are ratios of per-bin sums. Pass a GRID-quantized score
    (the caller's contract) and every output is an exact IEEE ratio —
    engine-identical before the 6dp round."""
    # Clamp BOTH edges: scores ≥ 1 land in bin B−1, scores < 0 in bin 0 —
    # without the greatest() an out-of-domain negative score would mint a
    # phantom bin outside [0, B−1].
    b = F.greatest(
        F.least(
            F.floor(F.col(score_col).cast("double") * bins).cast("int"),
            F.lit(bins - 1),
        ),
        F.lit(0),
    )
    src = df.select(
        b.alias("bin"),
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("double").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    per = src.groupBy("bin").agg(
        F.count("*").alias("_nb"),
        F.sum("_s").alias("_ss"),
        F.sum("_y").alias("_sy"),
    )
    tot = per.agg(F.sum("_nb").alias("_n"))
    j = per.crossJoin(F.broadcast(tot))
    conf = F.col("_ss") / F.col("_nb")
    acc = F.col("_sy") / F.col("_nb")
    return j.select(
        F.col("bin"),
        F.col("_nb").cast("long").alias("n_bin"),
        F.round(conf, 6).alias("conf"),
        F.round(acc, 6).alias("acc"),
        F.round(F.abs(conf - acc), 6).alias("abs_gap"),
        F.round(
            F.col("_nb").cast("double") / F.col("_n")
            * F.abs(conf - acc),
            6,
        ).alias("wgap"),
    )


def cluster_agreement(
    df: DataFrame, cluster_col: str, class_col: str
) -> DataFrame:
    """Clustering-vs-labels agreement → single row (n, k_clusters,
    k_classes, purity, nmi): purity = Σ_c max_k n_ck / N and
    NMI = I(C;K) / sqrt(H(C)·H(K)) from the contingency table — the
    standard external eval for embedding/topic clusters against known
    classes (did the semdedup/kmeans cells actually recover the
    sources?).

    One contingency aggregate (≤ k_c·k_k rows), then all-exact count
    ratios into ln; sums run over the tiny cell table, so ulps sit
    ~1e-15 below the 6dp round on both engines."""
    src = df.select(
        F.col(cluster_col).alias("_c"), F.col(class_col).alias("_k")
    ).filter(F.col("_c").isNotNull() & F.col("_k").isNotNull())
    cells = src.groupBy("_c", "_k").agg(F.count("*").alias("_n"))
    rowm = cells.groupBy("_c").agg(
        F.sum("_n").alias("_nc"), F.max("_n").alias("_mx")
    )
    colm = cells.groupBy("_k").agg(F.sum("_n").alias("_nk"))
    tot = cells.agg(F.sum("_n").alias("_tot"))
    nn = F.col("_tot").cast("double")
    mi = (
        cells.join(rowm.select("_c", "_nc"), "_c")
        .join(colm, "_k")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("_n")
                / nn
                * F.log(
                    F.col("_n") * nn
                    / (
                        F.col("_nc").cast("double")
                        * F.col("_nk").cast("double")
                    )
                )
            ).alias("_mi")
        )
    )
    hc = rowm.crossJoin(F.broadcast(tot)).agg(
        F.sum(-(F.col("_nc") / nn) * F.log(F.col("_nc") / nn)).alias("_hc"),
        F.sum("_mx").alias("_pur"),
        F.count("*").alias("_kc"),
    )
    hk = colm.crossJoin(F.broadcast(tot)).agg(
        F.sum(-(F.col("_nk") / nn) * F.log(F.col("_nk") / nn)).alias("_hk"),
        F.count("*").alias("_kk"),
    )
    out = mi.crossJoin(hc).crossJoin(hk).crossJoin(F.broadcast(tot))
    denom = F.sqrt(F.col("_hc") * F.col("_hk"))
    return out.select(
        F.col("_tot").cast("long").alias("n"),
        F.col("_kc").cast("long").alias("k_clusters"),
        F.col("_kk").cast("long").alias("k_classes"),
        F.round(F.col("_pur").cast("double") / nn, 6).alias("purity"),
        F.round(
            F.when(denom > 0, F.col("_mi") / denom).otherwise(F.lit(0.0)),
            6,
        ).alias("nmi"),
    )


def ipw_ate(
    df: DataFrame,
    x_col: str,
    t_col: str,
    y_col: str,
    iters: int = 6,
    clip: float = 0.01,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect → single
    row (n, a, b, ate, ess_t, ess_c): fit the propensity e(x) =
    sigmoid(a·x + b) with the exact platt_scale Newton walk (weights
    on the 1e-8 grid every step), clip e to [clip, 1−clip] (the
    standard overlap trim, declared), then the Hájek estimator
    ate = Σ t·y/e / Σ t/e − Σ (1−t)·y/(1−e) / Σ (1−t)/(1−e), with
    per-arm effective sample sizes (Σw)²/Σw². The observational
    "what did the treatment do" readout when arms were NOT randomized
    — the confounder x is modeled instead of ignored (contrast
    ab_ztest, which assumes randomization).

    One Newton fit (iters bounded passes) + ONE weighted aggregate
    pass; the fitted (a, b) are grid literals, so both engines weight
    identical rows identically."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        platt_scale,
    )

    # n, the propensity fit, and the weighted sums must describe the SAME
    # rows: a NULL x/t/y silently drops out of every weighted aggregate
    # (NULL propagates through wt/wc) but count(*) would still count it.
    df = df.filter(
        F.col(x_col).isNotNull()
        & F.col(t_col).isNotNull()
        & F.col(y_col).isNotNull()
    )
    fit = platt_scale(df.select(
        F.col(x_col).alias("x"), F.col(t_col).alias("y")
    ), "x", "y", iters=iters).first()
    a, b = float(fit["a"]), float(fit["b"])
    e_raw = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col(x_col).cast("double") * a + b))
    )
    e = F.least(F.greatest(e_raw, F.lit(clip)), F.lit(1.0 - clip))
    t = F.col(t_col).cast("double")
    y = F.col(y_col).cast("double")
    wt = t / e
    wc = (F.lit(1.0) - t) / (F.lit(1.0) - e)
    agg = df.agg(
        F.count("*").alias("_n"),
        F.sum(wt * y).alias("_syt"),
        F.sum(wt).alias("_swt"),
        F.sum(wt * wt).alias("_swt2"),
        F.sum(wc * y).alias("_syc"),
        F.sum(wc).alias("_swc"),
        F.sum(wc * wc).alias("_swc2"),
    )
    ate = F.col("_syt") / F.col("_swt") - F.col("_syc") / F.col("_swc")
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.lit(a).alias("a"),
        F.lit(b).alias("b"),
        F.round(ate, 6).alias("ate"),
        F.round(
            F.col("_swt") * F.col("_swt") / F.col("_swt2"), 6
        ).alias("ess_t"),
        F.round(
            F.col("_swc") * F.col("_swc") / F.col("_swc2"), 6
        ).alias("ess_c"),
    )


def mrr(
    df: DataFrame,
    query_col: str,
    score_col: str,
    rel_col: str,
    id_col: str,
) -> DataFrame:
    """Mean reciprocal rank → single row (n_queries, n_hit, mrr):
    1/rank of the FIRST relevant result per query, averaged — the
    navigational-search readout ("how fast does the right answer
    surface") that complements ndcg's graded view. Queries with no
    relevant result contribute 0 (reported via n_hit).

    Ranks come from one row_number window PARTITIONED BY QUERY over
    the deterministic (score DESC, id ASC) total order — per-query
    state only, never a global sort. Each query's 1/rank term is
    floor-quantized to the 2^-20 grid before the cross-query sum, so
    summation order cannot move the mean."""
    w = Window.partitionBy("_q").orderBy(
        F.col("_s").desc(), F.col("_id").asc()
    )
    ranked = df.select(
        F.col(query_col).alias("_q"),
        F.col(score_col).cast("double").alias("_s"),
        F.col(rel_col).cast("int").alias("_r"),
        F.col(id_col).alias("_id"),
    ).withColumn("_rk", F.row_number().over(w))
    first_hit = (
        ranked.filter(F.col("_r") == 1)
        .groupBy("_q")
        .agg(F.min("_rk").alias("_fr"))
    )
    per_q = (
        ranked.select("_q").distinct()
        .join(first_hit, "_q", "left")
    )
    rr = F.when(
        F.col("_fr").isNotNull(), grid(1.0 / F.col("_fr"))
    ).otherwise(F.lit(0.0))
    agg = per_q.agg(
        F.count("*").alias("_nq"),
        F.count("_fr").alias("_nh"),
        F.sum(rr).alias("_srr"),
    )
    return agg.select(
        F.col("_nq").cast("long").alias("n_queries"),
        F.col("_nh").cast("long").alias("n_hit"),
        F.round(F.col("_srr") / F.col("_nq").cast("double"), 6).alias(
            "mrr"
        ),
    )


def map_at_k(
    df: DataFrame,
    query_col: str,
    score_col: str,
    rel_col: str,
    id_col: str,
    k: int = 10,
) -> DataFrame:
    """Mean average precision at k → single row (n_queries, k, map):
    AP@k = Σ_{rel hits i ≤ k} P(i) / min(R, k) per query, averaged —
    THE ranking-eval headline when multiple relevant results exist
    per query (mrr only sees the first). P(i) = hits-so-far/i uses
    exact integer ranks from the same per-query deterministic
    (score DESC, id ASC) window as mrr.

    Per-query AP sums ≤ k exact-ratio terms, each floor-quantized to
    the 2^-20 grid; the cross-query mean re-quantizes per-query AP
    the same way. All windows are query-partitioned — no global
    sort, no single-partition exchange."""
    if k < 1:
        raise ValueError(f"map_at_k needs k >= 1, got {k}")
    w = Window.partitionBy("_q").orderBy(
        F.col("_s").desc(), F.col("_id").asc()
    )
    ranked = (
        df.select(
            F.col(query_col).alias("_q"),
            F.col(score_col).cast("double").alias("_s"),
            F.col(rel_col).cast("int").alias("_r"),
            F.col(id_col).alias("_id"),
        )
        .withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "_hits",
            F.sum("_r").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    term = F.when(
        (F.col("_r") == 1) & (F.col("_rk") <= k),
        grid(F.col("_hits").cast("double") / F.col("_rk")),
    ).otherwise(F.lit(0.0))
    per_q = ranked.groupBy("_q").agg(
        F.sum(term).alias("_ap_num"),
        F.sum("_r").alias("_rtot"),
    )
    denom = F.least(F.col("_rtot"), F.lit(k)).cast("double")
    ap = F.when(
        F.col("_rtot") > 0,
        grid(F.col("_ap_num") / denom),
    ).otherwise(F.lit(0.0))
    agg = per_q.agg(
        F.count("*").alias("_nq"), F.sum(ap).alias("_sap")
    )
    return agg.select(
        F.col("_nq").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.round(F.col("_sap") / F.col("_nq").cast("double"), 6).alias(
            "map"
        ),
    )


def avg_precision(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """Tie-coherent PR-AUC (trapezoidal average precision) → single
    row (n, n_pos, pr_auc): area under the precision–recall curve
    sampled at every DISTINCT score threshold, trapezoid-interpolated
    between points — the imbalanced-data companion to roc_auc (ROC
    flatters a 1:1000 classifier; PR does not).

    Whole-block thresholding makes ties well-defined: cumulative
    (TP, FP) come from per-distinct-score counts + ONE prefix window
    over distinct scores (the midrank exemption — bounded by the
    score domain, never a row sort). Every (recall, precision) point
    is an exact integer ratio; the bounded trapezoid sum is
    engine-identical."""
    src = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    pv = src.groupBy("_s").agg(
        F.sum("_y").alias("_p"),
        F.count("*").alias("_c"),
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pv.withColumn("_tp", F.sum("_p").over(w)).withColumn(
        "_n_at", F.sum("_c").over(w)
    )
    tot = pv.agg(
        F.sum("_c").alias("_n"), F.sum("_p").alias("_np")
    )
    j = cum.crossJoin(F.broadcast(tot))
    rec = F.col("_tp").cast("double") / F.col("_np")
    prec = F.col("_tp").cast("double") / F.col("_n_at")
    wl = Window.partitionBy().orderBy(F.col("_s").desc())
    pts = j.select(
        "_n",
        "_np",
        rec.alias("_rec"),
        prec.alias("_prec"),
        F.lag(rec, 1, 0.0).over(wl).alias("_rec0"),
        F.lag(prec, 1, 1.0).over(wl).alias("_prec0"),
    )
    area = pts.agg(
        F.min("_n").alias("_n"),
        F.min("_np").alias("_np"),
        F.sum(
            (F.col("_rec") - F.col("_rec0"))
            * (F.col("_prec") + F.col("_prec0"))
            / 2.0
        ).alias("_auc"),
    )
    return area.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_np").cast("long").alias("n_pos"),
        F.round("_auc", 6).alias("pr_auc"),
    )


def lift_table(
    df: DataFrame, score_col: str, label_col: str, buckets: int = 10
) -> DataFrame:
    """Decile lift/gain table → one row per score bucket (bucket,
    n_bucket, n_pos, rate, lift): rank the population by model score,
    cut into ``buckets`` equal-count slices, and compare each slice's
    response rate to the base rate — the campaign-targeting readout
    ("the top decile converts at 3.2× base") that thresholds and AUCs
    don't surface directly.

    Tie-coherent bucketing: every DISTINCT score block lands wholly
    in the bucket of its starting rank, bucket = ⌊before·B/n⌋, from a
    per-distinct-score prefix window (bounded by the score domain —
    the midrank exemption; deterministic under ties, never a row
    sort). All rates are exact integer ratios."""
    if buckets < 2:
        raise ValueError(f"lift_table needs buckets >= 2, got {buckets}")
    src = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    pv = src.groupBy("_s").agg(
        F.count("*").alias("_c"), F.sum("_y").alias("_p")
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("_s").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = pv.withColumn(
        "_bef", F.coalesce(F.sum("_c").over(w), F.lit(0))
    )
    tot = pv.agg(F.sum("_c").alias("_n"), F.sum("_p").alias("_np"))
    j = cum.crossJoin(F.broadcast(tot))
    b = F.floor(
        F.col("_bef") * F.lit(buckets) / F.col("_n")
    ).cast("int")
    per = j.groupBy(b.alias("bucket")).agg(
        F.sum("_c").alias("_nb"),
        F.sum("_p").alias("_pb"),
        F.min("_n").alias("_n"),
        F.min("_np").alias("_np"),
    )
    rate = F.col("_pb").cast("double") / F.col("_nb")
    base = F.col("_np").cast("double") / F.col("_n")
    return per.select(
        "bucket",
        F.col("_nb").cast("long").alias("n_bucket"),
        F.col("_pb").cast("long").alias("n_pos"),
        F.round(rate, 6).alias("rate"),
        F.round(
            F.when(F.col("_np") > 0, rate / base), 6
        ).alias("lift"),
    )


def silhouette_centroid(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    centroids: "dict[int, list[float]]",
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster → (label,
    n, silhouette): s_i = (b_i − a_i)/max(a_i, b_i) with a_i = the
    point's distance to ITS centroid and b_i = distance to the
    nearest OTHER centroid — the O(n·k) silhouette every clustering
    eval uses at scale (the classic O(n²) pairwise form cannot ship;
    Rousseeuw 1987 §4 sanctions the centroid surrogate).

    Centroids ride as LITERALS (the kmeans_assign precedent — grid-
    quantized upstream, so both engines score against identical
    coordinates); distances are left-to-right codegen folds over the
    vector, identical order in any engine. Per-point s floor-
    quantizes to the 2^-20 grid before the per-cluster mean."""
    if len(centroids) < 2:
        raise ValueError("silhouette needs >= 2 centroids")
    v = F.col(vec_col)

    def dist_to(c: "list[float]"):
        arr = F.array(*[F.lit(float(x)) for x in c])
        return F.sqrt(
            F.aggregate(
                F.zip_with(v, arr, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    labels = sorted(centroids)
    src = df.select(
        F.col(label_col).alias("_l"),
        *[dist_to(centroids[l]).alias(f"_d{l}") for l in labels],
    )
    own = F.lit(None).cast("double")
    for l in labels:
        own = F.when(F.col("_l") == l, F.col(f"_d{l}")).otherwise(own)
    others = [
        F.when(F.col("_l") != l, F.col(f"_d{l}")) for l in labels
    ]
    nearest = F.least(*others) if len(others) > 1 else others[0]
    s = F.when(
        F.greatest(own, nearest) > 0,
        grid((nearest - own) / F.greatest(own, nearest)),
    ).otherwise(F.lit(0.0))
    per = src.filter(F.col("_l").isNotNull()).groupBy("_l").agg(
        F.count("*").alias("_n"), F.sum(s).alias("_ss")
    )
    return per.select(
        F.col("_l").alias("label"),
        F.col("_n").cast("long").alias("n"),
        F.round(
            F.col("_ss") / F.col("_n").cast("double"), 6
        ).alias("silhouette"),
    )


def brier_decomposition(
    df: DataFrame, score_col: str, label_col: str, bins: int = 10
) -> DataFrame:
    """Brier score with Murphy decomposition → single row (n, brier,
    reliability, resolution, uncertainty): BS = REL − RES + UNC over
    the binned forecasts — reliability (calibration error, lower
    better), resolution (discrimination, higher better), uncertainty
    (the base-rate floor no forecaster can beat). The single-number
    companion to calibration_bins' per-bin table: ECE says "how far
    off", the decomposition says how much skill remains after the
    calibration debt is paid.

    Same clamped bin rule as calibration_bins. Pass a GRID-quantized
    score: every per-row (s−y)² then lands on the 2^-40 grid and each
    term re-quantizes to 2^-20 before the corpus sum (exact BIGINT
    sums); bin means/base rates are exact ratios, and the three
    decomposition sums run over ≤``bins`` exact-ratio rows."""
    b = F.greatest(
        F.least(
            F.floor(F.col(score_col).cast("double") * bins).cast("int"),
            F.lit(bins - 1),
        ),
        F.lit(0),
    )
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    src = df.select(
        b.alias("_bin"), s.alias("_s"), y.alias("_y")
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    per = src.groupBy("_bin").agg(
        F.count("*").alias("_nb"),
        F.sum("_y").alias("_pb"),
        F.sum("_s").alias("_sb"),
        grid_sum(
            (F.col("_s") - F.col("_y")) * (F.col("_s") - F.col("_y"))
        ).alias("_sq"),
    )
    tot = per.agg(
        F.sum("_nb").alias("_n"), F.sum("_pb").alias("_np")
    )
    j = per.crossJoin(F.broadcast(tot))
    nb = F.col("_nb").cast("double")
    conf = F.col("_sb") / nb
    acc = F.col("_pb").cast("double") / nb
    base = F.col("_np").cast("double") / F.col("_n")
    agg = j.groupBy("_n", "_np").agg(
        F.sum("_sq").alias("_bs"),
        F.sum(nb * (conf - acc) * (conf - acc)).alias("_rel"),
        F.sum(nb * (acc - base) * (acc - base)).alias("_res"),
    )
    nn = F.col("_n").cast("double")
    base_t = F.col("_np").cast("double") / nn
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_bs") / nn, 6).alias("brier"),
        F.round(F.col("_rel") / nn, 6).alias("reliability"),
        F.round(F.col("_res") / nn, 6).alias("resolution"),
        F.round(base_t * (1.0 - base_t), 6).alias("uncertainty"),
    )


def token_f1(
    df: DataFrame, id_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Token-multiset F1 per pair → (id, n_x, n_y, overlap,
    precision, recall, f1): the SQuAD/reading-comprehension answer
    metric — overlap = Σ_token min(count_x, count_y) over the two
    token arrays, order-free where rouge_l is order-sensitive (the
    two bracket generation eval between exact match and semantic
    scoring).

    One explode per side + a per-(pair, token) full-outer count
    merge — work is Σ tokens, partitioned by pair id; all counts
    exact integers, all ratios exact."""
    xs = df.select(
        F.col(id_col).alias("_id"), F.explode(F.col(x_col)).alias("_t")
    ).groupBy("_id", "_t").agg(F.count("*").alias("_cx"))
    ys = df.select(
        F.col(id_col).alias("_id"), F.explode(F.col(y_col)).alias("_t")
    ).groupBy("_id", "_t").agg(F.count("*").alias("_cy"))
    merged = xs.join(ys, ["_id", "_t"], "full_outer").groupBy(
        "_id"
    ).agg(
        F.sum(F.coalesce("_cx", F.lit(0))).alias("_nx"),
        F.sum(F.coalesce("_cy", F.lit(0))).alias("_ny"),
        F.sum(
            F.least(
                F.coalesce("_cx", F.lit(0)), F.coalesce("_cy", F.lit(0))
            )
        ).alias("_ov"),
    )
    # pairs where one side is empty never reach the merge (explode
    # drops them): restore them with zero counts from the source ids
    base = df.select(
        F.col(id_col).alias("_id"),
        F.size(F.col(x_col)).alias("_sx"),
        F.size(F.col(y_col)).alias("_sy"),
    )
    out = base.join(merged.select("_id", "_ov"), "_id", "left")
    ov = F.coalesce("_ov", F.lit(0))
    p = F.when(F.col("_sx") > 0, ov.cast("double") / F.col("_sx"))
    r = F.when(F.col("_sy") > 0, ov.cast("double") / F.col("_sy"))
    f1 = F.when(
        (ov > 0) & p.isNotNull() & r.isNotNull(),
        2.0 * p * r / (p + r),
    ).otherwise(F.lit(0.0))
    return out.select(
        F.col("_id").alias(id_col),
        F.col("_sx").cast("long").alias("n_x"),
        F.col("_sy").cast("long").alias("n_y"),
        ov.cast("long").alias("overlap"),
        F.round(p, 6).alias("precision"),
        F.round(r, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def mcc(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Matthews correlation coefficient → single row (n, tp, fp, tn,
    fn, mcc): the balanced single-number classifier score — unlike
    accuracy/F1 it uses ALL four confusion cells symmetrically, so a
    majority-class predictor scores ~0 on a 1:1000-imbalanced stream
    instead of 0.999 accuracy. The scorecard companion to
    classifier_eval (which reports the asymmetric metrics).

    ONE conditional-aggregate pass; cells are exact integers and
    MCC = (tp·tn − fp·fn)/√((tp+fp)(tp+fn)(tn+fp)(tn+fn)) is the
    same IEEE expression of them on any engine (the marginal product
    is computed in double — exact through ~10^13 cells² and
    deterministic beyond). A zero marginal yields NULL (undefined),
    not a masked 0."""
    p = (F.col(prob_col).cast("double") >= threshold).cast("int")
    y = F.col(label_col).cast("int")
    agg = df.filter(
        F.col(prob_col).isNotNull() & y.isNotNull()
    ).agg(
        F.count(F.when((p == 1) & (y == 1), 1)).alias("_tp"),
        F.count(F.when((p == 1) & (y == 0), 1)).alias("_fp"),
        F.count(F.when((p == 0) & (y == 0), 1)).alias("_tn"),
        F.count(F.when((p == 0) & (y == 1), 1)).alias("_fn"),
    )
    tp = F.col("_tp").cast("double")
    fp = F.col("_fp").cast("double")
    tn = F.col("_tn").cast("double")
    fn = F.col("_fn").cast("double")
    den = F.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    m = F.when(den > 0, (tp * tn - fp * fn) / den)
    return agg.select(
        (F.col("_tp") + F.col("_fp") + F.col("_tn") + F.col("_fn"))
        .cast("long")
        .alias("n"),
        F.col("_tp").cast("long").alias("tp"),
        F.col("_fp").cast("long").alias("fp"),
        F.col("_tn").cast("long").alias("tn"),
        F.col("_fn").cast("long").alias("fn"),
        F.round(m, 6).alias("mcc"),
    )


def multiclass_prf(
    df: DataFrame,
    true_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class precision/recall/F1 for a multi-class prediction log
    → (label, n_true, n_pred, tp, precision, recall, f1): the
    class-level scorecard ``classifier_eval`` (binary) does not give.
    Macro scores are the plain AVG of the f1 column; micro-F1 equals
    accuracy in single-label classification — both one trivial
    aggregate away, so the per-class table is the primitive.

    Two conditional groupBy passes (by true label carrying tp, by
    predicted label) + one outer join over the BOUNDED label set; the
    prediction log itself shuffles only on the label key with map-side
    combine. A class never predicted gets precision NULL (undefined),
    not 0; F1 is NULL when both components are."""
    t = F.col(true_col).cast("string")
    p = F.col(pred_col).cast("string")
    src = df.select(t.alias("_t"), p.alias("_p")).filter(
        F.col("_t").isNotNull() & F.col("_p").isNotNull()
    )
    by_true = src.groupBy(F.col("_t").alias("label")).agg(
        F.count("*").alias("n_true"),
        F.count(F.when(F.col("_t") == F.col("_p"), 1)).alias("tp"),
    )
    by_pred = src.groupBy(F.col("_p").alias("label")).agg(
        F.count("*").alias("n_pred")
    )
    j = by_true.join(by_pred, "label", "full_outer").select(
        "label",
        F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
        F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
        F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp") / F.col("n_pred").cast("double")
    )
    rec = F.when(
        F.col("n_true") > 0, F.col("tp") / F.col("n_true").cast("double")
    )
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        F.lit(2.0) * prec * rec / (prec + rec),
    ).otherwise(
        F.when(prec.isNotNull() & rec.isNotNull(), F.lit(0.0))
    )
    return j.select(
        "label", "n_true", "n_pred", "tp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    g: int = 10,
) -> DataFrame:
    """Hosmer–Lemeshow calibration test → single row (n, g_used,
    chi2, dof, p_value): equal-count probability deciles, observed vs
    expected positives per decile, chi2 ~ X²(g−2). The inferential
    companion to ``calibration_bins`` (fixed-width bins, no test).

    Deciles are assigned at DISTINCT-SCORE granularity: per-distinct-
    prob counts + one prefix window over the (bounded-cardinality)
    score table, each distinct score block landing wholly in decile
    floor(g·cum_before/n) — deterministic on every engine, no global
    row sort, no tie ambiguity. With fewer distinct scores than g the
    realized group count g_used drops and dof follows it."""
    q = grid(F.col(prob_col).cast("double"))
    src = df.select(
        q.alias("_s"), F.col(label_col).cast("int").alias("_y")
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    per = src.groupBy("_s").agg(
        F.count("*").alias("_c"), F.sum("_y").alias("_o")
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    tot = src.agg(
        F.count("*").alias("_n")
    )
    binned = (
        per.withColumn("_bef", F.coalesce(F.sum("_c").over(w), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "_g",
            F.floor(F.lit(g) * F.col("_bef") / F.col("_n")).cast("int"),
        )
    )
    cells = binned.groupBy("_g").agg(
        F.sum("_c").alias("_ng"),
        F.sum("_o").alias("_og"),
        F.sum(F.col("_s") * F.col("_c")).alias("_eg"),
    )
    chi = cells.select(
        F.col("_ng"),
        F.col("_og").cast("double").alias("_ogd"),
        F.col("_eg"),
        (F.col("_ng") - F.col("_eg")).alias("_e0"),
    ).agg(
        F.sum("_ng").cast("long").alias("n"),
        F.count("*").cast("int").alias("g_used"),
        grid_sum(
            (F.col("_ogd") - F.col("_eg")) * (F.col("_ogd") - F.col("_eg"))
            / F.when(
                (F.col("_eg") > 0) & (F.col("_e0") > 0),
                F.col("_eg") * F.col("_e0") / F.col("_ng"),
            )
        ).alias("_chi2"),
    )
    from from_superset_to_clickhouse_spark.operators.stats import (
        chi2_p_value,
    )

    dof = (F.col("g_used") - F.lit(2)).cast("double")
    return chi.select(
        "n",
        "g_used",
        F.round("_chi2", 6).alias("chi2"),
        dof.cast("int").alias("dof"),
        F.round(
            F.when(dof > 0, chi2_p_value(F.col("_chi2"), dof)), 6
        ).alias("p_value"),
    )


def weighted_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Quadratic-weighted Cohen's kappa for two ORDINAL raters →
    single row (n, k, kappa_w): disagreement weight w_ij =
    ((i−j)/(k−1))², kappa_w = 1 − Σw·O / Σw·E with E the
    independence expectation from the marginals. The standard
    agreement score when near-misses should count (quality-rating
    scales, relevance grades) — plain ``cohens_kappa`` treats a
    1-step and a 4-step disagreement identically.

    One groupBy((a, b)) contingency pass (k² cells, k bounded), the
    marginal cross join is k×k on aggregates. Category index span is
    taken from the data (min..max over both raters)."""
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    src = df.select(a.alias("_a"), b.alias("_b")).filter(
        F.col("_a").isNotNull() & F.col("_b").isNotNull()
    )
    obs = src.groupBy("_a", "_b").agg(F.count("*").alias("_o"))
    span = src.agg(
        F.least(F.min("_a"), F.min("_b")).alias("_lo"),
        F.greatest(F.max("_a"), F.max("_b")).alias("_hi"),
        F.count("*").alias("_n"),
    )
    ra = src.groupBy("_a").agg(F.count("*").alias("_ca"))
    rb = src.groupBy("_b").agg(F.count("*").alias("_cb"))
    wd = lambda i, j, k: (  # noqa: E731
        (i - j).cast("double") * (i - j)
        / F.when(k > 1, (k - 1) * (k - 1)).otherwise(F.lit(1.0))
    )
    o_sum = (
        obs.crossJoin(F.broadcast(span))
        .select(
            (
                wd(
                    F.col("_a"),
                    F.col("_b"),
                    (F.col("_hi") - F.col("_lo") + 1).cast("double"),
                )
                * F.col("_o")
            ).alias("_wo"),
            "_n",
        )
        .agg(F.sum("_wo").alias("_swo"), F.first("_n").alias("_n"))
    )
    e_sum = (
        ra.crossJoin(rb)
        .crossJoin(F.broadcast(span))
        .select(
            (
                wd(
                    F.col("_a"),
                    F.col("_b"),
                    (F.col("_hi") - F.col("_lo") + 1).cast("double"),
                )
                * F.col("_ca").cast("double")
                * F.col("_cb")
            ).alias("_we")
        )
        .agg(F.sum("_we").alias("_swe"))
    )
    j = o_sum.crossJoin(e_sum).crossJoin(
        F.broadcast(span.select((F.col("_hi") - F.col("_lo") + 1).alias("_k")))
    )
    kappa = F.when(
        F.col("_swe") > 0,
        F.lit(1.0)
        - F.col("_swo") / (F.col("_swe") / F.col("_n").cast("double")),
    )
    return j.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_k").cast("int").alias("k"),
        F.round(kappa, 6).alias("kappa_w"),
    )


def krippendorff_alpha(
    df: DataFrame,
    unit_col: str,
    rater_col: str,
    label_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal) → single row (n_ratings,
    n_units, d_o, d_e, alpha): the inter-annotator agreement score
    that handles MISSING ratings and any number of raters — the
    labeling-pipeline QA metric where Fleiss' kappa demands a
    constant rater count per unit.

    Computational form (coincidence-matrix identity): with o_uc the
    count of label c in unit u and m_u ≥ 2 the unit's rating count,
    D_o = (1/n)·Σ_u Σ_c o_uc(m_u − o_uc)/(m_u − 1) and
    D_e = Σ_c n_c(n − n_c)/(n(n−1)). Two bounded aggregates: one
    groupBy((unit, label)) + per-unit reduce, one label-marginal
    pass; units rated once drop (no pairable information). Exact
    integer cells; division order is fixed so engines agree."""
    src = df.select(
        F.col(unit_col).alias("_u"),
        F.col(rater_col).alias("_r"),
        F.col(label_col).cast("string").alias("_c"),
    ).filter(F.col("_c").isNotNull())
    per_uc = src.groupBy("_u", "_c").agg(F.count("*").alias("_o"))
    per_u = per_uc.groupBy("_u").agg(F.sum("_o").alias("_m"))
    pairable = per_uc.join(per_u, "_u").filter(F.col("_m") >= 2)
    do_num = pairable.agg(
        F.sum(
            F.col("_o").cast("double")
            * (F.col("_m") - F.col("_o"))
            / (F.col("_m") - F.lit(1)).cast("double")
        ).alias("_don"),
        F.count_distinct(F.col("_u")).alias("_nu"),
    )
    marg = (
        pairable.groupBy("_c")
        .agg(F.sum("_o").alias("_nc"))
    )
    tot = marg.agg(F.sum("_nc").alias("_n"))
    de = (
        marg.crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("_nc").cast("double")
                * (F.col("_n") - F.col("_nc"))
            ).alias("_t"),
            "_n",
        )
        .agg(
            F.sum("_t").alias("_den"),
            F.first("_n").alias("_n"),
        )
    )
    j = do_num.crossJoin(de)
    d_o = F.col("_don") / F.col("_n").cast("double")
    d_e = F.col("_den") / (
        F.col("_n").cast("double") * (F.col("_n") - F.lit(1))
    )
    alpha = F.when(d_e > 0, F.lit(1.0) - d_o / d_e)
    return j.select(
        F.col("_n").cast("long").alias("n_ratings"),
        F.col("_nu").cast("long").alias("n_units"),
        F.round(d_o, 6).alias("d_o"),
        F.round(d_e, 6).alias("d_e"),
        F.round(alpha, 6).alias("alpha"),
    )


def dprime(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Signal-detection d' and criterion c → single row (n_pos,
    n_neg, hit_rate, fa_rate, d_prime, criterion): d' = Φ⁻¹(H) −
    Φ⁻¹(FA) separates sensitivity from response bias, the
    psychophysics-standard reading of a binary classifier at one
    operating point. Extreme rates (0 or 1, where the probit
    diverges) get the standard 1/(2N) correction, documented in the
    output by the corrected rates themselves.

    One conditional-aggregate pass for the four cells; the probit is
    Acklam's rational approximation (see ``probit_approx``) so the
    whole expression replays verbatim in SQL."""
    from from_superset_to_clickhouse_spark.operators.stats import (
        probit_approx,
    )

    p = (F.col(score_col).cast("double") >= threshold).cast("int")
    y = F.col(label_col).cast("int")
    agg = df.filter(y.isNotNull()).agg(
        F.count(F.when(y == 1, 1)).alias("_np"),
        F.count(F.when((y == 1) & (p == 1), 1)).alias("_tp"),
        F.count(F.when(y == 0, 1)).alias("_nn"),
        F.count(F.when((y == 0) & (p == 1), 1)).alias("_fp"),
    )

    def rate(hits, n):
        raw = hits.cast("double") / n
        # n = 0 (no rows in the class) must surface NULL, not the IEEE
        # Infinity Spark's double division produces (DuckDB nulls it)
        return F.when(
            n > 0,
            F.when(hits == 0, F.lit(0.5) / n)
            .when(hits == n, F.lit(1.0) - F.lit(0.5) / n)
            .otherwise(raw),
        )

    hr = rate(F.col("_tp"), F.col("_np"))
    fa = rate(F.col("_fp"), F.col("_nn"))
    zh = probit_approx(hr)
    zf = probit_approx(fa)
    return agg.select(
        F.col("_np").cast("long").alias("n_pos"),
        F.col("_nn").cast("long").alias("n_neg"),
        F.round(hr, 6).alias("hit_rate"),
        F.round(fa, 6).alias("fa_rate"),
        F.round(zh - zf, 6).alias("d_prime"),
        F.round(-(zh + zf) / F.lit(2.0), 6).alias("criterion"),
    )


# ---------------------------------------------------------------------------
# Round-13 additions.


def mcfadden_r2(
    df: DataFrame,
    label_col: str,
    feature_cols: "list[str]",
    iters: int = 8,
    lr: float = 2.0,
) -> DataFrame:
    """McFadden pseudo-R² for the :func:`logistic_gd` fit → single row
    (n, iters, log_loss, log_loss_null, mcfadden_r2): 1 − LL/LL₀
    where LL₀ is the intercept-only (base-rate) log-likelihood — the
    "how much better than always predicting the prevalence" score
    that makes log-loss comparable across datasets (0.2–0.4 is an
    excellent fit by McFadden's own calibration).

    Runs the identical grid-walk gradient ascent as ``logistic_gd``
    (same determinism contract), then one extra aggregate for the
    null model: p̄ grid-floored, LL₀ = −(p̄·ln(p̄+ε) +
    (1−p̄)·ln(1−p̄+ε)) with the same ε = 1e-12 the fit uses, so the
    ratio is engine-exact."""
    fit = logistic_gd(df, label_col, feature_cols, iters=iters, lr=lr)
    src = df.select(F.col(label_col).cast("double").alias("_y"))
    for c in feature_cols:
        src = src.filter(F.col(c).isNotNull())
    src = src.filter(F.col("_y").isNotNull())
    pb = src.agg(grid(F.avg("_y")).alias("_p"))
    eps = F.lit(1e-12)
    p = F.col("_p")
    ll0 = -(
        p * F.log(p + eps) + (F.lit(1.0) - p) * F.log(F.lit(1.0) - p + eps)
    )
    null = pb.select(F.round(ll0, 6).alias("log_loss_null"))
    j = fit.select("n", "iters", "log_loss").crossJoin(F.broadcast(null))
    r2 = F.when(
        F.col("log_loss_null") > 0,
        F.lit(1.0) - F.col("log_loss") / F.col("log_loss_null"),
    )
    return j.select(
        "n",
        "iters",
        "log_loss",
        "log_loss_null",
        F.round(r2, 6).alias("mcfadden_r2"),
    )


def feature_gain(
    df: DataFrame, label_col: str, feature_cols: "list[str]"
) -> DataFrame:
    """Gini-impurity / information-gain feature ranking → one row per
    feature (feature, n, gini_parent, gini_gain, info_gain): for each
    CATEGORICAL feature, how much splitting on it reduces the binary
    label's Gini impurity and Shannon entropy — the fast univariate
    screen for quality-classifier features before fitting
    ``logistic_gd`` (the split criterion decision trees use, computed
    corpus-wide).

    One pass: features unpivot via ``stack`` (no per-feature scan),
    then (feature, level) × label cell counts — dashboard-scale after
    the aggregate. Impurities are exact ratios of integer counts;
    per-level terms floor-quantize onto the 2^-20 grid before the
    weighted sums so engines agree."""
    k = len(feature_cols)
    pairs = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in feature_cols
    )
    src = df.select(
        F.col(label_col).cast("int").alias("_y"),
        F.expr(f"stack({k}, {pairs}) AS (_f, _v)"),
    ).filter(F.col("_y").isNotNull() & F.col("_v").isNotNull())
    cells = src.groupBy("_f", "_v").agg(
        F.count("*").alias("_c"), F.sum("_y").alias("_p")
    )
    per_f = cells.groupBy("_f").agg(
        F.sum("_c").alias("_n"),
        F.sum("_p").alias("_np"),
        grid_sum(
            F.col("_c").cast("double")
            * _gini_term(F.col("_p").cast("double") / F.col("_c"))
        ).alias("_wg"),
        grid_sum(
            F.col("_c").cast("double")
            * _entropy_term(F.col("_p").cast("double") / F.col("_c"))
        ).alias("_we"),
    )
    pr = F.col("_np").cast("double") / F.col("_n")
    gp = _gini_term(pr)
    ep = _entropy_term(pr)
    return per_f.select(
        F.col("_f").alias("feature"),
        F.col("_n").cast("long").alias("n"),
        F.round(gp, 6).alias("gini_parent"),
        F.round(gp - F.col("_wg") / F.col("_n").cast("double"), 6).alias(
            "gini_gain"
        ),
        F.round(ep - F.col("_we") / F.col("_n").cast("double"), 6).alias(
            "info_gain"
        ),
    ).orderBy("feature")


def _gini_term(p):
    """Binary Gini impurity 2p(1−p) as a Catalyst expression."""
    return F.lit(2.0) * p * (F.lit(1.0) - p)


def _entropy_term(p):
    """Binary Shannon entropy −p·ln p − (1−p)·ln(1−p), with the 0·ln 0
    = 0 convention made explicit (ANSI-safe: no log of zero)."""
    return -(
        F.when(p > 0, p * F.log(p)).otherwise(F.lit(0.0))
        + F.when(p < 1, (F.lit(1.0) - p) * F.log(F.lit(1.0) - p)).otherwise(
            F.lit(0.0)
        )
    )

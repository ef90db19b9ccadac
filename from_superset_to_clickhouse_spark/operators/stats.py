"""Experiment-analysis statistics (the reference ingests Superset's
``ab_user`` table — this is the analysis its consumers run on it).

Everything is built from decomposable aggregates (n, mean, sample
variance per arm) so a 100 TB experiment log reduces in one
partial/final aggregate pass; the test statistic itself is O(#arms)
scalar arithmetic. The normal CDF uses the Abramowitz–Stegun 7.1.26
erf polynomial (|error| < 1.5e-7) written out as explicit Catalyst
expressions — deterministic and replayable verbatim in any SQL engine,
unlike a native ``erf`` whose libm implementation varies.

Every statistic keeps the exact-arithmetic contract of
:mod:`._exact` — the 2^-20 grid, exact sums, 0.5-grid midranks and
NULL for an undefined statistic — through its helpers, so DuckDB
replays each result bit for bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._exact import (
    GRID,
    LOG_GRID,
    before,
    grid,
    grid_sum,
    grid_sum128,
    log_grid,
    pmf_two_sided,
    row_ranks,
    value_ranks,
)

# Abramowitz & Stegun 7.1.26 coefficients.
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def erf_approx(x: Column) -> Column:
    """erf(x) for x >= 0 via the A&S 7.1.26 polynomial — identical
    operation order on every engine, so cross-engine results agree to
    the last few ulps (final outputs are rounded anyway)."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        F.lit(_AS_A[0]) * t
        + F.lit(_AS_A[1]) * t * t
        + F.lit(_AS_A[2]) * t * t * t
        + F.lit(_AS_A[3]) * t * t * t * t
        + F.lit(_AS_A[4]) * t * t * t * t * t
    )
    return F.lit(1.0) - poly * F.exp(-(x * x))


def normal_sf(x: Column) -> Column:
    """Upper-tail P(Z > x) for x >= 0: (1 - erf(x/sqrt(2))) / 2."""
    return (F.lit(1.0) - erf_approx(x / F.lit(2.0**0.5))) / F.lit(2.0)


def ab_ztest(
    df: DataFrame,
    experiment_col: str,
    variant_col: str,
    metric_col: str,
    control: str = "A",
    treatment: str = "B",
) -> DataFrame:
    """Per-experiment Welch z-test between two arms → one row per
    experiment: per-arm n/mean, the mean lift, the Welch standard
    error sqrt(s²_A/n_A + s²_B/n_B), the z statistic and the two-sided
    normal-approximation p-value. One aggregate pass: each arm's
    moments ride as conditional aggregates, so the fact table shuffles
    once on the experiment key with map-side combine. Arms with n < 2
    (no variance) surface NULL z/p rather than a spurious zero."""
    v = F.col(variant_col)
    m = F.col(metric_col).cast("double")

    def arm(tag: str, fn, alias: str) -> Column:
        return fn(F.when(v == tag, m)).alias(alias)

    agg = df.groupBy(experiment_col).agg(
        arm(control, F.count, "n_a"),
        arm(control, F.avg, "mean_a"),
        arm(control, F.var_samp, "var_a"),
        arm(treatment, F.count, "n_b"),
        arm(treatment, F.avg, "mean_b"),
        arm(treatment, F.var_samp, "var_b"),
    )
    se = F.sqrt(
        F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
    )
    z = (F.col("mean_b") - F.col("mean_a")) / se
    return agg.select(
        experiment_col,
        "n_a",
        F.round("mean_a", 6).alias("mean_a"),
        "n_b",
        F.round("mean_b", 6).alias("mean_b"),
        F.round(F.col("mean_b") - F.col("mean_a"), 6).alias("lift"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def chi2_p_value(chi2: Column, dof: Column) -> Column:
    """Upper-tail chi-square p-value via the Wilson–Hilferty cube-root
    normal approximation: ((x/k)^(1/3) - (1 - 2/(9k))) / sqrt(2/(9k))
    ~ N(0, 1). Explicit Catalyst arithmetic + the same A&S erf
    polynomial as the z-test — replayable verbatim in any SQL engine
    (a native pchisq/libm gamma would diverge in the last ulps)."""
    k = dof.cast("double")
    z = (
        F.pow(chi2 / k, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * k))
    # the approximation is one-sided; negative z means "left of center"
    return F.when(z >= 0, normal_sf(z)).otherwise(
        F.lit(1.0) - normal_sf(-z)
    )


def chi2_independence(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns → one row (n, n_rows_x, n_cols_y, dof, chi2, p_value).

    One partial-aggregated cell count over the fact (the only pass that
    sees data volume); marginals and expecteds are window sums over the
    CELL table, whose size is |x-domain| × |y-domain| — dashboard-scale,
    not data-scale. Callers must pre-filter NULL categories: a NULL
    level would be counted in the chi2 sum but excluded from the
    count_distinct level counts (dof), silently skewing the test —
    decide explicitly whether NULL is a level (coalesce to a sentinel)
    or noise (filter)."""
    from pyspark.sql.window import Window

    x, y = F.col(x_col), F.col(y_col)
    cells = df.groupBy(
        x.alias("_x"), y.alias("_y")
    ).agg(F.count(F.lit(1)).alias("_o"))
    w_all = Window.partitionBy()
    w_x = Window.partitionBy("_x")
    w_y = Window.partitionBy("_y")
    scored = cells.select(
        "_x",
        "_y",
        "_o",
        F.sum("_o").over(w_all).alias("_n"),
        F.sum("_o").over(w_x).alias("_rx"),
        F.sum("_o").over(w_y).alias("_cy"),
    ).withColumn(
        "_e",
        F.col("_rx").cast("double") * F.col("_cy") / F.col("_n"),
    )
    agg = scored.agg(
        F.max("_n").alias("n"),
        F.count_distinct("_x").alias("n_rows_x"),
        F.count_distinct("_y").alias("n_cols_y"),
        F.sum(
            (F.col("_o") - F.col("_e")) * (F.col("_o") - F.col("_e"))
            / F.col("_e")
        ).alias("_chi2"),
    )
    dof = (F.col("n_rows_x") - 1) * (F.col("n_cols_y") - 1)
    return agg.select(
        "n",
        "n_rows_x",
        "n_cols_y",
        dof.alias("dof"),
        F.round("_chi2", 6).alias("chi2"),
        F.round(chi2_p_value(F.col("_chi2"), dof), 6).alias("p_value"),
    )


def mutual_information(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Mutual information I(X; Y) in nats between two categorical
    columns → one row (n, mi_nats).

    Same cell/marginal machinery as the chi-square test: the fact
    reduces once; entropy arithmetic runs over the tiny cell table.
    The feature-selection primitive for choosing which metadata column
    actually predicts a quality label."""
    from pyspark.sql.window import Window

    cells = df.groupBy(
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    ).agg(F.count(F.lit(1)).alias("_o"))
    w_all = Window.partitionBy()
    w_x = Window.partitionBy("_x")
    w_y = Window.partitionBy("_y")
    t = cells.select(
        "_o",
        F.sum("_o").over(w_all).alias("_n"),
        F.sum("_o").over(w_x).alias("_rx"),
        F.sum("_o").over(w_y).alias("_cy"),
    )
    p = F.col("_o").cast("double") / F.col("_n")
    px = F.col("_rx").cast("double") / F.col("_n")
    py = F.col("_cy").cast("double") / F.col("_n")
    agg = t.agg(
        F.max("_n").alias("n"),
        F.sum(p * F.log(p / (px * py))).alias("_mi"),
    )
    return agg.select(
        "n",
        F.round("_mi", 6).alias("mi_nats"),
    )


def linear_regression(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Grouped simple linear regression (ClickHouse
    ``simpleLinearRegression`` / SQL ``REGR_SLOPE``/``REGR_INTERCEPT``
    analog): per group, fit y = slope*x + intercept by least squares
    and report r² → (group…, n, slope, intercept, r2).

    One conditional-aggregate pass: rows where either side is NULL are
    excluded pairwise (standard REGR_* semantics), the five sufficient
    statistics (n, Σx, Σy, Σxx, Σxy, Σyy) ride map-side combine, and
    the closed forms divide at the end — no second pass, no window.
    Degenerate groups surface NULLs instead of dividing by zero:
    slope/intercept NULL when var(x) = 0 (vertical data), r² NULL when
    either variance is 0. Rounded to 6 decimals so the engine-replayed
    ANSI twin hash-matches."""
    both = F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    x = F.when(both, F.col(x_col).cast("double"))
    y = F.when(both, F.col(y_col).cast("double"))
    aggd = df.groupBy(*[F.col(g) for g in (group_cols or [])]).agg(
        F.count(x).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(x * y).alias("_sxy"),
        F.sum(y * y).alias("_syy"),
    )
    n = F.col("n").cast("double")
    vx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    vy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    cov = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    slope = F.when(vx > 0, cov / vx)
    intercept = F.when(vx > 0, (F.col("_sy") - cov / vx * F.col("_sx")) / n)
    r2 = F.when((vx > 0) & (vy > 0), cov * cov / (vx * vy))
    return aggd.select(
        *(group_cols or []),
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def ks_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    pairs: "list[tuple[str, str]]",
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test per comparison pair:
    D = sup_x |ECDF_a(x) − ECDF_b(x)| plus the asymptotic two-sided
    p-value — the standard distribution-drift gate between corpus
    slices (old vs new crawl, arm A vs arm B, source X vs source Y).

    Exact D with exact tie handling, with NO global sort: rows are
    first aggregated to DISTINCT values per (pair, value) — the ECDF
    only moves at distinct sample values, and evaluating after all
    rows of an equal value is precisely the tied-sample convention —
    then ONE window cumsum partitioned by pair walks each pair's
    (already shrunken) value axis. Shuffle width = Σ|pair members|;
    each pair sorts independently inside its partition (this is the
    scale shape: P drift checks = P bounded sorted partitions, never
    one global sort).

    p-value: Kolmogorov asymptotic series Q(λ) = 2 Σ (−1)^{j−1}
    exp(−2 j² λ²) with the Stephens small-sample correction
    λ = D(√n_e + 0.12 + 0.11/√n_e), n_e = n_a·n_b/(n_a+n_b),
    truncated at j = 100 — explicit arithmetic with one deterministic
    summation order, replayable verbatim in any SQL engine (same
    contract as ``erf_approx``). Rounded to 6 decimals.
    """
    sides = []
    for i, (a, b) in enumerate(pairs):
        pair_name = f"{a}|{b}"
        sides.append((i, pair_name, a, "a"))
        sides.append((i, pair_name, b, "b"))
    pair_df = df.sparkSession.createDataFrame(
        [(p, m, s) for (_, p, m, s) in sides], "pair string, member string, side string"
    )
    tagged = df.join(
        F.broadcast(pair_df),
        df[group_col] == pair_df["member"],
        "inner",
    )
    by_val = tagged.groupBy("pair", F.col(value_col).alias("_v")).agg(
        F.count(F.when(F.col("side") == "a", 1)).alias("_ca"),
        F.count(F.when(F.col("side") == "b", 1)).alias("_cb"),
    )
    w = (
        Window.partitionBy("pair")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("pair")
    cum = by_val.select(
        "pair",
        F.sum("_ca").over(w).alias("_cuma"),
        F.sum("_cb").over(w).alias("_cumb"),
        F.sum("_ca").over(wp).alias("_na"),
        F.sum("_cb").over(wp).alias("_nb"),
    )
    gaps = cum.groupBy("pair").agg(
        F.max(
            F.abs(
                F.col("_cuma") / F.col("_na")
                - F.col("_cumb") / F.col("_nb")
            )
        ).alias("_d"),
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
    )
    ne = (
        F.col("n_a").cast("double")
        * F.col("n_b")
        / (F.col("n_a") + F.col("n_b"))
    )
    lam = F.col("_d") * (
        F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)
    )
    # Kolmogorov survival Q(lam): the alternating series converges for
    # large lam but oscillates to garbage as lam -> 0 (Q(0) must be 1);
    # below scipy's classic switch point 1.18 use the dual
    # theta-function form 1 - sqrt(2*pi)/lam * sum exp(-(2j-1)^2 pi^2 /
    # (8 lam^2)) whose terms vanish as lam -> 0. Both branches are
    # explicit arithmetic replayed verbatim in the SQL twin.
    import math

    big = F.lit(2.0) * F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.pow(F.lit(-1.0), (j - 1).cast("double"))
        * F.exp(F.lit(-2.0) * lam * lam * (j * j).cast("double")),
    )
    pi2 = F.lit(math.pi * math.pi)
    small = F.lit(1.0) - F.lit(math.sqrt(2.0 * math.pi)) / lam * F.aggregate(
        F.sequence(F.lit(1), F.lit(20)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.exp(
            -((F.lit(2.0) * j - 1) * (F.lit(2.0) * j - 1)).cast("double")
            * pi2
            / (F.lit(8.0) * lam * lam)
        ),
    )
    q = (
        F.when(lam <= F.lit(1e-9), F.lit(1.0))
        .when(lam < F.lit(1.18), small)
        .otherwise(big)
    )
    p = F.least(F.greatest(q, F.lit(0.0)), F.lit(1.0))
    return gaps.select(
        "pair",
        "n_a",
        "n_b",
        F.round("_d", 6).alias("ks_d"),
        F.round(p, 6).alias("p_value"),
    )


def psi_drift(
    df: DataFrame,
    value_col: str,
    side_expr: Column,
    n_bins: int,
    lo: float,
    hi: float,
    group_cols: "list[str] | None" = None,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    slice — the standard binned drift monitor between training-data
    snapshots: PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref).
    Rule-of-thumb thresholds: < 0.1 stable, 0.1–0.25 drifting, > 0.25
    action. ``side_expr`` must evaluate to 'ref' or 'cur' per row
    (rows mapping to anything else are ignored).

    Fixed-width bins over [lo, hi) (bounds are explicit arguments —
    deterministic, no extra data pass; out-of-range values clamp into
    the edge bins, the conventional treatment). Proportions are
    floored at ``eps`` so empty bins contribute a finite penalty
    instead of ±inf.

    Shape: ONE aggregation pass to (group, bin) with conditional
    ref/cur counts riding map-side combine, then a per-group fold over
    ≤ n_bins rows — shuffle width is groups × bins regardless of input
    size, the right reduction for a 100 TB drift check. All codegen;
    no window, no Python."""
    g = list(group_cols or [])
    w = (hi - lo) / n_bins
    v = F.col(value_col).cast("double")
    b = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(w)), F.lit(0)),
        F.lit(n_bins - 1),
    )
    side = side_expr.alias("_side")
    binned = (
        df.select(*g, b.alias("_b"), side)
        .filter(F.col("_side").isin("ref", "cur"))
        .groupBy(*g, "_b")
        .agg(
            F.count(F.when(F.col("_side") == "ref", 1)).alias("_nr"),
            F.count(F.when(F.col("_side") == "cur", 1)).alias("_nc"),
        )
    )
    wp = Window.partitionBy(*g) if g else Window.partitionBy(F.lit(1))
    tot = binned.select(
        *g,
        "_nr",
        "_nc",
        F.sum("_nr").over(wp).alias("_tr"),
        F.sum("_nc").over(wp).alias("_tc"),
    )
    pr = F.greatest(F.col("_nr") / F.col("_tr"), F.lit(eps))
    pc = F.greatest(F.col("_nc") / F.col("_tc"), F.lit(eps))
    term = (pc - pr) * F.log(pc / pr)
    return (
        tot.groupBy(*g)
        .agg(
            F.round(F.sum(term), 6).alias("psi"),
            F.max("_tr").cast("long").alias("n_ref"),
            F.max("_tc").cast("long").alias("n_cur"),
        )
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: "list[str]",
    threshold: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier scoring via the median absolute
    deviation: rz = (x − median) / (1.4826·MAD), flagged when
    |rz| > threshold. Unlike z-scores, one extreme value cannot drag
    the center or inflate the spread (50% breakdown point); 1.4826
    scales MAD to σ under normality.

    Two exact-median aggregation passes (Spark's ``median`` — the
    interpolated 0.5-percentile, same rule DuckDB's ``median`` uses),
    each a per-group shuffle joined back — no windows, no global
    sort. Degenerate groups (MAD = 0, e.g. > 50% identical values)
    yield NULL rz and are never flagged rather than dividing by
    zero."""
    med = df.groupBy(*group_cols).agg(
        F.median(value_col).alias("_med")
    )
    with_med = df.join(med, group_cols)
    mad = (
        with_med.groupBy(*group_cols)
        .agg(
            F.median(F.abs(F.col(value_col) - F.col("_med"))).alias("_mad")
        )
    )
    scored = with_med.join(mad, group_cols).select(
        *group_cols,
        F.col(value_col),
        F.round("_med", 6).alias("center"),
        F.round("_mad", 6).alias("mad"),
        F.when(
            F.col("_mad") > 0,
            F.round(
                (F.col(value_col) - F.col("_med"))
                / (F.lit(1.4826) * F.col("_mad")),
                6,
            ),
        ).alias("rz"),
    )
    return scored.withColumn(
        "is_outlier",
        F.coalesce(F.abs(F.col("rz")) > threshold, F.lit(False)),
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    smoothing: float = 20.0,
) -> DataFrame:
    """Leave-one-out target encoding with additive smoothing — the
    standard high-cardinality categorical feature for gradient-boosted
    and linear models: each row's category is replaced by the mean
    target of the OTHER rows in that category, shrunk toward the
    global mean by ``smoothing`` pseudo-observations,

        enc_i = (sum_c − y_i + s·mu) / (n_c − 1 + s).

    Excluding the row's own target is what prevents the leakage that
    makes naive mean-encoding overfit; the smoothing term keeps rare
    categories near the prior. One category aggregation + one scalar
    global mean, both joined back — two shuffles total, no windows, no
    per-row recomputation (the LOO subtraction is arithmetic on the
    joined aggregates). Singleton categories (n_c = 1) fall back to
    the smoothed prior: (s·mu)/s = mu."""
    agg = df.groupBy(cat_col).agg(
        F.sum(target_col).alias("_sum_c"),
        F.count(F.lit(1)).alias("_n_c"),
    )
    mu = df.agg(F.avg(target_col).alias("_mu"))
    joined = df.join(agg, [cat_col]).crossJoin(F.broadcast(mu))
    return joined.select(
        cat_col,
        F.col(target_col),
        F.round(
            (
                F.col("_sum_c")
                - F.col(target_col)
                + F.lit(smoothing) * F.col("_mu")
            )
            / (F.col("_n_c") - 1 + F.lit(smoothing)),
            6,
        ).alias("encoded"),
    )


def feature_hash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al. 2009) → sparse
    (id, bucket, weight) rows: each token hashes to one of
    ``n_buckets`` via md5 (engine-replayable, unlike murmur), with the
    standard ±1 sign hash so collisions cancel in expectation rather
    than accumulate. Fixed dimensionality with NO vocabulary state —
    the property that makes it the streaming-safe featurizer.

    One explode + one (id, bucket) aggregation; output is bounded by
    nnz ≤ tokens, never buckets × docs."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+"),
        lambda x: x != F.lit(""),
    )
    flat = df.select(
        F.col(id_col).alias("_id"), F.explode(toks).alias("w")
    )
    h = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("fh"), F.col("w"))), 1, 8),
        16,
        10,
    ).cast("long")
    sign_bit = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("fs"), F.col("w"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (
        flat.select(
            "_id",
            (h % n_buckets).cast("int").alias("bucket"),
            F.when(sign_bit % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias(
                "_sgn"
            ),
        )
        .groupBy("_id", "bucket")
        .agg(F.sum("_sgn").alias("weight"))
        .filter(F.col("weight") != 0)
        .withColumnRenamed("_id", id_col)
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: "list[str]",
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Percentile winsorization per group: values outside the
    [lower, upper] interpolated percentiles are clipped to the
    boundary — the standard heavy-tail taming step before moment-
    based statistics (a mean over winsorized data has bounded
    influence, unlike over raw data). One exact-percentile
    aggregation joined back, one codegen clip: two shuffles, no
    windows, no sort of the fact table. Spark's ``percentile`` and
    DuckDB's ``quantile_cont`` share the interpolated type-7
    definition, so the oracle replays boundaries exactly."""
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(value_col, F.lit(lower)).alias("_lo"),
        F.percentile(value_col, F.lit(upper)).alias("_hi"),
    )
    return (
        df.join(bounds, group_cols)
        .select(
            *group_cols,
            F.col(value_col),
            F.round("_lo", 6).alias("p_lo"),
            F.round("_hi", 6).alias("p_hi"),
            F.round(
                F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi")),
                6,
            ).alias("clipped"),
        )
    )


def gini_coefficient(
    df: DataFrame, value_col: str, group_cols: "list[str]"
) -> DataFrame:
    """Gini inequality coefficient per group → (group…, n, total,
    gini) via the rank formula G = (2·Σ rank·x)/(n·Σx) − (n+1)/n over
    values sorted ascending (ties broken by value order are harmless:
    equal values commute in Σ rank·x… only as long as ranks within a
    tie are consecutive — any permutation of equal x contributes the
    same sum). The data-balance audit metric: how concentrated are
    tokens/bytes/revenue across sources.

    One keyed window rank + one aggregation — rank is per group, so
    the sort is within hash partitions, no global sort. Requires
    non-negative values (documented; negative support would need the
    mean-absolute-difference form at twice the cost)."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col))
    ranked = df.select(
        *group_cols,
        F.col(value_col).cast("double").alias("_x"),
        F.row_number().over(w).alias("_r"),
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            # 2 dp: a double sum at ~1e9 magnitude carries order-
            # dependent error above the 6th decimal
            F.round(F.sum("_x"), 2).alias("total"),
            F.round(
                (2.0 * F.sum(F.col("_r") * F.col("_x")))
                / (F.count(F.lit(1)) * F.sum("_x"))
                - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
                6,
            ).alias("gini"),
        )
    )


def js_divergence(
    df: DataFrame,
    value_col: str,
    side_col: Column,
    n_bins: int = 10,
    lo: float = 0.0,
    hi: float = 500.0,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Jensen–Shannon divergence between two binned value
    distributions per group → (group…, n_ref, n_cur, jsd): JSD =
    ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q), natural log, clamped
    fixed-width bins (same binning contract as the PSI monitor —
    this completes the drift-metric family: PSI for monitoring
    dashboards, KS for exact tests, JSD for a bounded symmetric
    score ≤ ln 2). Bins empty on one side contribute p·ln 2 —
    finite, unlike raw KL, which is the reason JSD is the default
    for comparing corpus slices. One binned aggregation + one window
    total per group; conditional counts keep it a single pass."""
    gcols = list(group_cols or [])
    b = F.least(
        F.greatest(
            F.floor((F.col(value_col) - lo) / ((hi - lo) / n_bins)).cast(
                "long"
            ),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    )
    binned = (
        df.select(*gcols, b.alias("_b"), side_col.alias("_side"))
        .groupBy(*gcols, "_b")
        .agg(
            F.count(F.when(F.col("_side") == "ref", 1)).alias("_nr"),
            F.count(F.when(F.col("_side") == "cur", 1)).alias("_nc"),
        )
    )
    w = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    t = binned.select(
        *gcols,
        "_nr",
        "_nc",
        F.sum("_nr").over(w).cast("double").alias("_tr"),
        F.sum("_nc").over(w).cast("double").alias("_tc"),
    )
    p = F.col("_nr") / F.col("_tr")
    q = F.col("_nc") / F.col("_tc")
    m = (p + q) / 2.0
    term = F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(0.0) + F.when(
        q > 0, 0.5 * q * F.log(q / m)
    ).otherwise(0.0)
    return (
        t.groupBy(*gcols)
        .agg(
            F.max("_tr").cast("long").alias("n_ref"),
            F.max("_tc").cast("long").alias("n_cur"),
            F.round(F.sum(term), 6).alias("jsd"),
        )
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    side_col: Column,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Mann–Whitney U rank-sum test per group → (group…, n_a, n_b,
    u, z, p_value): the nonparametric two-sample location test —
    the robust alternative when Welch's t assumptions (normalish
    tails) fail, which heavy-tailed latency/length metrics do.

    NULL values are not ranked. Midranks come from the per-distinct-
    value rank table (:func:`._exact.value_ranks`), U =
    R_a − n_a(n_a+1)/2, z uses the normal approximation with the
    standard tie correction Σ(t³−t) and ±0.5 continuity correction.
    p-values replay in SQL because the normal CDF is this module's
    A&S erf polynomial on both sides."""
    gcols = list(group_cols or [])
    side = F.col("_side")
    tagged = df.select(
        *gcols,
        F.col(value_col).cast("double").alias("_v"),
        side_col.alias("_side"),
    ).filter(F.col("_v").isNotNull())
    t = value_ranks(
        tagged, "_v", gcols,
        t=F.count(F.when(side.isin("a", "b"), 1)),
        _ca=F.count(F.when(side == "a", 1)),
        _cb=F.count(F.when(side == "b", 1)),
    )
    agg = t.groupBy(*gcols).agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(F.col("_mr") * F.col("_ca")).alias("_ra"),
        F.sum(
            F.col("_t").cast("double") * F.col("_t") * F.col("_t")
            - F.col("_t")
        ).alias("_ties"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    n = n_a + n_b
    u = F.col("_ra") - n_a * (n_a + 1.0) / 2.0
    mu = n_a * n_b / 2.0
    sigma = F.sqrt(
        (n_a * n_b / 12.0)
        * ((n + 1.0) - F.when(n > 1, F.col("_ties") / (n * (n - 1.0))))
    )
    zraw = u - mu
    # continuity correction toward the mean; sigma = 0 (every value
    # tied across both arms) or n < 2 has no sampling distribution ->
    # NULL z/p instead of an ANSI divide-by-zero
    z = F.when(sigma > 0, (zraw - F.signum(zraw) * 0.5) / sigma)
    return agg.select(
        *gcols,
        "n_a",
        "n_b",
        F.round(u, 6).alias("u"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    alpha: float = 0.05,
    tiebreak_cols: "list[str] | None" = None,
) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a table of test
    p-values → every input row plus (rank, q_value, rejected): q_i =
    min_{j≥i}(m·p_j / j), rejected where q ≤ alpha. The multiple-
    comparison gate any metric-drift dashboard needs once it runs
    one KS/chi²/U test per slice — without it, 5% of healthy slices
    "drift" every day by construction.

    The suffix-min runs as a descending-rank running min — one
    window pass over the TEST table (rows = number of hypotheses,
    dashboard-scale, not data-scale; the single-partition sort is
    over tests, documented as such)."""
    tb = [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.orderBy(F.col(p_col), *tb)
    wdesc = Window.orderBy(
        F.col(p_col).desc(), *[c.desc() for c in tb]
    ).rowsBetween(Window.unboundedPreceding, 0)
    m = Window.partitionBy()
    ranked = df.withColumn("rank", F.row_number().over(w)).withColumn(
        "_m", F.count(F.lit(1)).over(m)
    )
    q_raw = F.col("_m") * F.col(p_col) / F.col("rank")
    q = F.least(F.min(q_raw).over(wdesc), F.lit(1.0))
    # explicit half-up floor round: m*p/rank lands EXACTLY on a
    # rounding half-boundary whenever p's 6th decimal meets an
    # odd m/rank ratio, and engines disagree on half cases — the
    # floor formula is the same double arithmetic everywhere
    out = ranked.withColumn(
        "q_value", F.floor(q * 1e6 + 0.5) / 1e6
    )
    return out.withColumn("rejected", F.col("q_value") <= alpha).drop("_m")


def theil_sen(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil–Sen robust trend per key → (key, slope, intercept,
    n_pairs): slope = median over all pairs i<j of (y_j−y_i)/(x_j−x_i),
    intercept = median over points of (y_i − slope·x_i). The
    median-of-slopes estimator tolerates ~29% outliers where OLS
    (``linear_regression``) is ruined by one — the robust twin any
    metric-trend dashboard wants next to the least-squares line.

    All-pairs is an equi-join on the key with an x-inequality — the
    pair count is series²/2 per key, and series length here is
    CALENDAR-bounded (periods per key), not data-bounded, so the
    quadratic is over buckets, never raw rows. Medians are exact:
    row_number over a total order (slope, then both pair endpoints)
    and the avg of the middle one/two rows — no engine-specific
    percentile interpolation to disagree over. Two keyed window
    passes + two aggregates; nothing global. Assumes x is distinct
    per key (bucketed series), so no zero denominators."""
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(b, "key").where(F.col("a._x") < F.col("b._x")).select(
        "key",
        F.col("a._x").alias("_xi"),
        F.col("b._x").alias("_xj"),
        (
            (F.col("b._y") - F.col("a._y"))
            / (F.col("b._x") - F.col("a._x"))
        ).alias("_s"),
    )
    ws = Window.partitionBy("key").orderBy("_s", "_xi", "_xj")
    ranked = pairs.withColumn("_rn", F.row_number().over(ws)).withColumn(
        "_m", F.count(F.lit(1)).over(Window.partitionBy("key"))
    )
    # middle row(s): rn = floor((m+1)/2) and floor((m+2)/2); their avg
    # is the exact median for odd AND even pair counts
    slope = (
        ranked.filter(
            (F.col("_rn") == F.floor((F.col("_m") + 1) / 2))
            | (F.col("_rn") == F.floor((F.col("_m") + 2) / 2))
        )
        .groupBy("key")
        .agg(
            F.avg("_s").alias("slope"),
            F.max("_m").alias("n_pairs"),
        )
    )
    resid = base.join(slope, "key").select(
        "key",
        "slope",
        "n_pairs",
        (F.col("_y") - F.col("slope") * F.col("_x")).alias("_r"),
        F.col("_x").alias("_xi"),
    )
    wr = Window.partitionBy("key").orderBy("_r", "_xi")
    rr = resid.withColumn("_rn", F.row_number().over(wr)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("key"))
    )
    return (
        rr.filter(
            (F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
            | (F.col("_rn") == F.floor((F.col("_n") + 2) / 2))
        )
        .groupBy("key")
        .agg(
            F.round(F.max("slope"), 6).alias("slope"),
            F.round(F.avg("_r"), 6).alias("intercept"),
            F.max("n_pairs").cast("long").alias("n_pairs"),
        )
    )


def mann_kendall(
    df: DataFrame,
    key_col: str,
    order_col: str,
    y_col: str,
) -> DataFrame:
    """Mann–Kendall trend test per key → (key, n, s, z, p_value):
    S = Σ_{i<j} sign(y_j − y_i) over the time-ordered series, the
    nonparametric "is this metric trending?" companion to
    ``theil_sen`` (same pair structure; MK gives significance, TS
    gives magnitude). Normal approximation with the standard tie
    correction Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 and the
    ±1 continuity correction; p-values use this module's A&S erf
    polynomial so the whole test replays verbatim in any SQL engine.

    Pair count is calendar-bounded (bucketed series per key); one
    keyed self-join + two aggregates, nothing global."""
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(order_col).cast("double").alias("_t"),
        F.col(y_col).cast("double").alias("_y"),
    )
    a, b = base.alias("a"), base.alias("b")
    s_agg = (
        a.join(b, "key")
        .where(F.col("a._t") < F.col("b._t"))
        .groupBy("key")
        .agg(
            F.sum(F.signum(F.col("b._y") - F.col("a._y"))).alias("s")
        )
    )
    ties = (
        base.groupBy("key", "_y")
        .agg(F.count(F.lit(1)).cast("double").alias("_c"))
        .groupBy("key")
        .agg(
            F.sum("_c").alias("_n"),
            F.sum(
                F.col("_c") * (F.col("_c") - 1) * (2 * F.col("_c") + 5)
            ).alias("_tsum"),
        )
    )
    n = F.col("_n")
    var_s = (
        n * (n - 1) * (2 * n + 5) - F.col("_tsum")
    ) / F.lit(18.0)
    sd = F.sqrt(var_s)
    s = F.col("s")
    # continuity correction toward zero (signum(0) = 0 covers S = 0);
    # var = 0 (all values tied) has no sampling distribution ->
    # NULL z/p, not a divide error — same convention as mann_whitney_u
    z = F.when(sd > 0, (s - F.signum(s)) / sd)
    return s_agg.join(ties, "key").select(
        "key",
        n.cast("long").alias("n"),
        s.cast("long").alias("s"),
        F.round(var_s, 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def isotonic_fit(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression per key →
    (key, x, y, fit): the least-squares monotone fit, computed by the
    closed-form minimax characterization fit_i = max_{j≤i} min_{k≥i}
    mean(y_j..y_k) — equivalent to pool-adjacent-violators but with
    NO sequential loop, so it runs as pure declarative relational
    algebra on every engine instead of a driver-side PAV walk.
    The calibration primitive (probability calibration, monotone
    dose-response, "retries never decrease with payload size"
    enforcement) that sklearn users reach for, expressed Spark-first.

    Shape: interval means come from prefix sums (one keyed window),
    all O(series²) intervals from one keyed self-join, the suffix-min
    over k from one (key, j) window, the prefix-max over j from one
    aggregate. Series length is CALENDAR-bounded (buckets per key),
    so the quadratic is over buckets, never raw rows — at 100 TB the
    series per key is still ~10³ points and the interval table ~10⁶
    rows per key, trivially partitionable."""
    w = Window.partitionBy("key").orderBy("_x")
    base = (
        df.select(
            F.col(key_col).alias("key"),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        .withColumn("_i", F.row_number().over(w))
        .withColumn("_s", F.sum("_y").over(w.rowsBetween(
            Window.unboundedPreceding, 0)))
    )
    lo = base.select(
        "key", F.col("_i").alias("_j"),
        (F.col("_s") - F.col("_y")).alias("_sprev"),
    )
    hi = base.select("key", F.col("_i").alias("_k"), F.col("_s").alias("_sk"))
    intervals = lo.join(hi, "key").where(F.col("_k") >= F.col("_j")).select(
        "key", "_j", "_k",
        (
            (F.col("_sk") - F.col("_sprev"))
            / (F.col("_k") - F.col("_j") + 1)
        ).alias("_avg"),
    )
    # suffix min over k (for each start j): running min, k descending;
    # the row (j, i) then holds min_{k>=i} mean(j..k)
    wk = Window.partitionBy("key", "_j").orderBy(F.col("_k").desc())
    m = intervals.withColumn(
        "_m",
        F.min("_avg").over(wk.rowsBetween(Window.unboundedPreceding, 0)),
    ).select("key", "_j", F.col("_k").alias("_i"), "_m")
    # prefix max over j: rows (j, i) exist exactly for j <= i
    fit = m.groupBy("key", "_i").agg(F.max("_m").alias("_fit"))
    return (
        base.join(fit, ["key", "_i"])
        .select(
            "key",
            F.col("_x").alias("x"),
            F.round("_y", 6).alias("y"),
            F.round("_fit", 6).alias("fit"),
        )
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Quantile normalization across groups → (group, id, v, qnorm):
    every group's value distribution is mapped onto the POOLED
    distribution, so after normalization all groups share identical
    quantiles — the batch-effect remover (microarray heritage) that
    LLM-data pipelines use to make quality scores comparable across
    crawl sources before a global threshold is applied.

    Deterministic interpolation contract (both engines replay it
    verbatim): a row at per-group rank r of n maps to pooled
    fractional index h = (r−1)(N−1)/(n−1) (h = (N−1)/2 for a
    singleton group), and qnorm linearly interpolates the pooled
    values at positions ⌊h⌋+1 and min(⌊h⌋+2, N) (1-based). h is
    computed as integer-product-then-divide, so whenever h SHOULD be
    an integer it is bit-exact in IEEE double on every engine — no
    floor() boundary disagreement.

    Scale: both rankings (per-group and pooled) use
    ``bucketed_row_number`` — no single-task global sort; the
    interpolation is two equi-joins on integer pooled ranks. Ties
    rank by (value, id) so the mapping is total-ordered and
    replayable."""
    from .relational import bucketed_row_number

    src = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
    )
    ranked = bucketed_row_number(
        src, "v", ["id"], part_cols=["grp"], buckets=buckets, out_col="_r"
    )
    sizes = src.groupBy("grp").agg(F.count(F.lit(1)).alias("_n"))
    pooled = bucketed_row_number(
        src, "v", ["grp", "id"], part_cols=[], buckets=buckets,
        out_col="_rr",
    ).select(F.col("_rr"), F.col("v").alias("_pv"))
    total = src.count()
    h = F.when(
        F.col("_n") > 1,
        ((F.col("_r").cast("long") - 1) * F.lit(int(total) - 1).cast("long"))
        .cast("double")
        / (F.col("_n") - 1),
    ).otherwise(F.lit((total - 1) / 2.0))
    withh = (
        ranked.join(F.broadcast(sizes), "grp")
        .withColumn("_h", h)
        .withColumn("_lo", F.floor("_h").cast("long") + 1)
        .withColumn(
            "_hi", F.least(F.floor("_h").cast("long") + 2, F.lit(total))
        )
        .withColumn("_frac", F.col("_h") - F.floor("_h"))
    )
    lo = pooled.select(F.col("_rr").alias("_lo"), F.col("_pv").alias("_vlo"))
    hi = pooled.select(F.col("_rr").alias("_hi"), F.col("_pv").alias("_vhi"))
    return (
        withh.join(lo, "_lo").join(hi, "_hi")
        .select(
            F.col("grp").alias(group_col),
            F.col("id").alias(id_col),
            F.col("v").alias(value_col),
            # floor(x*1e6+0.5)/1e6, not round(): interpolated values can
            # land exactly on a .5 ulp-of-6dp boundary and engines round
            # half-cases differently; this form is bit-identical everywhere
            (
                F.floor(
                    (
                        F.col("_vlo") * (1 - F.col("_frac"))
                        + F.col("_vhi") * F.col("_frac")
                    )
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("qnorm"),
        )
    )


def weighted_quantile(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    weight_col: str,
    qs: "Sequence[tuple[int, int, str]]" = (
        (1, 4, "p25"),
        (1, 2, "p50"),
        (3, 4, "p75"),
        (9, 10, "p90"),
    ),
    buckets: int = 256,
) -> DataFrame:
    """EXACT weighted quantiles per key (ClickHouse
    ``quantileExactWeighted`` parity) → (key, q, quantile,
    total_weight): the q-quantile is the value of the FIRST row in
    (value, id) order whose cumulative weight reaches q·W — the
    lower-weighted-quantile rule, which always returns an observed
    value (no interpolation to disagree over).

    Determinism contract: weights are cast to long (integral running
    totals are exact under any summation order) and each q is a
    rational (num, den, label), so the selection predicate is the
    cross-multiplied INTEGER comparison ``cw·den ≥ num·W ∧
    (cw−w)·den < num·W`` — no floating-point threshold exists for two
    engines to straddle. Overflow bound: cw·den must fit in int64,
    i.e. total weight < 2^63/max(den) — fine until ~10^17 total
    weight.

    Scale: the running total uses the two-phase ``bucketed_cumsum``
    (per-(key, bucket) slices, keys × buckets driver scalars) — no
    single-task per-key sort; the q table is a broadcast of len(qs)
    rows and per-key totals broadcast back, so the only full-data
    shuffles are the bucket tag and the in-bucket window."""
    from .relational import bucketed_cumsum

    src = df.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
        F.col(weight_col).cast("long").alias("w"),
    ).filter(F.col("w") > 0)
    cum = bucketed_cumsum(
        src, "v", "w", ["id"], part_cols=["k"], buckets=buckets,
        out_col="cw",
    )
    tot = src.groupBy("k").agg(F.sum("w").alias("tw"))
    qdf = df.sparkSession.createDataFrame(
        [(int(n), int(d), str(lbl)) for n, d, lbl in qs],
        "num long, den long, q string",
    )
    return (
        cum.join(F.broadcast(tot), "k")
        .crossJoin(F.broadcast(qdf))
        .filter(
            (F.col("cw") * F.col("den") >= F.col("num") * F.col("tw"))
            & (
                (F.col("cw") - F.col("w")) * F.col("den")
                < F.col("num") * F.col("tw")
            )
        )
        .select(
            F.col("k").alias(key_col),
            "q",
            F.col("v").alias("quantile"),
            F.col("tw").alias("total_weight"),
        )
    )


def benford_test(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit Benford's-law conformance → 9 rows
    (digit, n, obs_prop, exp_prop, chi2): the fraud/data-quality screen
    for "naturally grown" numeric columns (amounts, populations,
    counts). Values with |v| ≥ 1 participate; the leading digit comes
    from the INTEGER part's decimal string — never from
    ``floor(log10)``, whose libm boundary at exact powers of ten
    flips the digit on some engines.

    One partial-aggregated digit count over the fact; expectations
    log10(1 + 1/d) and the chi-square statistic are window arithmetic
    over the 9-row digit table. ``chi2`` repeats on every row
    (scalar-per-result-row keeps the output window-safe)."""
    v = F.abs(F.col(value_col).cast("double"))
    src = df.select(v.alias("_v")).filter(F.col("_v") >= 1)
    digit = F.substring(
        F.floor(F.col("_v")).cast("long").cast("string"), 1, 1
    )
    counts = src.groupBy(digit.alias("digit")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy()
    exp_p = F.log10(
        F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
    )
    t = counts.select(
        "digit",
        "n",
        F.sum("n").over(w).alias("_N"),
        exp_p.alias("_p"),
    )
    exp_n = F.col("_N") * F.col("_p")
    term = (F.col("n") - exp_n) * (F.col("n") - exp_n) / exp_n
    return t.select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("_N").cast("double"), 6).alias(
            "obs_prop"
        ),
        F.round("_p", 6).alias("exp_prop"),
        F.round(F.sum(term).over(w), 6).alias("chi2"),
    )


def bootstrap_ci(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    n_boot: int = 200,
    lo_rank: int = 5,
    hi_rank: int = 196,
) -> DataFrame:
    """Deterministic percentile-bootstrap confidence interval for the
    per-key mean → (key, n, mean, ci_lo, ci_hi): ``n_boot`` resamples
    of each key's rows WITH replacement, replicate means ranked, the
    ``lo_rank``/``hi_rank``-th means (defaults ≈ the 95 % interval at
    B = 200) are the bounds. The uncertainty companion the A/B tier's
    point estimates lack — no normality assumption, just the resample
    distribution.

    Determinism contract (the whole design): "randomness" is the md5
    integer of ``key:replicate:slot`` mod n (the CMS trick), so every
    engine draws the IDENTICAL resample; replicate means are rounded
    to 6 dp BEFORE ranking with the replicate id as tiebreak, so
    last-ulp summation noise cannot reorder the ranked list.

    Scale: rows are indexed by the two-phase bucketed ranking (no
    single-task sort); the resample grid is B×n rows joined back on
    (key, index) — one hash join + one partial-aggregated reduce to
    B×keys replicate means; B is the explicit cost multiplier."""
    from .relational import bucketed_cumsum

    src = df.select(
        F.col(key_col).alias("k"),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    idx = bucketed_cumsum(
        src, "id", None, ["id"], part_cols=["k"], out_col="_i"
    )
    sizes = src.groupBy("k").agg(
        F.count(F.lit(1)).alias("_n"),
        F.round(F.avg("v"), 6).alias("mean"),
    )
    reps = df.sparkSession.range(1, n_boot + 1).select(
        F.col("id").alias("_b")
    )
    slots = (
        idx.select("k", F.col("_i").alias("_s"))
        .join(F.broadcast(sizes.select("k", "_n")), "k")
        .crossJoin(F.broadcast(reps))
    )
    draw = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("k"),
                        F.col("_b").cast("string"),
                        F.col("_s").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % F.col("_n")
        + 1
    )
    picked = slots.select("k", "_b", draw.alias("_i"))
    means = (
        picked.join(idx.select("k", "_i", "v"), ["k", "_i"])
        .groupBy("k", "_b")
        .agg(F.round(F.avg("v"), 6).alias("_m"))
    )
    w = Window.partitionBy("k").orderBy(F.col("_m"), F.col("_b"))
    ranked = means.withColumn("_r", F.row_number().over(w))
    bounds = (
        ranked.filter(F.col("_r").isin(lo_rank, hi_rank))
        .groupBy("k")
        .agg(
            F.min(F.when(F.col("_r") == lo_rank, F.col("_m"))).alias(
                "ci_lo"
            ),
            F.min(F.when(F.col("_r") == hi_rank, F.col("_m"))).alias(
                "ci_hi"
            ),
        )
    )
    return (
        sizes.join(bounds, "k")
        .select(
            F.col("k").alias(key_col),
            F.col("_n").alias("n"),
            "mean",
            "ci_lo",
            "ci_hi",
        )
    )


def platt_scale(
    df: DataFrame,
    x_col: str,
    label_col: str,
    iters: int = 6,
) -> DataFrame:
    """Platt scaling: calibrate a raw score into a probability by
    fitting p = sigmoid(a·x + b) with Newton–Raphson → one row
    (n, a, b, log_loss). The classifier-score → usable-probability
    step every quality-filtering pipeline needs before thresholding
    scores from different models on one scale.

    Determinism contract: (a, b) are ROUNDED TO 8 DP AFTER EVERY
    Newton step — per-pass aggregate sums differ across engines only
    in the last ulps (~1e-12), far below the 1e-8 grid, so both
    engines walk the IDENTICAL parameter trajectory and the nonlinear
    iteration cannot amplify summation noise. Newton's quadratic
    convergence makes 6 steps plenty from (a, b) = (0, 0).

    Scale: each step is ONE partial-aggregated pass over a cached
    two-column projection (5 sufficient sums + 2×2 closed-form
    solve on the driver); iterations are the explicit cost knob."""
    src = df.select(
        F.col(x_col).cast("double").alias("x"),
        F.col(label_col).cast("double").alias("y"),
    ).filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    src = src.persist()
    try:
        n = src.count()
        a, b = 0.0, 0.0
        for _ in range(iters):
            z = F.col("x") * F.lit(a) + F.lit(b)
            p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
            w = p * (F.lit(1.0) - p)
            g = src.agg(
                F.sum(F.col("x") * (F.col("y") - p)).alias("ga"),
                F.sum(F.col("y") - p).alias("gb"),
                F.sum(F.col("x") * F.col("x") * w).alias("hxx"),
                F.sum(F.col("x") * w).alias("hxy"),
                F.sum(w).alias("hyy"),
            ).first()
            det = g["hxx"] * g["hyy"] - g["hxy"] * g["hxy"]
            if det == 0:
                break
            da = (g["hyy"] * g["ga"] - g["hxy"] * g["gb"]) / det
            db = (g["hxx"] * g["gb"] - g["hxy"] * g["ga"]) / det
            # 8dp rounding: both engines land on the same grid point,
            # so trajectories are identical despite summation ulps
            a = math.floor((a + da) * 1e8 + 0.5) / 1e8
            b = math.floor((b + db) * 1e8 + 0.5) / 1e8
        z = F.col("x") * F.lit(a) + F.lit(b)
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        eps = F.lit(1e-12)
        ll = src.agg(
            F.round(
                -F.avg(
                    F.col("y") * F.log(p + eps)
                    + (F.lit(1.0) - F.col("y"))
                    * F.log(F.lit(1.0) - p + eps)
                ),
                6,
            ).alias("log_loss")
        ).first()["log_loss"]
    finally:
        src.unpersist()
    return df.sparkSession.createDataFrame(
        [(n, float(a), float(b), float(ll))],
        "n long, a double, b double, log_loss double",
    )


# -- rank correlation & categorical association ---------------------------

def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Spearman rank correlation per group (ClickHouse ``rankCorr``
    parity) → (group…, n, rho): Pearson correlation of the midranks,
    with ties getting average ranks on both axes.

    Ranks are centered by the EXACT mean rank (n+1)/2, so every
    deviation is a multiple of 0.5; products are multiples of 0.25 and
    the three sums (Σdx·dy, Σdx², Σdy²) are exact integers scaled by
    4 — order-independent, no float drift between engines. Two keyed
    row-rank windows (one per axis) + one aggregate; series length per
    group is whatever the caller bucketed to, nothing global. Rows
    with a NULL x, y or group key are dropped."""
    gcols = list(group_cols or [])
    keep = F.col("_x").isNotNull() & F.col("_y").isNotNull()
    for g in gcols:
        keep = keep & F.col(g).isNotNull()
    src = df.select(
        *gcols,
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(keep)
    r = row_ranks(src, "_x", gcols, "_rx")
    r = row_ranks(r, "_y", gcols, "_ry")
    agg = r.groupBy(*gcols).agg(
        F.count("*").alias("n"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("_sxy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("_syy"),
    )
    n = F.col("n").cast("double")
    m = n * (n + 1.0) * (n + 1.0) / 4.0  # n * mean_rank^2, exact
    num = F.col("_sxy") - m
    den = F.sqrt((F.col("_sxx") - m) * (F.col("_syy") - m))
    return agg.select(
        *gcols,
        "n",
        F.round(F.when(den > 0, num / den), 6).alias("rho"),
    )


def kendall_tau_b(
    df: DataFrame,
    order_col: str,
    x_col: str,
    y_col: str,
    group_cols: "list[str] | None" = None,
) -> DataFrame:
    """Kendall τ-b per group (ClickHouse ``kendallRankCorrelation``
    parity) → (group…, n, s, tau_b) over a BOUNDED series (daily
    buckets, experiment arms — the caller aggregates first; the pair
    join is O(len²) per group by construction, never corpus-wide).

    Inputs are quantized to the 2^-20 grid before pairing so the
    tie test (dx = 0) is the same set on every engine; S = Σ sign(dx)
    ·sign(dy) over ordered pairs i<j, with the standard tie-adjusted
    denominator √((n0−n1)(n0−n2))."""
    gcols = list(group_cols or [])
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(
        *gcols,
        F.col(order_col).alias("_o"),
        q(x_col).alias("_x"),
        q(y_col).alias("_y"),
    )
    a = src.select(*gcols, *[F.col(c).alias(c + "a") for c in ("_o", "_x", "_y")])
    b = src.select(*gcols, *[F.col(c).alias(c + "b") for c in ("_o", "_x", "_y")])
    pairs = a.join(b, gcols) .filter(F.col("_oa") < F.col("_ob")) if gcols else a.crossJoin(b).filter(F.col("_oa") < F.col("_ob"))
    dx = F.col("_xa") - F.col("_xb")
    dy = F.col("_ya") - F.col("_yb")
    pa = pairs.groupBy(*gcols).agg(
        F.count("*").alias("_n0"),
        F.sum(F.signum(dx) * F.signum(dy)).cast("long").alias("s"),
        F.count(F.when(dx == 0, 1)).alias("_t1"),
        F.count(F.when(dy == 0, 1)).alias("_t2"),
    )
    cnt = src.groupBy(*gcols).agg(F.count("*").alias("n"))
    den = F.sqrt(
        (F.col("_n0") - F.col("_t1")).cast("double")
        * (F.col("_n0") - F.col("_t2")).cast("double")
    )
    joined = pa.join(cnt, gcols) if gcols else pa.crossJoin(cnt)
    return joined.select(
        *gcols,
        "n",
        "s",
        F.round(
            F.when(den > 0, F.col("s").cast("double") / den), 6
        ).alias("tau_b"),
    )


def contingency_assoc(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Cramér's V and Theil's U over one contingency table →
    single row (n, r, c, chi2, cramers_v, theil_u_ab, theil_u_ba):
    the two association strengths ClickHouse ships as ``cramersV`` /
    ``theilsU``. V is the χ²-based symmetric strength; U(a|b) is the
    asymmetric uncertainty coefficient (H(A) − H(A|B)) / H(A) built
    from the same cell counts.

    One groupBy over (a,b) → all marginals and entropies derive from
    the (tiny, ≤ r·c rows) cell table; the corpus is touched once."""
    cells = (
        df.select(
            F.col(a_col).cast("string").alias("_a"),
            F.col(b_col).cast("string").alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("_n"))
    )
    ra = cells.groupBy("_a").agg(F.sum("_n").alias("_na"))
    cb = cells.groupBy("_b").agg(F.sum("_n").alias("_nb"))
    tot = cells.agg(
        F.sum("_n").alias("_nn"),
        F.countDistinct("_a").alias("r"),
        F.countDistinct("_b").alias("c"),
    )
    j = cells.join(ra, "_a").join(cb, "_b").crossJoin(tot)
    nn = F.col("_nn").cast("double")
    e = F.col("_na").cast("double") * F.col("_nb") / nn
    o = F.col("_n").cast("double")
    # p·ln terms: ≤ r·c cells, libm 1-ulp noise is far below the 6dp
    # round; entropies use natural log on both engines.
    h_ab = -(o / nn) * F.log(o / F.col("_nb").cast("double"))
    h_ba = -(o / nn) * F.log(o / F.col("_na").cast("double"))
    h_a_term = -(o / nn) * F.log(F.col("_na").cast("double") / nn)
    h_b_term = -(o / nn) * F.log(F.col("_nb").cast("double") / nn)
    agg = j.groupBy("_nn", "r", "c").agg(
        F.sum((o - e) * (o - e) / e).alias("_chi2"),
        F.sum(h_ab).alias("_hab"),
        F.sum(h_ba).alias("_hba"),
        F.sum(h_a_term).alias("_ha"),
        F.sum(h_b_term).alias("_hb"),
    )
    # H(A)/H(B) from marginals (the per-cell duplicate-weighted sums
    # above equal them exactly because Σ_b n_ab = n_a)
    k = F.least(F.col("r"), F.col("c")).cast("double") - 1.0
    return agg.select(
        F.col("_nn").cast("long").alias("n"),
        "r",
        "c",
        F.round("_chi2", 6).alias("chi2"),
        F.round(
            F.sqrt(F.col("_chi2") / (F.col("_nn").cast("double") * k)), 6
        ).alias("cramers_v"),
        F.round(
            (F.col("_ha") - F.col("_hab")) / F.col("_ha"), 6
        ).alias("theil_u_ab"),
        F.round(
            (F.col("_hb") - F.col("_hba")) / F.col("_hb"), 6
        ).alias("theil_u_ba"),
    )


def anova_oneway(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """One-way ANOVA F over groups → single row (k, n, ssb, ssw,
    f_stat): the k-arm generalization of the A/B z-test above.

    Two-pass centered sums: group means land on the 2^-20 grid
    (floor of an exact power-of-two multiply — identical on every
    engine), squared deviations are re-quantized onto the same grid,
    so SSB/SSW are exact integer sums scaled by 2^-20: no
    catastrophic cancellation and no summation-order drift. Both
    passes are partial-aggregatable shuffles on the group key."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    gm = src.groupBy("_g").agg(
        F.count("*").alias("_ng"),
        grid(F.avg("_v")).alias("_mg"),
    )
    tot = src.agg(
        F.count("*").alias("_n"), grid(F.avg("_v")).alias("_mu")
    )
    dev = src.join(gm, "_g").crossJoin(tot)
    d_w = F.col("_v") - F.col("_mg")
    agg = dev.groupBy("_n", "_mu").agg(
        F.countDistinct("_g").alias("k"),
        grid_sum(d_w * d_w).alias("_ssw"),
    )
    ssb = (
        gm.crossJoin(tot)
        .select(
            grid_sum(
                F.col("_ng")
                * (F.col("_mg") - F.col("_mu"))
                * (F.col("_mg") - F.col("_mu"))
            ).alias("_ssb")
        )
    )
    out = agg.crossJoin(ssb)
    kk = F.col("k").cast("double")
    nn = F.col("_n").cast("double")
    f = (F.col("_ssb") / (kk - 1.0)) / (F.col("_ssw") / (nn - kk))
    return out.select(
        F.col("k").cast("long").alias("k"),
        F.col("_n").cast("long").alias("n"),
        F.round("_ssb", 6).alias("ssb"),
        F.round("_ssw", 6).alias("ssw"),
        F.round(f, 6).alias("f_stat"),
    )


def huber_mean(
    df: DataFrame,
    value_col: str,
    group_cols: "list[str] | None" = None,
    c: float = 50.0,
    iters: int = 5,
) -> DataFrame:
    """Huber M-estimator of location per group → (group…, n, mu,
    plain_mean, n_downweighted): the robust mean that a handful of
    corrupt rows can't drag (the estimating equation clips each
    residual's influence at ``c``). IRLS with weights w = min(1,
    c/|x−μ|), ``iters`` fixed reweighting steps from the plain mean.

    Every iterate lands on the 1e-6 grid (floor(μ·1e6 + 0.5)/1e6;
    coarser than platt's because the floored quantity is a ratio of
    corpus-scale sums whose order noise is ~1e-12 absolute — 1e-6
    keeps the boundary probability negligible), so both engines walk
    the identical trajectory — the same unrolled-recursion contract
    as :func:`platt_scale`, but grouped:
    each step is one conditional-aggregate pass over the corpus
    joined to the (tiny, one row per group) current-μ table; nothing
    is collected to the driver."""
    gcols = list(group_cols or [])
    src = df.select(
        *gcols, F.col(value_col).cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    grid = lambda col: F.floor(col * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    mu = src.groupBy(*gcols).agg(
        F.count("*").alias("n"), grid(F.avg("_v")).alias("_mu")
    )
    mean0 = mu.select(*gcols, F.col("_mu").alias("_mean0"))
    for _ in range(iters):
        j = src.join(F.broadcast(mu.select(*gcols, "_mu")), gcols)
        wgt = F.least(
            F.lit(1.0), F.lit(float(c)) / F.abs(F.col("_v") - F.col("_mu"))
        )
        # |x − μ| = 0 → w = 1 (the limit), not a division blow-up
        wgt = F.when(F.col("_v") == F.col("_mu"), F.lit(1.0)).otherwise(wgt)
        mu = j.groupBy(*gcols).agg(
            F.count("*").alias("n"),
            grid(F.sum(wgt * F.col("_v")) / F.sum(wgt)).alias("_mu"),
        )
    final = src.join(F.broadcast(mu.select(*gcols, "_mu")), gcols)
    down = final.groupBy(*gcols).agg(
        F.sum(
            (F.abs(F.col("_v") - F.col("_mu")) > F.lit(float(c)))
            .cast("long")
        ).alias("n_downweighted")
    )
    out = mu.join(mean0, gcols).join(down, gcols)
    return out.select(
        *gcols,
        "n",
        F.col("_mu").alias("mu"),
        F.col("_mean0").alias("plain_mean"),
        "n_downweighted",
    )


def diversity_index(
    df: DataFrame, group_col: str, unit_col: str
) -> DataFrame:
    """Shannon/Simpson diversity of the unit distribution per group →
    (group, n, k, shannon_h, simpson, evenness): H = −Σ p·ln p in
    nats (ClickHouse ``entropy`` parity), Simpson concentration Σ p²
    (1/Σp² is the "effective unit count"), evenness = H/ln k. The
    catalog/audience-concentration one-liner.

    Two partial-aggregatable shuffles: (group, unit) counts, then a
    ≤-units-sized reduction per group."""
    cells = (
        df.select(
            F.col(group_col).alias("grp"), F.col(unit_col).alias("_u")
        )
        .filter(F.col("_u").isNotNull())
        .groupBy("grp", "_u")
        .agg(F.count("*").alias("_c"))
    )
    tot = cells.groupBy("grp").agg(F.sum("_c").alias("_n"))
    j = cells.join(tot, "grp")
    p = F.col("_c").cast("double") / F.col("_n").cast("double")
    agg = j.groupBy("grp").agg(
        F.max("_n").alias("n"),
        F.count("*").alias("k"),
        F.sum(-p * F.log(p)).alias("_h"),
        F.sum(p * p).alias("_simp"),
    )
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.round("_h", 6).alias("shannon_h"),
        F.round("_simp", 6).alias("simpson"),
        F.round(
            F.when(
                F.col("k") > 1,
                F.col("_h") / F.log(F.col("k").cast("double")),
            ),
            6,
        ).alias("evenness"),
    )


_EULER_GAMMA = 0.5772156649015329


def gumbel_fit(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 day",
) -> DataFrame:
    """Gumbel extreme-value fit on block maxima per key → (key, n,
    max_mean, max_std, beta, mu, p_exceed_seen): daily (bucket)
    maxima, method-of-moments Gumbel parameters β = s·√6/π, μ = m̄ −
    γβ, and the fitted probability that a future block max exceeds
    the LARGEST seen so far (1 − exp(−exp(−z))) — the capacity-
    planning tail number. Block means are floored to the 2^-20 grid
    before centering so the variance sum is drift-free."""
    import math

    b = df.groupBy(
        F.col(key_col).alias("key"),
        F.window(F.col(ts_col), bucket).alias("_w"),
    ).agg(F.max(F.col(value_col).cast("double")).alias("_m"))
    gm = b.groupBy("key").agg(
        F.count("*").alias("n"),
        grid(F.avg("_m")).alias("_mu"),
        F.max("_m").alias("_seen"),
    )
    dev = b.join(gm, "key")
    d = F.col("_m") - F.col("_mu")
    agg = dev.groupBy("key", "n", "_mu", "_seen").agg(
        grid_sum(d * d).alias("_ss")
    )
    s = F.sqrt(F.col("_ss") / (F.col("n").cast("double") - 1.0))
    beta = s * math.sqrt(6.0) / math.pi
    mu = F.col("_mu") - _EULER_GAMMA * beta
    z = (F.col("_seen") - mu) / beta
    return agg.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.col("_mu").alias("max_mean"),
        F.round(s, 6).alias("max_std"),
        F.round(beta, 6).alias("beta"),
        F.round(mu, 6).alias("mu"),
        F.round(1.0 - F.exp(-F.exp(-z)), 6).alias("p_exceed_seen"),
    )


def kaplan_meier(
    df: DataFrame,
    subject_col: str,
    ts_col: str,
    censor_horizon_days: int = 7,
) -> DataFrame:
    """Kaplan–Meier survival curve over subject lifetimes →
    (t_days, n_risk, d_events, survival): lifetime = last activity −
    first activity per subject; a subject whose last activity falls
    within ``censor_horizon_days`` of the corpus end is CENSORED
    (still alive — its lifetime only bounds the truth from below),
    which is the entire point of KM over a naive duration histogram.
    S(t) = Π_{u ≤ t} (1 − d_u/n_u) over death times, computed as
    exp(cumsum(ln)) in one ordered window — identical term order on
    every engine.

    Two aggregates (per-subject lifetimes, per-duration counts) + one
    window over the ≤ distinct-durations curve table. The corpus is
    touched once; the curve is bounded by distinct lifetimes."""
    life = df.groupBy(F.col(subject_col).alias("_s")).agg(
        F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last")
    )
    mx = life.agg(F.max("_last").alias("_mx"))
    life = life.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.col("_last"), F.col("_first")).alias("t_days"),
        (
            F.datediff(F.col("_mx"), F.col("_last"))
            > censor_horizon_days
        ).cast("int").alias("_dead"),
    )
    per_t = life.groupBy("t_days").agg(
        F.count("*").alias("_n_t"), F.sum("_dead").alias("d_events")
    )
    w = Window.orderBy("t_days")
    curve = per_t.withColumn(
        "n_risk",
        F.sum("_n_t").over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ),
    ).filter(F.col("d_events") > 0)
    # S(t) = exp(Σ ln(1 - d/n)) over death times ≤ t, in t order
    lf = F.log(
        1.0
        - F.col("d_events").cast("double")
        / F.col("n_risk").cast("double")
    )
    return curve.withColumn(
        "survival",
        F.round(
            F.exp(
                F.sum(lf).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
            ),
            6,
        ),
    ).select("t_days", "n_risk", "d_events", "survival")


def cuped_adjust(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """CUPED variance reduction per experiment arm → (arm, n, mean_y,
    mean_y_adj, var_y, var_y_adj, var_reduction_pct): the industry-
    standard pre-period adjustment y_adj = y − θ(x − x̄) with θ =
    cov(x, y)/var(x) estimated POOLED (the unbiased-under-randomization
    choice). The same experiment decided in a fraction of the traffic.

    θ's covariance/variance sums and both per-arm variance sums are
    quantized onto the 2^-20 grid after grid-floored centering, so θ
    and every variance are drift-free across engines; the input is one
    row per unit (the caller aggregates the raw log first)."""
    src = df.select(
        F.col(unit_col).alias("_u"),
        F.col(arm_col).alias("arm"),
        F.col(pre_col).cast("double").alias("_x"),
        F.col(post_col).cast("double").alias("_y"),
    )
    g = src.agg(
        grid(F.avg("_x")).alias("_mx"),
        grid(F.avg("_y")).alias("_my"),
    )
    c = src.crossJoin(F.broadcast(g))
    dx = F.col("_x") - F.col("_mx")
    dy = F.col("_y") - F.col("_my")
    th = c.agg(
        grid_sum(dx * dy).alias("_sxy"),
        grid_sum(dx * dx).alias("_sxx"),
    ).select((F.col("_sxy") / F.col("_sxx")).alias("_theta"))
    adj = c.crossJoin(F.broadcast(th)).withColumn(
        "_yadj", F.col("_y") - F.col("_theta") * dx
    )
    gm = adj.groupBy("arm").agg(
        F.count("*").alias("n"),
        grid(F.avg("_y")).alias("_amy"),
        grid(F.avg("_yadj")).alias("_amya"),
    )
    fin = adj.join(gm, "arm")
    vy = F.col("_y") - F.col("_amy")
    va = F.col("_yadj") - F.col("_amya")
    out = fin.groupBy(
        "arm", "n", "_amy", "_amya"
    ).agg(
        grid_sum(vy * vy).alias("_vy"),
        grid_sum(va * va).alias("_va"),
    )
    nn = F.col("n").cast("double") - 1.0
    return out.select(
        "arm",
        "n",
        F.col("_amy").alias("mean_y"),
        F.col("_amya").alias("mean_y_adj"),
        F.round(F.col("_vy") / nn, 6).alias("var_y"),
        F.round(F.col("_va") / nn, 6).alias("var_y_adj"),
        F.round(
            (F.lit(1.0) - F.col("_va") / F.col("_vy")) * 100.0, 6
        ).alias("var_reduction_pct"),
    )


def eb_shrink_rates(
    df: DataFrame, key_col: str, n_col: str, x_col: str
) -> DataFrame:
    """Empirical-Bayes (beta-binomial, method-of-moments) rate
    shrinkage → (key, n_obs, x_obs, raw_rate, shrunk_rate): the
    "don't rank a 1/1 item above a 97/100 item" fix. Prior (α, β)
    from the observed rate distribution's grid-quantized mean and
    variance — α = μ·c, β = (1−μ)·c with c = μ(1−μ)/v − 1 — then
    every item posterior-means to (x+α)/(n+α+β). Degenerate moments
    (v ≤ 0 or c ≤ 0: all rates equal, or overdispersion beyond the
    beta family) fall back to no shrinkage.

    One pass for per-key counts (the caller usually did it), one tiny
    moment aggregate, one broadcast join back. Rates are exact
    rationals of integers, so every engine sees identical inputs."""
    src = df.select(
        F.col(key_col).alias("key"),
        F.col(n_col).cast("long").alias("n_obs"),
        F.col(x_col).cast("long").alias("x_obs"),
    ).filter(F.col("n_obs") > 0)
    r = F.col("x_obs").cast("double") / F.col("n_obs").cast("double")
    src = src.withColumn("_r", r)
    mu_t = src.agg(
        F.count("*").alias("_k"),
        grid(F.avg("_r")).alias("_mu"),
    )
    c = src.crossJoin(F.broadcast(mu_t))
    d = F.col("_r") - F.col("_mu")
    var_t = c.groupBy("_k", "_mu").agg(
        (
            grid_sum(d * d) / (F.col("_k") - F.lit(1.0))
        ).alias("_v")
    )
    common = F.when(
        F.col("_v") > 0,
        F.col("_mu") * (1.0 - F.col("_mu")) / F.col("_v") - 1.0,
    ).otherwise(F.lit(0.0))
    prior = var_t.select(
        "_mu",
        F.when(common > 0, F.col("_mu") * common)
        .otherwise(F.lit(0.0))
        .alias("_alpha"),
        F.when(common > 0, (1.0 - F.col("_mu")) * common)
        .otherwise(F.lit(0.0))
        .alias("_beta"),
    )
    out = src.crossJoin(F.broadcast(prior))
    shrunk = (F.col("x_obs") + F.col("_alpha")) / (
        F.col("n_obs") + F.col("_alpha") + F.col("_beta")
    )
    return out.select(
        "key",
        "n_obs",
        "x_obs",
        F.round("_r", 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
    )


def diff_in_diff(
    df: DataFrame,
    treat_col: str,
    post_col: str,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences → single row (n, mean_c_pre,
    mean_c_post, mean_t_pre, mean_t_post, did): the quasi-experimental
    workhorse when randomization wasn't available — the treatment
    effect is the treated group's pre→post change minus the control
    group's (which absorbs the common time trend). One conditional-
    aggregate pass; cell means on the 2^-20 grid so the four-way
    difference is engine-exact."""
    src = df.select(
        F.col(treat_col).cast("int").alias("_t"),
        F.col(post_col).cast("int").alias("_p"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())

    def cell(t, p):
        cond = (F.col("_t") == t) & (F.col("_p") == p)
        return (
            F.floor(
                F.sum(F.when(cond, F.floor(F.col("_v") * GRID))) /
                F.sum(F.when(cond, F.lit(1)))
            )
            / GRID
        )

    agg = src.agg(
        F.count("*").alias("n"),
        cell(0, 0).alias("mean_c_pre"),
        cell(0, 1).alias("mean_c_post"),
        cell(1, 0).alias("mean_t_pre"),
        cell(1, 1).alias("mean_t_post"),
    )
    return agg.select(
        "n",
        "mean_c_pre",
        "mean_c_post",
        "mean_t_pre",
        "mean_t_post",
        F.round(
            (F.col("mean_t_post") - F.col("mean_t_pre"))
            - (F.col("mean_c_post") - F.col("mean_c_pre")),
            6,
        ).alias("did"),
    )


def dispersion_fit(
    df: DataFrame, key_col: str, ts_col: str, bucket: str = "1 day"
) -> DataFrame:
    """Count-dispersion diagnostics per key → (key, n_buckets,
    mean_cnt, var_cnt, fano, nb_alpha): Fano factor var/mean of the
    bucketed event counts (1 = Poisson; > 1 = bursty) and the
    method-of-moments negative-binomial overdispersion α =
    (v − μ)/μ² (0 when the counts are under- or equi-dispersed) —
    the first question about any arrival process. Counts are exact
    integers; moments on the 2^-20 grid."""
    b = df.groupBy(
        F.col(key_col).alias("key"),
        F.window(F.col(ts_col), bucket).alias("_w"),
    ).agg(F.count("*").cast("double").alias("_c"))
    gm = b.groupBy("key").agg(
        F.count("*").alias("n_buckets"),
        grid(F.avg("_c")).alias("_mu"),
    )
    d = b.join(gm, "key")
    dev = F.col("_c") - F.col("_mu")
    agg = d.groupBy("key", "n_buckets", "_mu").agg(
        (
            grid_sum(dev * dev)
            / (F.col("n_buckets") - F.lit(1.0))
        ).alias("_v")
    )
    return agg.select(
        "key",
        "n_buckets",
        F.col("_mu").alias("mean_cnt"),
        F.round("_v", 6).alias("var_cnt"),
        F.round(F.col("_v") / F.col("_mu"), 6).alias("fano"),
        F.round(
            F.greatest(
                F.lit(0.0),
                (F.col("_v") - F.col("_mu"))
                / (F.col("_mu") * F.col("_mu")),
            ),
            6,
        ).alias("nb_alpha"),
    )


def proportions_test(
    df: DataFrame,
    arm_col: str,
    conv_col: str,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> DataFrame:
    """Two-proportion experiment readout → single row (n_c, x_c, n_t,
    x_t, rate_c, rate_t, z, risk_ratio, odds_ratio, ci_lo, ci_hi,
    min_n_per_arm): pooled-SE z statistic, the two effect measures
    medicine and growth teams actually quote, the 95% Wald CI on the
    rate difference, and ClickHouse ``minSampleSizeConversion``
    parity — the per-arm n that would power THIS observed lift at
    α = 0.05 / power = 0.8 (z constants passed as binary-identical
    literals, not library calls).

    One conditional-aggregate pass; every statistic is closed-form
    arithmetic on four exact integers."""
    src = df.select(
        F.col(arm_col).cast("int").alias("_a"),
        F.col(conv_col).cast("int").alias("_y"),
    )
    agg = src.agg(
        F.sum(F.when(F.col("_a") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("_a") == 0, F.col("_y")).otherwise(0)).alias(
            "x_c"
        ),
        F.sum(F.when(F.col("_a") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("_a") == 1, F.col("_y")).otherwise(0)).alias(
            "x_t"
        ),
    )
    nc, xc = F.col("n_c").cast("double"), F.col("x_c").cast("double")
    nt, xt = F.col("n_t").cast("double"), F.col("x_t").cast("double")
    pc, pt = xc / nc, xt / nt
    pp = (xc + xt) / (nc + nt)
    se_pooled = F.sqrt(pp * (1.0 - pp) * (1.0 / nc + 1.0 / nt))
    se_wald = F.sqrt(pc * (1.0 - pc) / nc + pt * (1.0 - pt) / nt)
    d = pt - pc
    min_n = (
        F.lit((z_alpha + z_power) ** 2)
        * (pc * (1.0 - pc) + pt * (1.0 - pt))
        / (d * d)
    )
    return agg.select(
        "n_c",
        "x_c",
        "n_t",
        "x_t",
        F.round(pc, 6).alias("rate_c"),
        F.round(pt, 6).alias("rate_t"),
        F.round(F.when(se_pooled > 0, d / se_pooled), 6).alias("z"),
        F.round(F.when(pc > 0, pt / pc), 6).alias("risk_ratio"),
        F.round(
            F.when(
                (xc > 0) & (nt > xt),
                (xt * (nc - xc)) / (xc * (nt - xt)),
            ),
            6,
        ).alias("odds_ratio"),
        F.round(d - z_alpha * se_wald, 6).alias("ci_lo"),
        F.round(d + z_alpha * se_wald, 6).alias("ci_hi"),
        F.round(
            F.when(d != 0, F.ceil(min_n).cast("double")), 6
        ).alias("min_n_per_arm"),
    )


def circadian_stats(
    df: DataFrame, key_col: str, ts_col: str
) -> DataFrame:
    """Circular (directional) statistics of the time-of-day pattern
    per key → (key, n, resultant_r, peak_hour): events map to angles
    on the 24 h circle, the mean resultant length R = |Σe^{iθ}|/n
    measures concentration (0 = uniform around the clock, 1 = a
    single spike) and atan2 of the vector sum gives the peak hour —
    the RIGHT way to average times of day (naive hour averaging says
    23:00 ∪ 01:00 → noon; circular says midnight).

    One conditional-aggregate pass; angles derive from exact integer
    microseconds-in-day, so both engines feed identical doubles into
    the same trig, and the 6dp round sits ~10 orders above libm
    noise."""
    import math

    sod = F.pmod(F.unix_micros(F.col(ts_col)), F.lit(86_400_000_000))
    theta = (
        F.lit(2.0 * math.pi)
        * sod.cast("double")
        / F.lit(86_400_000_000.0)
    )
    agg = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count("*").alias("n"),
        F.sum(F.cos(theta)).alias("_c"),
        F.sum(F.sin(theta)).alias("_s"),
    )
    r = (
        F.sqrt(F.col("_c") * F.col("_c") + F.col("_s") * F.col("_s"))
        / F.col("n").cast("double")
    )
    peak = F.pmod(
        F.atan2(F.col("_s"), F.col("_c"))
        / F.lit(2.0 * math.pi)
        * 24.0,
        F.lit(24.0),
    )
    return agg.select(
        "key",
        "n",
        F.round(r, 6).alias("resultant_r"),
        F.round(peak, 4).alias("peak_hour"),
    )


def logrank_test(
    df: DataFrame,
    subject_col: str,
    ts_col: str,
    group_col,
    censor_horizon_days: int = 60,
) -> DataFrame:
    """Two-group log-rank test → single row (n1, n2, o1, e1, var1, z,
    p_value): does group 1 churn on a different schedule than group
    0? At every pooled death time t: O₁ₜ deaths observed in group 1
    vs E₁ₜ = dₜ·n₁ₜ/nₜ expected under equal hazards, variance by the
    hypergeometric term — the standard companion test to the
    Kaplan–Meier curve, sharing its lifetime/censoring construction.

    Lifetimes aggregate per subject, the curve table is bounded by
    distinct durations, and every O/E/V term is a ratio of exact
    integers — engine-identical before the 6dp round; the p-value is
    this module's A&S erf polynomial."""
    life = df.groupBy(
        F.col(subject_col).alias("_s"), group_col.alias("_g")
    ).agg(F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last"))
    mx = life.agg(F.max("_last").alias("_mx"))
    life = life.crossJoin(F.broadcast(mx)).select(
        "_g",
        F.datediff(F.col("_last"), F.col("_first")).alias("_t"),
        (
            F.datediff(F.col("_mx"), F.col("_last"))
            > censor_horizon_days
        ).cast("int").alias("_dead"),
    )
    per_t = life.groupBy("_t").agg(
        F.sum(F.when(F.col("_g") == 1, 1).otherwise(0)).alias("_a1"),
        F.sum(F.when(F.col("_g") == 0, 1).otherwise(0)).alias("_a0"),
        F.sum(
            F.when((F.col("_g") == 1) & (F.col("_dead") == 1), 1)
            .otherwise(0)
        ).alias("_d1"),
        F.sum(
            F.when((F.col("_g") == 0) & (F.col("_dead") == 1), 1)
            .otherwise(0)
        ).alias("_d0"),
    )
    w = Window.orderBy("_t").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    risk = per_t.select(
        "_t",
        "_d1",
        "_d0",
        F.sum(F.col("_a1")).over(w).alias("_n1"),
        F.sum(F.col("_a0")).over(w).alias("_n0"),
    ).filter((F.col("_d1") + F.col("_d0")) > 0)
    d = (F.col("_d1") + F.col("_d0")).cast("double")
    n1 = F.col("_n1").cast("double")
    nt = (F.col("_n1") + F.col("_n0")).cast("double")
    e1 = d * n1 / nt
    v = F.when(
        nt > 1,
        d * (n1 / nt) * (1.0 - n1 / nt) * (nt - d) / (nt - 1.0),
    ).otherwise(F.lit(0.0))
    tot = risk.agg(
        F.sum("_d1").alias("o1"),
        F.sum(e1).alias("_e1"),
        F.sum(v).alias("_v"),
    )
    counts = life.agg(
        F.sum(F.when(F.col("_g") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("_g") == 0, 1).otherwise(0)).alias("n2"),
    )
    out = counts.crossJoin(tot)
    z = F.when(
        F.col("_v") > 0,
        (F.col("o1").cast("double") - F.col("_e1"))
        / F.sqrt(F.col("_v")),
    )
    return out.select(
        "n1",
        "n2",
        F.col("o1").cast("long").alias("o1"),
        F.round("_e1", 6).alias("e1"),
        F.round("_v", 6).alias("var1"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def cohens_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Inter-rater agreement (Cohen 1960) between two label columns →
    single row (n, po, pe, kappa): observed agreement P_o vs the
    chance agreement P_e implied by the two raters' marginal label
    distributions. THE agreement statistic for annotator/LLM-judge
    label audits — raw percent-agreement overstates quality whenever
    one label dominates.

    One groupBy over the (a, b) label pair → every term derives from
    the tiny ≤ r·c cell table; the corpus is touched once, all
    arithmetic is ratios of exact integer counts (engine-identical
    before the 6dp round)."""
    cells = (
        df.select(
            F.col(a_col).cast("string").alias("_a"),
            F.col(b_col).cast("string").alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("_n"))
    )
    ra = cells.groupBy(F.col("_a").alias("_l")).agg(
        F.sum("_n").alias("_na")
    )
    cb = cells.groupBy(F.col("_b").alias("_l")).agg(
        F.sum("_n").alias("_nb")
    )
    # P_e joins the MARGINAL tables on label — a label both raters use
    # but never agree on still contributes chance agreement (summing
    # na·nb over observed diagonal cells only would undercount it).
    pe_num = ra.join(cb, "_l").agg(
        F.sum(F.col("_na").cast("double") * F.col("_nb")).alias(
            "_pe_num"
        )
    )
    agg = cells.agg(
        F.sum("_n").alias("_nn"),
        F.sum(
            F.when(F.col("_a") == F.col("_b"), F.col("_n")).otherwise(0)
        ).alias("_diag"),
    ).crossJoin(F.broadcast(pe_num))
    nn = F.col("_nn").cast("double")
    po = F.col("_diag").cast("double") / nn
    pe = F.col("_pe_num") / (nn * nn)
    return agg.select(
        F.col("_nn").cast("long").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        # pe = 1 (both raters constant on one label) leaves kappa
        # undefined — NULL, not a divide-by-zero (ANSI mode throws).
        F.round(
            F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)), 6
        ).alias("kappa"),
    )


def mcnemar_test(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """McNemar's paired test (1947, continuity-corrected) → single row
    (n, n10, n01, chi2, p_value): do two binary classifiers scored on
    the SAME examples disagree asymmetrically? Only the discordant
    cells matter — n10 (a right, b wrong) vs n01 (a wrong, b right);
    χ² = (|n10 − n01| − 1)² / (n10 + n01) on 1 dof. The standard
    model-A-vs-model-B eval on a shared test set, where the unpaired
    proportions test wastes the pairing.

    One conditional-aggregate pass; exact integer counts into the
    Wilson–Hilferty p — engine-identical before the 6dp round.
    ``n`` counts only the valid pairs the test actually uses: rows
    where BOTH columns are a binary 0/1 (NULL or out-of-domain rows
    are excluded before the aggregate, so n, n10, n01 describe the
    same sample)."""
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    agg = df.filter(a.isin(0, 1) & b.isin(0, 1)).agg(
        F.count("*").alias("n"),
        F.sum(F.when((a == 1) & (b == 0), 1).otherwise(0)).alias("n10"),
        F.sum(F.when((a == 0) & (b == 1), 1).otherwise(0)).alias("n01"),
    )
    d = (F.col("n10") + F.col("n01")).cast("double")
    num = F.abs(F.col("n10") - F.col("n01")).cast("double") - 1.0
    chi2 = F.when(d > 0, num * num / d).otherwise(F.lit(0.0))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.round(chi2, 6).alias("chi2"),
        F.round(chi2_p_value(chi2, F.lit(1)), 6).alias("p_value"),
    )


def chao1_richness(
    df: DataFrame, token_col: str, group_col: str
) -> DataFrame:
    """Chao1 species-richness estimate (Chao 1984, bias-corrected) per
    group → (group, n_tokens, observed, f1, f2, chao1): how many
    distinct types (vocabulary items) the corpus would show at
    infinite sampling, from the singleton/doubleton counts —
    observed + f1(f1−1)/(2(f2+1)). The "how much vocabulary is this
    crawl slice still missing" estimator that pairs with the Heaps
    exponent.

    Two keyed aggregates (type-frequency table, then its histogram);
    everything after the first groupBy is ≤ |vocabulary| rows, exact
    integer arithmetic into one final ratio."""
    freq = df.groupBy(
        F.col(group_col).alias("grp"), F.col(token_col).alias("_t")
    ).agg(F.count("*").alias("_c"))
    agg = freq.groupBy("grp").agg(
        F.sum("_c").alias("n_tokens"),
        F.count("*").alias("observed"),
        F.sum(F.when(F.col("_c") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("_c") == 2, 1).otherwise(0)).alias("f2"),
    )
    f1 = F.col("f1").cast("double")
    est = F.col("observed").cast("double") + f1 * (f1 - 1.0) / (
        2.0 * (F.col("f2").cast("double") + 1.0)
    )
    return agg.select(
        "grp",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("observed").cast("long").alias("observed"),
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.round(est, 6).alias("chao1"),
    )


def good_turing(
    df: DataFrame, token_col: str, max_r: int = 5
) -> DataFrame:
    """Simple Good–Turing adjusted counts (Good 1953) over the type
    frequency table → (r, n_r, r_star, p_mass): for each small count
    r ≤ max_r, the adjusted count r* = (r+1)·N_{r+1}/N_r and the total
    probability mass the r-class keeps after smoothing; the r = 0 row
    carries the UNSEEN mass N_1/N — the LM-smoothing constant that
    says how much probability a corpus slice owes to tokens it has
    never seen.

    Frequency-of-frequencies is two keyed aggregates; the histogram is
    ≤ max(count) rows, ratios of exact integers, 6dp round."""
    freq = df.groupBy(F.col(token_col).alias("_t")).agg(
        F.count("*").alias("_c")
    )
    hist = freq.groupBy(F.col("_c").alias("r")).agg(
        F.count("*").alias("n_r")
    )
    tot = freq.agg(F.sum("_c").alias("_n"))
    nxt = hist.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("_n_next")
    )
    base = (
        hist.unionByName(
            tot.select(F.lit(0).cast("long").alias("r"),
                       F.lit(0).cast("long").alias("n_r")),
        )
        .filter(F.col("r") <= max_r)
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
    )
    r = F.col("r").cast("double")
    n_next = F.coalesce(F.col("_n_next"), F.lit(0)).cast("double")
    r_star = F.when(
        F.col("r") == 0, F.lit(None).cast("double")
    ).otherwise(
        F.when(
            F.col("n_r") > 0, (r + 1.0) * n_next / F.col("n_r")
        ).otherwise(F.lit(None))
    )
    p_mass = F.when(F.col("r") == 0, n_next / F.col("_n")).otherwise(
        F.col("n_r").cast("double") * r_star / F.col("_n")
    )
    return base.select(
        F.col("r").cast("long").alias("r"),
        F.col("n_r").cast("long").alias("n_r"),
        F.round(r_star, 6).alias("r_star"),
        F.round(p_mass, 6).alias("p_mass"),
    )


def hill_tail(
    df: DataFrame, value_col: str, k: int = 100,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Hill tail-index estimator (Hill 1975) → single row (k, xmin,
    alpha, se): the power-law exponent of the upper tail from the
    top-(k+1) order statistics — 1/α = mean ln(x_(i)/x_(k+1)) over the
    k largest values. The heavy-tail diagnostic for document lengths /
    user activity that says whether means and p99s are even stable.

    The ONLY corpus-scale op is an ordered LIMIT k+1 (TakeOrdered, no
    global sort); the log-ratio mean runs over k+1 rows. Deterministic
    under ties via the tiebreak column.

    Ties are handled BY POSITION, not by value: exactly the top-k
    order statistics enter the mean (values tied with x_(k+1)
    contribute ln 1 = 0 terms rather than being dropped), so k is
    always min(k, n−1) regardless of boundary ties. A fully-tied
    top-(k+1) (or < 2 positive values) leaves the tail exponent
    undefined and raises ValueError instead of silently returning a
    NULL/degenerate row."""
    order = [F.col(value_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    top = (
        df.filter(F.col(value_col) > 0)
        .select(F.col(value_col).cast("double").alias("_x"))
        .orderBy(*order)
        .limit(k + 1)
        # the (k+1)-row result feeds the rank window AND the crossJoin —
        # checkpoint so the corpus-scale TakeOrdered runs once, not
        # twice (Catalyst does not share the subplan).
        .localCheckpoint(eager=True)
    )
    # degenerate-input gate on the (k+1)-row checkpointed frame (one
    # tiny job, no corpus rescan): all-ties → alpha = 1/0, fail loud.
    probe = top.agg(
        F.count("*").alias("c"), F.min("_x").alias("mn"),
        F.max("_x").alias("mx"),
    ).first()
    n_top = int(probe["c"])
    if n_top < 2:
        raise ValueError(
            f"hill_tail: needs >= 2 positive values, got {n_top}"
        )
    if probe["mn"] == probe["mx"]:
        raise ValueError(
            "hill_tail: top-(k+1) values are all tied -- tail "
            "exponent undefined (degenerate upper tail)"
        )
    # rank BY POSITION within the tiny checkpointed frame: x_(n_top) is
    # xmin, positions 1..n_top-1 are the order statistics in the mean
    # (ties with xmin contribute zero log-ratios, never drop rows).
    ranked = top.withColumn(
        "_rn", F.row_number().over(Window.orderBy(F.col("_x").desc()))
    )
    xmin = ranked.filter(F.col("_rn") == n_top).select(
        F.col("_x").alias("_xmin")
    )
    j = ranked.filter(F.col("_rn") < n_top).crossJoin(F.broadcast(xmin))
    agg = j.agg(
        F.count("*").alias("_k"),
        F.avg(F.log(F.col("_x") / F.col("_xmin"))).alias("_inv_a"),
        F.min("_xmin").alias("_xm"),
    )
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.round("_xm", 6).alias("xmin"),
        F.round(F.lit(1.0) / F.col("_inv_a"), 6).alias("alpha"),
        F.round(
            F.lit(1.0) / F.col("_inv_a") / F.sqrt(F.col("_k")), 6
        ).alias("se"),
    )


def theil_index(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Theil T inequality index with exact between/within decomposition
    (Theil 1967) → single row (n, mean, theil_total, theil_between,
    theil_within): T = Σ (x_i/(nμ))·ln(x_i/μ), additively split into
    the share explained by group means vs inside groups — the
    inequality statistic Gini cannot decompose. Positive values only
    (log domain).

    One corpus pass for the per-row x·ln x sum + one tiny group-mean
    table; the decomposition identity T = T_b + T_w is checked by the
    oracle replaying all three from the same sums."""
    src = df.filter(F.col(value_col) > 0).select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_x"),
    )
    g = src.groupBy("_g").agg(
        F.count("*").alias("_ng"),
        F.sum("_x").alias("_sg"),
        F.sum(F.col("_x") * F.log("_x")).alias("_xlx_g"),
    )
    tot = g.agg(
        F.sum("_ng").alias("_n"), F.sum("_sg").alias("_s"),
        F.sum("_xlx_g").alias("_xlx"),
    )
    j = g.crossJoin(F.broadcast(tot))
    mu = F.col("_s") / F.col("_n").cast("double")
    mu_g = F.col("_sg") / F.col("_ng").cast("double")
    btw = j.agg(
        F.sum(
            (F.col("_sg") / F.col("_s")) * F.log(mu_g / mu)
        ).alias("_tb"),
        # within: Σ_g share_g · T_g where
        # T_g = Σ_i x/(n_g μ_g) ln(x/μ_g) = _xlx_g/(n_g μ_g) − ln μ_g
        F.sum(
            (F.col("_sg") / F.col("_s"))
            * (F.col("_xlx_g") / F.col("_sg") - F.log(mu_g))
        ).alias("_tw"),
        F.min("_n").alias("_nn"),
        F.min("_s").alias("_ss"),
        F.min("_xlx").alias("_xx"),
    )
    mu_all = F.col("_ss") / F.col("_nn").cast("double")
    t_total = F.col("_xx") / F.col("_ss") - F.log(mu_all)
    return btw.select(
        F.col("_nn").cast("long").alias("n"),
        F.round(mu_all, 6).alias("mean"),
        F.round(t_total, 6).alias("theil_total"),
        F.round("_tb", 6).alias("theil_between"),
        F.round("_tw", 6).alias("theil_within"),
    )


def friedman_test(
    df: DataFrame, block_col: str, treatment_col: str, value_col: str
) -> DataFrame:
    """Friedman rank test (1937) over a complete block design → single
    row (n_blocks, k, q, p_value): midrank each treatment WITHIN each
    block, sum ranks per treatment, Q = 12/(nk(k+1))·ΣR_j² − 3n(k+1)
    on k−1 dof — the nonparametric repeated-measures ANOVA (one score
    per prompt × model, no normality assumed). Blocks must be
    complete; incomplete blocks are dropped.

    Midranks live on the 0.5 grid (average of an integer range), so
    rank sums are EXACT on both engines; one window per block + two
    tiny aggregates. Completeness means ONE ROW PER (block, treatment)
    covering all k treatments: a block with a duplicated treatment and
    a missing one has the right row count but a corrupt design, so the
    filter checks distinct treatments (collect_set size) AND row count
    — both must equal k."""
    k_count = df.select(F.col(treatment_col)).distinct().count()
    wb = Window.partitionBy("_b")
    complete = (
        df.select(
            F.col(block_col).alias("_b"),
            F.col(treatment_col).alias("_t"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .withColumn("_bn", F.count("*").over(wb))
        .withColumn("_bk", F.size(F.collect_set("_t").over(wb)))
        .filter((F.col("_bn") == k_count) & (F.col("_bk") == k_count))
    )
    # a NULL score ranks first within its block, shifting the ranks
    # after it, and is then dropped with any NULL-block row: the row
    # set and ranks the oracle replays
    ranked = row_ranks(
        complete.select("_b", "_t", "_v"), "_v", ["_b"], "_r"
    ).filter(F.col("_b").isNotNull() & F.col("_v").isNotNull())
    rsum = ranked.groupBy("_t").agg(
        F.sum("_r").alias("_rj"), F.countDistinct("_b").alias("_nb")
    )
    agg = rsum.agg(
        F.min("_nb").alias("_n"),
        F.count("*").alias("_k"),
        F.sum(F.col("_rj") * F.col("_rj")).alias("_r2"),
    )
    n = F.col("_n").cast("double")
    kk = F.col("_k").cast("double")
    q = (
        F.lit(12.0) / (n * kk * (kk + 1.0)) * F.col("_r2")
        - 3.0 * n * (kk + 1.0)
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_blocks"),
        F.col("_k").cast("long").alias("k"),
        F.round(q, 6).alias("q"),
        F.round(chi2_p_value(q, F.col("_k") - 1), 6).alias("p_value"),
    )


def permutation_test_hash(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    value_col: str,
    n_perm: int = 200,
) -> DataFrame:
    """Permutation test for a difference in means → single row
    (n_units, n_perm, diff_obs, n_extreme, p_value): the observed
    arm-1 − arm-0 mean difference vs the null distribution from
    ``n_perm`` DETERMINISTIC relabelings — permutation k assigns each
    unit to md5(unit ':' k) % 2, so both engines (and reruns) see the
    identical null draws; p = (1 + #{|diff_k| ≥ |diff_obs|}) /
    (n_perm + 1), the standard add-one permutation p-value. The
    assumption-free companion to the Welch z-test.

    Values land on the 2^-20 grid before summing, so every per-arm sum
    is an exact integer and every mean an exact IEEE ratio — the ≥
    comparison is bit-deterministic. Cost is an explicit ×n_perm
    fan-out into ONE map-side-combinable groupBy(k, arm): the shuffle
    carries ≤ 2·n_perm·partitions partial rows, not the exploded data;
    at 100 TB you bound n_perm, never the corpus."""
    qv = F.floor(F.col(value_col).cast("double") * GRID)
    base = df.select(
        F.col(unit_col).cast("string").alias("_u"),
        F.col(arm_col).cast("int").alias("_arm"),
        qv.alias("_qv"),
    )
    obs = base.agg(
        F.count("*").alias("_n"),
        F.sum(F.when(F.col("_arm") == 1, F.col("_qv"))).alias("_s1"),
        F.sum(F.when(F.col("_arm") == 1, 1).otherwise(0)).alias("_n1"),
        F.sum(F.when(F.col("_arm") == 0, F.col("_qv"))).alias("_s0"),
        F.sum(F.when(F.col("_arm") == 0, 1).otherwise(0)).alias("_n0"),
    ).select(
        "_n",
        (
            F.col("_s1").cast("double") / F.col("_n1")
            - F.col("_s0").cast("double") / F.col("_n0")
        ).alias("_d_obs"),
    )
    ks = F.explode(
        F.sequence(F.lit(0), F.lit(int(n_perm) - 1))
    ).alias("_k")
    perm_arm = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("_u"), F.col("_k"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_k = (
        base.select("_u", "_qv", ks)
        .select("_k", "_qv", perm_arm.alias("_pa"))
        .groupBy("_k")
        .agg(
            F.sum(F.when(F.col("_pa") == 1, F.col("_qv"))).alias("_s1"),
            F.sum(F.when(F.col("_pa") == 1, 1).otherwise(0)).alias("_n1"),
            F.sum(F.when(F.col("_pa") == 0, F.col("_qv"))).alias("_s0"),
            F.sum(F.when(F.col("_pa") == 0, 1).otherwise(0)).alias("_n0"),
        )
        .select(
            (
                F.col("_s1").cast("double") / F.col("_n1")
                - F.col("_s0").cast("double") / F.col("_n0")
            ).alias("_d")
        )
    )
    agg = per_k.crossJoin(F.broadcast(obs)).agg(
        F.min("_n").alias("_nn"),
        F.min("_d_obs").alias("_do"),
        F.count("*").alias("_np"),
        F.sum(
            F.when(
                F.abs(F.col("_d")) >= F.abs(F.col("_d_obs")), 1
            ).otherwise(0)
        ).alias("_ext"),
    )
    return agg.select(
        F.col("_nn").cast("long").alias("n_units"),
        F.col("_np").cast("long").alias("n_perm"),
        F.round(F.col("_do") / GRID, 6).alias("diff_obs"),
        F.col("_ext").cast("long").alias("n_extreme"),
        F.round(
            (F.col("_ext") + 1.0) / (F.col("_np") + 1.0), 6
        ).alias("p_value"),
    )


def wilcoxon_signed_rank(
    df: DataFrame, before_col: str, after_col: str
) -> DataFrame:
    """Wilcoxon signed-rank test (1945, normal approximation) → single
    row (n_pairs, n_nonzero, w_plus, z, p_value): did a paired
    before/after metric shift, without assuming normal differences?
    Zero differences drop (Wilcoxon's rule), |d| is midranked over the
    pooled nonzero pairs, W+ sums the ranks of positive differences;
    z uses mu = n(n+1)/4, sigma^2 = n(n+1)(2n+1)/24 − Σ(t³−t)/48 with
    ±0.5 continuity correction. The paired companion to
    :func:`mann_whitney_u` (same midrank machinery, same A&S normal
    tail, so the oracle replays it exactly).

    Midranks live on the 0.5 grid (per-distinct-|d| aggregate + one
    prefix window), so W+ is EXACT on both engines; one corpus pass
    builds the |d| frequency table and everything after is
    ≤ |distinct d| rows."""
    d = F.col(after_col).cast("double") - F.col(before_col).cast("double")
    src = (
        df.filter(
            F.col(before_col).isNotNull() & F.col(after_col).isNotNull()
        )
        .select(d.alias("_d"), F.abs(d).alias("_ad"))
    )
    # ONE corpus pass: the |d| frequency table carries the zero-diff
    # count too (it ranks nothing but contributes to n_pairs), so no
    # separate count job. Only nonzero rows are ranked: the zero row
    # has _t = 0 and never shifts ranks.
    dd = F.col("_d")
    t = value_ranks(
        src, "_ad",
        t=F.count(F.when((dd > 0) | (dd < 0), 1)),
        _cp=F.count(F.when(dd > 0, 1)),
        _cn=F.count(F.when(dd < 0, 1)),
        _cz=F.count(F.when(dd == 0, 1)),
    )
    midrank = F.col("_mr")
    agg = t.agg(
        F.sum(F.col("_cp") + F.col("_cn") + F.col("_cz")).alias("_np"),
        F.sum(F.col("_cp") + F.col("_cn")).alias("_n"),
        F.sum(midrank * F.col("_cp")).alias("_wp"),
        F.sum(
            F.col("_t").cast("double") * F.col("_t") * F.col("_t")
            - F.col("_t")
        ).alias("_ties"),
    )
    n = F.col("_n").cast("double")
    mu = n * (n + 1.0) / 4.0
    sigma = F.sqrt(
        n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - F.col("_ties") / 48.0
    )
    zraw = F.col("_wp") - mu
    z = F.when(sigma > 0, (zraw - F.signum(zraw) * 0.5) / sigma)
    return agg.select(
        F.col("_np").cast("long").alias("n_pairs"),
        F.col("_n").cast("long").alias("n_nonzero"),
        F.round("_wp", 6).alias("w_plus"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def cochran_q(
    df: DataFrame, block_col: str, treatment_col: str, outcome_col: str
) -> DataFrame:
    """Cochran's Q test (1950) over a complete binary block design →
    single row (n_blocks, k, q, p_value): do k matched binary
    treatments (k models pass/fail on the same prompts) differ in
    success rate? Q = k(k−1)·Σ_j(C_j − N/k)² / (kN − Σ_i R_i²) on
    k−1 dof — the k-treatment generalization of McNemar (k = 2
    reduces to it, without continuity correction). Blocks must be
    complete: one row per (block, treatment) covering all k — the
    same strict completeness contract as :func:`friedman_test`
    (distinct treatments AND row count both equal k).

    Exact integer arithmetic end-to-end: C_j, R_i, N are integer
    sums, so Q is one IEEE ratio — engine-identical before the 6dp
    round. Two keyed aggregates; everything after the per-block
    aggregate is ≤ n_blocks + k rows."""
    k_count = df.select(F.col(treatment_col)).distinct().count()
    wb = Window.partitionBy("_b")
    src = (
        df.select(
            F.col(block_col).alias("_b"),
            F.col(treatment_col).alias("_t"),
            F.col(outcome_col).cast("int").alias("_y"),
        )
        .filter(F.col("_y").isin(0, 1))
        .withColumn("_bn", F.count("*").over(wb))
        .withColumn("_bk", F.size(F.collect_set("_t").over(wb)))
        .filter((F.col("_bn") == k_count) & (F.col("_bk") == k_count))
    )
    rows = src.groupBy("_b").agg(F.sum("_y").alias("_ri"))
    row_agg = rows.agg(
        F.count("*").alias("_nb"),
        F.sum("_ri").alias("_nn"),
        F.sum(F.col("_ri") * F.col("_ri")).alias("_r2"),
    )
    cols = src.groupBy("_t").agg(F.sum("_y").alias("_cj"))
    col_agg = cols.agg(
        F.count("*").alias("_k"),
        F.sum(F.col("_cj") * F.col("_cj")).alias("_c2"),
    )
    j = row_agg.crossJoin(F.broadcast(col_agg))
    kk = F.col("_k").cast("double")
    nn = F.col("_nn").cast("double")
    # k(k-1)·Σ(C_j − N/k)² = (k-1)·(k·ΣC_j² − N²) (exact int sums)
    num = (kk - 1.0) * (kk * F.col("_c2") - nn * nn)
    den = kk * nn - F.col("_r2").cast("double")
    q = F.when(den > 0, num / den)
    return j.select(
        F.col("_nb").cast("long").alias("n_blocks"),
        F.col("_k").cast("long").alias("k"),
        F.round(q, 6).alias("q"),
        F.round(chi2_p_value(q, F.col("_k") - 1), 6).alias("p_value"),
    )


# Poisson(1) inverse-CDF thresholds for the hash bootstrap: cumulative
# e^-1·Σ 1/i! written as SHARED 8dp literals so both engines compare
# the same constants (the grid absorbs the truncation).
_POIS1_CUM = (
    0.36787944, 0.73575888, 0.91969860, 0.98101184,
    0.99634015, 0.99940582, 0.99991676,
)


def bootstrap_ci_hash(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    n_boot: int = 200,
) -> DataFrame:
    """Percentile bootstrap CI for the mean → single row (n, n_boot,
    mean_obs, lo95, hi95) via the POISSON bootstrap (Chamandy et al.
    2012 — the only bootstrap that streams: resample multiplicities
    are per-row independent, no global multinomial draw): replicate k
    gives row u multiplicity m ~ Poisson(1) inverted from the
    deterministic md5(u ':' k) uniform through shared 8dp cumulative
    thresholds, so both engines (and reruns) see identical resamples.
    lo95/hi95 are the 2.5%/97.5% order statistics (positions
    ⌈0.025·B⌉ and ⌈0.975·B⌉) of the B replicate means.

    Values land on the 2^-20 grid, so every replicate sum is an exact
    integer and every mean an exact IEEE ratio (the perm_test
    contract). Cost is an explicit ×n_boot fan-out collapsing into ONE
    map-side-combinable groupBy(k); the shuffle carries ≤
    n_boot·partitions partial rows. At 100 TB you bound n_boot, never
    the corpus."""
    qv = F.floor(F.col(value_col).cast("double") * GRID)
    base = df.select(
        F.col(unit_col).cast("string").alias("_u"), qv.alias("_qv")
    ).filter(F.col("_qv").isNotNull())
    obs = base.agg(
        F.count("*").alias("_n"),
        (F.sum("_qv").cast("double") / F.count("*")).alias("_mo"),
    )
    ks = df.sparkSession.range(n_boot).select(
        F.col("id").cast("int").alias("_k")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("bs"), F.col("_u"),
                                  F.col("_k"))),
                1, 8,
            ),
            16, 10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    m = F.lit(len(_POIS1_CUM))
    for i in range(len(_POIS1_CUM) - 1, -1, -1):
        m = F.when(u < F.lit(_POIS1_CUM[i]), F.lit(i)).otherwise(m)
    per_k = (
        base.crossJoin(ks)
        .select("_k", (m * F.col("_qv")).alias("_mv"), m.alias("_m"))
        .groupBy("_k")
        .agg(
            (
                F.sum("_mv").cast("double") / F.sum("_m")
            ).alias("_mean_k")
        )
    )
    # integer ceil of 0.025·B / 0.975·B — no float drift for any B
    lo_pos = max(1, (25 * n_boot + 999) // 1000)
    hi_pos = (975 * n_boot + 999) // 1000
    ranked = per_k.withColumn(
        "_r", F.row_number().over(Window.orderBy("_mean_k", "_k"))
    )
    ci = ranked.agg(
        F.count("*").alias("_b"),
        F.min(F.when(F.col("_r") == lo_pos, F.col("_mean_k"))).alias("_lo"),
        F.min(F.when(F.col("_r") == hi_pos, F.col("_mean_k"))).alias("_hi"),
    )
    j = ci.crossJoin(F.broadcast(obs))
    g = F.lit(GRID)
    return j.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_b").cast("long").alias("n_boot"),
        F.round(F.col("_mo") / g, 6).alias("mean_obs"),
        F.round(F.col("_lo") / g, 6).alias("lo95"),
        F.round(F.col("_hi") / g, 6).alias("hi95"),
    )


def runs_test(
    df: DataFrame, value_col: str, order_col: str, group_col: str
) -> DataFrame:
    """Wald–Wolfowitz runs test (1940) per group → (grp, n_above,
    n_below, n_runs, z, p_value): is each group's sequence of
    above/below-median signs random in ``order_col`` order, or does it
    cluster (regime shifts, level drift) / alternate (negative
    feedback)? The distribution-free "is this metric stream actually
    i.i.d." check that pairs with CUSUM: CUSUM finds WHERE the shift
    is, the runs test says whether serial structure exists at all.

    Per-group median = the ⌈n/2⌉-th order statistic of the RAW stored
    values (no arithmetic, so both engines binarize identically);
    values equal to the median drop (Wald–Wolfowitz's rule). Runs
    counted with one lag window over the deterministic (order_col)
    total order; z uses mu = 2ab/(a+b)+1 and the exact runs variance.
    Every window is PARTITIONED by group — no single-partition
    exchange anywhere, so the plan scales with the number of groups."""
    src = df.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    wg = Window.partitionBy("grp")
    ranked = src.withColumn("_n", F.count("*").over(wg)).withColumn(
        "_rn",
        F.row_number().over(wg.orderBy("_v", "_o")),
    )
    med = (
        ranked.filter(
            F.col("_rn") == F.floor((F.col("_n") + 1) / 2.0)
        )
        .groupBy("grp")
        .agg(F.min("_v").alias("_m"))
    )
    signed = (
        src.join(F.broadcast(med), "grp")
        .filter(F.col("_v") != F.col("_m"))
        .select(
            "grp", "_o",
            (F.col("_v") > F.col("_m")).cast("int").alias("_s"),
        )
    )
    w = Window.partitionBy("grp").orderBy("_o")
    flips = signed.withColumn(
        "_new", (F.col("_s") != F.lag("_s").over(w)).cast("int")
    )
    agg = flips.groupBy("grp").agg(
        F.sum("_s").alias("_a"),
        F.sum(F.lit(1) - F.col("_s")).alias("_b"),
        (F.coalesce(F.sum("_new"), F.lit(0)) + 1).alias("_r"),
    )
    a = F.col("_a").cast("double")
    b = F.col("_b").cast("double")
    nn = a + b
    mu = 2.0 * a * b / nn + 1.0
    sigma = F.sqrt(
        2.0 * a * b * (2.0 * a * b - nn) / (nn * nn * (nn - 1.0))
    )
    z = F.when(sigma > 0, (F.col("_r") - mu) / sigma)
    return agg.select(
        "grp",
        F.col("_a").cast("long").alias("n_above"),
        F.col("_b").cast("long").alias("n_below"),
        F.col("_r").cast("long").alias("n_runs"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def levene_var(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown–Forsythe / Levene variance-homogeneity test → single row
    (k, n, ssb, ssw, f_stat): one-way ANOVA on the absolute deviations
    |x − median_g| from each group's median — "do the k arms have the
    same SPREAD", the robust precondition check the plain ANOVA/t
    family silently assumes. Median (not mean) centering is the
    Brown–Forsythe form: heavy tails cannot fake a variance shift.

    Per-group median = the ⌈n/2⌉-th order statistic of the RAW stored
    values (one partitioned rank window, no arithmetic — both engines
    center identically); the F statistic then reuses the exact
    2^-20-grid ANOVA machinery, so every sum is grid-quantized and
    engine-identical."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    wg = Window.partitionBy("_g")
    ranked = src.withColumn("_n", F.count("*").over(wg)).withColumn(
        "_rn", F.row_number().over(wg.orderBy("_v"))
    )
    med = (
        ranked.filter(F.col("_rn") == F.floor((F.col("_n") + 1) / 2.0))
        .groupBy("_g")
        .agg(F.min("_v").alias("_med"))
    )
    z = src.join(F.broadcast(med), "_g").select(
        "_g", F.abs(F.col("_v") - F.col("_med")).alias("_z")
    )
    return anova_oneway(z, "_z", "_g")


def cohens_d(
    df: DataFrame, value_col: str, side_col: Column
) -> DataFrame:
    """Cohen's d standardized mean difference between two arms →
    single row (n_a, n_b, mean_a, mean_b, sd_pooled, d): the EFFECT
    SIZE companion to ab_ztest/mann_whitney — significance says "the
    arms differ", d says by how many pooled standard deviations,
    which is what survives a 100×-n scale-up (p-values only shrink).

    Exact-math contract: arm means land on the 2^-20 grid, squared
    deviations are re-quantized onto the grid before summing (the
    anova_oneway discipline), so the pooled variance is an exact
    integer-scaled ratio — engine-identical before the 6dp round.
    Two partial-aggregatable passes, no window, no global sort."""
    src = df.select(
        side_col.alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_v").isNotNull() & F.col("_g").isin("a", "b")
    )
    gm = src.groupBy("_g").agg(
        F.count("*").alias("_ng"),
        grid(F.avg("_v")).alias("_mg"),
    )
    dev = src.join(F.broadcast(gm), "_g")
    d_w = F.col("_v") - F.col("_mg")
    ssw = dev.agg(
        grid_sum(d_w * d_w).alias("_ssw")
    )
    wide = gm.agg(
        F.sum(F.when(F.col("_g") == "a", F.col("_ng"))).alias("_na"),
        F.sum(F.when(F.col("_g") == "b", F.col("_ng"))).alias("_nb"),
        F.min(F.when(F.col("_g") == "a", F.col("_mg"))).alias("_ma"),
        F.min(F.when(F.col("_g") == "b", F.col("_mg"))).alias("_mb"),
    )
    j = wide.crossJoin(ssw)
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    sp = F.sqrt(F.col("_ssw") / (na + nb - 2.0))
    d = F.when(sp > 0, (F.col("_ma") - F.col("_mb")) / sp)
    return j.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round("_ma", 6).alias("mean_a"),
        F.round("_mb", 6).alias("mean_b"),
        F.round(sp, 6).alias("sd_pooled"),
        F.round(d, 6).alias("d"),
    )


def cliffs_delta(
    df: DataFrame, value_col: str, side_col: Column
) -> DataFrame:
    """Cliff's delta ordinal effect size → single row (n_a, n_b, u,
    delta, magnitude): δ = P(a > b) − P(a < b) over all cross-arm
    pairs, the distribution-free effect size that pairs with
    mann_whitney the way cohens_d pairs with the t/z family — valid
    under any monotone transform of the metric.

    Never touches pairs: δ = 2U/(n_a·n_b) − 1 where U is the tie-
    adjusted rank-sum statistic from ONE distinct-value prefix window
    (midranks on the 0.5 grid — exact IEEE sums, engine-identical).
    |δ| bands follow Romano et al. 2006 (0.147/0.33/0.474)."""
    tagged = df.select(
        F.col(value_col).cast("double").alias("_v"),
        side_col.alias("_side"),
    ).filter(F.col("_v").isNotNull() & F.col("_side").isNotNull())
    side = F.col("_side")
    t = value_ranks(
        tagged, "_v",
        t=F.count(F.when(side.isin("a", "b"), 1)),
        _ca=F.count(F.when(side == "a", 1)),
        _cb=F.count(F.when(side == "b", 1)),
    )
    agg = t.agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(F.col("_mr") * F.col("_ca")).alias("_ra"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    u = F.col("_ra") - na * (na + 1.0) / 2.0
    # one arm absent: no cross-arm pair, no delta, no magnitude
    delta = F.when(
        na * nb > 0, 2.0 * u / (na.cast("double") * nb) - 1.0
    )
    mag = (
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .when(delta.isNotNull(), "large")
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u, 6).alias("u"),
        F.round(delta, 6).alias("delta"),
        mag.alias("magnitude"),
    )


def mood_median_test(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Mood's median test → single row (k, n_used, n_above, n_below,
    chi2, p_value): χ² independence of "above vs below the GRAND
    median" across k groups — the maximally robust (if low-power)
    k-sample location test; it only trusts each value's side of one
    order statistic, so arbitrary outliers cannot move it.

    Grand median = first raw stored value whose cumulative count
    reaches ⌈n/2⌉, from a per-DISTINCT-value prefix window (bounded by
    the value domain — the midrank exemption, never a row sort).
    Values equal to the median drop (Mood's rule); all cells are exact
    integers, E = row·col/n exact ratios, Wilson–Hilferty p."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    pv = src.groupBy("_v").agg(F.count("*").alias("_t"))
    w = (
        Window.partitionBy()
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pv.withColumn("_cum", F.sum("_t").over(w))
    tot = pv.agg(F.sum("_t").alias("_n"))
    med = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("_cum") >= F.ceil(F.col("_n") / 2.0))
        .agg(F.min("_v").alias("_med"))
    )
    cells = (
        src.crossJoin(F.broadcast(med))
        .filter(F.col("_v") != F.col("_med"))
        .groupBy("_g")
        .agg(
            F.count(F.when(F.col("_v") > F.col("_med"), 1)).alias("_ab"),
            F.count(F.when(F.col("_v") < F.col("_med"), 1)).alias("_be"),
        )
    )
    totals = cells.agg(
        F.count("*").alias("_k"),
        F.sum("_ab").alias("_ta"),
        F.sum("_be").alias("_tb"),
        F.sum(F.col("_ab") + F.col("_be")).alias("_nu"),
    )
    j = cells.crossJoin(F.broadcast(totals))
    ng = (F.col("_ab") + F.col("_be")).cast("double")
    nu = F.col("_nu").cast("double")
    ea = ng * F.col("_ta") / nu
    eb = ng * F.col("_tb") / nu
    term = (
        (F.col("_ab") - ea) * (F.col("_ab") - ea) / ea
        + (F.col("_be") - eb) * (F.col("_be") - eb) / eb
    )
    out = j.groupBy("_k", "_ta", "_tb", "_nu").agg(
        F.sum(term).alias("_chi2")
    )
    return out.select(
        F.col("_k").cast("long").alias("k"),
        F.col("_nu").cast("long").alias("n_used"),
        F.col("_ta").cast("long").alias("n_above"),
        F.col("_tb").cast("long").alias("n_below"),
        F.round("_chi2", 6).alias("chi2"),
        F.round(
            chi2_p_value(F.col("_chi2"), F.col("_k") - 1), 6
        ).alias("p_value"),
    )


def bartlett_var(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Bartlett's test of equal variances → single row (k, n, t_stat,
    p_value): the normal-theory variance-homogeneity test — more
    powerful than Brown–Forsythe (levene_var) when tails really are
    normalish, and the classical pre-check for pooled-variance ANOVA.
    T = ((N−k)·ln S_p² − Σ(n_g−1)·ln s_g²) / C with Bartlett's C
    correction, T ~ χ²(k−1).

    Per-group sums of squared deviations use the 2^-20-grid two-pass
    (anova_oneway discipline) so every variance is an exact integer-
    scaled ratio; ln of identical doubles is identical. Groups with
    n_g < 2 or zero spread are excluded (no log domain errors) and the
    reported k counts what the statistic used."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    gm = src.groupBy("_g").agg(
        F.count("*").alias("_ng"),
        grid(F.avg("_v")).alias("_mg"),
    )
    dev = src.join(F.broadcast(gm), "_g")
    d_w = F.col("_v") - F.col("_mg")
    ss = (
        dev.groupBy("_g", "_ng")
        .agg(grid_sum(d_w * d_w).alias("_ss"))
        .filter((F.col("_ng") >= 2) & (F.col("_ss") > 0))
    )
    ag = ss.agg(
        F.count("*").alias("_k"),
        F.sum("_ng").alias("_n"),
        F.sum("_ss").alias("_ssp"),
        F.sum(
            (F.col("_ng") - 1.0)
            * F.log(F.col("_ss") / (F.col("_ng") - 1.0))
        ).alias("_slog"),
        F.sum(1.0 / (F.col("_ng") - 1.0)).alias("_sinv"),
    )
    nk = (F.col("_n") - F.col("_k")).cast("double")
    kk = F.col("_k").cast("double")
    sp2 = F.col("_ssp") / nk
    c = 1.0 + (F.col("_sinv") - 1.0 / nk) / (3.0 * (kk - 1.0))
    t_stat = (nk * F.log(sp2) - F.col("_slog")) / c
    return ag.select(
        F.col("_k").cast("long").alias("k"),
        F.col("_n").cast("long").alias("n"),
        F.round(t_stat, 6).alias("t_stat"),
        F.round(
            chi2_p_value(t_stat, F.col("_k") - 1), 6
        ).alias("p_value"),
    )


def poisson_rate_test(
    df: DataFrame,
    side_col: Column,
    exposure_a: float,
    exposure_b: float,
) -> DataFrame:
    """Two-sample Poisson rate test → single row (c_a, c_b, rate_a,
    rate_b, z, p_value): are two event streams arriving at the same
    rate per unit exposure? The counting-process companion to
    proportions_test — rates instead of fractions, for throughput /
    error-rate / arrival monitoring where n has no natural ceiling.

    z = (r_a − r_b)/√(c_a/t_a² + c_b/t_b²) (normal approximation on
    the exact integer counts — every input to the ratio is exact, so
    both engines see bit-identical z). ONE conditional-aggregate pass;
    exposures are caller literals (known observation windows)."""
    agg = df.select(side_col.alias("_s")).agg(
        F.count(F.when(F.col("_s") == "a", 1)).alias("_ca"),
        F.count(F.when(F.col("_s") == "b", 1)).alias("_cb"),
    )
    ca = F.col("_ca").cast("double")
    cb = F.col("_cb").cast("double")
    ra = ca / F.lit(float(exposure_a))
    rb = cb / F.lit(float(exposure_b))
    se = F.sqrt(
        ca / F.lit(float(exposure_a) ** 2)
        + cb / F.lit(float(exposure_b) ** 2)
    )
    z = F.when(se > 0, (ra - rb) / se)
    return agg.select(
        F.col("_ca").cast("long").alias("c_a"),
        F.col("_cb").cast("long").alias("c_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def jarque_bera(df: DataFrame, value_col: str) -> DataFrame:
    """Jarque–Bera normality test → single row (n, skewness,
    kurtosis, jb, p_value): JB = n/6·(S² + (K−3)²/4) from the third
    and fourth standardized moments — the cheap "is this metric even
    approximately normal" gate before any normal-theory test in this
    module (ab_ztest, bartlett_var, grubbs_test).

    Three partial-aggregatable passes: grid mean → grid sd →
    standardized-moment sums. Each z³/z⁴ term is floor-quantized to
    the 2^-20 grid BEFORE summing (standardizing first keeps the
    quantized terms small enough for exact BIGINT sums — raw fourth
    powers of a 0..500 metric would overflow the 2^53 exact-integer
    range at corpus scale)."""
    src = df.select(
        F.col(value_col).cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    m1 = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
    )
    d = src.crossJoin(F.broadcast(m1))
    dev = F.col("_v") - F.col("_m")
    m2 = d.groupBy("_n", "_m").agg(
        grid_sum(dev * dev).alias("_ss")
    )
    sd = grid(F.sqrt(F.col("_ss") / F.col("_n").cast("double")))
    m2 = m2.withColumn("_sd", sd)
    z = (F.col("_v") - F.col("_m")) / F.col("_sd")
    mom = (
        src.crossJoin(F.broadcast(m2))
        .groupBy("_n", "_sd")
        .agg(
            grid_sum(z * z * z).alias("_s3"),
            grid_sum(z * z * z * z).alias("_s4"),
        )
    )
    nn = F.col("_n").cast("double")
    s = F.col("_s3") / nn
    k = F.col("_s4") / nn
    jb = nn / 6.0 * (s * s + (k - 3.0) * (k - 3.0) / 4.0)
    return mom.select(
        F.col("_n").cast("long").alias("n"),
        F.round(s, 6).alias("skewness"),
        F.round(k, 6).alias("kurtosis"),
        F.round(jb, 6).alias("jb"),
        F.round(chi2_p_value(jb, F.lit(2)), 6).alias("p_value"),
    )


def grubbs_test(df: DataFrame, value_col: str) -> DataFrame:
    """Grubbs' maximum-deviation outlier test → single row (n, mean,
    sd, outlier, g_stat): G = max|x − x̄|/s, flagging the single most
    extreme value — the classical "is THIS point an outlier" readout
    that complements the bulk z-score sweep (anomaly_zscore flags
    many, Grubbs names the worst one with a test statistic).

    Grid mean + grid-quantized squared deviations (exact ratios);
    the outlier row is picked by TakeOrdered on (|dev| DESC, v ASC) —
    a bounded per-partition heap with a deterministic tie-break,
    never a global sort."""
    src = df.select(
        F.col(value_col).cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    m1 = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
    )
    d = src.crossJoin(F.broadcast(m1))
    dev = F.col("_v") - F.col("_m")
    m2 = d.groupBy("_n", "_m").agg(
        grid_sum(dev * dev).alias("_ss")
    )
    sd = F.sqrt(F.col("_ss") / F.col("_n").cast("double"))
    worst = (
        d.select("_v", F.abs(dev).alias("_ad"))
        .orderBy(F.col("_ad").desc(), F.col("_v").asc())
        .limit(1)
        .select(F.col("_v").alias("_out"), "_ad")
    )
    j = m2.crossJoin(F.broadcast(worst))
    g = F.when(sd > 0, F.col("_ad") / sd)
    return j.select(
        F.col("_n").cast("long").alias("n"),
        F.round("_m", 6).alias("mean"),
        F.round(sd, 6).alias("sd"),
        F.col("_out").alias("outlier"),
        F.round(g, 6).alias("g_stat"),
    )


def sign_test(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Paired sign test → single row (n_pos, n_neg, n_tie, z,
    p_value): did ``y`` beat ``x`` more often than chance, counting
    only directions? The assumption-free floor of the paired family —
    wilcoxon_signed_rank adds magnitudes, this only trusts signs, so
    it survives arbitrary per-pair scale differences.

    ONE conditional-aggregate pass over exact integer counts; normal
    approximation with ±0.5 continuity on B ~ Bin(n, ½). Ties drop
    (the standard rule) and are reported."""
    agg = df.select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(
        F.col("_x").isNotNull() & F.col("_y").isNotNull()
    ).agg(
        F.count(F.when(F.col("_y") > F.col("_x"), 1)).alias("_p"),
        F.count(F.when(F.col("_y") < F.col("_x"), 1)).alias("_m"),
        F.count(F.when(F.col("_y") == F.col("_x"), 1)).alias("_t"),
    )
    p = F.col("_p").cast("double")
    m = F.col("_m").cast("double")
    nn = p + m
    z = F.when(
        nn > 0,
        (F.abs(p - nn / 2.0) - 0.5) / F.sqrt(nn / 4.0),
    )
    z = F.when(z < 0, F.lit(0.0)).otherwise(z)  # inside the ±0.5 band
    return agg.select(
        F.col("_p").cast("long").alias("n_pos"),
        F.col("_m").cast("long").alias("n_neg"),
        F.col("_t").cast("long").alias("n_tie"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(z), 6).alias("p_value"),
    )


def trimmed_stats(
    df: DataFrame, value_col: str, alpha: float = 0.1
) -> DataFrame:
    """α-trimmed and winsorized location → single row (n, n_trimmed,
    trimmed_mean, winsor_lo, winsor_hi, winsor_mean): drop the ⌊αn⌋
    smallest and largest values (trimmed), or clamp them to the
    boundary order statistics (winsorized) — the robust-location pair
    between the mean (α=0) and the median (α→0.5), standard for
    latency/metric reporting where a handful of stragglers should not
    own the average.

    Never sorts rows: ranks come from a per-DISTINCT-value prefix
    window (bounded by the value domain); each retained value
    contributes kept_count · floor(v·2^20) to an exact BIGINT sum, so
    both means are exact integer-scaled ratios on any engine."""
    g_frac = float(alpha)
    src = df.select(
        F.col(value_col).cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    cum = value_ranks(src, "_v")
    tot = cum.agg(F.sum("_t").alias("_n"))
    j = cum.crossJoin(F.broadcast(tot))
    g = F.floor(F.col("_n") * F.lit(g_frac))
    lo_rank = g + 1
    hi_rank = F.col("_n") - g
    kept = F.greatest(
        F.lit(0),
        F.least(F.col("_bef") + F.col("_t"), hi_rank)
        - F.greatest(F.col("_bef") + 1, lo_rank)
        + 1,
    )
    qv = F.floor(F.col("_v") * GRID).cast("long")
    # winsorized: every value clamps to the boundary order statistics
    lo_hit = (F.col("_bef") < lo_rank) & (
        F.col("_bef") + F.col("_t") >= lo_rank
    )
    hi_hit = (F.col("_bef") < hi_rank) & (
        F.col("_bef") + F.col("_t") >= hi_rank
    )
    bounds = j.agg(
        F.min(F.when(lo_hit, F.col("_v"))).alias("_vlo"),
        F.min(F.when(hi_hit, F.col("_v"))).alias("_vhi"),
    )
    jj = j.crossJoin(F.broadcast(bounds))
    clamped = F.least(
        F.greatest(F.col("_v"), F.col("_vlo")), F.col("_vhi")
    )
    agg = jj.groupBy("_n", "_vlo", "_vhi").agg(
        F.sum(kept * qv).alias("_ts"),
        F.sum(kept).alias("_tn"),
        F.sum(
            F.col("_t") * F.floor(clamped * GRID).cast("long")
        ).alias("_ws"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_tn").cast("long").alias("n_trimmed"),
        F.round(
            F.col("_ts").cast("double") / F.col("_tn") / GRID, 6
        ).alias("trimmed_mean"),
        F.round("_vlo", 6).alias("winsor_lo"),
        F.round("_vhi", 6).alias("winsor_hi"),
        F.round(
            F.col("_ws").cast("double") / F.col("_n") / GRID, 6
        ).alias("winsor_mean"),
    )


def durbin_watson(
    df: DataFrame, value_col: str, order_col: str, group_col: str
) -> DataFrame:
    """Durbin–Watson serial-correlation statistic per group → (grp,
    n, dw): DW = Σ(e_t − e_{t−1})²/Σe_t² over mean-centered residuals
    in ``order_col`` order — ~2 means no lag-1 autocorrelation, →0
    positive, →4 negative. The regression-residual companion to the
    runs test: runs_test binarizes, DW keeps magnitudes.

    Residuals center on the per-group 2^-20-grid mean; both quadratic
    sums floor-quantize each term onto the grid before summing (exact
    BIGINT-scaled sums), so DW is an exact ratio. One partitioned lag
    window per group — no single-partition exchange."""
    src = df.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    gm = src.groupBy("grp").agg(
        grid(F.avg("_v")).alias("_mg")
    )
    e = src.join(F.broadcast(gm), "grp").select(
        "grp", "_o", (F.col("_v") - F.col("_mg")).alias("_e")
    )
    w = Window.partitionBy("grp").orderBy("_o")
    lagged = e.withColumn("_el", F.lag("_e").over(w))
    diff = F.col("_e") - F.col("_el")
    agg = lagged.groupBy("grp").agg(
        F.count("*").alias("n"),
        grid_sum(F.when(F.col("_el").isNotNull(), diff * diff)).alias("_num"),
        grid_sum(F.col("_e") * F.col("_e")).alias("_den"),
    )
    dw = F.when(F.col("_den") > 0, F.col("_num") / F.col("_den"))
    return agg.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(dw, 6).alias("dw"),
    )


def ljung_box(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_col: str,
    h: int = 3,
) -> DataFrame:
    """Ljung–Box portmanteau test per group → (grp, n, q_stat,
    p_value): Q = n(n+2)·Σ_{k≤h} r_k²/(n−k) over the first h sample
    autocorrelations of the mean-centered series — "is there ANY
    serial structure in the first h lags", the whiteness gate before
    trusting i.i.d.-assuming tests on a metric stream (acf shows the
    shape; this is the test).

    Per-group grid-mean centering; every numerator/denominator term
    floor-quantizes onto the 2^-20 grid before its BIGINT-scaled sum,
    so each r_k is an exact ratio. ONE partitioned window pass
    computes all h lags; Q ~ χ²(h) via Wilson–Hilferty."""
    if h < 1:
        raise ValueError(f"ljung_box needs h >= 1, got {h}")
    src = df.select(
        F.col(group_col).alias("grp"),
        F.col(order_col).alias("_o"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    gm = src.groupBy("grp").agg(
        grid(F.avg("_v")).alias("_mg")
    )
    z = src.join(F.broadcast(gm), "grp").select(
        "grp", "_o", (F.col("_v") - F.col("_mg")).alias("_z")
    )
    w = Window.partitionBy("grp").orderBy("_o")
    for k in range(1, h + 1):
        z = z.withColumn(f"_z{k}", F.lag("_z", k).over(w))
    aggs = [
        F.count("*").alias("_n"),
        grid_sum(F.col("_z") * F.col("_z")).alias("_den"),
    ]
    for k in range(1, h + 1):
        aggs.append(
            grid_sum(
                F.when(
                    F.col(f"_z{k}").isNotNull(),
                    F.col("_z") * F.col(f"_z{k}"),
                )
            ).alias(f"_num{k}")
        )
    agg = z.groupBy("grp").agg(*aggs)
    nn = F.col("_n").cast("double")
    q = F.lit(0.0)
    for k in range(1, h + 1):
        rk = F.col(f"_num{k}") / F.col("_den")
        q = q + rk * rk / (nn - k)
    q = nn * (nn + 2.0) * q
    return agg.select(
        "grp",
        F.col("_n").cast("long").alias("n"),
        F.round(q, 6).alias("q_stat"),
        F.round(chi2_p_value(q, F.lit(h)), 6).alias("p_value"),
    )


def cronbach_alpha(
    df: DataFrame, item_cols: "list[str]"
) -> DataFrame:
    """Cronbach's α internal-consistency reliability → single row
    (n, k, sum_item_var, total_var, alpha): α = k/(k−1)·(1 −
    Σσ²_item/σ²_total) over k item scores per subject — do the k
    signals (quality heuristics, rater scores, detector outputs)
    measure one underlying trait, the standard gate before averaging
    them into a single quality score.

    Complete rows only (every item non-null, so n describes every
    variance). Item and total-score variances use the two-pass 2^-20
    grid (means gridded, squared deviations re-quantized) — exact
    ratios; the row total sums items in a FIXED left-to-right order,
    identical in both engines. Two partial-aggregatable passes."""
    k = len(item_cols)
    if k < 2:
        raise ValueError(f"cronbach_alpha needs >= 2 items, got {k}")
    src = df.select(
        *[
            F.col(c).cast("double").alias(f"_x{j}")
            for j, c in enumerate(item_cols)
        ]
    )
    for j in range(k):
        src = src.filter(F.col(f"_x{j}").isNotNull())
    total = F.col("_x0")
    for j in range(1, k):
        total = total + F.col(f"_x{j}")
    src = src.withColumn("_tot", total)
    cols = [f"_x{j}" for j in range(k)] + ["_tot"]
    m1 = src.agg(
        F.count("*").alias("_n"),
        *[
            grid(F.avg(c)).alias(f"_m{c}")
            for c in cols
        ],
    )
    d = src.crossJoin(F.broadcast(m1))
    ss_aggs = []
    for c in cols:
        dev = F.col(c) - F.col(f"_m{c}")
        ss_aggs.append(
            grid_sum(dev * dev).alias(f"_ss{c}")
        )
    m2 = d.groupBy("_n").agg(*ss_aggs)
    nn = F.col("_n").cast("double")
    item_var = F.lit(0.0)
    for j in range(k):
        item_var = item_var + F.col(f"_ss_x{j}") / (nn - 1.0)
    tot_var = F.col("_ss_tot") / (nn - 1.0)
    alpha = (
        F.lit(k / (k - 1.0))
        * (F.lit(1.0) - item_var / tot_var)
    )
    return m2.select(
        F.col("_n").cast("long").alias("n"),
        F.lit(k).cast("long").alias("k"),
        F.round(item_var, 6).alias("sum_item_var"),
        F.round(tot_var, 6).alias("total_var"),
        F.round(alpha, 6).alias("alpha"),
    )


def odds_ratio_2x2(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Odds ratio with Wald CI over one 2×2 table → single row (n11,
    n10, n01, n00, odds_ratio, log_or, ci_lo, ci_hi): OR =
    (n11·n00)/(n10·n01), the association readout for paired binary
    outcomes that chi2/cramérs-V only test — with the 95% CI on the
    log scale (ln OR ± 1.96·√(Σ 1/cell)) that says whether "2× the
    odds" is signal or noise.

    ONE conditional-aggregate pass; all four cells are exact
    integers, so OR and its CI are exact expressions of them. A zero
    cell yields NULL ratio/CI (reported, not masked — callers wanting
    the Haldane +0.5 correction can add it upstream)."""
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    agg = df.filter(a.isNotNull() & b.isNotNull()).agg(
        F.count(F.when((a == 1) & (b == 1), 1)).alias("_n11"),
        F.count(F.when((a == 1) & (b == 0), 1)).alias("_n10"),
        F.count(F.when((a == 0) & (b == 1), 1)).alias("_n01"),
        F.count(F.when((a == 0) & (b == 0), 1)).alias("_n00"),
    )
    n11 = F.col("_n11").cast("double")
    n10 = F.col("_n10").cast("double")
    n01 = F.col("_n01").cast("double")
    n00 = F.col("_n00").cast("double")
    ok = (n11 > 0) & (n10 > 0) & (n01 > 0) & (n00 > 0)
    orr = F.when(ok, n11 * n00 / (n10 * n01))
    lor = F.when(ok, F.log(n11 * n00 / (n10 * n01)))
    se = F.when(
        ok,
        F.sqrt(1.0 / n11 + 1.0 / n10 + 1.0 / n01 + 1.0 / n00),
    )
    return agg.select(
        F.col("_n11").cast("long").alias("n11"),
        F.col("_n10").cast("long").alias("n10"),
        F.col("_n01").cast("long").alias("n01"),
        F.col("_n00").cast("long").alias("n00"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(lor, 6).alias("log_or"),
        F.round(F.exp(lor - 1.96 * se), 6).alias("ci_lo"),
        F.round(F.exp(lor + 1.96 * se), 6).alias("ci_hi"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Kruskal–Wallis H test → single row (k, n, h_stat, p_value):
    the k-sample rank ANOVA — mann_whitney's generalization the same
    way anova_oneway generalizes the z-test, and the robust check
    behind anova when the metric is heavy-tailed. H = 12/(n(n+1))·
    Σ n_g(r̄_g − (n+1)/2)², divided by the tie correction
    1 − Σ(t³−t)/(n³−n); H ~ χ²(k−1).

    Midranks from ONE distinct-value prefix window (0.5-grid — exact
    IEEE rank sums); per-group MEAN ranks are grid-floored before the
    quadratic (ratio-floor rule), so the between-group sum is exact.
    No row sort, no single-partition data movement — the window runs
    over distinct values only."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    pv = src.groupBy("_v", "_g").agg(F.count("*").alias("_c"))
    per_val = value_ranks(pv, "_v", t=F.sum("_c"))
    ranked = pv.join(per_val, "_v")
    grp = ranked.groupBy("_g").agg(
        F.sum("_c").alias("_ng"),
        F.sum(F.col("_mr") * F.col("_c")).alias("_rg"),
    )
    ties = per_val.agg(
        F.sum("_t").alias("_n"),
        F.sum(
            F.col("_t").cast("double") * F.col("_t") * F.col("_t")
            - F.col("_t")
        ).alias("_ties"),
    )
    j = grp.crossJoin(F.broadcast(ties))
    nn = F.col("_n").cast("double")
    rbar = grid(F.col("_rg") / F.col("_ng"))
    dev = rbar - (nn + 1.0) / 2.0
    agg = j.agg(
        F.count("*").alias("_k"),
        F.min("_n").alias("_nn"),
        F.min("_ties").alias("_tt"),
        F.sum(F.col("_ng") * dev * dev).alias("_sb"),
    )
    n2 = F.col("_nn").cast("double")
    h = 12.0 / (n2 * (n2 + 1.0)) * F.col("_sb")
    # n < 2 has no tie correction (0/0) and no sampling distribution
    c = 1.0 - F.when(n2 > 1.0, F.col("_tt") / (n2 * n2 * n2 - n2))
    hc = F.when(c > 0, h / c)
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.col("_nn").cast("long").alias("n"),
        F.round(hc, 6).alias("h_stat"),
        F.round(
            F.when(F.col("_k") > 1, chi2_p_value(hc, F.col("_k") - 1)), 6
        ).alias("p_value"),
    )


def hhi_concentration(
    df: DataFrame, key_col: str, weight_col: "str | None" = None
) -> DataFrame:
    """Herfindahl–Hirschman concentration index → single row (k,
    total, hhi, hhi_norm): Σ share², the standard "how concentrated
    is this corpus over sources/domains/shards" readout — 1/k (even)
    to 1.0 (monopoly); hhi_norm rescales to [0, 1] independent of k.
    The single-number companion to the diversity entropy family, and
    the skew early-warning for partition planning (a high-HHI key
    column WILL hot-spot a shuffle at 100 TB).

    Shares are exact ratios of BIGINT counts (or 2^-20-grid weight
    sums); each share² floor-quantizes to the 2^-40 grid before the
    final bounded sum, so group-iteration order cannot move the
    result. One partial-aggregated groupBy."""
    if weight_col is None:
        g = df.select(F.col(key_col).alias("_k")).filter(
            F.col("_k").isNotNull()
        ).groupBy("_k").agg(F.count("*").cast("long").alias("_c"))
    else:
        g = (
            df.select(
                F.col(key_col).alias("_k"),
                F.col(weight_col).cast("double").alias("_w"),
            )
            .filter(F.col("_k").isNotNull() & F.col("_w").isNotNull())
            .groupBy("_k")
            .agg(F.sum(F.floor(F.col("_w") * GRID)).alias("_c"))
        )
    tot = g.agg(F.sum("_c").alias("_tot"))
    j = g.crossJoin(F.broadcast(tot))
    share = F.col("_c").cast("double") / F.col("_tot")
    agg = j.groupBy("_tot").agg(
        F.count("*").alias("_kk"),
        grid_sum(share * share, GRID * GRID).alias("_hhi"),
    )
    kk = F.col("_kk").cast("double")
    hhi = F.col("_hhi")
    norm = F.when(
        F.col("_kk") > 1, (hhi - 1.0 / kk) / (1.0 - 1.0 / kk)
    )
    return agg.select(
        F.col("_kk").cast("long").alias("k"),
        F.col("_tot").cast("long").alias("total"),
        F.round(hhi, 6).alias("hhi"),
        F.round(norm, 6).alias("hhi_norm"),
    )


def fleiss_kappa(
    df: DataFrame,
    subject_col: str,
    rater_col: str,
    category_col: str,
    k_raters: int,
) -> DataFrame:
    """Fleiss' κ multi-rater agreement → single row (n_subjects,
    k_raters, p_bar, p_e, kappa): chance-corrected agreement when
    EVERY subject gets k categorical ratings — the k-rater
    generalization of cohens_kappa, the standard readout for "do our
    k annotators/detectors agree beyond chance" before trusting
    majority-vote labels.

    Complete blocks only: subjects with exactly ``k_raters`` ratings
    (the friedman_test discipline — partial blocks would silently
    bias P̄). P̄ derives from Σn_ij² (exact integers), P̄_e from
    category shares (exact ratios, share² floor-quantized at 2^-40
    before the bounded sum). Two keyed aggregations, no window."""
    if k_raters < 2:
        raise ValueError(
            f"fleiss_kappa needs k_raters >= 2, got {k_raters}"
        )
    src = df.select(
        F.col(subject_col).alias("_s"),
        F.col(rater_col).alias("_r"),
        F.col(category_col).alias("_c"),
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_r").isNotNull()
        & F.col("_c").isNotNull()
    )
    per_subj = src.groupBy("_s").agg(F.count("*").alias("_nr"))
    complete = per_subj.filter(F.col("_nr") == k_raters).select("_s")
    cells = (
        src.join(complete, "_s")
        .groupBy("_s", "_c")
        .agg(F.count("*").alias("_nij"))
    )
    subj = cells.groupBy("_s").agg(
        F.sum(F.col("_nij") * F.col("_nij")).alias("_sq")
    )
    kk = float(k_raters)
    top = subj.agg(
        F.count("*").alias("_ns"),
        F.sum("_sq").alias("_ssq"),
    )
    cat = cells.groupBy("_c").agg(F.sum("_nij").alias("_cj"))
    cat_tot = cat.crossJoin(F.broadcast(top))
    share = F.col("_cj").cast("double") / (
        F.col("_ns").cast("double") * F.lit(kk)
    )
    pe = cat_tot.agg(
        grid_sum(share * share, GRID * GRID).alias("_pe"),
        F.min("_ns").alias("_ns"),
        F.min("_ssq").alias("_ssq"),
    )
    ns = F.col("_ns").cast("double")
    p_bar = (F.col("_ssq") - ns * kk) / (ns * kk * (kk - 1.0))
    kappa = F.when(
        F.col("_pe") < 1.0,
        (p_bar - F.col("_pe")) / (1.0 - F.col("_pe")),
    )
    return pe.select(
        F.col("_ns").cast("long").alias("n_subjects"),
        F.lit(k_raters).cast("long").alias("k_raters"),
        F.round(p_bar, 6).alias("p_bar"),
        F.round("_pe", 6).alias("p_e"),
        F.round(kappa, 6).alias("kappa"),
    )


def welch_anova(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA → single row (k, n,
    f_stat, df1, df2): the k-arm location test that does NOT assume
    equal variances — the correct default when bartlett_var rejects
    (classical ANOVA's F is anti-conservative under variance
    imbalance). F* = Σw_g(m_g − m̃)²/(k−1) / (1 + 2(k−2)/(k²−1)·Λ)
    with w_g = n_g/s_g², m̃ = Σw_g m_g/Σw_g,
    Λ = Σ(1 − w_g/W)²/(n_g−1); df2 = (k²−1)/(3Λ).

    Group means/variances from the two-pass 2^-20 grid (exact
    ratios); weights and every downstream scalar are exact
    expressions of them, so F*/df2 are engine-identical before the
    6dp round. Groups need n_g ≥ 2 and s_g² > 0 (reported k counts
    what the statistic used). No p-value column: F(df1, df2) has no
    replayable closed tail; judge the statistic against the critical
    value for (df1, df2)."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    gm = src.groupBy("_g").agg(
        F.count("*").alias("_ng"),
        grid(F.avg("_v")).alias("_mg"),
    )
    dev = src.join(F.broadcast(gm), "_g")
    d_w = F.col("_v") - F.col("_mg")
    ss = (
        dev.groupBy("_g", "_ng", "_mg")
        .agg(grid_sum(d_w * d_w).alias("_ss"))
        .filter((F.col("_ng") >= 2) & (F.col("_ss") > 0))
    )
    w = F.col("_ng").cast("double") / (
        F.col("_ss") / (F.col("_ng") - 1.0)
    )
    ww = ss.select(
        "_ng", "_mg", w.alias("_w")
    )
    tot = ww.agg(
        F.count("*").alias("_k"),
        F.sum("_ng").alias("_n"),
        F.sum("_w").alias("_sw"),
        F.sum(F.col("_w") * F.col("_mg")).alias("_swm"),
    )
    j = ww.crossJoin(F.broadcast(tot))
    mt = F.col("_swm") / F.col("_sw")
    kk = F.col("_k").cast("double")
    num_t = F.col("_w") * (F.col("_mg") - mt) * (F.col("_mg") - mt)
    lam_t = (
        (1.0 - F.col("_w") / F.col("_sw"))
        * (1.0 - F.col("_w") / F.col("_sw"))
        / (F.col("_ng") - 1.0)
    )
    agg = j.groupBy("_k", "_n").agg(
        F.sum(num_t).alias("_num"),
        F.sum(lam_t).alias("_lam"),
    )
    kk = F.col("_k").cast("double")
    f = (F.col("_num") / (kk - 1.0)) / (
        1.0 + 2.0 * (kk - 2.0) / (kk * kk - 1.0) * F.col("_lam")
    )
    df2 = (kk * kk - 1.0) / (3.0 * F.col("_lam"))
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.col("_n").cast("long").alias("n"),
        F.round(f, 6).alias("f_stat"),
        (F.col("_k") - 1).cast("long").alias("df1"),
        F.round(df2, 6).alias("df2"),
    )


def chisq_gof(
    df: DataFrame, key_col: str, probs: "dict[str, float] | None" = None
) -> DataFrame:
    """Chi-square goodness-of-fit of category counts against expected
    shares → single row (k, n, chi2, p_value): uniform expectation by
    default, or caller-supplied ``probs`` (must cover every observed
    level; missing keys fail loud via a null-expected check). The
    one-sample companion to chi2_independence — "is this traffic mix
    / source distribution what we planned", the drift gate on
    categorical pipeline health.

    With ``probs``, the cell table is the UNION of the probs domain and
    the observed levels: an expected-but-unobserved category contributes
    a zero-count cell with E = n·p (and counts toward k/dof) — the
    vanished-category drift case this gate exists for.

    ONE conditional-aggregate pass; observed counts exact integers,
    expected = n·p exact products, chi2 an exact ratio sum over the
    bounded level table; Wilson–Hilferty p on k−1 dof."""
    src = df.select(F.col(key_col).alias("_k")).filter(
        F.col("_k").isNotNull()
    )
    if probs is None:
        cells = src.groupBy("_k").agg(F.count("*").alias("_c"))
        tot = cells.agg(
            F.sum("_c").alias("_n"), F.count("*").alias("_lv")
        )
        j = cells.crossJoin(F.broadcast(tot))
        j = j.withColumn(
            "_e", F.col("_n").cast("double") / F.col("_lv")
        )
    else:
        dom = df.sparkSession.createDataFrame(
            [(str(lvl), float(pr)) for lvl, pr in sorted(probs.items())],
            "_k string, _p double",
        )
        cells = (
            src.withColumn("_k", F.col("_k").cast("string"))
            .groupBy("_k")
            .agg(F.count("*").alias("_c"))
            .join(dom, "_k", "full_outer")
            .select(
                "_k",
                F.coalesce(F.col("_c"), F.lit(0)).alias("_c"),
                "_p",
            )
        )
        tot = cells.agg(
            F.sum("_c").alias("_n"), F.count("*").alias("_lv")
        )
        j = cells.crossJoin(F.broadcast(tot))
        j = j.withColumn("_e", F.col("_n").cast("double") * F.col("_p"))
    bad = F.sum(F.when(F.col("_e").isNull(), 1).otherwise(0))
    term = (
        (F.col("_c") - F.col("_e"))
        * (F.col("_c") - F.col("_e"))
        / F.col("_e")
    )
    agg = j.groupBy("_n", "_lv").agg(
        F.sum(term).alias("_chi2"), bad.alias("_bad")
    )
    chi2 = F.when(F.col("_bad") == 0, F.col("_chi2"))
    return agg.select(
        F.col("_lv").cast("long").alias("k"),
        F.col("_n").cast("long").alias("n"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            chi2_p_value(chi2, F.col("_lv") - 1), 6
        ).alias("p_value"),
    )


def kendall_w(
    df: DataFrame, subject_col: str, rater_col: str, value_col: str
) -> DataFrame:
    """Kendall's W coefficient of concordance → single row
    (n_subjects, m_raters, s_stat, w): do m raters/detectors RANK the
    n subjects the same way? The many-rater generalization of
    rank correlation (W=1 perfect agreement, ~0 none) and the
    ordinal counterpart of fleiss_kappa (which only sees categories).
    W = 12S / (m²(n³−n) − m·ΣT) with the standard tie correction
    T = Σ(t³−t) per rater.

    Complete panels only (subjects rated by every rater — the
    friedman_test discipline). Midranks per rater from per-rater
    DISTINCT-value prefix windows (0.5 grid, bounded by the value
    domain); rank sums, S (squared deviations of 0.5-grid sums) and
    the tie term are all exact — no grid, engine-identical."""
    src = df.select(
        F.col(subject_col).alias("_s"),
        F.col(rater_col).alias("_r"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_r").isNotNull()
        & F.col("_v").isNotNull()
    )
    m = src.select("_r").distinct().count()
    per_subj = src.groupBy("_s").agg(F.count("*").alias("_nr"))
    complete = per_subj.filter(F.col("_nr") == m).select("_s")
    src = src.join(F.broadcast(complete), "_s")
    pv = value_ranks(src, "_v", ["_r"])
    ranked = src.join(pv, ["_r", "_v"]).select(
        "_s", F.col("_mr").alias("_rk")
    )
    rsum = ranked.groupBy("_s").agg(F.sum("_rk").alias("_ri"))
    ties = pv.agg(
        F.sum(
            F.col("_t").cast("double") * F.col("_t") * F.col("_t")
            - F.col("_t")
        ).alias("_tt")
    )
    nn = rsum.agg(F.count("*").alias("_n"), F.sum("_ri").alias("_rt"))
    j = rsum.crossJoin(F.broadcast(nn))
    mean_r = F.col("_rt") / F.col("_n")
    s = j.agg(
        F.min("_n").alias("_n"),
        F.sum(
            (F.col("_ri") - mean_r) * (F.col("_ri") - mean_r)
        ).alias("_sst"),
    ).crossJoin(F.broadcast(ties))
    n_d = F.col("_n").cast("double")
    mm = float(m)
    den = (
        F.lit(mm * mm) * (n_d * n_d * n_d - n_d)
        - F.lit(mm) * F.col("_tt")
    )
    wstat = F.when(den > 0, 12.0 * F.col("_sst") / den)
    return s.select(
        F.col("_n").cast("long").alias("n_subjects"),
        F.lit(m).cast("long").alias("m_raters"),
        F.round("_sst", 6).alias("s_stat"),
        F.round(wstat, 6).alias("w"),
    )


def page_trend(
    df: DataFrame,
    subject_col: str,
    treatment_order_col: str,
    value_col: str,
) -> DataFrame:
    """Page's L trend test → single row (n_blocks, k, l_stat, z,
    p_value): is there a MONOTONE trend across k ordered treatments,
    judged from within-block ranks? Strictly sharper than Friedman
    when the alternative is ordered (dose, time, stage) — Friedman
    asks "any difference", Page asks "this specific ordering".
    L = Σ_j j·R_j; z = (L − m·k(k+1)²/4) / √(m·k²(k+1)²(k−1)/144)
    (upper-tail normal approximation, ties broken as midranks).

    Complete blocks only; within-block midranks over the ≤k-row
    block (0.5 grid — exact), treatment order is the caller's
    integer column (1-based). All sums exact integers/0.5-grid;
    one-sided p via the shared A&S erf tail."""
    src = df.select(
        F.col(subject_col).alias("_s"),
        F.col(treatment_order_col).cast("int").alias("_j"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_j").isNotNull()
        & F.col("_v").isNotNull()
    )
    k = src.select("_j").distinct().count()
    per = src.groupBy("_s").agg(F.count("*").alias("_nb"))
    complete = per.filter(F.col("_nb") == k).select("_s")
    src = src.join(F.broadcast(complete), "_s")
    # midrank within the block: 1 + #smaller + (#equal − 1)/2 via a
    # bounded k×k within-block self-join (k is tiny and fixed)
    other = src.select(
        F.col("_s").alias("_s2"), F.col("_v").alias("_v2")
    )
    joined = src.join(other, F.col("_s") == F.col("_s2"))
    rk = joined.groupBy("_s", "_j").agg(
        (
            F.lit(1.0)
            + F.sum(F.when(F.col("_v2") < F.col("_v"), 1).otherwise(0))
            + (
                F.sum(F.when(F.col("_v2") == F.col("_v"), 1).otherwise(0))
                - 1.0
            )
            / 2.0
        ).alias("_rk")
    )
    rj = rk.groupBy("_j").agg(F.sum("_rk").alias("_rj"))
    blocks = complete.agg(F.count("*").alias("_m"))
    l = rj.agg(
        F.sum(F.col("_j").cast("double") * F.col("_rj")).alias("_l")
    ).crossJoin(F.broadcast(blocks))
    m_d = F.col("_m").cast("double")
    kf = float(k)
    mean_l = m_d * F.lit(kf * (kf + 1.0) ** 2 / 4.0)
    sd_l = F.sqrt(
        m_d * F.lit(kf * kf * (kf + 1.0) ** 2 * (kf - 1.0) / 144.0)
    )
    z = F.when(sd_l > 0, (F.col("_l") - mean_l) / sd_l)
    # the A&S erf polynomial is only valid for x >= 0: reflect for
    # negative z instead of feeding the polynomial out-of-domain
    p = F.when(z >= 0, normal_sf(z)).otherwise(
        F.lit(1.0) - normal_sf(-z)
    )
    return l.select(
        F.col("_m").cast("long").alias("n_blocks"),
        F.lit(k).cast("long").alias("k"),
        F.round("_l", 6).alias("l_stat"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
    )


def energy_distance(
    df: DataFrame, value_col: str, side_col: Column
) -> DataFrame:
    """Energy distance between two samples → single row (n_a, n_b,
    e_xy, e_xx, e_yy, energy): D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'|
    (Székely & Rizzo) — the two-sample test that sees ANY
    distributional difference (location, scale, shape), where
    mann_whitney sees location and ks_test sup-distance only.

    Never touches pairs: values quantize to the 2^-20 BIGINT grid and
    every pairwise-|difference| sum collapses to ONE prefix window
    over DISTINCT values — Σ|x−y| = Σ_v a_v·[v·c<(v) − s<(v) +
    s>(v) − v·c>(v)] with prefix counts/sums of the other sample —
    all exact integer arithmetic (the midrank exemption shape).
    O(distinct values), engine-identical."""
    src = df.select(
        side_col.alias("_g"),
        F.floor(F.col(value_col).cast("double") * GRID).alias("_qv"),
    ).filter(F.col("_g").isNotNull() & F.col("_qv").isNotNull())
    pv = src.groupBy("_qv").agg(
        F.count(F.when(F.col("_g") == "a", 1)).alias("_ca"),
        F.count(F.when(F.col("_g") == "b", 1)).alias("_cb"),
    )
    pv = (
        pv.withColumn("_ca_lt", before("_ca", "_qv"))
        .withColumn("_cb_lt", before("_cb", "_qv"))
        .withColumn("_sa_lt", before(F.col("_ca") * F.col("_qv"), "_qv"))
        .withColumn("_sb_lt", before(F.col("_cb") * F.col("_qv"), "_qv"))
    )
    tot = pv.agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        F.sum(F.col("_ca") * F.col("_qv")).alias("_sa"),
        F.sum(F.col("_cb") * F.col("_qv")).alias("_sb"),
    )
    j = pv.crossJoin(F.broadcast(tot))

    def absum(c_self, c_other_lt, s_other_lt, n_other, s_other):
        # Σ over this block's c_self copies of v, against the OTHER
        # sample: below-part v·c< − s<, above-part (s_tot−s<−v·c_at…)
        # handled via totals: s> = s_tot − s< − v·c_at, c> likewise —
        # but the c_at term cancels (|v−v| = 0), so totals suffice.
        v = F.col("_qv")
        below = v * c_other_lt - s_other_lt
        above = (s_other - s_other_lt) - v * (n_other - c_other_lt)
        # 'above' still includes the equal-value block at distance 0:
        # (s_at − v·c_at) = 0, so no correction is needed.
        return F.sum(c_self * (below + above))

    agg = j.groupBy("_na", "_nb", "_sa", "_sb").agg(
        absum(
            F.col("_ca"), F.col("_cb_lt"), F.col("_sb_lt"),
            F.col("_nb"), F.col("_sb"),
        ).alias("_dxy"),
        absum(
            F.col("_ca"), F.col("_ca_lt"), F.col("_sa_lt"),
            F.col("_na"), F.col("_sa"),
        ).alias("_dxx"),
        absum(
            F.col("_cb"), F.col("_cb_lt"), F.col("_sb_lt"),
            F.col("_nb"), F.col("_sb"),
        ).alias("_dyy"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    # an empty arm has no pairwise expectations: NULL, not a 0/0
    ok = (na > 0) & (nb > 0)
    exy = F.when(ok, F.col("_dxy").cast("double") / (na * nb) / GRID)
    exx = F.when(ok, F.col("_dxx").cast("double") / (na * na) / GRID)
    eyy = F.when(ok, F.col("_dyy").cast("double") / (nb * nb) / GRID)
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(exy, 6).alias("e_xy"),
        F.round(exx, 6).alias("e_xx"),
        F.round(eyy, 6).alias("e_yy"),
        F.round(2.0 * exy - exx - eyy, 6).alias("energy"),
    )


def tukey_hsd(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Tukey HSD pairwise comparisons → one row per group pair (g1,
    g2, n1, n2, diff, se, q_stat): after an ANOVA rejects, WHICH
    groups differ? q = |m₁ − m₂| / √(s²_pooled/2·(1/n₁ + 1/n₂))
    (Tukey–Kramer for unequal n). The statistic column is exact
    grid arithmetic; compare against the studentized-range critical
    value for (k, N−k) offline — that tail has no replayable closed
    form, so no p column (the welch_anova convention).

    Grid two-pass pooled variance (anova_oneway discipline); the
    pair table is |groups|², dashboard-scale, built by self-joining
    the per-group MEANS (never the fact table)."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    gm = src.groupBy("_g").agg(
        F.count("*").alias("_ng"),
        grid(F.avg("_v")).alias("_mg"),
    )
    dev = src.join(F.broadcast(gm), "_g")
    d_w = F.col("_v") - F.col("_mg")
    ssw = dev.agg(
        grid_sum(d_w * d_w).alias("_ssw"),
        F.sum(F.lit(1)).alias("_n"),
        F.count_distinct("_g").alias("_k"),
    )
    a = gm.select(
        F.col("_g").alias("g1"),
        F.col("_ng").alias("_n1"),
        F.col("_mg").alias("_m1"),
    )
    b = gm.select(
        F.col("_g").alias("g2"),
        F.col("_ng").alias("_n2"),
        F.col("_mg").alias("_m2"),
    )
    pairs = a.join(b, F.col("g1") < F.col("g2")).crossJoin(
        F.broadcast(ssw)
    )
    mse = F.col("_ssw") / (F.col("_n") - F.col("_k")).cast("double")
    se = F.sqrt(
        mse / 2.0
        * (1.0 / F.col("_n1") + 1.0 / F.col("_n2"))
    )
    q = F.when(se > 0, F.abs(F.col("_m1") - F.col("_m2")) / se)
    return pairs.select(
        "g1",
        "g2",
        F.col("_n1").cast("long").alias("n1"),
        F.col("_n2").cast("long").alias("n2"),
        F.round(F.col("_m1") - F.col("_m2"), 6).alias("diff"),
        F.round(se, 6).alias("se"),
        F.round(q, 6).alias("q_stat"),
    )


def ransac_line(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_hypotheses: int = 16,
    tol: float = 1.0,
) -> DataFrame:
    """Deterministic RANSAC line fit → single row (n, hypothesis,
    slope, intercept, n_inliers, inlier_frac): the robust alternative
    to least squares when a series has structural outliers — sample
    2-point hypotheses, count inliers within ``tol``, keep the
    hypothesis with the most support (theil_sen is the rank-based
    cousin; RANSAC survives >50% contamination when the inlier band
    is tight).

    Determinism contract (the dsir/boot_ci md5 discipline): hypothesis
    h picks point indices md5(h:1) mod n and md5(h:2) mod n over the
    (x, y)-rank index — a TOTAL order, so tied x values still index
    deterministically across engines/partitionings; degenerate picks
    (equal x) drop. Inlier test |y − (a + b·x)| ≤ tol with
    slope/intercept exact ratios of grid values; winner = max
    inliers, tie → lowest h. Work = |hypotheses| × n with only
    k-bounded broadcasts (the hypothesis/line tables, ≤ n_hypotheses
    rows) — the full point table is never broadcast, never paired
    with itself."""
    if n_hypotheses < 1:
        raise ValueError(
            f"ransac_line needs >= 1 hypotheses, got {n_hypotheses}"
        )
    w = Window.partitionBy().orderBy("_x", "_y")
    pts = (
        df.select(
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
        )
        .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
        .withColumn("_i", F.row_number().over(w) - 1)
    )
    n_row = pts.agg(F.count("*").alias("_n"))
    hyp = df.sparkSession.range(n_hypotheses).select(
        F.col("id").alias("_h")
    )

    def pick(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("ransac"), F.col("_h").cast("string"),
                        F.lit(tag),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")

    hyp = hyp.crossJoin(F.broadcast(n_row)).select(
        "_h",
        (pick("1") % F.col("_n")).alias("_i1"),
        (pick("2") % F.col("_n")).alias("_i2"),
    )
    p1 = pts.select(
        F.col("_i").alias("_i1"),
        F.col("_x").alias("_x1"),
        F.col("_y").alias("_y1"),
    )
    p2 = pts.select(
        F.col("_i").alias("_i2"),
        F.col("_x").alias("_x2"),
        F.col("_y").alias("_y2"),
    )
    # broadcast the ≤n_hypotheses-row side at every step; the point
    # table stays distributed (it is corpus-sized at scale)
    first_pick = p1.join(F.broadcast(hyp), "_i1").select(
        "_h", "_i2", "_x1", "_y1"
    )
    lines = (
        p2.join(F.broadcast(first_pick), "_i2")
        .filter(F.col("_x1") != F.col("_x2"))
        .select(
            "_h",
            (
                (F.col("_y2") - F.col("_y1"))
                / (F.col("_x2") - F.col("_x1"))
            ).alias("_b"),
            F.col("_x1").alias("_xa"),
            F.col("_y1").alias("_ya"),
        )
        .select(
            "_h",
            "_b",
            (F.col("_ya") - F.col("_b") * F.col("_xa")).alias("_a"),
        )
    )
    scored = (
        pts.crossJoin(F.broadcast(lines))
        .groupBy("_h", "_a", "_b")
        .agg(
            F.count(
                F.when(
                    F.abs(
                        F.col("_y")
                        - (F.col("_a") + F.col("_b") * F.col("_x"))
                    )
                    <= tol,
                    1,
                )
            ).alias("_inl")
        )
    )
    best = (
        scored.orderBy(F.col("_inl").desc(), F.col("_h").asc())
        .limit(1)
        .crossJoin(F.broadcast(n_row))
    )
    return best.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_h").cast("long").alias("hypothesis"),
        F.round("_b", 6).alias("slope"),
        F.round("_a", 6).alias("intercept"),
        F.col("_inl").cast("long").alias("n_inliers"),
        F.round(
            F.col("_inl").cast("double") / F.col("_n"), 6
        ).alias("inlier_frac"),
    )


def corr_matrix(
    df: DataFrame, cols: "list[str]"
) -> DataFrame:
    """Pairwise Pearson correlation matrix → one row per ordered pair
    (x, y, n, r): the metric-health overview ("which quality signals
    are redundant") behind feature pruning and the quality-classifier
    input audit — spearman sees monotone association, this sees
    linear, and the gap between them flags outlier leverage.

    Complete rows only (every column non-null, one shared n). Means
    on the 2^-20 grid; every squared/cross deviation term floor-
    re-quantizes before its exact BIGINT-scaled sum (anova_oneway
    discipline), so each r is an exact expression. ONE aggregate pass
    computes all k means, then ONE pass all k(k+1)/2 moment sums —
    the pair table is k², never data-scale."""
    k = len(cols)
    if k < 2:
        raise ValueError(f"corr_matrix needs >= 2 columns, got {k}")
    src = df.select(
        *[
            F.col(c).cast("double").alias(f"_x{j}")
            for j, c in enumerate(cols)
        ]
    )
    for j in range(k):
        src = src.filter(F.col(f"_x{j}").isNotNull())
    m1 = src.agg(
        F.count("*").alias("_n"),
        *[
            grid(F.avg(f"_x{j}")).alias(f"_m{j}")
            for j in range(k)
        ],
    )
    d = src.crossJoin(F.broadcast(m1))
    aggs = []
    for i in range(k):
        for j in range(i, k):
            di = F.col(f"_x{i}") - F.col(f"_m{i}")
            dj = F.col(f"_x{j}") - F.col(f"_m{j}")
            aggs.append(
                grid_sum(di * dj).alias(f"_s{i}_{j}")
            )
    mom = d.groupBy("_n").agg(*aggs)
    rows = []
    for i in range(k):
        for j in range(i + 1, k):
            den = F.sqrt(
                F.col(f"_s{i}_{i}") * F.col(f"_s{j}_{j}")
            )
            r = F.when(den > 0, F.col(f"_s{i}_{j}") / den)
            rows.append(
                mom.select(
                    F.lit(cols[i]).alias("x"),
                    F.lit(cols[j]).alias("y"),
                    F.col("_n").cast("long").alias("n"),
                    F.round(r, 6).alias("r"),
                )
            )
    out = rows[0]
    for extra in rows[1:]:
        out = out.unionByName(extra)
    return out


def anova_effect_sizes(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """ANOVA effect sizes → single row (k, n, eta_sq, omega_sq,
    cohens_f): HOW MUCH of the metric's variance the grouping
    explains — η² = SSB/SST (biased up in small samples), ω² =
    (SSB − (k−1)·MSE)/(SST + MSE) (the unbiased standard), f =
    √(η²/(1−η²)) (the power-analysis input). The effect-size
    companion anova_oneway's F-statistic needs (significance without
    magnitude is how dashboards lie at 100 TB row counts — everything
    is 'significant').

    Identical grid machinery to anova_oneway: SSB/SSW are exact
    BIGINT-scaled sums over 2^-20-grid deviations, so every ratio is
    engine-identical before the 6dp round."""
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    gm = src.groupBy("_g").agg(
        F.count("*").alias("_ng"),
        grid(F.avg("_v")).alias("_mg"),
    )
    tot = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
    )
    dev = src.join(F.broadcast(gm), "_g").crossJoin(F.broadcast(tot))
    d_w = F.col("_v") - F.col("_mg")
    d_t = F.col("_v") - F.col("_m")
    agg = dev.groupBy("_n").agg(
        F.count_distinct("_g").alias("_k"),
        grid_sum(d_w * d_w).alias("_ssw"),
        grid_sum(d_t * d_t).alias("_sst"),
    )
    kk = F.col("_k").cast("double")
    nn = F.col("_n").cast("double")
    ssb = F.col("_sst") - F.col("_ssw")
    mse = F.col("_ssw") / (nn - kk)
    eta = F.when(F.col("_sst") > 0, ssb / F.col("_sst"))
    omega = F.when(
        F.col("_sst") + mse > 0,
        (ssb - (kk - 1.0) * mse) / (F.col("_sst") + mse),
    )
    cf = F.when(eta < 1.0, F.sqrt(eta / (1.0 - eta)))
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.col("_n").cast("long").alias("n"),
        F.round(eta, 6).alias("eta_sq"),
        F.round(omega, 6).alias("omega_sq"),
        F.round(cf, 6).alias("cohens_f"),
    )


def proportions_power(
    df: DataFrame,
    side_col: Column,
    success_col: Column,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> DataFrame:
    """Two-proportion sample-size / detectability readout → single
    row (n_a, n_b, p_a, p_b, abs_lift, n_required, powered): given
    the OBSERVED rates, how many units per arm would a future test
    need to detect this same lift at the given α/power (defaults
    two-sided 5% / 80%), and does the current sample already clear
    it? The planning companion to proportions_test — run the readout
    BEFORE launching the next experiment, on the data you already
    have.

    n = (z_α·√(2p̄q̄) + z_β·√(p₁q₁+p₂q₂))² / Δ² (classical normal
    approximation; z quantiles ride as caller literals — no inverse
    normal needed). All inputs exact integer-count ratios, so the
    formula is engine-identical. ONE conditional-aggregate pass."""
    agg = df.select(
        side_col.alias("_s"), success_col.cast("int").alias("_y")
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull()).agg(
        F.count(F.when(F.col("_s") == "a", 1)).alias("_na"),
        F.sum(F.when(F.col("_s") == "a", F.col("_y"))).alias("_sa"),
        F.count(F.when(F.col("_s") == "b", 1)).alias("_nb"),
        F.sum(F.when(F.col("_s") == "b", F.col("_y"))).alias("_sb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    pa = F.col("_sa").cast("double") / na
    pb = F.col("_sb").cast("double") / nb
    pbar = (F.col("_sa") + F.col("_sb")).cast("double") / (na + nb)
    delta = F.abs(pa - pb)
    num = (
        F.lit(float(z_alpha)) * F.sqrt(2.0 * pbar * (1.0 - pbar))
        + F.lit(float(z_power))
        * F.sqrt(pa * (1.0 - pa) + pb * (1.0 - pb))
    )
    n_req = F.when(delta > 0, F.ceil(num * num / (delta * delta)))
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(pa, 6).alias("p_a"),
        F.round(pb, 6).alias("p_b"),
        F.round(delta, 6).alias("abs_lift"),
        n_req.cast("long").alias("n_required"),
        F.when(
            n_req.isNotNull(),
            (F.least(na, nb) >= n_req).cast("boolean"),
        ).alias("powered"),
    )


def risk_ratio(
    df: DataFrame, exposed_col: str, outcome_col: str
) -> DataFrame:
    """Relative risk with CI → single row (n11, n10, n01, n00, rr,
    ci_lo, ci_hi, nnt): RR = P(outcome|exposed)/P(outcome|unexposed)
    with the log-scale Wald CI, plus number-needed-to-treat 1/|risk
    difference| — the cohort-study readout odds_ratio_2x2 only
    approximates when outcomes are common (OR ≈ RR only for rare
    outcomes; dashboards routinely confuse the two).

    ONE conditional-aggregate pass; all four cells exact integers,
    ln on identical exact ratios, CI = exp(ln RR ± 1.96·SE) with
    SE = √(1/n11 − 1/(n11+n10) + 1/n01 − 1/(n01+n00))."""
    e = F.col(exposed_col).cast("int")
    y = F.col(outcome_col).cast("int")
    agg = df.filter(e.isNotNull() & y.isNotNull()).agg(
        F.count(F.when((e == 1) & (y == 1), 1)).alias("_n11"),
        F.count(F.when((e == 1) & (y == 0), 1)).alias("_n10"),
        F.count(F.when((e == 0) & (y == 1), 1)).alias("_n01"),
        F.count(F.when((e == 0) & (y == 0), 1)).alias("_n00"),
    )
    n11 = F.col("_n11").cast("double")
    n10 = F.col("_n10").cast("double")
    n01 = F.col("_n01").cast("double")
    n00 = F.col("_n00").cast("double")
    ne = n11 + n10
    nu = n01 + n00
    ok = (F.col("_n11") > 0) & (F.col("_n01") > 0) & (ne > 0) & (nu > 0)
    p1 = n11 / ne
    p0 = n01 / nu
    rr = F.when(ok, p1 / p0)
    se = F.when(
        ok, F.sqrt(1.0 / n11 - 1.0 / ne + 1.0 / n01 - 1.0 / nu)
    )
    rd = p1 - p0
    nnt = F.when(ok & (F.abs(rd) > 0), 1.0 / F.abs(rd))
    return agg.select(
        F.col("_n11").cast("long").alias("n11"),
        F.col("_n10").cast("long").alias("n10"),
        F.col("_n01").cast("long").alias("n01"),
        F.col("_n00").cast("long").alias("n00"),
        F.round(rr, 6).alias("rr"),
        F.round(F.exp(F.log(rr) - 1.96 * se), 6).alias("ci_lo"),
        F.round(F.exp(F.log(rr) + 1.96 * se), 6).alias("ci_hi"),
        F.round(nnt, 6).alias("nnt"),
    )


def sprt_binomial(
    df: DataFrame,
    order_col: str,
    side_col: Column,
    success_col: Column,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.2,
) -> DataFrame:
    """Sequential probability ratio test over an ordered stream →
    one row per checkpoint (step, n_b, s_b, llr, decision): Wald's
    SPRT of H1: p = p1 vs H0: p = p0 on arm 'b' successes,
    LLR_t = s_t·ln(p1/p0) + (n_t−s_t)·ln((1−p1)/(1−p0)), with
    accept/reject boundaries ln(β/(1−α)) and ln((1−β)/α) — the
    always-valid-ish early-stopping monitor a daily experiment
    readout needs (fixed-horizon z-tests peeked daily inflate α).

    Checkpoints = distinct ``order_col`` values (days): cumulative
    exact integer counts per checkpoint from ONE prefix window over
    the bounded checkpoint table; ln of exact constants/ratios is
    engine-identical. decision ∈ accept_h0 / reject_h0 / continue
    per checkpoint; the caller reads the first non-continue row."""
    if not (0 < p0 < 1 and 0 < p1 < 1 and p0 != p1):
        raise ValueError(f"need distinct p0, p1 in (0,1): {p0}, {p1}")
    per = (
        df.select(
            F.col(order_col).alias("_t"),
            side_col.alias("_s"),
            success_col.cast("int").alias("_y"),
        )
        .filter(F.col("_s") == "b")
        .groupBy("_t")
        .agg(F.count("*").alias("_c"), F.sum("_y").alias("_k"))
    )
    w = (
        Window.partitionBy()
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per.withColumn("_n", F.sum("_c").over(w)).withColumn(
        "_sb", F.sum("_k").over(w)
    )
    import math as _m

    l_s = _m.log(p1 / p0)
    l_f = _m.log((1.0 - p1) / (1.0 - p0))
    lo = _m.log(beta / (1.0 - alpha))
    hi = _m.log((1.0 - beta) / alpha)
    llr = (
        F.col("_sb").cast("double") * F.lit(l_s)
        + (F.col("_n") - F.col("_sb")).cast("double") * F.lit(l_f)
    )
    decision = (
        F.when(llr >= hi, "reject_h0")
        .when(llr <= lo, "accept_h0")
        .otherwise("continue")
    )
    return cum.select(
        F.col("_t").alias("step"),
        F.col("_n").cast("long").alias("n_b"),
        F.col("_sb").cast("long").alias("s_b"),
        F.round(llr, 6).alias("llr"),
        decision.alias("decision"),
    )


# Acklam's inverse-normal-CDF rational approximation (|rel err| <
# 1.15e-9): three regions with fixed published coefficients, written
# out as explicit Horner chains so the SAME operation order replays
# verbatim in any SQL engine (same contract as erf_approx above).
_ACK_A = (-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00)
_ACK_B = (-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01)
_ACK_C = (-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00)
_ACK_D = (7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00)
_ACK_PLOW = 0.02425


def _ack_tail(q: Column) -> Column:
    a, b, c, d, e, f = (F.lit(x) for x in _ACK_C)
    g, h, i, j = (F.lit(x) for x in _ACK_D)
    num = ((((a * q + b) * q + c) * q + d) * q + e) * q + f
    den = (((g * q + h) * q + i) * q + j) * q + F.lit(1.0)
    return num / den


def _ack_central(p: Column) -> Column:
    a0, a1, a2, a3, a4, a5 = (F.lit(x) for x in _ACK_A)
    b0, b1, b2, b3, b4 = (F.lit(x) for x in _ACK_B)
    q = p - F.lit(0.5)
    r = q * q
    num = ((((a0 * r + a1) * r + a2) * r + a3) * r + a4) * r + a5
    den = ((((b0 * r + b1) * r + b2) * r + b3) * r + b4) * r + F.lit(1.0)
    return num * q / den


def probit_approx(p: Column) -> Column:
    """Inverse normal CDF Φ⁻¹(p) for p in (0, 1) via Acklam's
    rational approximation — deterministic, engine-replayable
    (no libm ``erfinv`` whose implementation varies). NULL outside
    (0, 1)."""
    low = F.lit(_ACK_PLOW)
    return (
        F.when(
            (p > 0) & (p < low), _ack_tail(F.sqrt(F.lit(-2.0) * F.log(p)))
        )
        .when(
            (p >= low) & (p <= F.lit(1.0) - low), _ack_central(p)
        )
        .when(
            (p > F.lit(1.0) - low) & (p < 1),
            -_ack_tail(F.sqrt(F.lit(-2.0) * F.log(F.lit(1.0) - p))),
        )
    )


def cohens_h(
    df: DataFrame,
    flag_col: str,
    side_col,
) -> DataFrame:
    """Cohen's h effect size for two proportions → single row (n_a,
    p_a, n_b, p_b, h): h = 2·asin(√p_a) − 2·asin(√p_b), the
    arcsine-stabilized gap that (unlike the raw difference) means the
    same thing at p≈0.5 and p≈0.01 — the standard effect size to pair
    with a two-proportion power analysis. Rows outside arms 'a'/'b'
    are ignored (two-arm discipline per cohens_d). One conditional
    aggregate; asin/sqrt are IEEE-identical cross-engine at these
    magnitudes and the result rounds to 6dp."""
    side = side_col if isinstance(side_col, Column) else F.col(side_col)
    y = F.col(flag_col).cast("int")
    agg = df.select(side.alias("_g"), y.alias("_y")).filter(
        F.col("_g").isin("a", "b") & F.col("_y").isNotNull()
    ).agg(
        F.count(F.when(F.col("_g") == "a", 1)).alias("_na"),
        F.sum(F.when(F.col("_g") == "a", F.col("_y"))).alias("_sa"),
        F.count(F.when(F.col("_g") == "b", 1)).alias("_nb"),
        F.sum(F.when(F.col("_g") == "b", F.col("_y"))).alias("_sb"),
    )
    pa = F.col("_sa").cast("double") / F.col("_na")
    pb = F.col("_sb").cast("double") / F.col("_nb")
    h = F.lit(2.0) * F.asin(F.sqrt(pa)) - F.lit(2.0) * F.asin(F.sqrt(pb))
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.round(pa, 6).alias("p_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(pb, 6).alias("p_b"),
        F.round(F.when((F.col("_na") > 0) & (F.col("_nb") > 0), h), 6)
        .alias("h"),
    )


def ordinal_assoc(
    df: DataFrame,
    order_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Pair-based ordinal association suite → single row (n, n_pairs,
    s, pairs_xy, tied_x, tied_y, gamma, d_yx, d_xy): Goodman–Kruskal
    gamma = S/(C+D) (ignores all ties) and both Somers' D asymmetries
    D_yx = S/(n_pairs − tied_x), D_xy = S/(n_pairs − tied_y) — the
    tie-handling companions to ``kendall_tau_b``, sharing its bounded-
    series discipline (the pair join is O(len²) per call by contract:
    daily buckets, experiment arms — the caller aggregates first).

    Inputs quantize to the 2^-20 grid before pairing so the tie sets
    agree across engines; S and every pair count are exact integers.

    Every unordered pair of ROWS counts once: pairing is on a
    row_number over (order, x, y), not on ``order_col < order_col``,
    so rows sharing an order value still form their (tied) pairs —
    raw order-key comparison silently dropped them (ADVICE r12). The
    tiebreak is deterministic: rows identical in all three columns
    compare identically whichever gets the smaller index."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(
        F.col(order_col).alias("_o"), q(x_col).alias("_x"), q(y_col).alias("_y")
    )
    wr = Window.orderBy("_o", "_x", "_y")
    src = src.withColumn("_i", F.row_number().over(wr))
    a = src.select(*[F.col(c).alias(c + "a") for c in ("_i", "_x", "_y")])
    b = src.select(*[F.col(c).alias(c + "b") for c in ("_i", "_x", "_y")])
    pairs = a.crossJoin(b).filter(F.col("_ia") < F.col("_ib"))
    dx = F.col("_xa") - F.col("_xb")
    dy = F.col("_ya") - F.col("_yb")
    pa = pairs.agg(
        F.count("*").alias("_n0"),
        F.sum(F.signum(dx) * F.signum(dy)).cast("long").alias("s"),
        F.count(F.when(dx == 0, 1)).alias("_tx"),
        F.count(F.when(dy == 0, 1)).alias("_ty"),
        F.count(F.when((dx != 0) & (dy != 0), 1)).alias("_cd"),
    )
    cnt = src.agg(F.count("*").alias("n"))
    j = pa.crossJoin(F.broadcast(cnt))
    sd = F.col("s").cast("double")
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("_n0").cast("long").alias("n_pairs"),
        "s",
        F.col("_cd").cast("long").alias("pairs_xy"),
        F.col("_tx").cast("long").alias("tied_x"),
        F.col("_ty").cast("long").alias("tied_y"),
        F.round(F.when(F.col("_cd") > 0, sd / F.col("_cd")), 6).alias("gamma"),
        F.round(
            F.when(F.col("_n0") > F.col("_tx"), sd / (F.col("_n0") - F.col("_tx"))),
            6,
        ).alias("d_yx"),
        F.round(
            F.when(F.col("_n0") > F.col("_ty"), sd / (F.col("_n0") - F.col("_ty"))),
            6,
        ).alias("d_xy"),
    )


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    side_col,
    flag_col: str,
) -> DataFrame:
    """Mantel–Haenszel stratified 2×2 analysis → single row (k, n,
    or_mh, chi2, p_value): the common odds ratio across strata plus
    the CMH chi-square (1 dof, no continuity correction) — the
    segment-confounding guard for A/B readouts (``odds_ratio_2x2``
    collapses strata and Simpson's paradox hides in the collapse).

    One groupBy(stratum) with four conditional-aggregate cells, then
    per-stratum terms floor-quantized onto the 2^-20 grid before
    their exact BIGINT-scaled sums (order-independent on every
    engine). Strata where an arm is empty contribute nothing to the
    sums (their NULL terms drop), matching the standard treatment."""
    side = side_col if isinstance(side_col, Column) else F.col(side_col)
    y = F.col(flag_col).cast("int")
    cells = (
        df.select(
            F.col(stratum_col).alias("_st"), side.alias("_g"), y.alias("_y")
        )
        .filter(F.col("_g").isin("a", "b") & F.col("_y").isNotNull())
        .groupBy("_st")
        .agg(
            F.count(F.when((F.col("_g") == "a") & (F.col("_y") == 1), 1)).alias("_a"),
            F.count(F.when((F.col("_g") == "a") & (F.col("_y") == 0), 1)).alias("_b"),
            F.count(F.when((F.col("_g") == "b") & (F.col("_y") == 1), 1)).alias("_c"),
            F.count(F.when((F.col("_g") == "b") & (F.col("_y") == 0), 1)).alias("_d"),
        )
    )
    ni = (F.col("_a") + F.col("_b") + F.col("_c") + F.col("_d")).cast("double")
    r1 = (F.col("_a") + F.col("_b")).cast("double")  # arm a total
    r2 = (F.col("_c") + F.col("_d")).cast("double")  # arm b total
    c1 = (F.col("_a") + F.col("_c")).cast("double")  # successes
    c2 = (F.col("_b") + F.col("_d")).cast("double")  # failures
    agg = cells.agg(
        F.count("*").cast("int").alias("k"),
        F.sum(ni.cast("long")).alias("_n"),
        grid_sum(F.col("_a").cast("double") * F.col("_d") / ni).alias("_sad"),
        grid_sum(F.col("_b").cast("double") * F.col("_c") / ni).alias("_sbc"),
        F.sum(F.col("_a")).cast("double").alias("_sa"),
        grid_sum(r1 * c1 / ni).alias("_se"),
        grid_sum(
            F.when(
                ni > 1.0,
                r1 * r2 * c1 * c2 / (ni * ni * (ni - F.lit(1.0))),
            )
        ).alias("_sv"),
    )
    or_mh = F.when(F.col("_sbc") > 0, F.col("_sad") / F.col("_sbc"))
    dev = F.col("_sa") - F.col("_se")
    chi2 = F.when(F.col("_sv") > 0, dev * dev / F.col("_sv"))
    return agg.select(
        "k",
        F.col("_n").cast("long").alias("n"),
        F.round(or_mh, 6).alias("or_mh"),
        F.round(chi2, 6).alias("chi2"),
        F.round(chi2_p_value(chi2, F.lit(1.0)), 6).alias("p_value"),
    )


def cochran_armitage(
    df: DataFrame,
    dose_col: str,
    flag_col: str,
) -> DataFrame:
    """Cochran–Armitage trend test → single row (k, n, n_pos, t, z,
    p_value): does success rate trend monotonically across ORDERED
    dose groups (rollout ramp stages, quality tiers)? T =
    Σ s_i(r_i − n_i R/N) with the group score s_i = the dose value;
    Var(T) = (R/N)(1−R/N)·(Σ n_i s_i² − (Σ n_i s_i)²/N); two-sided
    normal p. One groupBy(dose) pass; every sum is over the BOUNDED
    dose-group table and the (r_i, n_i, s_i) cells are exact
    integers/grid values."""
    s = grid(F.col(dose_col).cast("double"))
    y = F.col(flag_col).cast("int")
    g = (
        df.select(s.alias("_s"), y.alias("_y"))
        .filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
        .groupBy("_s")
        .agg(F.count("*").alias("_ni"), F.sum("_y").alias("_ri"))
    )
    agg = g.agg(
        F.count("*").cast("int").alias("k"),
        F.sum("_ni").alias("_n"),
        F.sum("_ri").alias("_r"),
        grid_sum(F.col("_s") * F.col("_ri")).alias("_sr"),
        grid_sum(F.col("_s") * F.col("_ni")).alias("_sn"),
        grid_sum(F.col("_s") * F.col("_s") * F.col("_ni")).alias("_ssn"),
    )
    nn = F.col("_n").cast("double")
    rr = F.col("_r").cast("double")
    t = F.col("_sr") - F.col("_sn") * rr / nn
    var = (
        (rr / nn)
        * (F.lit(1.0) - rr / nn)
        * (F.col("_ssn") - F.col("_sn") * F.col("_sn") / nn)
    )
    z = F.when(var > 0, t / F.sqrt(var))
    p = F.lit(2.0) * normal_sf(F.abs(z))
    return agg.select(
        "k",
        F.col("_n").cast("long").alias("n"),
        F.col("_r").cast("long").alias("n_pos"),
        F.round(t, 6).alias("t"),
        F.round(z, 6).alias("z"),
        F.round(F.when(z.isNotNull(), p), 6).alias("p_value"),
    )


def partial_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation → single row (n, r_xy, r_xz,
    r_yz, r_partial): the x–y linear association with the confounder
    z regressed out, r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    — the "is this metric relationship real or just both trending
    with traffic" check. Complete rows only; the three Pearson r's
    share ONE moment pass with the ``corr_matrix`` grid discipline
    (grid means, floor-re-quantized cross-deviation sums)."""
    src = df.select(
        F.col(x_col).cast("double").alias("_x0"),
        F.col(y_col).cast("double").alias("_x1"),
        F.col(z_col).cast("double").alias("_x2"),
    )
    for j in range(3):
        src = src.filter(F.col(f"_x{j}").isNotNull())
    m1 = src.agg(
        F.count("*").alias("_n"),
        *[grid(F.avg(f"_x{j}")).alias(f"_m{j}") for j in range(3)],
    )
    d = src.crossJoin(F.broadcast(m1))
    aggs = []
    for i in range(3):
        for j in range(i, 3):
            di = F.col(f"_x{i}") - F.col(f"_m{i}")
            dj = F.col(f"_x{j}") - F.col(f"_m{j}")
            aggs.append(grid_sum(di * dj).alias(f"_s{i}_{j}"))
    mom = d.groupBy("_n").agg(*aggs)

    def _r(i, j):
        den = F.sqrt(F.col(f"_s{i}_{i}") * F.col(f"_s{j}_{j}"))
        return F.when(den > 0, F.col(f"_s{i}_{j}") / den)

    rxy, rxz, ryz = _r(0, 1), _r(0, 2), _r(1, 2)
    pden = F.sqrt(
        (F.lit(1.0) - rxz * rxz) * (F.lit(1.0) - ryz * ryz)
    )
    rp = F.when(pden > 0, (rxy - rxz * ryz) / pden)
    return mom.select(
        F.col("_n").cast("long").alias("n"),
        F.round(rxy, 6).alias("r_xy"),
        F.round(rxz, 6).alias("r_xz"),
        F.round(ryz, 6).alias("r_yz"),
        F.round(rp, 6).alias("r_partial"),
    )


def anderson_darling(df: DataFrame, value_col: str) -> DataFrame:
    """Anderson–Darling normality test → single row (n, a2, a2_star,
    p_value): the tail-sensitive EDF test (weights 1/(F(1−F)) blow up
    in the tails where KS is blind) — the right normality gate before
    parametric effect sizes on heavy-tailed metrics.

    Closed-form over the DISTINCT-value table: for a tie-block of
    count t at cumulative-before b, Σ(2i−1) over its rank span is
    t(2b+t) and the reversed-index weight sums to t(2(n−b)−t), so
    A² = −n − (1/n)·Σ_blocks [t(2b+t)·ln Φ(z) + t(2(n−b)−t)·
    ln(1−Φ(z))] needs ONE prefix window over distinct values — no
    row-level sort. Φ via the shared A&S erf polynomial, clamped to
    [1e-12, 1−1e-12]; block terms floor-quantized onto the 2^-20
    grid before the exact sum. a2_star is the Stephens small-sample
    correction A²(1 + 0.75/n + 2.25/n²) with the D'Agostino
    case-3 (estimated μ, σ) piecewise p-value."""
    src = df.select(F.col(value_col).cast("double").alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    mom = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
    )
    withm = src.crossJoin(F.broadcast(mom))
    ss = withm.groupBy("_n", "_m").agg(
        grid_sum((F.col("_v") - F.col("_m")) ** 2).alias("_ss")
    )
    pv = value_ranks(src, "_v")
    j = pv.crossJoin(F.broadcast(ss))
    nn = F.col("_n").cast("double")
    sd = F.when(nn > 1.0, F.sqrt(F.col("_ss") / (nn - 1.0)))
    # compute z only when sd > 0: a constant column (sd = 0) must
    # surface NULL, not 0/0 — which is NaN with ANSI off and a
    # DIVIDE_BY_ZERO error with ANSI on (ADVICE r12)
    z = F.when(sd > 0, (F.col("_v") - F.col("_m")) / sd)
    phi = F.when(
        z >= 0, F.lit(1.0) - normal_sf(z)
    ).otherwise(normal_sf(-z))
    # least/greatest SKIP nulls AND order NaN above every value, so
    # clamp only when z resolved to a real number — else a NULL sd
    # (n = 1) or a 0/0 NaN z (constant column, sd = 0) would
    # resurrect as the clamp bound; constant input must surface NULL
    phi = F.when(
        z.isNotNull() & ~F.isnan(z),
        F.greatest(F.least(phi, F.lit(1.0 - 1e-12)), F.lit(1e-12)),
    )
    t = F.col("_t").cast("double")
    b = F.col("_bef").cast("double")
    term = t * (2.0 * b + t) * F.log(phi) + t * (
        2.0 * (nn - b) - t
    ) * F.log(F.lit(1.0) - phi)
    agg = j.groupBy("_n").agg(
        grid_sum(term).alias("_s")
    )
    n2 = F.col("_n").cast("double")
    a2 = -n2 - F.col("_s") / n2
    astar = a2 * (
        F.lit(1.0) + F.lit(0.75) / n2 + F.lit(2.25) / (n2 * n2)
    )
    p = (
        F.when(
            astar >= 0.6,
            F.exp(F.lit(1.2937) - F.lit(5.709) * astar + F.lit(0.0186) * astar * astar),
        )
        .when(
            astar >= 0.34,
            F.exp(F.lit(0.9177) - F.lit(4.279) * astar - F.lit(1.38) * astar * astar),
        )
        .when(
            astar >= 0.2,
            F.lit(1.0)
            - F.exp(F.lit(-8.318) + F.lit(42.796) * astar - F.lit(59.938) * astar * astar),
        )
        .otherwise(
            F.lit(1.0)
            - F.exp(F.lit(-13.436) + F.lit(101.14) * astar - F.lit(223.73) * astar * astar)
        )
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(a2, 6).alias("a2"),
        F.round(astar, 6).alias("a2_star"),
        F.round(F.greatest(F.least(p, F.lit(1.0)), F.lit(0.0)), 6).alias(
            "p_value"
        ),
    )


def fligner_killeen(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Fligner–Killeen homogeneity-of-variance test → single row (k,
    n, chi2, p_value): the rank-based spread test that stays honest
    under non-normality — the robust member of the levene/bartlett
    trio (bartlett collapses under heavy tails, levene under extreme
    skew; FK ranks |x − med_g| and maps ranks through normal scores).

    Pipeline, all on bounded distinct-value tables: per-group lower
    median via a per-group prefix window (mood_median convention);
    |x − med| re-quantized to the grid; POOLED midranks via one
    prefix window; normal scores a = Φ⁻¹(½ + r/(2(N+1))) via the
    shared Acklam probit; X² = Σ n_g(Ā_g − ā)²/V² with every mean
    grid-floored and every sum floor-quantized; X² ~ χ²(k−1)."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    gv = src.groupBy("_g", "_v").agg(F.count("*").alias("_c"))
    wg = (
        Window.partitionBy("_g")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gv_cum = gv.withColumn("_cum", F.sum("_c").over(wg))
    ng = gv.groupBy("_g").agg(F.sum("_c").alias("_ng"))
    med = (
        gv_cum.join(ng, "_g")
        .filter(
            F.col("_cum") >= F.ceil(F.col("_ng") / 2.0)
        )
        .groupBy("_g")
        .agg(F.min("_v").alias("_med"))
    )
    dev = (
        gv.join(med, "_g")
        .select(
            "_g",
            grid(F.abs(F.col("_v") - F.col("_med"))).alias("_d"),
            "_c",
        )
        .groupBy("_g", "_d")
        .agg(F.sum("_c").alias("_c"))
    )
    per_d = value_ranks(dev, "_d", t=F.sum("_c"))
    tot = per_d.agg(F.sum("_t").alias("_nn"))
    per_d = per_d.crossJoin(F.broadcast(tot))
    nn = F.col("_nn").cast("double")
    a = probit_approx(F.lit(0.5) + F.col("_mr") / (2.0 * (nn + 1.0)))
    per_d = per_d.select("_d", "_nn", a.alias("_a"))
    scored = dev.join(per_d, "_d")
    overall = scored.agg(
        grid_sum(F.col("_c") * F.col("_a")).alias("_sa"),
        F.sum("_c").alias("_n2"),
        F.min("_nn").alias("_nn"),
    )
    abar_all = overall.select(
        grid(F.col("_sa") / F.col("_n2")).alias("_abar"),
        F.col("_nn"),
    )
    scored2 = scored.crossJoin(F.broadcast(abar_all))
    v2 = scored2.agg(
        grid_sum(
            F.col("_c")
            * (F.col("_a") - F.col("_abar"))
            * (F.col("_a") - F.col("_abar"))
        ).alias("_sv"),
        F.sum("_c").alias("_n3"),
    )
    per_g = scored2.groupBy("_g").agg(
        F.sum("_c").alias("_ng"),
        grid_sum(F.col("_c") * F.col("_a")).alias("_sag"),
        F.min("_abar").alias("_abar"),
    )
    between = per_g.select(
        "_g",
        "_ng",
        (grid(F.col("_sag") / F.col("_ng")) - F.col("_abar")).alias("_dg"),
    ).agg(
        F.count("*").alias("_k"),
        F.sum(F.col("_ng")).alias("_n4"),
        grid_sum(F.col("_ng") * F.col("_dg") * F.col("_dg")).alias("_sb"),
    )
    fin = between.crossJoin(v2)
    n3 = F.col("_n3").cast("double")
    vv = F.when(n3 > 1.0, F.col("_sv") / (n3 - 1.0))
    chi2 = F.when(vv > 0, F.col("_sb") / vv)
    return fin.select(
        F.col("_k").cast("int").alias("k"),
        F.col("_n4").cast("long").alias("n"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.when(
                F.col("_k") > 1,
                chi2_p_value(chi2, (F.col("_k") - 1).cast("double")),
            ),
            6,
        ).alias("p_value"),
    )


def brunner_munzel(
    df: DataFrame, value_col: str, side_col
) -> DataFrame:
    """Brunner–Munzel generalized Wilcoxon test → single row (n_a,
    n_b, p_hat, w_stat, df_approx, p_value): tests P(X<Y) + ½P(X=Y)
    = ½ WITHOUT mann_whitney's equal-variance assumption — the
    two-arm rank test that stays calibrated when the arms have
    different shapes (exactly the heavy-vs-light-tail case A/B
    metrics hit). Rows outside arms 'a'/'b' are ignored.

    Everything reduces over the distinct-value table: pooled AND
    within-arm midranks come from the same per-value (ca, cb) counts
    via three prefix sums; the rank-variance terms S_k² use the
    placement identity (R − R_k): every midrank is on the 0.5 grid,
    means are grid-floored, squared terms floor-quantized (exact
    engine-identical sums). W is referenced to the normal tail
    (two-sided); df_approx (Welch form) is reported for small-n
    reading."""
    side = side_col if isinstance(side_col, Column) else F.col(side_col)
    src = df.select(
        side.alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isin("a", "b"))
    pv = (
        value_ranks(
            src, "_v",
            _ca=F.count(F.when(F.col("_g") == "a", 1)),
            _cb=F.count(F.when(F.col("_g") == "b", 1)),
        )
        .withColumn("_befa", before("_ca", "_v"))
        .withColumn("_befb", before("_cb", "_v"))
    )
    rp = F.col("_mr")
    ra = F.col("_befa") + (F.col("_ca") + 1.0) / 2.0
    rb = F.col("_befb") + (F.col("_cb") + 1.0) / 2.0
    tot = pv.agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        (F.sum(F.col("_ca") * rp)).alias("_sra"),
        (F.sum(F.col("_cb") * rp)).alias("_srb"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    means = tot.select(
        "_na",
        "_nb",
        F.when(na > 0, grid(F.col("_sra") / na)).alias("_rba"),
        F.when(nb > 0, grid(F.col("_srb") / nb)).alias("_rbb"),
    )
    j = pv.crossJoin(F.broadcast(means))
    da = rp - ra - F.col("_rba") + (na + 1.0) / 2.0
    db = rp - rb - F.col("_rbb") + (nb + 1.0) / 2.0
    var = j.agg(
        F.min("_na").alias("_na"),
        F.min("_nb").alias("_nb"),
        F.min("_rba").alias("_rba"),
        F.min("_rbb").alias("_rbb"),
        grid_sum(F.col("_ca") * da * da).alias("_ssa"),
        grid_sum(F.col("_cb") * db * db).alias("_ssb"),
    )
    na2 = F.col("_na").cast("double")
    nb2 = F.col("_nb").cast("double")
    nn = na2 + nb2
    s2a = F.when(na2 > 1.0, F.col("_ssa") / (na2 - 1.0))
    s2b = F.when(nb2 > 1.0, F.col("_ssb") / (nb2 - 1.0))
    st_a = F.when(nb2 > 0, s2a / (nb2 * nb2))
    st_b = F.when(na2 > 0, s2b / (na2 * na2))
    se2 = st_a / na2 + st_b / nb2
    wstat = F.when(
        se2 > 0, (F.col("_rbb") - F.col("_rba")) / (nn * F.sqrt(se2))
    )
    p_hat = F.when(na2 > 0, (F.col("_rbb") - (nb2 + 1.0) / 2.0) / na2)
    dfw = F.when(
        (st_a > 0) | (st_b > 0),
        (st_a / na2 + st_b / nb2) * (st_a / na2 + st_b / nb2)
        / (
            (st_a / na2) * (st_a / na2) / (na2 - 1.0)
            + (st_b / nb2) * (st_b / nb2) / (nb2 - 1.0)
        ),
    )
    p = F.lit(2.0) * normal_sf(F.abs(wstat))
    return var.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(p_hat, 6).alias("p_hat"),
        F.round(wstat, 6).alias("w_stat"),
        F.round(dfw, 6).alias("df_approx"),
        F.round(F.when(wstat.isNotNull(), p), 6).alias("p_value"),
    )


def newey_west_se(
    df: DataFrame,
    order_col: str,
    value_col: str,
    lags: int = 5,
) -> DataFrame:
    """Newey–West (HAC) standard error of a series mean → single row
    (n, mean, se_iid, se_nw, inflation): long-run variance γ0 +
    2·Σ w_l·γ_l with Bartlett weights w_l = 1 − l/(L+1) — the
    correct uncertainty for an autocorrelated daily metric, where
    the iid se understates by the inflation factor (the A/B-duration
    trap: positively autocorrelated KPIs need inflation² more days).

    One pass: L lag columns inside one window over the bounded
    series, autocovariance cross-products floor-quantized onto the
    2^-20 grid before their exact sums; γ_l uses the standard 1/n
    normalization (all lags share it)."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(F.col(order_col).alias("_o"), v.alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    m = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
    )
    w = Window.orderBy("_o")
    lagged = src.crossJoin(F.broadcast(m)).select(
        "_n",
        "_m",
        (F.col("_v") - F.col("_m")).alias("_d0"),
        *[
            (F.lag("_v", l).over(w) - F.col("_m")).alias(f"_d{l}")
            for l in range(1, lags + 1)
        ],
    )
    agg = lagged.groupBy("_n", "_m").agg(
        grid_sum(F.col("_d0") * F.col("_d0")).alias("_g0"),
        *[
            grid_sum(
                F.when(
                    F.col(f"_d{l}").isNotNull(),
                    F.col("_d0") * F.col(f"_d{l}"),
                )
            ).alias(f"_g{l}")
            for l in range(1, lags + 1)
        ],
    )
    n = F.col("_n").cast("double")
    g0 = F.col("_g0") / n
    lr = g0
    for l in range(1, lags + 1):
        wgt = 1.0 - l / (lags + 1.0)
        lr = lr + F.lit(2.0 * wgt) * (F.col(f"_g{l}") / n)
    se_iid = F.sqrt(g0 / n)
    se_nw = F.when(lr > 0, F.sqrt(lr / n))
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round("_m", 6).alias("mean"),
        F.round(se_iid, 6).alias("se_iid"),
        F.round(se_nw, 6).alias("se_nw"),
        F.round(F.when(se_iid > 0, se_nw / se_iid), 6).alias("inflation"),
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Lorenz curve → one row per population decile (decile, n,
    cum_pop_frac, cum_val_frac): the concentration CURVE behind the
    ``gini`` scalar — "the top decile of users carries X% of
    revenue". Deciles assigned at DISTINCT-VALUE granularity
    ascending (each tie block lands wholly in floor(b·cum_before/n),
    the hosmer_lemeshow discipline — no row sort, no tie
    ambiguity); value mass via fxp sums, cumulative shares by one
    prefix window over the ≤``buckets`` rows."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    pv = value_ranks(src, "_v")
    tot = src.agg(F.count("*").alias("_n"))
    binned = pv.crossJoin(F.broadcast(tot)).withColumn(
        "_d",
        F.floor(F.lit(buckets) * F.col("_bef") / F.col("_n")).cast("int"),
    )
    cells = binned.groupBy("_d").agg(
        F.sum("_t").alias("_nc"),
        grid_sum(F.col("_v") * F.col("_t")).alias("_sv"),
    )
    wc = (
        Window.partitionBy()
        .orderBy("_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = (
        cells.withColumn("_cn", F.sum("_nc").over(wc))
        .withColumn("_cv", F.sum("_sv").over(wc))
    )
    totals = cells.agg(
        F.sum("_nc").alias("_tn"),
        F.sum("_sv").alias("_tv"),
    )
    out = run.crossJoin(F.broadcast(totals))
    return out.select(
        F.col("_d").alias("decile"),
        F.col("_nc").cast("long").alias("n"),
        F.round(F.col("_cn") / F.col("_tn").cast("double"), 6).alias(
            "cum_pop_frac"
        ),
        F.round(
            F.when(F.col("_tv") != 0, F.col("_cv") / F.col("_tv")), 6
        ).alias("cum_val_frac"),
    )


# ---------------------------------------------------------------------------
# Round-13 additions: robust location, method agreement, survival hazard,
# risk-score discrimination, regression diagnostics, process capability,
# reliability. Same disciplines as the r11/r12 suites: decomposable
# aggregates over the fact, 2^-20-grid quantization wherever a sum's
# accumulation order could drift across engines, pair joins only under
# the kendall bounded-series contract.


def hodges_lehmann(df: DataFrame, value_col: str) -> DataFrame:
    """One-sample Hodges–Lehmann estimator → single row (n, n_pairs,
    hl): the median of the n(n+1)/2 Walsh averages (x_i + x_j)/2 over
    i ≤ j — the location estimate dual to the Wilcoxon signed-rank
    test (robust to outliers, ~95% efficient at the normal). The
    pair join is O(len²) by the ``kendall_tau_b`` bounded-series
    contract: daily buckets, experiment arms — the caller aggregates
    first.

    Inputs quantize to the 2^-20 grid, so every Walsh average lands
    exactly on the 2^-21 grid and the median (mean of the two middle
    order statistics) is engine-exact. Pairing is by row_number over
    the value order — ties get arbitrary indices, which is harmless
    because equal values produce identical averages."""
    src = df.select(
        grid(F.col(value_col).cast("double")).alias("_v")
    ).filter(F.col("_v").isNotNull())
    src = src.withColumn("_i", F.row_number().over(Window.orderBy("_v")))
    a = src.select(F.col("_i").alias("_ia"), F.col("_v").alias("_va"))
    b = src.select(F.col("_i").alias("_ib"), F.col("_v").alias("_vb"))
    walsh = (
        a.crossJoin(b)
        .filter(F.col("_ia") <= F.col("_ib"))
        .select(((F.col("_va") + F.col("_vb")) / 2.0).alias("_w"))
    )
    ranked = walsh.withColumn(
        "_r", F.row_number().over(Window.orderBy("_w"))
    )
    cnt = walsh.agg(F.count("*").alias("_m"))
    # median = mean of ranks ceil(m/2) and floor(m/2)+1 (equal when m
    # is odd)
    mid = ranked.crossJoin(F.broadcast(cnt)).filter(
        (F.col("_r") == F.ceil(F.col("_m") / 2))
        | (F.col("_r") == F.floor(F.col("_m") / 2) + 1)
    )
    n = src.agg(F.count("*").alias("n"))
    est = mid.agg(
        F.max("_m").alias("_m"), F.round(F.avg("_w"), 6).alias("hl")
    )
    return n.crossJoin(F.broadcast(est)).select(
        F.col("n").cast("long").alias("n"),
        F.col("_m").cast("long").alias("n_pairs"),
        "hl",
    )


def bland_altman(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Bland–Altman method agreement → single row (n, bias, sd_diff,
    loa_low, loa_high, pct_within): the mean difference between two
    measurement methods and its 95% limits of agreement
    (bias ± 1.96·sd) — the standard replacement for a correlation
    when the question is "can method B substitute for method A".
    pct_within is the observed fraction of differences inside the
    limits (≈ 0.95 when differences are normal).

    Differences quantize to the 2^-20 grid; the mean is grid-floored
    and the variance sum is floor-quantized per row (two passes, same
    shape as ``cuped_adjust``) so bias/sd are engine-identical."""
    d = (
        grid(F.col(a_col).cast("double"))
        - grid(F.col(b_col).cast("double"))
    )
    src = df.select(d.alias("_d")).filter(F.col("_d").isNotNull())
    m = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_d")).alias("_m"),
    )
    c = src.crossJoin(F.broadcast(m))
    dd = F.col("_d") - F.col("_m")
    agg = c.groupBy("_n", "_m").agg(grid_sum128(dd * dd).alias("_ss"))
    nn = F.col("_n").cast("double")
    sd = F.when(nn > 1.0, F.sqrt(F.col("_ss") / (nn - 1.0)))
    lo = F.col("_m") - F.lit(1.96) * sd
    hi = F.col("_m") + F.lit(1.96) * sd
    scored = c.crossJoin(
        F.broadcast(
            agg.select(
                sd.alias("_sd"), lo.alias("_lo"), hi.alias("_hi")
            )
        )
    )
    within = scored.agg(
        F.round(
            F.avg(
                F.when(
                    (F.col("_d") >= F.col("_lo"))
                    & (F.col("_d") <= F.col("_hi")),
                    1.0,
                ).otherwise(0.0)
            ),
            6,
        ).alias("pct_within")
    )
    out = agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_m"), 6).alias("bias"),
        F.round(sd, 6).alias("sd_diff"),
        F.round(lo, 6).alias("loa_low"),
        F.round(hi, 6).alias("loa_high"),
    )
    return out.crossJoin(F.broadcast(within))


def nelson_aalen(
    df: DataFrame,
    subject_col: str,
    ts_col: str,
    censor_horizon_days: int = 7,
) -> DataFrame:
    """Nelson–Aalen cumulative hazard over subject lifetimes →
    (t_days, n_risk, d_events, cum_hazard, var_hazard): H(t) =
    Σ_{u ≤ t} d_u/n_u with variance Σ d_u/n_u² — the estimator whose
    slope reads as the instantaneous churn rate (where ``kaplan_meier``
    gives the survival level). Same lifetime/censoring construction
    as :func:`kaplan_meier`: lifetime = last − first activity per
    subject; subjects active within ``censor_horizon_days`` of the
    corpus end are censored.

    Two aggregates + one ordered window over the distinct-lifetime
    curve table; the running sums add exact d/n ratios in t order, so
    both engines accumulate identically."""
    life = df.groupBy(F.col(subject_col).alias("_s")).agg(
        F.min(ts_col).alias("_first"), F.max(ts_col).alias("_last")
    )
    mx = life.agg(F.max("_last").alias("_mx"))
    life = life.crossJoin(F.broadcast(mx)).select(
        F.datediff(F.col("_last"), F.col("_first")).alias("t_days"),
        (
            F.datediff(F.col("_mx"), F.col("_last"))
            > censor_horizon_days
        ).cast("int").alias("_dead"),
    )
    per_t = life.groupBy("t_days").agg(
        F.count("*").alias("_n_t"), F.sum("_dead").alias("d_events")
    )
    w = Window.orderBy("t_days")
    curve = per_t.withColumn(
        "n_risk",
        F.sum("_n_t").over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ),
    ).filter(F.col("d_events") > 0)
    d = F.col("d_events").cast("double")
    nr = F.col("n_risk").cast("double")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return curve.select(
        "t_days",
        "n_risk",
        "d_events",
        F.round(F.sum(d / nr).over(run), 6).alias("cum_hazard"),
        F.round(F.sum(d / (nr * nr)).over(run), 6).alias("var_hazard"),
    )


def c_index(
    df: DataFrame,
    score_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Harrell's concordance index → single row (n, n_comparable,
    n_concordant, n_tied, c_index): over pairs where subject i has an
    observed event strictly before subject j's time (event_i = 1,
    t_i < t_j), the fraction where the risk score agrees
    (score_i > score_j), with tied scores counted half. THE
    discrimination metric for churn/survival risk scores (0.5 =
    random, 1.0 = perfect ordering).

    The pair join is O(len²) by the ``kendall_tau_b`` bounded-series
    contract (score deciles, cohort summaries — the caller aggregates
    first). Scores and durations quantize to the 2^-20 grid so the
    comparable/concordant/tied sets are engine-identical; every count
    is an exact integer."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(
        q(score_col).alias("_s"),
        q(duration_col).alias("_t"),
        F.col(event_col).cast("int").alias("_e"),
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_t").isNotNull()
        & F.col("_e").isNotNull()
    )
    a = src.select(
        F.col("_s").alias("_sa"), F.col("_t").alias("_ta"), F.col("_e").alias("_ea")
    )
    b = src.select(
        F.col("_s").alias("_sb"), F.col("_t").alias("_tb")
    )
    pairs = a.crossJoin(b).filter(
        (F.col("_ea") == 1) & (F.col("_ta") < F.col("_tb"))
    )
    agg = pairs.agg(
        F.count("*").alias("_np"),
        F.count(F.when(F.col("_sa") > F.col("_sb"), 1)).alias("_nc"),
        F.count(F.when(F.col("_sa") == F.col("_sb"), 1)).alias("_nt"),
    )
    cnt = src.agg(F.count("*").alias("n"))
    j = cnt.crossJoin(F.broadcast(agg))
    c = F.when(
        F.col("_np") > 0,
        (F.col("_nc") + 0.5 * F.col("_nt")) / F.col("_np").cast("double"),
    )
    return j.select(
        F.col("n").cast("long").alias("n"),
        F.col("_np").cast("long").alias("n_comparable"),
        F.col("_nc").cast("long").alias("n_concordant"),
        F.col("_nt").cast("long").alias("n_tied"),
        F.round(c, 6).alias("c_index"),
    )


def _ols_sums(src: DataFrame, by: "list[str]") -> DataFrame:
    """Per-group centered OLS sums (n, sxx, syy, sxy) for (_x, _y)
    columns already on the 2^-20 grid: group means grid-floored, then
    per-row cross products floor-quantized before the exact sum — the
    shared closed-form base for the r13 regression diagnostics."""
    m = src.groupBy(*by).agg(
        F.count("*").alias("_n"),
        grid(F.avg("_x")).alias("_mx"),
        grid(F.avg("_y")).alias("_my"),
    )
    c = src.join(F.broadcast(m), by) if by else src.crossJoin(F.broadcast(m))
    dx = F.col("_x") - F.col("_mx")
    dy = F.col("_y") - F.col("_my")
    return c.groupBy(*by, "_n", "_mx", "_my").agg(
        grid_sum128(dx * dx).alias("_sxx"),
        grid_sum128(dy * dy).alias("_syy"),
        grid_sum128(dx * dy).alias("_sxy"),
    )


def breusch_pagan(df: DataFrame, y_col: str, x_col: str) -> DataFrame:
    """Breusch–Pagan heteroskedasticity test (single regressor,
    Koenker studentized form) → single row (n, slope, lm_stat,
    p_value): fit y ~ x by OLS, then test whether the squared
    residuals correlate with x — LM = n·R² of the auxiliary
    regression e² ~ x, distributed chi-square(1) under
    homoskedasticity. The standard pre-check before trusting plain
    OLS standard errors (``newey_west_se`` is the repair when it
    fires).

    Closed form over two grid-exact sum passes: slope = Sxy/Sxx from
    the first; residuals e = (y−ȳ) − b(x−x̄) are per-row IEEE doubles
    of those exact inputs, and the auxiliary R² comes from exact
    128-bit integer moments of (x, e²/2^12) grid units — scale-free
    up to the e²·2^8 quantization, which resolves residual
    magnitudes from ~0.1 to ~1e7 (outside that band, rescale the
    inputs first; the quantized e² degenerates to 0 below it and
    overflows the long floor above). p-value exact for 1 dof:
    2·Φ̄(√LM) via the shared A&S polynomial."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(q(x_col).alias("_x"), q(y_col).alias("_y")).filter(
        F.col("_x").isNotNull() & F.col("_y").isNotNull()
    )
    s1 = _ols_sums(src, [])
    b = F.when(F.col("_sxx") > 0, F.col("_sxy") / F.col("_sxx"))
    base = s1.select(
        "_n", "_mx", "_my", b.alias("_b")
    )
    c = src.crossJoin(F.broadcast(base))
    e = (F.col("_y") - F.col("_my")) - F.col("_b") * (
        F.col("_x") - F.col("_mx")
    )
    # e² at price scale reaches ~1e9-1e10; squaring it AGAIN on the
    # absolute 2^-20 grid either overflows the long floor (large
    # data) or collapses to zero (small residuals). The auxiliary R²
    # only needs EXACT moments, so: quantize u = e²/2^12 onto the
    # grid (floor argument e²·2^8 — long-ranged for |e| up to ~1e7),
    # lift u and x to their exact integer grid units, and accumulate
    # the five UNCENTERED moments in decimal(38,0) (hugeint in the
    # SQL twin) — exact products, exact sums, scale-free. r² =
    # (n·Sxu − Sx·Su)² / ((n·Sxx − Sx²)(n·Suu − Su²)) converts each
    # exact integer difference to double once.
    dec = "decimal(38,0)"
    X = F.floor(F.col("_x") * GRID).cast(dec)
    U = F.floor(e * e / 4096.0 * GRID).cast(dec)
    mom = c.select(X.alias("_X"), U.alias("_U"))
    s2 = mom.agg(
        F.count("*").cast(dec).alias("_n2"),
        F.sum("_X").alias("_sx"),
        F.sum("_U").alias("_su"),
        F.sum(F.col("_X") * F.col("_U")).alias("_sxu"),
        F.sum(F.col("_X") * F.col("_X")).alias("_sxx2"),
        F.sum(F.col("_U") * F.col("_U")).alias("_suu"),
    )
    a = (
        F.col("_n2") * F.col("_sxu") - F.col("_sx") * F.col("_su")
    ).cast("double")
    bb = (
        F.col("_n2") * F.col("_sxx2") - F.col("_sx") * F.col("_sx")
    ).cast("double")
    cc = (
        F.col("_n2") * F.col("_suu") - F.col("_su") * F.col("_su")
    ).cast("double")
    r2 = F.when((bb > 0) & (cc > 0), a * a / (bb * cc))
    lm = F.col("_n2").cast("double") * r2
    out = s2.select(
        F.col("_n2").cast("long").alias("n"),
        F.round(lm, 6).alias("lm_stat"),
        F.round(F.lit(2.0) * normal_sf(F.sqrt(lm)), 6).alias("p_value"),
    )
    slope = base.select(F.round(F.col("_b"), 6).alias("slope"))
    return slope.crossJoin(F.broadcast(out)).select(
        "n", "slope", "lm_stat", "p_value"
    )


def chow_test(
    df: DataFrame, y_col: str, x_col: str, break_col: str
) -> DataFrame:
    """Chow structural-break test → single row (n, n_a, n_b, rss_pooled,
    rss_a, rss_b, f_stat, df1, df2): does the linear relation y ~ x
    have the same (intercept, slope) on both sides of a break
    (``break_col`` boolean: pre/post a launch, two segments)?
    F = ((RSS_p − RSS_a − RSS_b)/2) / ((RSS_a + RSS_b)/(n − 4)).
    No p-value column: F(2, n−4) has no replayable closed tail (the
    ``welch_anova`` convention) — judge against the critical value.

    Each RSS is the closed form Syy − Sxy²/Sxx over the shared
    grid-exact sum machinery — three decomposable aggregate passes,
    no residual materialization."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(
        q(x_col).alias("_x"),
        q(y_col).alias("_y"),
        F.col(break_col).cast("boolean").alias("_g"),
    ).filter(
        F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
        & F.col("_g").isNotNull()
    )
    rss = lambda: F.when(  # noqa: E731
        F.col("_sxx") > 0,
        F.col("_syy") - F.col("_sxy") * F.col("_sxy") / F.col("_sxx"),
    ).otherwise(F.col("_syy"))
    pooled = _ols_sums(src.select("_x", "_y"), []).select(
        F.col("_n").alias("_np"), rss().alias("_rp")
    )
    seg = (
        _ols_sums(src.selectExpr("_g", "_x", "_y"), ["_g"])
        .select("_g", "_n", rss().alias("_r"))
    )
    two = seg.agg(
        F.count("*").alias("_k"),
        F.max(F.when(F.col("_g"), F.col("_n"))).alias("_na"),
        F.max(F.when(~F.col("_g"), F.col("_n"))).alias("_nb"),
        F.sum(F.col("_r")).alias("_rs"),
        F.max(F.when(F.col("_g"), F.col("_r"))).alias("_ra"),
        F.max(F.when(~F.col("_g"), F.col("_r"))).alias("_rb"),
    )
    j = pooled.crossJoin(F.broadcast(two))
    nn = F.col("_np").cast("double")
    f = F.when(
        (F.col("_k") == 2) & (nn > 4.0) & (F.col("_rs") > 0),
        ((F.col("_rp") - F.col("_rs")) / 2.0)
        / (F.col("_rs") / (nn - 4.0)),
    )
    return j.select(
        F.col("_np").cast("long").alias("n"),
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round("_rp", 6).alias("rss_pooled"),
        F.round("_ra", 6).alias("rss_a"),
        F.round("_rb", 6).alias("rss_b"),
        F.round(f, 6).alias("f_stat"),
        F.lit(2).alias("df1"),
        (F.col("_np") - 4).cast("long").alias("df2"),
    )


def granger_lag1(
    df: DataFrame, ts_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Lag-1 Granger causality test → single row (n, rss_r, rss_u,
    b_ylag, b_xlag, f_stat, df2): does x's past improve the
    prediction of y beyond y's own past? Restricted OLS
    y_t ~ y_{t−1} vs unrestricted y_t ~ y_{t−1} + x_{t−1};
    F = (RSS_r − RSS_u)/(RSS_u/(n−3)), distributed F(1, n−3) under
    the null. No p-value column (the ``welch_anova`` convention:
    the F tail has no replayable closed form); F(1, k) = t²(k), so
    √F reads directly against t critical values.

    Input is an already-bucketed series (ts, x, y) — the caller
    aggregates the fact table first (the ``adf_test`` contract).
    Lags are one ordered window pass; both fits are closed-form
    normal equations over centered grid-exact sums (the 2-regressor
    solve is Cramer's rule on the 2×2 system), so every scalar is
    engine-identical before the 6dp round."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    w = Window.orderBy(ts_col)
    src = (
        df.select(
            F.col(ts_col), q(x_col).alias("_xr"), q(y_col).alias("_yr")
        )
        .withColumn("_x1", F.lag("_xr").over(w))
        .withColumn("_y1", F.lag("_yr").over(w))
        .filter(F.col("_x1").isNotNull() & F.col("_y1").isNotNull())
        .select(
            F.col("_yr").alias("_y"),
            F.col("_y1"),
            F.col("_x1"),
        )
    )
    m = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_y")).alias("_my"),
        grid(F.avg("_y1")).alias("_m1"),
        grid(F.avg("_x1")).alias("_m2"),
    )
    c = src.crossJoin(F.broadcast(m))
    dy = F.col("_y") - F.col("_my")
    d1 = F.col("_y1") - F.col("_m1")
    d2 = F.col("_x1") - F.col("_m2")
    s = c.groupBy("_n").agg(
        grid_sum128(dy * dy).alias("_syy"),
        grid_sum128(d1 * d1).alias("_s11"),
        grid_sum128(d2 * d2).alias("_s22"),
        grid_sum128(d1 * d2).alias("_s12"),
        grid_sum128(d1 * dy).alias("_s1y"),
        grid_sum128(d2 * dy).alias("_s2y"),
    )
    det = F.col("_s11") * F.col("_s22") - F.col("_s12") * F.col("_s12")
    b1 = (
        F.col("_s22") * F.col("_s1y") - F.col("_s12") * F.col("_s2y")
    ) / det
    b2 = (
        F.col("_s11") * F.col("_s2y") - F.col("_s12") * F.col("_s1y")
    ) / det
    rss_r = F.when(
        F.col("_s11") > 0,
        F.col("_syy") - F.col("_s1y") * F.col("_s1y") / F.col("_s11"),
    ).otherwise(F.col("_syy"))
    rss_u = F.when(
        det > 0,
        F.col("_syy") - b1 * F.col("_s1y") - b2 * F.col("_s2y"),
    )
    nn = F.col("_n").cast("double")
    f = F.when(
        (nn > 3.0) & (rss_u > 0),
        (rss_r - rss_u) / (rss_u / (nn - 3.0)),
    )
    return s.select(
        F.col("_n").cast("long").alias("n"),
        F.round(rss_r, 6).alias("rss_r"),
        F.round(rss_u, 6).alias("rss_u"),
        F.round(F.when(det > 0, b1), 6).alias("b_ylag"),
        F.round(F.when(det > 0, b2), 6).alias("b_xlag"),
        F.round(f, 6).alias("f_stat"),
        (F.col("_n") - 3).cast("long").alias("df2"),
    )


def process_capability(
    df: DataFrame, value_col: str, lsl: float, usl: float
) -> DataFrame:
    """Process capability indices → single row (n, mean, sd, cp, cpk,
    pct_out): Cp = (USL − LSL)/6σ (potential, centering ignored),
    Cpk = min(USL − μ, μ − LSL)/3σ (actual), pct_out the exact
    observed fraction outside the spec limits — the SPC summary for
    "is this metric pipeline within tolerance".

    Two grid-exact passes (mean, then floor-quantized squared
    deviations), one conditional count — all decomposable."""
    src = df.select(
        grid(F.col(value_col).cast("double")).alias("_v")
    ).filter(F.col("_v").isNotNull())
    m = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
    )
    c = src.crossJoin(F.broadcast(m))
    dv = F.col("_v") - F.col("_m")
    agg = c.groupBy("_n", "_m").agg(
        grid_sum128(dv * dv).alias("_ss"),
        F.count(
            F.when((F.col("_v") < lsl) | (F.col("_v") > usl), 1)
        ).alias("_out"),
    )
    nn = F.col("_n").cast("double")
    sd = F.when(nn > 1.0, F.sqrt(F.col("_ss") / (nn - 1.0)))
    cp = F.when(sd > 0, F.lit(usl - lsl) / (6.0 * sd))
    cpk = F.when(
        sd > 0,
        F.least(F.lit(usl) - F.col("_m"), F.col("_m") - F.lit(lsl))
        / (3.0 * sd),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round("_m", 6).alias("mean"),
        F.round(sd, 6).alias("sd"),
        F.round(cp, 6).alias("cp"),
        F.round(cpk, 6).alias("cpk"),
        F.round(F.col("_out") / nn, 6).alias("pct_out"),
    )


def icc_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1,1) →
    single row (n, k_groups, k0, msb, msw, icc): how much of the
    metric's variance lives BETWEEN groups (raters, sessions, shards)
    vs within — (MSB − MSW)/(MSB + (k₀ − 1)·MSW) with k₀ =
    (N − Σnᵢ²/N)/(g − 1), the unbalanced-design group size. The
    reliability gate before averaging repeated measurements per unit.

    Per-group means grid-floored and joined back (broadcast — the
    group table is dashboard-scale); within/between sums of squares
    floor-quantized per term, so MSB/MSW are engine-identical."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    per = src.groupBy("_g").agg(
        F.count("*").alias("_ni"),
        grid(F.avg("_v")).alias("_mi"),
    )
    tot = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
    )
    between = per.crossJoin(F.broadcast(tot)).agg(
        F.max("_n").alias("_n"),
        F.count("*").alias("_gk"),
        grid_sum128(
            F.col("_ni").cast("double")
            * (F.col("_mi") - F.col("_m"))
            * (F.col("_mi") - F.col("_m"))
        ).alias("_ssb"),
        F.sum(F.col("_ni") * F.col("_ni")).alias("_sn2"),
    )
    within = src.join(F.broadcast(per), "_g").agg(
        grid_sum128(
            (F.col("_v") - F.col("_mi")) * (F.col("_v") - F.col("_mi"))
        ).alias("_ssw")
    )
    j = between.crossJoin(F.broadcast(within))
    nn = F.col("_n").cast("double")
    g = F.col("_gk").cast("double")
    msb = F.when(g > 1.0, F.col("_ssb") / (g - 1.0))
    msw = F.when(nn > g, F.col("_ssw") / (nn - g))
    k0 = F.when(
        g > 1.0, (nn - F.col("_sn2").cast("double") / nn) / (g - 1.0)
    )
    icc = F.when(
        msw.isNotNull() & (msb + (k0 - 1.0) * msw > 0),
        (msb - msw) / (msb + (k0 - 1.0) * msw),
    )
    return j.select(
        F.col("_n").cast("long").alias("n"),
        F.col("_gk").cast("long").alias("k_groups"),
        F.round(k0, 6).alias("k0"),
        F.round(msb, 6).alias("msb"),
        F.round(msw, 6).alias("msw"),
        F.round(icc, 6).alias("icc"),
    )


def pot_gpd(
    df: DataFrame, value_col: str, threshold: float
) -> DataFrame:
    """Peaks-over-threshold Generalized Pareto fit → single row
    (n, n_excess, excess_mean, excess_sd, xi, beta, p_exceed_seen):
    method-of-moments GPD on the excesses e = x − u over a fixed
    threshold — ξ = (1 − ē²/s²)/2, β = ē(1 + ē²/s²)/2 — plus the
    fitted probability that a NEW exceedance tops the largest seen,
    (1 + ξ·z/β)^(−1/ξ) at z = max excess (exp(−z/β) as ξ → 0). The
    POT companion to ``gumbel_fit``'s block-maxima view: more sample-
    efficient on the same tail, the standard pairing in operational
    risk.

    One filter + two grid-exact aggregate passes (mean, then floored
    squared deviations); every downstream scalar is closed-form
    arithmetic of exact sums."""
    u = float(threshold)
    src = df.select(
        grid(F.col(value_col).cast("double") - F.lit(u)).alias("_e")
    )
    tot = src.agg(F.count(F.when(F.col("_e").isNotNull(), 1)).alias("n"))
    exc = src.filter(F.col("_e") > 0)
    m = exc.agg(
        F.count("*").alias("_k"),
        grid(F.avg("_e")).alias("_m"),
        F.max("_e").alias("_seen"),
    )
    c = exc.crossJoin(F.broadcast(m))
    d = F.col("_e") - F.col("_m")
    agg = c.groupBy("_k", "_m", "_seen").agg(
        grid_sum128(d * d).alias("_ss")
    )
    kk = F.col("_k").cast("double")
    s2 = F.when(kk > 1.0, F.col("_ss") / (kk - 1.0))
    r = F.col("_m") * F.col("_m") / s2
    xi = F.when(s2 > 0, (F.lit(1.0) - r) / 2.0)
    beta = F.when(s2 > 0, F.col("_m") * (F.lit(1.0) + r) / 2.0)
    z = F.col("_seen")
    p_seen = F.when(
        xi.isNotNull() & (F.abs(xi) > 1e-9)
        & (F.lit(1.0) + xi * z / beta > 0),
        F.pow(F.lit(1.0) + xi * z / beta, F.lit(-1.0) / xi),
    ).when(
        xi.isNotNull() & (F.abs(xi) <= 1e-9), F.exp(-z / beta)
    )
    out = agg.select(
        F.col("_k").cast("long").alias("n_excess"),
        F.round("_m", 6).alias("excess_mean"),
        F.round(F.sqrt(s2), 6).alias("excess_sd"),
        F.round(xi, 6).alias("xi"),
        F.round(beta, 6).alias("beta"),
        F.round(p_seen, 6).alias("p_exceed_seen"),
    )
    return tot.crossJoin(F.broadcast(out)).select(
        F.col("n").cast("long").alias("n"),
        "n_excess",
        "excess_mean",
        "excess_sd",
        "xi",
        "beta",
        "p_exceed_seen",
    )


def atkinson_index(df: DataFrame, value_col: str) -> DataFrame:
    """Atkinson inequality index at ε = 1 → single row (n, mean,
    geo_mean, atkinson): A = 1 − (geometric mean)/(arithmetic mean)
    over strictly positive values — the welfare-theoretic companion
    to ``gini_coefficient``/``theil`` that weights transfers at the
    bottom of the distribution most. 0 = perfect equality; 1 = one
    unit holds everything.

    Two grid-exact passes: values floor to the 2^-20 grid; per-row
    ln terms floor-quantize before the exact sum (the ``theil``
    discipline), so both means are engine-identical before the 6dp
    round."""
    src = df.select(
        grid(F.col(value_col).cast("double")).alias("_v")
    ).filter(F.col("_v") > 0)
    agg = src.agg(
        F.count("*").alias("_n"),
        grid(F.avg("_v")).alias("_m"),
        grid_sum(F.log("_v")).alias("_sl"),
    )
    nn = F.col("_n").cast("double")
    gm = F.exp(F.col("_sl") / nn)
    a = F.when(
        F.col("_m") > 0, F.lit(1.0) - gm / F.col("_m")
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round("_m", 6).alias("mean"),
        F.round(gm, 6).alias("geo_mean"),
        F.round(a, 6).alias("atkinson"),
    )


def yuen_t(
    df: DataFrame,
    value_col: str,
    group_col,
    trim: float = 0.2,
) -> DataFrame:
    """Yuen's trimmed-mean two-sample test → single row (n_a, n_b,
    h_a, h_b, tmean_a, tmean_b, t_stat, df_approx): Welch's t on
    ``trim``-fraction trimmed means with winsorized variances — the
    robust location test that keeps near-normal power while shrugging
    off the heavy tails that wreck the plain t (the standard
    recommendation in Wilcox's robust-statistics texts). Arms are the
    'a'/'b' levels of ``group_col`` (the ``cohens_d`` convention).
    No p-value column: the t tail has no replayable closed form
    (the ``welch_anova`` convention) — read t against t(df) critical
    values.

    One rank window per arm (order statistics give the trim bounds
    exactly — no interpolation), winsorized clamp, then grid-exact
    mean/variance sums. g = floor(trim·n) rows leave each tail;
    h = n − 2g observations remain."""
    side = group_col if isinstance(group_col, Column) else F.col(group_col)
    src = df.select(
        side.alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isin("a", "b"))
    w = Window.partitionBy("_g").orderBy("_v")
    cnt = Window.partitionBy("_g")
    r = (
        src.withColumn("_r", F.row_number().over(w))
        .withColumn("_n", F.count("*").over(cnt))
        .withColumn("_gtrim", F.floor(F.lit(trim) * F.col("_n")))
    )
    lo_hi = r.groupBy("_g").agg(
        F.max(F.when(F.col("_r") == F.col("_gtrim") + 1, F.col("_v"))).alias(
            "_lo"
        ),
        F.max(
            F.when(F.col("_r") == F.col("_n") - F.col("_gtrim"), F.col("_v"))
        ).alias("_hi"),
    )
    j = r.join(F.broadcast(lo_hi), "_g")
    wins = F.greatest(F.least(F.col("_v"), F.col("_hi")), F.col("_lo"))
    kept = (F.col("_r") > F.col("_gtrim")) & (
        F.col("_r") <= F.col("_n") - F.col("_gtrim")
    )
    sums = j.groupBy("_g").agg(
        F.max("_n").alias("_na"),
        F.max("_gtrim").alias("_gt"),
        (
            F.floor(
                F.sum(F.when(kept, F.col("_v") * GRID)) / (
                    F.max("_n") - 2 * F.max("_gtrim")
                ).cast("double")
            )
            / GRID
        ).alias("_tm"),
        (F.floor(F.avg(wins * GRID)) / GRID).alias("_wm"),
    )
    j2 = j.join(F.broadcast(sums.select("_g", "_wm")), "_g")
    dv = wins - F.col("_wm")
    ss = j2.groupBy("_g").agg(grid_sum128(dv * dv).alias("_ssw"))
    arm = sums.join(ss, "_g")
    h = (F.col("_na") - 2 * F.col("_gt")).cast("double")
    nn = F.col("_na").cast("double")
    sw2 = F.when(nn > 1.0, F.col("_ssw") / (nn - 1.0))
    d = (nn - 1.0) * sw2 / (h * (h - 1.0))
    arm = arm.select(
        "_g",
        F.col("_na").alias("_n"),
        h.alias("_h"),
        F.col("_tm"),
        d.alias("_d"),
    )
    a = arm.filter(F.col("_g") == "a")
    b = arm.filter(F.col("_g") == "b").select(
        *[F.col(c).alias(c + "b") for c in ("_n", "_h", "_tm", "_d")]
    )
    out = a.crossJoin(F.broadcast(b))
    dsum = F.col("_d") + F.col("_db")
    t = F.when(dsum > 0, (F.col("_tm") - F.col("_tmb")) / F.sqrt(dsum))
    dfa = F.when(
        (F.col("_h") > 1) & (F.col("_hb") > 1) & (dsum > 0),
        dsum
        * dsum
        / (
            F.col("_d") * F.col("_d") / (F.col("_h") - 1.0)
            + F.col("_db") * F.col("_db") / (F.col("_hb") - 1.0)
        ),
    )
    return out.select(
        F.col("_n").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_h").cast("long").alias("h_a"),
        F.col("_hb").cast("long").alias("h_b"),
        F.round("_tm", 6).alias("tmean_a"),
        F.round("_tmb", 6).alias("tmean_b"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfa, 6).alias("df_approx"),
    )


def gwet_ac1(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Gwet's AC1 inter-rater agreement (two raters, nominal) → one
    row (n, n_categories, p_o, p_e, ac1): observed agreement Pa =
    Σ_k n_kk / n against Gwet's chance correction Pe = Σ_k π_k(1−π_k)
    / (K−1), π_k = (n_k· + n·k) / (2n) — the paradox-resistant
    alternative to Cohen's kappa (kappa collapses when marginals are
    extreme even at near-perfect raw agreement; AC1 doesn't, Gwet
    2008). One cell aggregate over the fact; the K×K cell table is
    category-scale, every ratio exact-integer."""
    cells = df.groupBy(
        F.col(a_col).alias("_a"), F.col(b_col).alias("_b")
    ).agg(F.count("*").alias("_o"))
    ra = cells.groupBy(F.col("_a").alias("_k")).agg(
        F.sum("_o").alias("_ra")
    )
    cb = cells.groupBy(F.col("_b").alias("_k")).agg(
        F.sum("_o").alias("_cb")
    )
    marg = ra.join(cb, "_k", "full").select(
        "_k",
        F.coalesce("_ra", F.lit(0)).alias("_ra"),
        F.coalesce("_cb", F.lit(0)).alias("_cb"),
    )
    w_all = Window.partitionBy()
    nw = F.sum("_ra").over(w_all).cast("double")
    pik = (F.col("_ra") + F.col("_cb")).cast("double") / (2.0 * nw)
    pe_terms = marg.select(
        pik.alias("_pik"), F.sum("_ra").over(w_all).alias("_nn")
    ).groupBy("_nn").agg(
        F.count("*").alias("_kk"),
        F.sum(F.col("_pik") * (F.lit(1.0) - F.col("_pik"))).alias("_pes"),
    )
    po = cells.filter(F.col("_a") == F.col("_b")).agg(
        F.coalesce(F.sum("_o"), F.lit(0)).alias("_agree")
    )
    j = po.crossJoin(F.broadcast(pe_terms))
    p_o = F.col("_agree").cast("double") / F.col("_nn").cast("double")
    # K = 1 leaves Pe undefined (division by K-1) — surface NULL agr
    # stats instead of an ANSI divide-by-zero abort
    p_e = F.when(
        F.col("_kk") > 1,
        F.col("_pes") / (F.col("_kk").cast("double") - 1.0),
    )
    return j.select(
        F.col("_nn").cast("long").alias("n"),
        F.col("_kk").cast("long").alias("n_categories"),
        F.round(p_o, 6).alias("p_o"),
        F.round(p_e, 6).alias("p_e"),
        F.round(
            F.when(p_e < 1.0, (p_o - p_e) / (F.lit(1.0) - p_e)), 6
        ).alias("ac1"),
    )


def dixon_q(
    df: DataFrame,
    group_col: str,
    value_col: str,
    crit: float = 0.29,
) -> DataFrame:
    """Dixon's Q outlier test per group → (group, n, q_low, q_high,
    low_outlier, high_outlier): Q = gap / range for the smallest and
    largest observations — the classic SMALL-sample screen (3 ≤ n ≲
    30; ``crit`` defaults to the two-sided 5% critical value at n=30).
    Callers aggregate first (daily buckets, assay replicates) — the
    per-group sorted array is bounded by that contract, same as
    ``hampel_outliers``'s frames, never corpus-scale.

    Values grid-floor to 2^-20 so the two gaps and the range are exact
    differences; Q is one IEEE divide of exact inputs."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(F.col(group_col).alias("grp"), v.alias("_v")).filter(
        F.col("_v").isNotNull()
    )
    g = src.groupBy("grp").agg(
        F.count("*").alias("_n"),
        F.array_sort(F.collect_list("_v")).alias("_a"),
    )
    a = F.col("_a")
    nn = F.size(a)
    x1 = F.element_at(a, 1)
    x2 = F.element_at(a, 2)
    xn = F.element_at(a, nn)
    xn1 = F.element_at(a, nn - 1)
    rng = xn - x1
    ql = F.when((nn >= 3) & (rng > 0), (x2 - x1) / rng)
    qh = F.when((nn >= 3) & (rng > 0), (xn - xn1) / rng)
    return g.select(
        "grp",
        F.col("_n").cast("long").alias("n"),
        F.round(ql, 6).alias("q_low"),
        F.round(qh, 6).alias("q_high"),
        (ql > crit).cast("int").alias("low_outlier"),
        (qh > crit).cast("int").alias("high_outlier"),
    )


def g_test(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence → one row (n,
    n_rows_x, n_cols_y, dof, g_stat, p_value): G = 2 Σ o·ln(o/e) over
    the non-empty contingency cells — the additive-decomposition twin
    of ``chi2_independence`` (G sums exactly across partitions of a
    table; Pearson X² doesn't), same Wilson–Hilferty tail. One
    partial-aggregated cell count; marginals are window sums over the
    category-scale cell table."""
    cells = df.groupBy(
        F.col(x_col).alias("_x"), F.col(y_col).alias("_y")
    ).agg(F.count(F.lit(1)).alias("_o"))
    w_all = Window.partitionBy()
    w_x = Window.partitionBy("_x")
    w_y = Window.partitionBy("_y")
    scored = cells.select(
        "_x",
        "_y",
        "_o",
        F.sum("_o").over(w_all).alias("_n"),
        F.sum("_o").over(w_x).alias("_rx"),
        F.sum("_o").over(w_y).alias("_cy"),
    ).withColumn(
        "_e",
        F.col("_rx").cast("double") * F.col("_cy") / F.col("_n"),
    )
    agg = scored.agg(
        F.max("_n").alias("n"),
        F.count_distinct("_x").alias("n_rows_x"),
        F.count_distinct("_y").alias("n_cols_y"),
        F.sum(
            F.lit(2.0)
            * F.col("_o").cast("double")
            * F.log(F.col("_o").cast("double") / F.col("_e"))
        ).alias("_g"),
    )
    dof = (F.col("n_rows_x") - 1) * (F.col("n_cols_y") - 1)
    return agg.select(
        "n",
        "n_rows_x",
        "n_cols_y",
        dof.alias("dof"),
        F.round("_g", 6).alias("g_stat"),
        F.round(chi2_p_value(F.col("_g"), dof), 6).alias("p_value"),
    )


# Log-space fixed-point grid for fisher_exact: ln values scale by 2^40
# and floor to integers, so every cumulative sum is EXACT integer
# arithmetic — order-free across engines (a double log-sum would be
# partition-order-dependent). 2^40 · ln(n) stays < 2^63 for any
# realistic margin, and the ≤2^-40 per-term floor loss is ~1e-8 in the
# final log — invisible under the 1e-6 output rounding.
def fisher_exact(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Fisher's exact test for a 2×2 table of two boolean columns →
    one row (n, n_a, n_b, n_both, odds_ratio, p_two_sided): the
    two-sided p sums hypergeometric point masses not exceeding the
    observed table's (with the standard 1e-7 relative slack).

    Distributed derivation with NO factorial table: unnormalized
    weights w(a) = C(r1,a)·C(r2,c1−a) follow the ratio recurrence
    w(a)/w(a−1) = (r1−a+1)(c1−a+1) / (a(r2−c1+a)), so ln w over the
    support [max(0,c1−r2)..min(r1,c1)] is ONE ordered integer cumsum
    of 2^40-grid ln steps (exact, engine-order-free), normalization
    cancels in p = Σ_incl exp / Σ_all exp, and both exp sums quantize
    back onto the 2^40 grid for exact integer totals (decimal(38,0);
    HUGEINT in a SQL twin). The support table is min(margin)-sized —
    bounded by the rarer outcome, never by n."""
    flags = df.select(
        F.col(a_col).cast("boolean").alias("_fa"),
        F.col(b_col).cast("boolean").alias("_fb"),
    ).filter(F.col("_fa").isNotNull() & F.col("_fb").isNotNull())
    c = flags.agg(
        F.count("*").alias("_n"),
        F.count(F.when(F.col("_fa"), 1)).alias("_r1"),
        F.count(F.when(F.col("_fb"), 1)).alias("_c1"),
        F.count(F.when(F.col("_fa") & F.col("_fb"), 1)).alias("_aobs"),
    )
    lo = F.greatest(F.lit(0), F.col("_c1") - (F.col("_n") - F.col("_r1")))
    hi = F.least(F.col("_r1"), F.col("_c1"))
    sup = c.select(
        "_n", "_r1", "_c1", "_aobs",
        F.explode(F.sequence(lo, hi)).alias("_a"),
    )
    aa = F.col("_a").cast("double")
    step = F.when(
        F.col("_a") == F.greatest(
            F.lit(0), F.col("_c1") - (F.col("_n") - F.col("_r1"))
        ),
        F.lit(0),
    ).otherwise(
        log_grid(F.col("_r1") - F.col("_a") + 1)
        + log_grid(F.col("_c1") - F.col("_a") + 1)
        - log_grid(aa)
        - log_grid(F.col("_n") - F.col("_r1") - F.col("_c1") + F.col("_a"))
    )
    t, tot, inc = pmf_two_sided(sup, step, "_a", F.col("_aobs"))
    sums = t.agg(
        tot,
        inc,
        F.max("_n").alias("n"),
        F.max("_r1").alias("n_a"),
        F.max("_c1").alias("n_b"),
        F.max("_aobs").alias("n_both"),
    )
    # sample odds ratio (a·d)/(b·c) from the same four counts
    a_ = F.col("n_both").cast("double")
    b_ = (F.col("n_a") - F.col("n_both")).cast("double")
    c_ = (F.col("n_b") - F.col("n_both")).cast("double")
    d_ = (F.col("n") - F.col("n_a") - F.col("n_b")
          + F.col("n_both")).cast("double")
    return sums.select(
        F.col("n").cast("long").alias("n"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_both").cast("long").alias("n_both"),
        F.round(
            F.when(b_ * c_ > 0, a_ * d_ / (b_ * c_)), 6
        ).alias("odds_ratio"),
        F.round(
            F.col("_inc").cast("double") / F.col("_tot").cast("double"),
            6,
        ).alias("p_two_sided"),
    )


def white_test(df: DataFrame, y_col: str, x_col: str) -> DataFrame:
    """White's heteroskedasticity test (single regressor) → one row
    (n, lm_stat, p_value): auxiliary regression of the squared OLS
    residuals on (x, x²), LM = n·R² ~ chi2(2) under homoskedasticity —
    the curvature-sensitive sibling of ``breusch_pagan`` (BP only sees
    variance LINEAR in x; White catches U-shaped spread too). p-value
    is the EXACT chi-square(2) tail exp(−LM/2), no approximation.

    Same exactness recipe as ``breusch_pagan``: grid OLS sums for the
    residuals, then 2^-20 integer grid units of (x, x², e²/2^12)
    accumulated as uncentered decimal(38,0) moments (HUGEINT in a SQL
    twin); every centered moment n·Sab − Sa·Sb is one exact integer
    difference cast to double, and the 2-regressor explained sum of
    squares is the closed-form normal-equation quadratic of those
    doubles."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(q(x_col).alias("_x"), q(y_col).alias("_y")).filter(
        F.col("_x").isNotNull() & F.col("_y").isNotNull()
    )
    s1 = _ols_sums(src, [])
    b = F.when(F.col("_sxx") > 0, F.col("_sxy") / F.col("_sxx"))
    base = s1.select("_n", "_mx", "_my", b.alias("_b"))
    c = src.crossJoin(F.broadcast(base))
    e = (F.col("_y") - F.col("_my")) - F.col("_b") * (
        F.col("_x") - F.col("_mx")
    )
    dec = "decimal(38,0)"
    X = F.floor(F.col("_x") * GRID).cast(dec)
    Z = F.floor(F.col("_x") * F.col("_x") * GRID).cast(dec)
    U = F.floor(e * e / 4096.0 * GRID).cast(dec)
    mom = c.select(X.alias("_X"), Z.alias("_Z"), U.alias("_U"))
    s2 = mom.agg(
        F.count("*").cast(dec).alias("_n2"),
        F.sum("_X").alias("_sx"),
        F.sum("_Z").alias("_sz"),
        F.sum("_U").alias("_su"),
        F.sum(F.col("_X") * F.col("_X")).alias("_sxx2"),
        F.sum(F.col("_Z") * F.col("_Z")).alias("_szz2"),
        F.sum(F.col("_U") * F.col("_U")).alias("_suu2"),
        F.sum(F.col("_X") * F.col("_Z")).alias("_sxz2"),
        F.sum(F.col("_X") * F.col("_U")).alias("_sxu2"),
        F.sum(F.col("_Z") * F.col("_U")).alias("_szu2"),
    )
    n2 = F.col("_n2")

    def cen(sab, sa, sb):
        return (n2 * F.col(sab) - F.col(sa) * F.col(sb)).cast("double")

    sxx = cen("_sxx2", "_sx", "_sx")
    szz = cen("_szz2", "_sz", "_sz")
    suu = cen("_suu2", "_su", "_su")
    sxz = cen("_sxz2", "_sx", "_sz")
    sxu = cen("_sxu2", "_sx", "_su")
    szu = cen("_szu2", "_sz", "_su")
    det = sxx * szz - sxz * sxz
    ess = (
        sxu * sxu * szz - 2.0 * sxu * szu * sxz + szu * szu * sxx
    ) / det
    r2 = F.when((det > 0) & (suu > 0), ess / suu)
    lm = n2.cast("double") * r2
    return s2.select(
        n2.cast("long").alias("n"),
        F.round(lm, 6).alias("lm_stat"),
        F.round(F.exp(-lm / 2.0), 6).alias("p_value"),
    )


def cooks_distance(df: DataFrame, y_col: str, x_col: str) -> DataFrame:
    """Cook's distance census for simple OLS → one row (n, s2, max_d,
    n_above_4n): per-point influence D_i = e_i²·h_i / (p·s²·(1−h_i)²)
    with leverage h_i = 1/n + (x_i−x̄)²/Sxx, screened at the standard
    4/n cut — an influence AUDIT (how many points could bend the fit),
    not a per-row dump; at 100 TB the answer stays one row.

    Slope and the error variance s² = (Syy − b·Sxy)/(n−2) come from
    the shared grid-exact sums; every D_i is IEEE arithmetic of those
    exact inputs, identical per row on any engine, so max() and the
    threshold count replay exactly."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(q(x_col).alias("_x"), q(y_col).alias("_y")).filter(
        F.col("_x").isNotNull() & F.col("_y").isNotNull()
    )
    s1 = _ols_sums(src, [])
    b = F.when(F.col("_sxx") > 0, F.col("_sxy") / F.col("_sxx"))
    nn = F.col("_n").cast("double")
    s2v = (F.col("_syy") - b * F.col("_sxy")) / (nn - 2.0)
    base = s1.select(
        "_n", "_mx", "_my", "_sxx", b.alias("_b"), s2v.alias("_s2")
    )
    c = src.crossJoin(F.broadcast(base))
    e = (F.col("_y") - F.col("_my")) - F.col("_b") * (
        F.col("_x") - F.col("_mx")
    )
    dx = F.col("_x") - F.col("_mx")
    h = 1.0 / F.col("_n").cast("double") + dx * dx / F.col("_sxx")
    d = F.when(
        F.col("_s2") > 0,
        (e * e * h)
        / (
            F.lit(2.0)
            * F.col("_s2")
            * (F.lit(1.0) - h)
            * (F.lit(1.0) - h)
        ),
    )
    cut = 4.0 / F.col("_n").cast("double")
    return c.groupBy("_n", "_s2").agg(
        F.max(d).alias("_maxd"),
        F.count(F.when(d > cut, 1)).alias("_nbig"),
    ).select(
        F.col("_n").cast("long").alias("n"),
        F.round("_s2", 6).alias("s2"),
        F.round("_maxd", 6).alias("max_d"),
        F.col("_nbig").cast("long").alias("n_above_4n"),
    )


def deming_regression(
    df: DataFrame, x_col: str, y_col: str, delta: float = 1.0
) -> DataFrame:
    """Deming (errors-in-variables) regression → one row (n, slope,
    intercept): both axes carry measurement error with variance ratio
    ``delta``, so the fit minimizes weighted PERPENDICULAR distance —
    the method-comparison standard where plain OLS slope is biased
    toward zero by x-noise. Closed form over the shared grid-exact
    sums: b = (Syy − δSxx + √((Syy − δSxx)² + 4δ·Sxy²)) / (2·Sxy)."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(q(x_col).alias("_x"), q(y_col).alias("_y")).filter(
        F.col("_x").isNotNull() & F.col("_y").isNotNull()
    )
    s1 = _ols_sums(src, [])
    d = F.lit(float(delta))
    diff = F.col("_syy") - d * F.col("_sxx")
    b = F.when(
        F.col("_sxy") != 0,
        (diff + F.sqrt(diff * diff + 4.0 * d * F.col("_sxy")
                       * F.col("_sxy")))
        / (2.0 * F.col("_sxy")),
    )
    return s1.select(
        F.col("_n").cast("long").alias("n"),
        F.round(b, 6).alias("slope"),
        F.round(F.col("_my") - b * F.col("_mx"), 6).alias("intercept"),
    )


def lin_ccc(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Lin's concordance correlation coefficient → one row (n, r, ccc,
    c_b): how far paired measurements fall from the 45° identity line
    — precision (Pearson r) × accuracy (the C_b bias-correction
    factor). The method-agreement summary dual to ``bland_altman``'s
    limits. ccc = 2·Sxy / (Sxx + Syy + n·(x̄−ȳ)²), all from one
    grid-exact sum pass."""
    q = lambda c: grid(F.col(c).cast("double"))  # noqa: E731
    src = df.select(q(x_col).alias("_x"), q(y_col).alias("_y")).filter(
        F.col("_x").isNotNull() & F.col("_y").isNotNull()
    )
    s1 = _ols_sums(src, [])
    nn = F.col("_n").cast("double")
    md = F.col("_mx") - F.col("_my")
    den = F.col("_sxx") + F.col("_syy") + nn * md * md
    ccc = F.when(den > 0, 2.0 * F.col("_sxy") / den)
    r = F.when(
        (F.col("_sxx") > 0) & (F.col("_syy") > 0),
        F.col("_sxy") / F.sqrt(F.col("_sxx") * F.col("_syy")),
    )
    return s1.select(
        F.col("_n").cast("long").alias("n"),
        F.round(r, 6).alias("r"),
        F.round(ccc, 6).alias("ccc"),
        F.round(F.when(r != 0, ccc / r), 6).alias("c_b"),
    )


def hellinger_distance(
    df: DataFrame,
    group_col: str,
    a: str,
    b: str,
    bucket_col: str,
) -> DataFrame:
    """Hellinger + Bhattacharyya distance between two empirical
    bucket distributions → one row (n_a, n_b, n_buckets, bc,
    hellinger, bhattacharyya): BC = Σ√(p_i·q_i) over the union of
    buckets, H = √(1−BC), B = −ln(BC) — the bounded-metric companion
    to ``js_divergence`` (H is a true metric in [0,1]; KL-family
    divergences are unbounded on disjoint support). One cell count
    over the fact; everything after is the bucket-scale table, each
    p_i an exact integer ratio."""
    g = F.col(group_col)
    cells = df.filter(g.isin([a, b])).groupBy(
        F.col(bucket_col).alias("_k")
    ).agg(
        F.count(F.when(g == a, 1)).alias("_ca"),
        F.count(F.when(g == b, 1)).alias("_cb"),
    )
    w_all = Window.partitionBy()
    t = cells.select(
        "_ca",
        "_cb",
        F.sum("_ca").over(w_all).alias("_na"),
        F.sum("_cb").over(w_all).alias("_nb"),
    )
    p = F.col("_ca").cast("double") / F.col("_na")
    qq = F.col("_cb").cast("double") / F.col("_nb")
    agg = t.groupBy("_na", "_nb").agg(
        F.count("*").alias("_nk"),
        F.sum(F.sqrt(p * qq)).alias("_bc"),
    )
    bc = F.least(F.col("_bc"), F.lit(1.0))
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.col("_nk").cast("long").alias("n_buckets"),
        F.round(bc, 6).alias("bc"),
        F.round(F.sqrt(F.lit(1.0) - bc), 6).alias("hellinger"),
        F.round(
            F.when(bc > 0, -F.log(bc)), 6
        ).alias("bhattacharyya"),
    )


def ansari_bradley(
    df: DataFrame,
    group_col: str,
    a: str,
    b: str,
    value_col: str,
) -> DataFrame:
    """Ansari–Bradley two-sample SCALE test → one row (n_a, n_b, ab,
    z, p_value): rank from both ends of the pooled sample (score =
    min(rank, n+1−rank)), sum group-a scores, compare to the exact
    even/odd-n null moments — detects dispersion differences between
    equal-location groups, the rank dual of ``levene_var``. Ties get
    midrank-derived scores (a deterministic tie policy; exact-tie
    corrections to the null variance are not applied — documented
    contract, same family as ``ordinal_assoc``'s tie handling).
    Midranks land on the 0.5 grid so every score and sum is exact."""
    g = F.col(group_col)
    v = grid(F.col(value_col).cast("double"))
    src = df.filter(g.isin([a, b]) & F.col(value_col).isNotNull()).select(
        g.alias("_g"), v.alias("_v")
    )
    r = value_ranks(
        src, "_v",
        _ca=F.count(F.when(F.col("_g") == a, 1)),
        _cb=F.count(F.when(F.col("_g") == b, 1)),
    )
    t = r.withColumn("_n", F.sum("_t").over(Window.partitionBy()))
    score = F.least(
        F.col("_mr"), F.col("_n").cast("double") + 1.0 - F.col("_mr")
    )
    agg = t.groupBy("_n").agg(
        F.sum("_ca").alias("_n1"),
        F.sum("_cb").alias("_n2"),
        F.sum(F.when(F.col("_ca") > 0, F.col("_ca") * score)).alias("_ab"),
    )
    n = F.col("_n").cast("double")
    n1 = F.col("_n1").cast("double")
    n2 = F.col("_n2").cast("double")
    even = F.pmod(F.col("_n"), 2) == 0
    mean = F.when(even, n1 * (n + 2.0) / 4.0).otherwise(
        n1 * (n + 1.0) * (n + 1.0) / (4.0 * n)
    )
    var = F.when(
        even,
        n1 * n2 * (n + 2.0) * (n - 2.0) / (48.0 * (n - 1.0)),
    ).otherwise(
        n1 * n2 * (n + 1.0) * (3.0 + n * n) / (48.0 * n * n)
    )
    z = F.when(var > 0, (F.col("_ab") - mean) / F.sqrt(var))
    return agg.select(
        F.col("_n1").cast("long").alias("n_a"),
        F.col("_n2").cast("long").alias("n_b"),
        F.round("_ab", 6).alias("ab"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def meta_fixed(
    df: DataFrame,
    study_col: str,
    effect_col: str,
    se_col: str,
) -> DataFrame:
    """Fixed-effect (inverse-variance) meta-analysis → one row (k,
    pooled, se, z, p_value, q_stat, i2): pooled = Σwᵢθᵢ/Σwᵢ with wᵢ =
    1/seᵢ², Cochran's Q = Σwᵢ(θᵢ−pooled)², I² = max(0, (Q−(k−1))/Q) —
    'do the k per-segment estimates agree, and what do they say
    jointly'. The caller aggregates studies first (per-cohort effect +
    standard error — exact-sum derived upstream); this pass is
    study-table-scale, k rows."""
    src = df.select(
        F.col(study_col).alias("_s"),
        F.col(effect_col).cast("double").alias("_e"),
        F.col(se_col).cast("double").alias("_se"),
    ).filter(
        F.col("_e").isNotNull() & (F.col("_se") > 0)
    )
    w = 1.0 / (F.col("_se") * F.col("_se"))
    s = src.agg(
        F.count("*").alias("_k"),
        F.sum(w).alias("_sw"),
        F.sum(w * F.col("_e")).alias("_swe"),
        F.sum(w * F.col("_e") * F.col("_e")).alias("_swee"),
    )
    pooled = F.col("_swe") / F.col("_sw")
    qstat = F.col("_swee") - F.col("_swe") * F.col("_swe") / F.col("_sw")
    k = F.col("_k").cast("double")
    i2 = F.when(
        qstat > 0,
        F.greatest((qstat - (k - 1.0)) / qstat, F.lit(0.0)),
    ).otherwise(F.lit(0.0))
    se = F.sqrt(1.0 / F.col("_sw"))
    z = pooled / se
    return s.select(
        F.col("_k").cast("long").alias("k"),
        F.round(pooled, 6).alias("pooled"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(F.lit(2.0) * normal_sf(F.abs(z)), 6).alias("p_value"),
        F.round(qstat, 6).alias("q_stat"),
        F.round(i2, 6).alias("i2"),
    )


def vargha_delaney_a(
    df: DataFrame,
    group_col: str,
    a: str,
    b: str,
    value_col: str,
) -> DataFrame:
    """Vargha–Delaney A effect size → one row (n_a, n_b, a12): the
    probability a random group-a value exceeds a random group-b value
    (ties count half) — the scale-free companion to ``mann_whitney_u``
    (A = U/(n₁n₂); 0.5 = no effect, 0.56/0.64/0.71 = the conventional
    small/medium/large cuts). From pooled midranks: A = (R₁/n₁ −
    (n₁+1)/2)/n₂ — midranks are 0.5-grid exact, so A is one IEEE
    expression of exact sums."""
    g = F.col(group_col)
    v = grid(F.col(value_col).cast("double"))
    src = df.filter(g.isin([a, b]) & F.col(value_col).isNotNull()).select(
        g.alias("_g"), v.alias("_v")
    )
    r = value_ranks(
        src, "_v",
        _ca=F.count(F.when(F.col("_g") == a, 1)),
        _cb=F.count(F.when(F.col("_g") == b, 1)),
    )
    agg = r.agg(
        F.coalesce(F.sum("_ca"), F.lit(0)).alias("_n1"),
        F.coalesce(F.sum("_cb"), F.lit(0)).alias("_n2"),
        F.sum(F.col("_ca") * F.col("_mr")).alias("_r1"),
    )
    n1 = F.col("_n1").cast("double")
    n2 = F.col("_n2").cast("double")
    a12 = F.when(
        (F.col("_n1") > 0) & (F.col("_n2") > 0),
        (F.col("_r1") / n1 - (n1 + 1.0) / 2.0) / n2,
    )
    return agg.select(
        F.col("_n1").cast("long").alias("n_a"),
        F.col("_n2").cast("long").alias("n_b"),
        F.round(a12, 6).alias("a12"),
    )


def cvm_two_sample(
    df: DataFrame,
    group_col: str,
    a: str,
    b: str,
    value_col: str,
) -> DataFrame:
    """Two-sample Cramér–von Mises criterion → one row (n_a, n_b,
    t_stat, reject_5pct): T integrates the SQUARED gap between the
    two empirical CDFs, so it sees distribution-shape differences a
    location test (mann_whitney) and a scale test (ansari_bradley)
    both miss. Anderson's rank form: U = n·Σ(r_i−i)² + m·Σ(s_j−j)²
    over each sample's pooled ranks vs within-sample positions;
    T = U/(nm(n+m)) − (4nm−1)/(6(n+m)). Ties get midranks (the
    within-sample position sum is tie-order invariant because tied
    ranks are constant across the permuted positions). 5% asymptotic
    critical value 0.461. Midranks/positions are 0.5-grid exact, the
    quadratic sums exact multiples of 0.25."""
    g = F.col(group_col)
    v = grid(F.col(value_col).cast("double"))
    src = df.filter(g.isin([a, b]) & F.col(value_col).isNotNull()).select(
        g.alias("_g"), v.alias("_v")
    )
    r = row_ranks(src, "_v")
    w = Window.partitionBy("_g").orderBy("_v")
    r = r.withColumn("_i", F.row_number().over(w).cast("double"))
    d2 = (F.col("_r") - F.col("_i")) * (F.col("_r") - F.col("_i"))
    agg = r.agg(
        F.count(F.when(F.col("_g") == a, 1)).alias("_n"),
        F.count(F.when(F.col("_g") == b, 1)).alias("_m"),
        F.sum(F.when(F.col("_g") == a, d2)).alias("_ua"),
        F.sum(F.when(F.col("_g") == b, d2)).alias("_ub"),
    )
    n = F.col("_n").cast("double")
    m = F.col("_m").cast("double")
    u = n * F.col("_ua") + m * F.col("_ub")
    t = F.when(
        (F.col("_n") > 0) & (F.col("_m") > 0),
        u / (n * m * (n + m)) - (4.0 * n * m - 1.0) / (6.0 * (n + m)),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n_a"),
        F.col("_m").cast("long").alias("n_b"),
        F.round(t, 6).alias("t_stat"),
        (t > 0.461).cast("int").alias("reject_5pct"),
    )


def dagostino_k2(df: DataFrame, value_col: str) -> DataFrame:
    """D'Agostino–Pearson K² omnibus normality test → one row (n,
    skew, kurtosis, z_skew, z_kurt, k2, p_value): the transformed
    skewness Z₁ (D'Agostino 1970) and Anscombe–Glynn kurtosis Z₂,
    combined as K² = Z₁² + Z₂² ~ chi-square(2) (exact tail
    exp(−K²/2)) — the moment-based omnibus that, unlike
    ``jarque_bera``, is calibrated at realistic n, and unlike
    ``anderson_darling``, needs only four exact moment sums.

    Central moments come from grid-floored deviations accumulated in
    decimal(38,0) (2nd on the 2^-20 grid, 3rd/4th on 2^-10 — fourth
    powers of price-scale deviations overflow the long floor at the
    fine grid); every downstream transform is shared IEEE arithmetic
    of those exact sums, replayable term-for-term in SQL.

    Scale contract: the coarse 3rd/4th-moment grid means sub-unit-
    scale data (m2 < 1/4) would have its skew/kurtosis dominated by
    the ~2^-10 per-term quantization — those columns degrade to NULL
    instead of returning materially-biased values (rescale the input
    to unit variance or larger to lift the guard). The one-row moment
    aggregate is localCheckpointed so the z-transform tree compiles
    against plain column refs (the inlined decimal-sum subtrees blew
    janino's 64 KB method limit and forced interpreted fallback)."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    m = src.agg(
        grid(F.avg("_v")).alias("_m"),
        F.count("*").alias("_n"),
    )
    c = src.crossJoin(F.broadcast(m))
    d = F.col("_v") - F.col("_m")
    dec = "decimal(38,0)"
    q10 = float(1 << 10)
    agg = c.groupBy("_n").agg(
        grid_sum128(d * d).alias("_s2"),
        (
            F.sum(F.floor(d * d * d * q10).cast(dec)).cast("double")
            / q10
        ).alias("_s3"),
        (
            F.sum(F.floor(d * d * d * d * q10).cast(dec)).cast("double")
            / q10
        ).alias("_s4"),
    ).localCheckpoint(eager=True)
    n = F.col("_n").cast("double")
    m2 = F.col("_s2") / n
    m3 = F.col("_s3") / n
    m4 = F.col("_s4") / n
    g1 = m3 / F.pow(m2, F.lit(1.5))
    g2 = m4 / (m2 * m2)
    # Stage the 1-row transform: materialize (g1, g2) and then
    # (z1, z2) so no single Project carries the full duplicated
    # z-tree — the inlined version blew janino's 64 KB method limit
    # and fell back to interpreted eval. Checkpoints are 1-row jobs;
    # the IEEE arithmetic is unchanged (same ops, now evaluated once).
    agg = agg.select(
        "_n",
        m2.alias("_m2"),
        F.when(m2 > 0, g1).alias("_g1"),
        F.when(m2 > 0, g2).alias("_g2"),
    ).localCheckpoint(eager=True)
    m2 = F.col("_m2")
    g1 = F.col("_g1")
    g2 = F.col("_g2")
    # Z1: D'Agostino's transformed skewness
    y = g1 * F.sqrt((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0)))
    b2 = (
        3.0
        * (n * n + 27.0 * n - 70.0)
        * (n + 1.0)
        * (n + 3.0)
        / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0))
    )
    w2 = -1.0 + F.sqrt(2.0 * (b2 - 1.0))
    dl = 1.0 / F.sqrt(F.log(F.sqrt(w2)))
    al = F.sqrt(2.0 / (w2 - 1.0))
    z1 = dl * F.log(y / al + F.sqrt((y / al) * (y / al) + 1.0))
    # Z2: Anscombe-Glynn transformed kurtosis
    ek = 3.0 * (n - 1.0) / (n + 1.0)
    vk = (
        24.0
        * n
        * (n - 2.0)
        * (n - 3.0)
        / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))
    )
    x = (g2 - ek) / F.sqrt(vk)
    sb1 = (
        6.0
        * (n * n - 5.0 * n + 2.0)
        / ((n + 7.0) * (n + 9.0))
        * F.sqrt(
            6.0 * (n + 3.0) * (n + 5.0) / (n * (n - 2.0) * (n - 3.0))
        )
    )
    aa = 6.0 + 8.0 / sb1 * (
        2.0 / sb1 + F.sqrt(1.0 + 4.0 / (sb1 * sb1))
    )
    z2 = (
        (1.0 - 2.0 / (9.0 * aa))
        - F.pow(
            (1.0 - 2.0 / aa)
            / (1.0 + x * F.sqrt(2.0 / (aa - 4.0))),
            F.lit(1.0 / 3.0),
        )
    ) / F.sqrt(2.0 / (9.0 * aa))
    # 2^-10 grid guard: below m2 = 1/4 the per-term floor bias
    # (~2^-11 absolute) exceeds ~1% of the m2^1.5 / m2^2 scale the
    # 3rd/4th moments live on — NULL, don't silently bias.
    okm = m2 >= 0.25
    ok = (F.col("_n") > 20) & okm
    agg = agg.select(
        "_n",
        "_m2",
        "_g1",
        "_g2",
        F.when(ok, z1).alias("_z1"),
        F.when(ok, z2).alias("_z2"),
    ).localCheckpoint(eager=True)
    z1 = F.col("_z1")
    z2 = F.col("_z2")
    k2 = z1 * z1 + z2 * z2
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(F.when(okm, g1), 6).alias("skew"),
        F.round(F.when(okm, g2), 6).alias("kurtosis"),
        F.round(z1, 6).alias("z_skew"),
        F.round(z2, 6).alias("z_kurt"),
        F.round(k2, 6).alias("k2"),
        F.round(F.exp(-k2 / 2.0), 6).alias("p_value"),
    )


def fisher_combine(df: DataFrame, p_col: str) -> DataFrame:
    """Fisher's combined probability test → one row (k, x2, dof,
    p_value): X² = −2 Σ ln pᵢ ~ chi-square(2k) under the global null
    — 'k independent segment tests, is there an effect ANYWHERE' (the
    p-value-level counterpart to ``meta_fixed``'s effect pooling).
    Wilson–Hilferty tail via the shared polynomial; the ln sum runs
    over the study table (k rows, bounded by construction)."""
    src = df.select(F.col(p_col).cast("double").alias("_p")).filter(
        (F.col("_p") > 0) & (F.col("_p") <= 1)
    )
    agg = src.agg(
        F.count("*").alias("_k"),
        F.sum(F.lit(-2.0) * F.log("_p")).alias("_x2"),
    )
    dof = (F.col("_k") * 2).cast("double")
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.round("_x2", 6).alias("x2"),
        dof.cast("long").alias("dof"),
        F.round(
            F.when(
                F.col("_k") > 0, chi2_p_value(F.col("_x2"), dof)
            ),
            6,
        ).alias("p_value"),
    )


def rmst_from_curve(
    curve: DataFrame,
    t_col: str = "t_days",
    survival_col: str = "survival",
    tau: float = 30.0,
) -> DataFrame:
    """Restricted mean survival time → one row (tau, rmst): the area
    under the Kaplan–Meier step curve up to the horizon τ — 'average
    days survived in the first τ', the clinically-preferred summary
    when hazards aren't proportional (a median can hide everything
    after the crossing). Input is a ``kaplan_meier``-shaped curve
    (death-time rows, post-drop survival); the integral is one lead
    window + an exact segment sum over the bounded curve table:
    1·min(t₁,τ) + Σ sᵢ·(min(tᵢ₊₁,τ) − min(tᵢ,τ))."""
    w = Window.orderBy(t_col)
    t = F.col(t_col).cast("double")
    nxt = F.coalesce(
        F.lead(t_col).over(w).cast("double"), F.lit(float(tau))
    )
    seg = F.col(survival_col) * F.greatest(
        F.least(nxt, F.lit(float(tau))) - F.least(t, F.lit(float(tau))),
        F.lit(0.0),
    )
    agg = curve.select(seg.alias("_seg"), t.alias("_t")).agg(
        F.sum("_seg").alias("_tail"),
        F.least(F.min("_t"), F.lit(float(tau))).alias("_head"),
    )
    return agg.select(
        F.lit(float(tau)).alias("tau"),
        F.round(F.col("_head") + F.col("_tail"), 6).alias("rmst"),
    )


def survival_quartiles(
    curve: DataFrame,
    t_col: str = "t_days",
    survival_col: str = "survival",
) -> DataFrame:
    """Survival-time quartiles from a Kaplan–Meier curve → one row
    (q25_t, median_t, q75_t): the earliest times at which S(t) drops
    to ≤ 0.75 / 0.50 / 0.25 — NULL where the curve never reaches the
    level (more than that share still alive at the horizon). One
    conditional-min aggregate over the bounded curve table."""
    s = F.col(survival_col)
    t = F.col(t_col)
    return curve.agg(
        F.min(F.when(s <= 0.75, t)).alias("q25_t"),
        F.min(F.when(s <= 0.50, t)).alias("median_t"),
        F.min(F.when(s <= 0.25, t)).alias("q75_t"),
    )


def palma_ratio(df: DataFrame, value_col: str) -> DataFrame:
    """Palma inequality ratio → one row (n, bottom40_share,
    top10_share, palma): the top-10% share of the total divided by
    the bottom-40% share — the inequality summary that targets the
    tails the Gini compresses (Palma 2011). Exact order-statistic
    cuts over the distinct-value table: for cut k, each value
    contributes v·clamp(k − cum_before, 0, count) (tie groups split
    exactly, no row sampling); value mass accumulates as
    floor(v·2^20)·count in decimal(38,0) — order-free integer-exact."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    pv = src.groupBy("_v").agg(F.count("*").alias("_c"))
    w_all = Window.partitionBy()
    t = pv.select(
        "_v",
        "_c",
        before("_c", "_v").alias("_ca"),
        before("_c", F.col("_v").desc()).alias("_cd"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    k40 = F.floor(F.col("_n") * 4 / 10)
    k10 = F.floor(F.col("_n") / 10)
    take_b = F.greatest(
        F.least(k40 - F.col("_ca"), F.col("_c")), F.lit(0)
    )
    take_t = F.greatest(
        F.least(k10 - F.col("_cd"), F.col("_c")), F.lit(0)
    )
    dec = "decimal(38,0)"
    iv = F.floor(F.col("_v") * GRID).cast(dec)
    agg = t.groupBy("_n").agg(
        (F.sum(iv * take_b.cast(dec)).cast("double") / GRID).alias("_b"),
        (F.sum(iv * take_t.cast(dec)).cast("double") / GRID).alias("_t"),
        (F.sum(iv * F.col("_c").cast(dec)).cast("double") / GRID).alias(
            "_tot"
        ),
    )
    bs = F.when(F.col("_tot") != 0, F.col("_b") / F.col("_tot"))
    ts = F.when(F.col("_tot") != 0, F.col("_t") / F.col("_tot"))
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(bs, 6).alias("bottom40_share"),
        F.round(ts, 6).alias("top10_share"),
        F.round(F.when(bs > 0, ts / bs), 6).alias("palma"),
    )


def hoover_index(df: DataFrame, value_col: str) -> DataFrame:
    """Hoover (Robin Hood) index → one row (n, hoover): half the mean
    absolute deviation from the mean, as a share of the total —
    literally 'what fraction of the pie must move to equalize
    everyone'. The most interpretable inequality number next to
    ``gini_coefficient``/``atkinson_index``. Grid values, grid-floored
    mean, decimal-exact |deviation| and total sums."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    m = src.agg(
        grid(F.avg("_v")).alias("_m"),
        F.count("*").alias("_n"),
    )
    c = src.crossJoin(F.broadcast(m))
    dec = "decimal(38,0)"
    agg = c.groupBy("_n").agg(
        grid_sum128(F.abs(F.col("_v") - F.col("_m"))).alias("_dev"),
        grid_sum128(F.col("_v")).alias("_tot"),
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(
            F.when(
                F.col("_tot") != 0,
                0.5 * F.col("_dev") / F.col("_tot"),
            ),
            6,
        ).alias("hoover"),
    )


def kl_divergence(
    df: DataFrame,
    group_col: str,
    p_name: str,
    q_name: str,
    bucket_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Directed Kullback–Leibler divergences between two empirical
    bucket distributions → one row (n_p, n_q, n_buckets, kl_pq,
    kl_qp): additive (Lidstone) smoothing α on the union support
    keeps both directions finite on disjoint buckets — the ASYMMETRIC
    drift readout next to ``js_divergence`` (which direction moved:
    D(new‖old) spikes on novel mass, D(old‖new) on vanished mass).
    Cell counts are exact integers; smoothing makes every probability
    an exact rational cast once to double."""
    g = F.col(group_col)
    cells = df.filter(g.isin([p_name, q_name])).groupBy(
        F.col(bucket_col).alias("_k")
    ).agg(
        F.count(F.when(g == p_name, 1)).alias("_cp"),
        F.count(F.when(g == q_name, 1)).alias("_cq"),
    )
    w_all = Window.partitionBy()
    t = cells.select(
        "_cp",
        "_cq",
        F.sum("_cp").over(w_all).alias("_np"),
        F.sum("_cq").over(w_all).alias("_nq"),
        F.count("*").over(w_all).alias("_k2"),
    )
    a = float(alpha)
    denom_p = F.col("_np").cast("double") + a * F.col("_k2")
    denom_q = F.col("_nq").cast("double") + a * F.col("_k2")
    p = (F.col("_cp").cast("double") + a) / denom_p
    qd = (F.col("_cq").cast("double") + a) / denom_q
    agg = t.groupBy("_np", "_nq", "_k2").agg(
        F.sum(p * F.log(p / qd)).alias("_pq"),
        F.sum(qd * F.log(qd / p)).alias("_qp"),
    )
    return agg.select(
        F.col("_np").cast("long").alias("n_p"),
        F.col("_nq").cast("long").alias("n_q"),
        F.col("_k2").cast("long").alias("n_buckets"),
        F.round("_pq", 6).alias("kl_pq"),
        F.round("_qp", 6).alias("kl_qp"),
    )


def spearman_footrule(
    df: DataFrame,
    id_col: str,
    score_a_col: str,
    score_b_col: str,
) -> DataFrame:
    """Spearman footrule distance between two rankings of the same
    items → one row (n, footrule, f_norm): Σ|rank_a − rank_b| with
    deterministic dense ordering (score DESC, id ASC — the ``rbo``
    tie policy), normalized by the maximum ⌊n²/2⌋ so 0 = identical
    order, 1 = reversed. The L1 rank diagnostic that, unlike
    ``spearman_corr``'s L2, doesn't square away many small swaps.
    Ranks are exact integers; the sum is exact."""
    a = Window.orderBy(
        F.col(score_a_col).desc(), F.col(id_col)
    )
    b = Window.orderBy(
        F.col(score_b_col).desc(), F.col(id_col)
    )
    src = df.select(
        F.col(id_col),
        F.row_number().over(a).alias("_ra"),
        F.row_number().over(b).alias("_rb"),
    )
    agg = src.agg(
        F.count("*").alias("_n"),
        F.sum(F.abs(F.col("_ra") - F.col("_rb"))).alias("_f"),
    )
    n = F.col("_n")
    mx = F.floor(n * n / 2).cast("double")
    return agg.select(
        n.cast("long").alias("n"),
        F.col("_f").cast("long").alias("footrule"),
        F.round(
            F.when(mx > 0, F.col("_f").cast("double") / mx), 6
        ).alias("f_norm"),
    )


def quantile_treatment_effect(
    df: DataFrame,
    group_col: str,
    a: str,
    b: str,
    value_col: str,
    quantiles: "tuple[float, ...]" = (0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Quantile treatment effects → (q, v_a, v_b, qte): the exact
    type-1 order statistic (rank ⌈q·n⌉) of each group at each
    requested quantile and their difference — WHERE in the
    distribution the treatment acts (a mean lift can hide a
    tail-only effect; QTE at .9 vs .5 shows it). Selection by
    distinct-value cumulative counts — no per-group sort, ties
    resolve exactly."""
    g = F.col(group_col)
    v = grid(F.col(value_col).cast("double"))
    src = df.filter(g.isin([a, b]) & F.col(value_col).isNotNull()).select(
        g.alias("_g"), v.alias("_v")
    )
    pv = src.groupBy("_g", "_v").agg(F.count("*").alias("_c"))
    wg = Window.partitionBy("_g")
    t = pv.select(
        "_g",
        "_v",
        "_c",
        before("_c", "_v", ["_g"]).alias("_ca"),
        F.sum("_c").over(wg).alias("_n"),
    )
    qs = F.explode(
        F.array(*[F.lit(float(x)) for x in quantiles])
    ).alias("q")
    tq = t.select("*", qs)
    k = F.ceil(F.col("q") * F.col("_n"))
    hit = tq.filter(
        (F.col("_ca") < k) & (k <= F.col("_ca") + F.col("_c"))
    ).select("q", "_g", "_v")
    av = hit.filter(F.col("_g") == a).select(
        "q", F.col("_v").alias("v_a")
    )
    bv = hit.filter(F.col("_g") == b).select(
        "q", F.col("_v").alias("v_b")
    )
    return (
        av.join(bv, "q")
        .select(
            F.round("q", 2).alias("q"),
            F.round("v_a", 6).alias("v_a"),
            F.round("v_b", 6).alias("v_b"),
            F.round(F.col("v_a") - F.col("v_b"), 6).alias("qte"),
        )
    )


# ---------------------------------------------------------------------------
# Round-15 additions: goodness-of-fit / randomness / location-scale /
# epidemiology tier. Reference parity: these extend the analytics
# surface beyond the reference pipeline's aggregates (v2/sql/*.sql) —
# same exact-arithmetic discipline as the rest of this module.


def stouffer_z(df: DataFrame, z_col: str, w_col: str) -> DataFrame:
    """Stouffer's weighted combined z-test over k independent segment
    z-scores → one row (k, z_comb, p_value): Z = Σwᵢzᵢ / √(Σwᵢ²) —
    the z-scale twin of ``fisher_combine`` (which pools p-values;
    Stouffer pools the signed evidence, so consistent small effects
    reinforce instead of vanish). The study table is k rows (bounded
    by construction); both sums run on the 2^-20 grid so they are
    exact multiples far below the mantissa — order-free in any
    engine. Two-sided p via the shared erf polynomial."""
    src = df.select(
        F.col(z_col).cast("double").alias("_z"),
        F.col(w_col).cast("double").alias("_w"),
    ).filter(F.col("_z").isNotNull() & F.col("_w").isNotNull())
    agg = src.agg(
        F.count("*").alias("_k"),
        grid_sum(F.col("_w") * F.col("_z")).alias("_wz"),
        grid_sum(F.col("_w") * F.col("_w")).alias("_w2"),
    )
    z = F.col("_wz") / F.sqrt(F.col("_w2"))
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.round(z, 6).alias("z_comb"),
        F.round(2.0 * normal_sf(F.abs(z)), 6).alias("p_value"),
    )


def cvm_uniform(
    df: DataFrame, value_col: str, lo: float, hi: float
) -> DataFrame:
    """One-sample Cramér–von Mises and Watson U² goodness-of-fit
    against Uniform(lo, hi) → one row (n, w2, u2, reject_w2_5pct,
    reject_u2_5pct): W² = 1/(12n) + Σᵢ((2i−1)/(2n) − uᵢ)² over the
    order statistics uᵢ = clamp((x₍ᵢ₎−lo)/(hi−lo)); Watson's
    rotation-invariant U² = W² − n(ū − ½)² (the circular variant that
    doesn't care where the support 'starts'). Asymptotic 5% critical
    values 0.461 (W²) and 0.187 (U²) — the ``cvm`` two-sample
    convention of judging against the critical value, no p column.

    One sort-free plan: rank by window row_number (tied u's get
    distinct consecutive indices — the Σ over a tie block is
    index-set-invariant, so the statistic is deterministic), every
    squared term floored to the 2^-20 grid before the sum (exact,
    order-free)."""
    u = (F.col(value_col).cast("double") - F.lit(float(lo))) / F.lit(
        float(hi - lo)
    )
    u = F.least(F.greatest(u, F.lit(0.0)), F.lit(1.0))
    src = df.select(u.alias("_u")).filter(F.col("_u").isNotNull())
    w = Window.orderBy("_u")
    t = src.select(
        "_u", F.row_number().over(w).cast("double").alias("_i")
    )
    cnt = t.select("_u", "_i", F.count("*").over(Window.partitionBy()).alias("_n"))
    n = F.col("_n").cast("double")
    term = (2.0 * F.col("_i") - 1.0) / (2.0 * n) - F.col("_u")
    agg = cnt.groupBy("_n").agg(
        grid_sum(term * term).alias("_s"),
        grid_sum(F.col("_u")).alias("_su"),
    )
    w2 = 1.0 / (12.0 * n) + F.col("_s")
    ubar = F.col("_su") / n
    u2 = w2 - n * (ubar - 0.5) * (ubar - 0.5)
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(w2, 6).alias("w2"),
        F.round(u2, 6).alias("u2"),
        (w2 > 0.461).cast("int").alias("reject_w2_5pct"),
        (u2 > 0.187).cast("int").alias("reject_u2_5pct"),
    )


def lilliefors(df: DataFrame, value_col: str) -> DataFrame:
    """Lilliefors normality test → one row (n, mean, sd, d_stat,
    d_mod, reject_5pct): the Kolmogorov–Smirnov D against
    Normal(mean̂, sd̂) with BOTH parameters estimated from the data —
    the composite-null correction plain KS gets wrong (using the
    fitted CDF shrinks D, so KS tables are anti-conservative).
    D = maxᵢ max(i/n − Φ(zᵢ), Φ(zᵢ) − (i−1)/n) over the order
    statistics; decision via Stephens' modification
    D·(√n − 0.01 + 0.85/√n) against 0.895 (5%) — critical-value
    convention, no p column.

    Moments are grid-exact sums (2^-20); the per-point Φ runs through
    the shared erf polynomial; D is a single max aggregate."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    m = src.agg(
        F.count("*").alias("_n"),
        grid_sum(F.col("_v")).alias("_s1"),
        grid_sum(F.col("_v") * F.col("_v")).alias("_s2"),
    )
    t = src.crossJoin(F.broadcast(m))
    n = F.col("_n").cast("double")
    mean = F.col("_s1") / n
    var = (F.col("_s2") - n * mean * mean) / (n - 1.0)
    sd = F.sqrt(var)
    w = Window.partitionBy("_n").orderBy("_v")
    t = t.select(
        "_n",
        mean.alias("_m"),
        sd.alias("_sd"),
        "_v",
        F.row_number().over(w).cast("double").alias("_i"),
    )
    # the A&S erf polynomial is only valid for x >= 0: mirror the
    # negative tail instead of feeding it a negative argument
    zz = (F.col("_v") - F.col("_m")) / F.col("_sd")
    phi = F.when(zz >= 0, 1.0 - normal_sf(zz)).otherwise(normal_sf(-zz))
    nn = F.col("_n").cast("double")
    gap = F.greatest(
        F.col("_i") / nn - phi, phi - (F.col("_i") - 1.0) / nn
    )
    agg = t.groupBy("_n", "_m", "_sd").agg(F.max(gap).alias("_d"))
    rn = F.sqrt(F.col("_n").cast("double"))
    dmod = F.col("_d") * (rn - 0.01 + 0.85 / rn)
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round("_m", 6).alias("mean"),
        F.round("_sd", 6).alias("sd"),
        F.round("_d", 6).alias("d_stat"),
        F.round(dmod, 6).alias("d_mod"),
        (dmod > 0.895).cast("int").alias("reject_5pct"),
    )


def turning_point_test(
    df: DataFrame, group_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Turning-point randomness test per series → (group, n,
    n_turning, expected, z_stat, reject_5pct): count interior points
    that are strict local extrema (vₜ₋₁ < vₜ > vₜ₊₁ or the mirror);
    under i.i.d. continuity E[T] = 2(n−2)/3, Var[T] = (16n−29)/90 —
    too few turns = trend, too many = negative autocorrelation, the
    direction ``runs_test`` (sign-vs-median) is blind to. Triples
    touching a tie are excluded (counted in neither direction) and n
    is the full series length, documented bias under heavy ties. One
    keyed window pass (lag + lead), exact integer counts."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        v.alias("_v"),
    ).filter(F.col("_v").isNotNull())
    w = Window.partitionBy("_g").orderBy("_o")
    prev = F.lag("_v").over(w)
    nxt = F.lead("_v").over(w)
    turn = (
        ((prev < F.col("_v")) & (F.col("_v") > nxt))
        | ((prev > F.col("_v")) & (F.col("_v") < nxt))
    ).cast("int")
    agg = src.select("_g", turn.alias("_t")).groupBy("_g").agg(
        F.count("*").alias("_n"),
        F.sum("_t").alias("_nt"),
    )
    n = F.col("_n").cast("double")
    e = 2.0 * (n - 2.0) / 3.0
    sd = F.sqrt((16.0 * n - 29.0) / 90.0)
    z = F.when(
        F.col("_n") > 3, (F.col("_nt").cast("double") - e) / sd
    )
    return agg.select(
        F.col("_g").alias("g"),
        F.col("_n").cast("long").alias("n"),
        F.col("_nt").cast("long").alias("n_turning"),
        F.round(e, 6).alias("expected"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_5pct"),
    )


def bartels_rank_test(
    df: DataFrame, group_col: str, order_col: str, value_col: str
) -> DataFrame:
    """Bartels' rank version of von Neumann's ratio per series →
    (group, n, rvn, z_stat, reject_5pct): RVN = Σ(rᵢ − rᵢ₊₁)² /
    Σ(rᵢ − r̄)² over the series' midranks in time order — the
    nonparametric serial-randomness test (RVN ≪ 2: positive serial
    dependence; ≫ 2: alternation). z = (RVN − 2)/σ with the exact
    null σ² = 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²).

    Midranks make tied values exact half-integers: both quadratic
    forms are sums of ×4-integer grid terms — order-free exact —
    and the ratio is one IEEE divide of exact sums."""
    v = grid(F.col(value_col).cast("double"))
    src = df.select(
        F.col(group_col).alias("_g"),
        F.col(order_col).alias("_o"),
        v.alias("_v"),
    ).filter(F.col("_v").isNotNull())
    wo = Window.partitionBy("_g").orderBy("_o")
    t = row_ranks(src, "_v", ["_g"]).select("_g", "_o", "_r")
    t = t.withColumn("_rn", F.lead("_r").over(wo))
    num = (F.col("_r") - F.col("_rn")) * (F.col("_r") - F.col("_rn"))
    agg = t.groupBy("_g").agg(
        F.count("*").alias("_n"),
        (F.sum(F.when(F.col("_rn").isNotNull(), num * 4.0)) / 4.0).alias(
            "_num"
        ),
        (F.sum(F.col("_r") * 4.0) / 4.0).alias("_sr"),
        (F.sum(F.col("_r") * F.col("_r") * 4.0) / 4.0).alias("_sr2"),
    )
    n = F.col("_n").cast("double")
    den = F.col("_sr2") - F.col("_sr") * F.col("_sr") / n
    rvn = F.when(den > 0, F.col("_num") / den)
    var = (
        4.0
        * (n - 2.0)
        * (5.0 * n * n - 2.0 * n - 9.0)
        / (5.0 * n * (n + 1.0) * (n - 1.0) * (n - 1.0))
    )
    z = F.when(F.col("_n") > 3, (rvn - 2.0) / F.sqrt(var))
    return agg.select(
        F.col("_g").alias("g"),
        F.col("_n").cast("long").alias("n"),
        F.round(rvn, 6).alias("rvn"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_5pct"),
    )


def quade_test(
    df: DataFrame, block_col: str, treat_col: str, value_col: str
) -> DataFrame:
    """Quade test for k related treatments over n blocks → one row
    (n_blocks, k, f_stat, df1, df2): within-block midranks Rᵢⱼ are
    weighted by each block's RANGE rank Qᵢ (blocks that discriminate
    harder count more — the power upgrade over ``friedman_test`` when
    block scales differ), Sᵢⱼ = Qᵢ(Rᵢⱼ − (k+1)/2), and
    F = (n−1)·B/(A−B) with A = ΣSᵢⱼ², B = ΣⱼSⱼ²/n ~ F(k−1,(n−1)(k−1)).
    Critical-value convention (``chow_test``): no replayable F tail.

    Blocks missing any treatment are dropped (complete-block design).
    Midranks and Qᵢ are half-integers, so 16·Sᵢⱼ² and 16·Sⱼ² are
    exact integers — both quadratic forms are order-free exact sums;
    F is one IEEE ratio of exact sums. Three keyed windows + two
    aggregates, nothing driver-side."""
    src = df.select(
        F.col(block_col).alias("_b"),
        F.col(treat_col).alias("_t"),
        F.floor(F.col(value_col).cast("double") * GRID).alias("_vq"),
    ).filter(F.col("_vq").isNotNull())
    k_df = src.agg(F.countDistinct("_t").alias("_k"))
    # complete blocks only
    cnt = src.groupBy("_b").agg(F.countDistinct("_t").alias("_bk"))
    src = src.crossJoin(F.broadcast(k_df)).join(cnt, "_b").filter(
        F.col("_bk") == F.col("_k")
    )
    t = row_ranks(src, "_vq", ["_b"]).select("_b", "_t", "_k", "_vq", "_r")
    rng = src.groupBy("_b", "_k").agg(
        (F.max("_vq") - F.min("_vq")).alias("_rng")
    )
    rng = row_ranks(rng, "_rng", out="_q").select("_b", "_k", "_q")
    j = t.join(rng.select("_b", "_q"), "_b")
    kk = F.col("_k").cast("double")
    s = F.col("_q") * (F.col("_r") - (kk + 1.0) / 2.0)
    per = j.select("_b", "_t", "_k", s.alias("_s"))
    sj = per.groupBy("_t", "_k").agg(
        (F.sum(F.col("_s") * 4.0) / 4.0).alias("_sj"),
        (F.sum(F.col("_s") * F.col("_s") * 16.0) / 16.0).alias("_a_t"),
        F.count("*").alias("_nb"),
    )
    agg = sj.groupBy("_k").agg(
        F.max("_nb").alias("_n"),
        (F.sum(F.col("_sj") * F.col("_sj") * 16.0) / 16.0).alias("_b2"),
        F.sum("_a_t").alias("_a"),
    )
    n = F.col("_n").cast("double")
    kk = F.col("_k").cast("double")
    b = F.col("_b2") / n
    fstat = F.when(F.col("_a") > b, (n - 1.0) * b / (F.col("_a") - b))
    return agg.select(
        F.col("_n").cast("long").alias("n_blocks"),
        F.col("_k").cast("long").alias("k"),
        F.round(fstat, 6).alias("f_stat"),
        (F.col("_k") - 1).cast("long").alias("df1"),
        ((F.col("_n") - 1) * (F.col("_k") - 1)).cast("long").alias("df2"),
    )


def jonckheere_terpstra(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Jonckheere–Terpstra ordered-alternatives test → one row
    (k_groups, n, j_stat, mean_null, z_stat, reject_5pct): J = Σ over
    ordered group pairs (a < b, lexicographic) of the Mann–Whitney
    U_ab counting pairs where the later group's value wins (ties ½,
    via midranks within the pair) — the trend-aware upgrade over
    ``kruskal_wallis`` when groups carry a natural order. Normal
    approximation μ = (N²−Σnᵢ²)/4, σ² = (N²(2N+3)−Σnᵢ²(2nᵢ+3))/72
    (untied-variance convention, documented under midrank ties).

    Shape: each row joins to the ≤ k−1 group pairs it belongs to (a
    bounded broadcast fan-out, never a row×row product), one rank
    table per pair over its distinct values, exact ×2-integer rank
    sums."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    groups = src.select("_g").distinct()
    pairs = (
        groups.alias("l")
        .join(groups.alias("r"), F.col("l._g") < F.col("r._g"))
        .select(F.col("l._g").alias("_a"), F.col("r._g").alias("_b"))
    )
    fan = src.join(
        F.broadcast(pairs),
        (F.col("_g") == F.col("_a")) | (F.col("_g") == F.col("_b")),
    )
    t = value_ranks(
        fan, "_v", ["_a", "_b"],
        _cb=F.count(F.when(F.col("_g") == F.col("_b"), 1)),
    )
    per = t.groupBy("_a", "_b").agg(
        (
            F.sum(
                F.when(F.col("_cb") > 0, F.col("_cb") * F.col("_mr") * 2.0)
            )
            / 2.0
        ).alias("_rb"),
        F.sum("_cb").alias("_nb"),
    )
    u = F.col("_rb") - F.col("_nb").cast("double") * (
        F.col("_nb").cast("double") + 1.0
    ) / 2.0
    jsum = per.agg((F.sum(u * 2.0) / 2.0).alias("_j"))
    sizes = src.groupBy("_g").agg(F.count("*").alias("_ni"))
    tots = sizes.agg(
        F.count("*").alias("_k"),
        F.sum("_ni").alias("_nn"),
        F.sum(F.col("_ni") * F.col("_ni")).alias("_s2"),
        F.sum(
            F.col("_ni") * F.col("_ni") * (2 * F.col("_ni") + 3)
        ).alias("_s3"),
    )
    agg = jsum.crossJoin(F.broadcast(tots))
    nn = F.col("_nn").cast("double")
    mu = (nn * nn - F.col("_s2").cast("double")) / 4.0
    var = (
        nn * nn * (2.0 * nn + 3.0) - F.col("_s3").cast("double")
    ) / 72.0
    z = F.when(var > 0, (F.col("_j") - mu) / F.sqrt(var))
    return agg.select(
        F.col("_k").cast("long").alias("k_groups"),
        F.col("_nn").cast("long").alias("n"),
        F.round("_j", 6).alias("j_stat"),
        F.round(mu, 6).alias("mean_null"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_5pct"),
    )


def smr_byar(
    df: DataFrame, group_col: str, obs_col: str, exp_col: str
) -> DataFrame:
    """Standardized ratio with Byar's approximate exact Poisson CI per
    group → (g, obs, expected, smr, ci_lo, ci_hi, sig_5pct):
    SMR = O/E with L = O(1 − 1/(9O) − z/(3√O))³/E and
    U = (O+1)(1 − 1/(9(O+1)) + z/(3√(O+1)))³/E (z = 1.96) — the
    indirect-standardization workhorse; Byar's cube tracks the exact
    Poisson limits to ~1% even at small O (L = 0 when O = 0).
    Input is the already-aggregated (group, observed, expected)
    table; everything here is per-row closed-form IEEE of exact
    counts."""
    o = F.col(obs_col).cast("double")
    e = F.col(exp_col).cast("double")
    z = F.lit(1.96)
    o1 = o + 1.0
    lo = F.when(
        o > 0,
        o * F.pow(1.0 - 1.0 / (9.0 * o) - z / (3.0 * F.sqrt(o)), 3.0) / e,
    ).otherwise(F.lit(0.0))
    hi = o1 * F.pow(
        1.0 - 1.0 / (9.0 * o1) + z / (3.0 * F.sqrt(o1)), 3.0
    ) / e
    smr = o / e
    return df.select(
        F.col(group_col).alias("g"),
        F.col(obs_col).cast("long").alias("obs"),
        F.round(e, 6).alias("expected"),
        F.round(smr, 6).alias("smr"),
        F.round(lo, 6).alias("ci_lo"),
        F.round(hi, 6).alias("ci_hi"),
        ((lo > 1.0) | (hi < 1.0)).cast("int").alias("sig_5pct"),
    )


def suits_index(
    df: DataFrame, income_col: str, tax_col: str
) -> DataFrame:
    """Suits progressivity index → one row (n, total_income,
    total_tax, suits): S = 1 − 2·∫₀¹ y(x) dx where x = cumulative
    income share (units ordered by income) and y = cumulative tax
    share — the tax-system sibling of the Gini/Lorenz pair
    (S > 0: progressive, the rich carry a more-than-proportional
    share; S < 0: regressive). Trapezoid integral over the ordered
    curve: cumulative sums of 2^-20-grid values are exact at every
    prefix, each trapezoid term lands on the 2^-40 grid before the
    final sum (order-free exact), ordering ties broken by
    (income, tax) so the curve is engine-identical."""
    qi = grid(F.col(income_col).cast("double"))
    qt = grid(F.col(tax_col).cast("double"))
    src = df.select(qi.alias("_i"), qt.alias("_t")).filter(
        F.col("_i").isNotNull() & F.col("_t").isNotNull()
    )
    # totals and prefixes can exceed 2^53: accumulate the grid units
    # as exact LONGs (the SQL twin uses HUGEINT + the VARCHAR
    # round-trip), then one correctly-rounded long->double conversion
    iu = (F.col("_i") * GRID).cast("long")
    tu = (F.col("_t") * GRID).cast("long")
    tot = src.agg(
        F.count("*").alias("_n"),
        (F.sum(iu).cast("double") / GRID).alias("_ti"),
        (F.sum(tu).cast("double") / GRID).alias("_tt"),
    )
    w = Window.orderBy("_i", "_t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    t = src.select(
        "_i",
        "_t",
        (F.sum(iu).over(w).cast("double") / GRID).alias("_ci"),
        (F.sum(tu).over(w).cast("double") / GRID).alias("_ct"),
    ).crossJoin(F.broadcast(tot))
    x = F.col("_ci") / F.col("_ti")
    y = F.col("_ct") / F.col("_tt")
    xp = x - F.col("_i") / F.col("_ti")
    yp = y - F.col("_t") / F.col("_tt")
    term = (x - xp) * (y + yp)
    agg = t.groupBy("_n", "_ti", "_tt").agg(
        grid_sum(term, LOG_GRID).alias("_area2")
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round("_ti", 6).alias("total_income"),
        F.round("_tt", 6).alias("total_tax"),
        F.round(1.0 - F.col("_area2"), 6).alias("suits"),
    )


def aalen_johansen(
    df: DataFrame, duration_col: str, cause_col: str
) -> DataFrame:
    """Aalen–Johansen cumulative incidence under competing risks →
    (t, cause, n_risk, d_cause, cif): CIFₖ(t) = Σ_{u ≤ t} S(u⁻)·dₖᵤ/nᵤ
    with S the ALL-cause Kaplan–Meier — the estimator that 1−KM-per-
    cause gets wrong (it overstates incidence by pretending competing
    events are censorings). ``cause_col`` = 0 for censored, else the
    integer competing cause.

    The ``kaplan_meier`` discipline: per-duration counts, reverse
    cumsum for n_risk, S(u⁻) = exp(cumsum(ln) over STRICTLY earlier
    event times), then one ordered cumsum per cause of the IEEE
    increments — identical term order on every engine; curve tables
    are bounded by distinct durations × causes."""
    src = df.select(
        F.col(duration_col).cast("long").alias("_t"),
        F.col(cause_col).cast("int").alias("_c"),
    ).filter(F.col("_t").isNotNull() & F.col("_c").isNotNull())
    per_t = src.groupBy("_t").agg(
        F.count("*").alias("_n_t"),
        F.count(F.when(F.col("_c") != 0, 1)).alias("_d_all"),
    )
    w = Window.orderBy("_t")
    base = per_t.withColumn(
        "_n_risk",
        F.sum("_n_t").over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        ),
    )
    # d_all == n_risk (everyone remaining dies) would take ln(0); that
    # term can only influence LATER times, of which there are none —
    # excluded on both engines (DuckDB ln(0) throws, Spark NULLs)
    lf = F.when(
        (F.col("_d_all") > 0) & (F.col("_d_all") < F.col("_n_risk")),
        F.log(
            1.0
            - F.col("_d_all").cast("double")
            / F.col("_n_risk").cast("double")
        ),
    ).otherwise(F.lit(0.0))
    base = base.withColumn(
        "_s_minus",
        F.exp(
            before(lf, "_t")
        ),
    )
    per_tc = src.filter(F.col("_c") != 0).groupBy("_t", "_c").agg(
        F.count("*").alias("_d_c")
    )
    j = per_tc.join(
        base.select("_t", "_n_risk", "_s_minus"), "_t"
    )
    inc = F.col("_s_minus") * F.col("_d_c").cast("double") / F.col(
        "_n_risk"
    ).cast("double")
    wc = Window.partitionBy("_c").orderBy("_t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    t = j.withColumn("_cif", F.sum(inc).over(wc))
    return t.select(
        F.col("_t").cast("long").alias("t"),
        F.col("_c").cast("int").alias("cause"),
        F.col("_n_risk").cast("long").alias("n_risk"),
        F.col("_d_c").cast("long").alias("d_cause"),
        F.round("_cif", 6).alias("cif"),
    )


def moses_test(
    df: DataFrame,
    group_col: str,
    control: str,
    experimental: str,
    value_col: str,
    h: int = 1,
) -> DataFrame:
    """Moses test of extreme reactions → one row (n_c, n_e, span,
    excess, p_value, reject_5pct): do EXPERIMENTAL observations pile
    up in BOTH tails around the controls (the bimodal 'extreme
    reaction' alternative every location test misses)? After dropping
    the ``h`` smallest and largest controls (outlier armor), the span
    of the remaining c = n_c−2h control ranks in the combined ordering
    is s = c + g, where g counts experimentals strictly inside the
    control range; under H₀ (stars-and-bars over the c+1 gaps)
    P(≤ g inside) = Σᵢ₌₀..g C(i+c−2, i)·(n_e−i+1) / C(n_e+c, n_e).

    The ``fisher_exact`` discipline, no factorial tables: ln weights
    by ratio recurrence over the bounded i-spine (2^-40 ln grid, one
    ordered cumsum), ln C(n_e+c, n_e) = Σⱼ₌₁..c ln((n_e+j)/j) over a
    c-bounded spine, exp sums re-gridded to exact integers. Combined
    ranking is one ordered window with (value, group) tiebreak."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(
        F.col("_v").isNotNull() & F.col("_g").isin([control, experimental])
    )
    w = Window.orderBy("_v", "_g")
    t = src.select(
        "_g", "_v", F.row_number().over(w).alias("_rank")
    )
    # rank of each control within its own group (for trimming)
    wc = Window.partitionBy("_g").orderBy("_v", "_rank")
    t = t.withColumn("_grank", F.row_number().over(wc))
    counts = t.groupBy().pivot("_g", [control, experimental]).count()
    counts = counts.select(
        F.col(control).alias("_nc"), F.col(experimental).alias("_ne")
    )
    tt = t.crossJoin(F.broadcast(counts))
    kept = tt.filter(
        (F.col("_g") == experimental)
        | (
            (F.col("_grank") > h)
            & (F.col("_grank") <= F.col("_nc") - h)
        )
    )
    span = kept.filter(F.col("_g") == control).agg(
        F.max("_nc").alias("_nc"),
        F.max("_ne").alias("_ne"),
        F.min("_rank").alias("_rlo"),
        F.max("_rank").alias("_rhi"),
    )
    # experimentals strictly inside the trimmed control range
    inside = kept.crossJoin(F.broadcast(span.select(
        F.col("_rlo").alias("_lo2"), F.col("_rhi").alias("_hi2")
    ))).filter(
        (F.col("_g") == experimental)
        & (F.col("_rank") > F.col("_lo2"))
        & (F.col("_rank") < F.col("_hi2"))
    ).agg(F.count("*").alias("_gin"))
    base = span.crossJoin(F.broadcast(inside)).select(
        "_nc", "_ne", "_gin",
        (F.col("_nc") - 2 * h).alias("_c"),
    )
    # ln C(ne + c, ne) over the j = 1..c spine
    denom_spine = base.select(
        "_ne", "_c", F.explode(F.sequence(F.lit(1), F.col("_c"))).alias("_j")
    )
    lnc = denom_spine.groupBy("_ne", "_c").agg(
        F.sum(
            log_grid(F.col("_ne") + F.col("_j")) - log_grid(F.col("_j"))
        ).alias("_lnC")
    )
    # weights w(i) = C(i+c-2, i)·(ne-i+1), i = 0..g by ratio recurrence
    wspine = base.select(
        "_nc", "_ne", "_gin", "_c",
        F.explode(F.sequence(F.lit(0), F.col("_gin"))).alias("_i"),
    )
    step = F.when(F.col("_i") == 0, F.lit(0)).otherwise(
        log_grid(F.col("_i") + F.col("_c") - 2)
        - log_grid(F.col("_i"))
        + log_grid(F.col("_ne") - F.col("_i") + 1)
        - log_grid(F.col("_ne") - F.col("_i") + 2)
    )
    wi = Window.partitionBy("_c").orderBy("_i").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lnw0 = log_grid(F.col("_ne") + 1)  # w(0) = ne + 1
    t2 = wspine.withColumn("_lnw", lnw0 + F.sum(step).over(wi))
    t2 = t2.join(lnc, ["_ne", "_c"])
    p = F.exp((F.col("_lnw") - F.col("_lnC")).cast("double") / LOG_GRID)
    agg = t2.groupBy("_nc", "_ne", "_gin", "_c").agg(
        grid_sum(p, LOG_GRID).alias("_p")
    )
    pv = F.least(F.col("_p"), F.lit(1.0))
    return agg.select(
        F.col("_nc").cast("long").alias("n_c"),
        F.col("_ne").cast("long").alias("n_e"),
        (F.col("_c") + F.col("_gin")).cast("long").alias("span"),
        F.col("_gin").cast("long").alias("excess"),
        F.round(pv, 6).alias("p_value"),
        (pv < 0.05).cast("int").alias("reject_5pct"),
    )


def cucconi_test(
    df: DataFrame, group_col: str, a: str, b: str, value_col: str
) -> DataFrame:
    """Cucconi joint location-scale two-sample test → one row (n_a,
    n_b, u_stat, v_stat, c_stat, p_value, reject_5pct): U from the
    squared combined midranks of sample a, V from the squared CONTRA
    ranks (N+1−R)², combined as C = (U²+V²−2ρUV)/(2(1−ρ²)) with the
    exact null correlation ρ = 2(N²−4)/((2N+1)(8N+11)) − 1 and the
    asymptotic p = exp(−C) — one test that catches location AND scale
    shifts (the Lepage alternative without combining two separate
    statistics). Midranks make 4·ΣR² exact integers; everything
    downstream is IEEE of exact sums."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isin([a, b]))
    t = value_ranks(
        src, "_v",
        _ca=F.count(F.when(F.col("_g") == a, 1)),
        _cb=F.count(F.when(F.col("_g") == b, 1)),
    )
    ca, r = F.col("_ca"), F.col("_mr")
    agg = t.agg(
        F.coalesce(F.sum("_ca"), F.lit(0)).alias("_na"),
        F.coalesce(F.sum("_cb"), F.lit(0)).alias("_nb"),
        (F.sum(F.when(ca > 0, ca * r * r * 4.0)) / 4.0).alias("_sr2"),
        (F.sum(F.when(ca > 0, ca * r * 2.0)) / 2.0).alias("_sr"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    nn = na + nb
    # contra sum: Σ(N+1-R)² = na(N+1)² - 2(N+1)ΣR + ΣR²
    sc2 = (
        na * (nn + 1.0) * (nn + 1.0)
        - 2.0 * (nn + 1.0) * F.col("_sr")
        + F.col("_sr2")
    )
    den = F.sqrt(
        na * nb * (nn + 1.0) * (2.0 * nn + 1.0) * (8.0 * nn + 11.0) / 5.0
    )
    # an empty arm (den = 0) or N = 2 (rho = -1) has no distribution
    null_mean = na * (nn + 1.0) * (2.0 * nn + 1.0)
    u = F.when(den > 0, (6.0 * F.col("_sr2") - null_mean) / den)
    v = F.when(den > 0, (6.0 * sc2 - null_mean) / den)
    rho = 2.0 * (nn * nn - 4.0) / (
        (2.0 * nn + 1.0) * (8.0 * nn + 11.0)
    ) - 1.0
    c = F.when(
        1.0 - rho * rho > 0,
        (u * u + v * v - 2.0 * rho * u * v) / (2.0 * (1.0 - rho * rho)),
    )
    p = F.exp(-c)
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(u, 6).alias("u_stat"),
        F.round(v, 6).alias("v_stat"),
        F.round(c, 6).alias("c_stat"),
        F.round(p, 6).alias("p_value"),
        (p < 0.05).cast("int").alias("reject_5pct"),
    )


# ---------------------------------------------------------------------------
# Round-15 QUEUE additions (r16-window candidates): normal-scores and
# scale rank tests on the shared midrank/probit machinery.


def van_der_waerden(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Van der Waerden k-sample normal-scores location test → one row
    (k, n, t_stat, df, p_value): pooled midranks mapped through
    Φ⁻¹(r/(N+1)) (the shared Acklam probit), T = Σ_g (Σa)²/n_g / s²
    with s² = Σa²/(N−1) ~ χ²(k−1) — Kruskal–Wallis' ARE-of-ANOVA
    sibling (full Pitman efficiency against normal shifts, rank
    robustness everywhere else). Wilson–Hilferty chi-square tail via
    the shared erf polynomial; every score product grid-floored
    before its sum."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    pv = src.groupBy("_v", "_g").agg(F.count("*").alias("_c"))
    ranks = value_ranks(pv, "_v", t=F.sum("_c")).withColumn(
        "_nn", F.sum("_t").over(Window.partitionBy())
    )
    a = probit_approx(F.col("_mr") / (F.col("_nn").cast("double") + 1.0))
    t = pv.join(ranks.select("_v", "_nn", a.alias("_a")), "_v")
    c = F.col("_c")
    per = t.groupBy("_g", "_nn").agg(
        F.sum("_c").alias("_ng"),
        grid_sum(F.col("_a"), count=c).alias("_sa"),
        grid_sum(F.col("_a") * F.col("_a"), count=c).alias("_sa2"),
    )
    agg = per.groupBy("_nn").agg(
        F.count("*").alias("_k"),
        grid_sum(
            F.col("_sa") * F.col("_sa") / F.col("_ng").cast("double")
        ).alias("_t1"),
        F.sum("_sa2").alias("_ssq"),
    )
    nn = F.col("_nn").cast("double")
    # one row, or every value tied, leaves no score variance
    s2 = F.when(nn > 1.0, F.col("_ssq") / (nn - 1.0))
    tstat = F.when(s2 > 0, F.col("_t1") / s2)
    dof = (F.col("_k") - 1).cast("double")
    p = F.when(F.col("_k") > 1, chi2_p_value(tstat, dof))
    return agg.select(
        F.col("_k").cast("long").alias("k"),
        F.col("_nn").cast("long").alias("n"),
        F.round(tstat, 6).alias("t_stat"),
        dof.cast("long").alias("df"),
        F.round(p, 6).alias("p_value"),
    )


def klotz_test(
    df: DataFrame, group_col: str, a: str, b: str, value_col: str
) -> DataFrame:
    """Klotz two-sample normal-scores SCALE test → one row (n_a, n_b,
    t_stat, z_stat, reject_5pct): scores aᵢ = Φ⁻¹(rᵢ/(N+1))², T = Σ
    over sample a — the normal-scores counterpart of
    ``ansari_bradley`` (full efficiency against normal scale shifts).
    z = (T − n_a·ā)/√(n_a·n_b/(N(N−1))·Σ(aᵢ−ā)²·... the exact
    permutation moments E[T] = n_a ā and
    Var[T] = n_a n_b (Σa² − N ā²)/(N(N−1))."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isin([a, b]))
    t = value_ranks(
        src, "_v",
        _ca=F.count(F.when(F.col("_g") == a, 1)),
        _cb=F.count(F.when(F.col("_g") == b, 1)),
    )
    t = t.withColumn("_nn", F.sum("_t").over(Window.partitionBy()))
    sc = probit_approx(F.col("_mr") / (F.col("_nn").cast("double") + 1.0))
    t = t.select("_ca", "_cb", "_t", "_nn", (sc * sc).alias("_a"))
    ca, ct, sa = F.col("_ca"), F.col("_t"), F.col("_a")
    agg = t.groupBy("_nn").agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        grid_sum(F.when(ca > 0, sa), count=ca).alias("_ta"),
        grid_sum(sa, count=ct).alias("_sa"),
        grid_sum(sa * sa, count=ct).alias("_sa2"),
    )
    nn = F.col("_nn").cast("double")
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    abar = F.col("_sa") / nn
    var = F.when(
        nn > 1.0,
        na * nb * (F.col("_sa2") - nn * abar * abar) / (nn * (nn - 1.0)),
    )
    z = F.when(var > 0, (F.col("_ta") - na * abar) / F.sqrt(var))
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round("_ta", 6).alias("t_stat"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_5pct"),
    )


def siegel_tukey(
    df: DataFrame, group_col: str, a: str, b: str, value_col: str
) -> DataFrame:
    """Siegel–Tukey two-sample scale test → one row (n_a, n_b, w_stat,
    z_stat, reject_5pct): ranks assigned ZIGZAG from the extremes
    inward (1 to the smallest, 2–3 to the two largest, 4–5 to the
    next two smallest, …), then a plain Wilcoxon rank-sum on those
    ranks — the scale test that needs no scores at all (low spread ⇒
    central values ⇒ HIGH zigzag ranks). Ordering ties broken by
    (value, group) — documented determinism contract, classic ST
    assumes continuity. Untied normal approximation
    E = n_a(N+1)/2, Var = n_a n_b(N+1)/12."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isin([a, b]))
    w = Window.orderBy("_v", "_g")
    t = src.select(
        "_g", F.row_number().over(w).cast("long").alias("_i")
    )
    nn_df = t.agg(F.count("*").alias("_nn"))
    t = t.crossJoin(F.broadcast(nn_df))
    i = F.col("_i")
    nnl = F.col("_nn")
    j = nnl + 1 - i
    bottom = i <= (nnl + 1 - i)
    zig = F.when(
        bottom,
        F.when(i % 2 == 1, 2 * i - 1).otherwise(2 * i),
    ).otherwise(F.when(j % 2 == 1, 2 * j).otherwise(2 * j - 1))
    t = t.select("_g", "_nn", zig.cast("double").alias("_z"))
    agg = t.groupBy("_nn").agg(
        F.count(F.when(F.col("_g") == a, 1)).alias("_na"),
        F.count(F.when(F.col("_g") == b, 1)).alias("_nb"),
        F.sum(F.when(F.col("_g") == a, F.col("_z"))).alias("_w"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    nn = F.col("_nn").cast("double")
    e = na * (nn + 1.0) / 2.0
    var = na * nb * (nn + 1.0) / 12.0
    z = F.when(var > 0, (F.col("_w") - e) / F.sqrt(var))
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round("_w", 6).alias("w_stat"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_5pct"),
    )


def lepage_test(
    df: DataFrame, group_col: str, a: str, b: str, value_col: str
) -> DataFrame:
    """Lepage combined location-scale test → one row (n_a, n_b,
    w_part, a_part, l_stat, p_value, reject_5pct): the standardized
    Wilcoxon rank-sum (location) plus the standardized Ansari–Bradley
    (scale), L = Z_W² + Z_A² ~ χ²(2) with the EXACT df-2 tail
    exp(−L/2) — one omnibus where ``cucconi_test`` takes the
    squared-rank route. Midranks for ties; Ansari scores
    min(r, N+1−r); untied null moments (parity-split for Ansari),
    documented."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isin([a, b]))
    t = value_ranks(
        src, "_v",
        _ca=F.count(F.when(F.col("_g") == a, 1)),
        _cb=F.count(F.when(F.col("_g") == b, 1)),
    )
    t = t.withColumn("_nn", F.sum("_t").over(Window.partitionBy()))
    nn = F.col("_nn").cast("double")
    ca, r = F.col("_ca"), F.col("_mr")
    asc = F.least(r, nn + 1.0 - r)
    agg = t.groupBy("_nn").agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        (F.sum(F.when(ca > 0, ca * r * 2.0)) / 2.0).alias("_w"),
        (F.sum(F.when(ca > 0, ca * asc * 2.0)) / 2.0).alias("_ab"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    nn = F.col("_nn").cast("double")
    ew = na * (nn + 1.0) / 2.0
    vw = na * nb * (nn + 1.0) / 12.0
    even = F.pmod(F.col("_nn"), 2) == 0
    ea = F.when(even, na * (nn + 2.0) / 4.0).otherwise(
        na * (nn + 1.0) * (nn + 1.0) / (4.0 * nn)
    )
    va = F.when(
        even,
        na * nb * (nn + 2.0) * (nn - 2.0) / (48.0 * (nn - 1.0)),
    ).otherwise(
        na * nb * (nn + 1.0) * (3.0 + nn * nn) / (48.0 * nn * nn)
    )
    # an empty arm, or N <= 2, has no null variance
    zw = F.when(vw > 0, (F.col("_w") - ew) / F.sqrt(vw))
    za = F.when(va > 0, (F.col("_ab") - ea) / F.sqrt(va))
    lstat = zw * zw + za * za
    p = F.exp(-lstat / 2.0)
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round(zw, 6).alias("w_part"),
        F.round(za, 6).alias("a_part"),
        F.round(lstat, 6).alias("l_stat"),
        F.round(p, 6).alias("p_value"),
        (p < 0.05).cast("int").alias("reject_5pct"),
    )


def rate_ratio_test(
    df: DataFrame, group_col: str, obs_col: str, exp_col: str,
    ref_group: str,
) -> DataFrame:
    """Exact two-sample Poisson rate-ratio test of every group against
    ``ref_group`` → (g, obs, obs_ref, rr, p_two_sided): conditional
    on O₁+O₂ the reference count is Binomial(O₁+O₂, E_ref/(E₁+E_ref)),
    so the exact two-sided p sums binomial point masses ≤ the
    observed one — the small-count companion to ``smr_byar``'s
    interval (CIs say how big, this says how sure). The
    ``fisher_exact`` discipline: ln-weight ratio recurrence over the
    O₁+O₂-bounded support spine, 2^-40 grid, decimal(38,0) exact
    totals; rr = (O_g/E_g)/(O_ref/E_ref)."""
    ref = df.filter(F.col(group_col) == ref_group).select(
        F.col(obs_col).cast("long").alias("_or"),
        F.col(exp_col).cast("double").alias("_er"),
    )
    others = df.filter(F.col(group_col) != ref_group).select(
        F.col(group_col).alias("_g"),
        F.col(obs_col).cast("long").alias("_og"),
        F.col(exp_col).cast("double").alias("_eg"),
    )
    base = others.crossJoin(F.broadcast(ref))
    tot = (F.col("_og") + F.col("_or")).alias("_t")
    pr = (F.col("_eg") / (F.col("_eg") + F.col("_er"))).alias("_pi")
    base = base.select("*", tot, pr)
    sup = base.select(
        "*", F.explode(F.sequence(F.lit(0), F.col("_t"))).alias("_x")
    )
    # w(x) = C(t, x) pi^x (1-pi)^(t-x); ratio w(x)/w(x-1) =
    # ((t-x+1)/x) * (pi/(1-pi))
    step = F.when(F.col("_x") == 0, F.lit(0)).otherwise(
        log_grid(F.col("_t") - F.col("_x") + 1)
        - log_grid(F.col("_x"))
        + log_grid(F.col("_pi"))
        - log_grid(1.0 - F.col("_pi"))
    )
    t, tot, inc = pmf_two_sided(sup, step, "_x", F.col("_og"), ["_g"])
    sums = t.groupBy("_g", "_og", "_or", "_eg", "_er").agg(tot, inc)
    rr = (
        F.col("_og").cast("double") / F.col("_eg")
    ) / (F.col("_or").cast("double") / F.col("_er"))
    p = F.col("_inc").cast("double") / F.col("_tot").cast("double")
    return sums.select(
        F.col("_g").alias("g"),
        F.col("_og").cast("long").alias("obs"),
        F.col("_or").cast("long").alias("obs_ref"),
        F.round(rr, 6).alias("rr"),
        F.round(F.least(p, F.lit(1.0)), 6).alias("p_two_sided"),
    )


def weibull_mrr(
    df: DataFrame, duration_col: str
) -> DataFrame:
    """Weibull fit by median-rank regression → one row (n, shape,
    scale, r2): order the lifetimes, Bernard median ranks
    F̂ᵢ = (i−0.3)/(n+0.4), and OLS of ln(−ln(1−F̂)) on ln(t) gives
    shape = slope and scale = exp(−intercept/slope) — the standard
    reliability-engineering estimator (MLE needs iteration; MRR is
    closed-form and replayable). The x-axis comes from grid-floored
    ln durations; ties get distinct consecutive ranks by the
    documented (t, rank) order; zero durations are excluded
    (ln pole)."""
    src = df.select(
        F.col(duration_col).cast("double").alias("_t")
    ).filter(F.col("_t").isNotNull() & (F.col("_t") > 0))
    w = Window.orderBy("_t")
    t = src.select(
        "_t",
        F.row_number().over(w).cast("double").alias("_i"),
        F.count("*").over(Window.partitionBy()).alias("_n"),
    )
    n = F.col("_n").cast("double")
    fr = (F.col("_i") - 0.3) / (n + 0.4)
    x = grid(F.log("_t"))
    y = grid(F.log(-F.log(1.0 - fr)))
    t = t.select("_n", x.alias("_x"), y.alias("_y"))
    agg = t.groupBy("_n").agg(
        (F.sum(F.col("_x") * GRID) / GRID).alias("_sx"),
        (F.sum(F.col("_y") * GRID) / GRID).alias("_sy"),
        grid_sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        grid_sum(F.col("_y") * F.col("_y")).alias("_syy"),
        grid_sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    n = F.col("_n").cast("double")
    sxx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / n
    syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / n
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / n
    shape = F.when(sxx > 0, sxy / sxx)
    intercept = (F.col("_sy") - shape * F.col("_sx")) / n
    scale = F.exp(-intercept / shape)
    r2 = F.when(
        (sxx > 0) & (syy > 0), sxy * sxy / (sxx * syy)
    )
    return agg.select(
        F.col("_n").cast("long").alias("n"),
        F.round(shape, 6).alias("shape"),
        F.round(scale, 6).alias("scale"),
        F.round(r2, 6).alias("r2"),
    )


def mood_scale_test(
    df: DataFrame, group_col: str, a: str, b: str, value_col: str
) -> DataFrame:
    """Mood's two-sample scale test → one row (n_a, n_b, t_stat,
    z_stat, reject_5pct): T = Σ over sample a of (rᵢ − (N+1)/2)² —
    squared distance of a's midranks from the grand median rank; the
    quadratic-score member of the scale-test family (``ansari_bradley``
    uses triangular scores, ``klotz_test`` normal scores, this one
    parabolic — best near-normal power without a probit). Exact null
    moments E[T] = n_a(N²−1)/12 and
    Var[T] = n_a·n_b(N+1)(N²−4)/180; midranks make 4T an exact
    integer."""
    src = df.select(
        F.col(group_col).alias("_g"),
        grid(F.col(value_col).cast("double")).alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isin([a, b]))
    t = value_ranks(
        src, "_v",
        _ca=F.count(F.when(F.col("_g") == a, 1)),
        _cb=F.count(F.when(F.col("_g") == b, 1)),
    )
    t = t.withColumn("_nn", F.sum("_t").over(Window.partitionBy()))
    nn = F.col("_nn").cast("double")
    ca = F.col("_ca")
    dev = F.col("_mr") - (nn + 1.0) / 2.0
    agg = t.groupBy("_nn").agg(
        F.sum("_ca").alias("_na"),
        F.sum("_cb").alias("_nb"),
        (F.sum(F.when(ca > 0, ca * dev * dev * 4.0)) / 4.0).alias("_ts"),
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    nn = F.col("_nn").cast("double")
    e = na * (nn * nn - 1.0) / 12.0
    var = na * nb * (nn + 1.0) * (nn * nn - 4.0) / 180.0
    z = F.when(var > 0, (F.col("_ts") - e) / F.sqrt(var))
    return agg.select(
        F.col("_na").cast("long").alias("n_a"),
        F.col("_nb").cast("long").alias("n_b"),
        F.round("_ts", 6).alias("t_stat"),
        F.round(z, 6).alias("z_stat"),
        (F.abs(z) > 1.96).cast("int").alias("reject_5pct"),
    )

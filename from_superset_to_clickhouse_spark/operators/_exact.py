"""The exact-arithmetic contract every statistic in this package keeps.

An operator counts as correct only when its result hash-matches an
independent DuckDB replay, so no result may depend on the order in
which an engine adds up partial sums. The rules, and the helpers that
spell each one once:

- **The grid.** Inputs and intermediate means are floored onto the
  2^-20 grid (:data:`GRID`): ``grid(x) = floor(x·2^20)/2^20``. The
  scale is a power of two, so the multiply and the divide are exact
  IEEE operations and only the floor rounds.
- **Exact sums.** A sum that an engine may reorder is taken over grid
  integers, never over doubles: :func:`grid_sum` accumulates
  ``floor(x·2^20)`` in a BIGINT and :func:`grid_sum128` in a
  decimal(38,0) (the HUGEINT a DuckDB BIGINT sum widens to) for
  price-scale squares that would overflow 2^63. The third exact type
  is a plain double sum of terms that live on a coarse grid — counts,
  midranks (0.5 grid) and their products (0.25 grid) — which is exact
  while the total stays below 2^53.
- **The log grid.** Exact discrete tail probabilities (Fisher,
  Poisson rate ratio, Moses) add log-weights floored onto the 2^-40
  grid (:data:`LOG_GRID`, :func:`log_grid`) as integers, and sum the
  re-exponentiated masses in decimal(38,0): :func:`pmf_two_sided`.
- **Midranks.** A tied value's rank is the average of the positions
  it spans: ``(#rows strictly before) + (t+1)/2`` for a tie block of
  ``t`` rows — always on the 0.5 grid. :func:`value_ranks` gives it
  per distinct value (statistics that sum a function of the rank per
  arm weight it by the value's counts); :func:`row_ranks` gives it per
  row (statistics that pair ranks row by row). Both compute the same
  number.
- **NULL for undefined.** A statistic with no sampling distribution
  (a zero variance, a zero-size arm) is NULL, never a division error:
  each division by a quantity that can be zero is guarded with
  ``F.when(den > 0, num / den)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

GRID = float(1 << 20)  # power-of-two scale: x * GRID is an exact multiply
LOG_GRID = float(1 << 40)


def grid(x: Column) -> Column:
    """``x`` floored onto the 2^-20 grid (a double)."""
    return F.floor(x * GRID) / GRID


def grid_sum(
    x: Column, unit: float = GRID, count: Column = None, over=None
) -> Column:
    """Σ floor(x·unit) as an exact BIGINT sum, scaled back once. Over
    a rank table, ``count`` weights each value by its rows; ``over``
    (a window spec) makes it a windowed sum."""
    q = F.floor(x * unit)
    s = F.sum(q if count is None else count * q)
    return (s if over is None else s.over(over)) / unit


def grid_sum128(x: Column, unit: float = GRID) -> Column:
    """Σ floor(x·unit) in decimal(38,0), then one cast to double: the
    exact sum for squared price-scale deviations, where a BIGINT sum
    overflows at ~2^63/unit (ANSI aborts the job)."""
    return F.sum(F.floor(x * unit).cast("decimal(38,0)")).cast("double") / unit


def log_grid(x: Column) -> Column:
    """floor(ln(x)·2^40): a log-weight step as an exact integer."""
    return F.floor(F.log(x.cast("double")) * LOG_GRID)


def pmf_two_sided(
    support: DataFrame, step: Column, order: str, observed: Column,
    by: "list[str]" = (),
):
    """Exact two-sided p-value pieces over a discrete support.

    ``support`` holds one row per support point (``order``) per key
    ``by``; ``step`` is the log-grid ratio ln w(x) − ln w(x−1) (0 at
    the first point). The running sum of steps is each point's
    unnormalized ln-weight ``_lnw``; the masses exp(_lnw − max) are
    floored onto the log grid and summed in decimal(38,0). Returns the
    support with ``_lnw`` and the two aggregates ``_tot`` (all mass)
    and ``_inc`` (mass of points no likelier than the observed one,
    with a 1e-7 relative slack): p = _inc / _tot."""
    by = list(by)
    w = Window.partitionBy(*by).orderBy(order).rowsBetween(
        Window.unboundedPreceding, 0
    )
    t = support.withColumn("_lnw", F.sum(step).over(w))
    t = t.withColumn("_m", F.max("_lnw").over(Window.partitionBy(*by)))
    obs = t.filter(F.col(order) == observed).select(
        *by, F.col("_lnw").alias("_lnobs")
    )
    t = t.join(obs, by) if by else t.crossJoin(F.broadcast(obs))
    # relative slack 1e-7 in log space = ~110k grid cells
    tol = int(1e-7 * LOG_GRID)
    pm = F.floor(
        F.exp((F.col("_lnw") - F.col("_m")).cast("double") / LOG_GRID)
        * LOG_GRID
    ).cast("decimal(38,0)")
    return (
        t,
        F.sum(pm).alias("_tot"),
        F.sum(F.when(F.col("_lnw") <= F.col("_lnobs") + tol, pm)).alias(
            "_inc"
        ),
    )


def before(x, order, by: "list[str]" = ()) -> Column:
    """Σ ``x`` over the rows strictly before this one in ``order``
    within ``by`` (0 for the first row)."""
    w = Window.partitionBy(*by).orderBy(order).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return F.coalesce(F.sum(x).over(w), F.lit(0))


def value_ranks(
    df: DataFrame, value: str, by: "list[str]" = (), t: Column = None,
    **counts: Column,
) -> DataFrame:
    """The rank table: one row per distinct (``by``…, ``value``).

    Columns: the named per-value aggregates ``counts`` (per-arm counts,
    say), the tie count ``_t`` (the aggregate ``t``; ``count(*)`` by
    default), ``_bef`` — the rows strictly before the value within
    ``by`` — and the midrank ``_mr = _bef + (_t+1)/2``. A NULL value
    sorts first and shifts the ranks after it; callers filter NULLs
    first. One shuffle on the distinct values and one prefix window,
    no join back to the rows."""
    pv = df.groupBy(*by, value).agg(
        *(c.alias(k) for k, c in counts.items()),
        (F.count("*") if t is None else t).alias("_t"),
    )
    return pv.withColumn("_bef", before("_t", value, by)).withColumn(
        "_mr", F.col("_bef") + (F.col("_t") + 1.0) / 2.0
    )


def row_ranks(
    df: DataFrame, value: str, by: "list[str]" = (), out: str = "_r"
) -> DataFrame:
    """``df`` plus the midrank ``out`` of each row's ``value`` within
    ``by``: the block-start ``rank()`` plus half the tie block's extra
    rows — the same number :func:`value_ranks` gives, as a double.
    NULL values rank first and keep their rows; callers that must not
    rank them filter before or after, as their contract says."""
    by = list(by)
    r = F.rank().over(Window.partitionBy(*by).orderBy(value)).cast(
        "double"
    ) + (
        F.count("*").over(Window.partitionBy(*by, value)).cast("double")
        - 1.0
    ) / 2.0
    return df.withColumn(out, r)

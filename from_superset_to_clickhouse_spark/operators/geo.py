"""Geospatial primitives: haversine distance and an exact
within-radius neighbor self-join via grid bucketing.

The reference exposes no geo surface (its ClickHouse schema stores
opaque event payloads — ``v2/sql/create_tables.sql``); this is
extension surface for location-bearing corpora (geo dedup of crawl
records, POI conflation, strike-radius joins). ClickHouse ships
``greatCircleDistance``; the neighbor join is the scale-shaped
companion ClickHouse leaves to the user.

Scale design: the naive within-radius self-join is O(n²). The grid
join buckets points into fixed lat/lon cells, equi-joins each point
against its cell neighborhood (a bounded constant number of cells,
longitude wrap-aware), then applies the exact haversine predicate —
candidate count is density-bounded instead of quadratic, the join is
a plain shuffled equi-join on cell id, and every surviving pair is
exact (the grid only prunes, never approximates). This is the
standard spatial-binning shape that survives 100 TB; skew from dense
cells is AQE-skew-join territory, same as any hot-key equi-join.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._exact import GRID

EARTH_RADIUS_KM = 6371.0088
KM_PER_LAT_DEG = 111.045  # mean meridian degree


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km (haversine form — published
    formula, explicit arithmetic so any SQL engine replays it)."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dphi = F.radians(lat2 - lat1) / 2.0
    dlmb = F.radians(lon2 - lon1) / 2.0
    a = (
        F.sin(dphi) * F.sin(dphi)
        + F.cos(p1) * F.cos(p2) * F.sin(dlmb) * F.sin(dlmb)
    )
    # clamp guards asin domain against rounding at antipodes
    return (
        F.lit(2.0 * EARTH_RADIUS_KM)
        * F.asin(F.sqrt(F.least(a, F.lit(1.0))))
    )


def grid_params(radius_km: float, max_abs_lat: float) -> tuple[float, int, int]:
    """Derive a (cell_deg, lat_steps, lon_steps) triple whose cell
    neighborhood provably covers every within-radius pair for points
    with |lat| <= max_abs_lat.

    cell_deg is chosen to divide 360 evenly (so the longitude ring of
    cells is uniform and the modular wrap join is exact); lat_steps /
    lon_steps are the one-sided cell offsets needed to cover
    radius_km in degrees at the worst (highest) latitude.
    """
    if not 0 <= max_abs_lat < 90:
        raise ValueError("max_abs_lat must be in [0, 90)")
    lat_deg = radius_km / KM_PER_LAT_DEG
    lon_deg = radius_km / (KM_PER_LAT_DEG * math.cos(math.radians(max_abs_lat)))
    # largest even divisor of 360 not exceeding lat_deg (fall back to
    # fine cells if the radius is tiny)
    n_cells = max(int(math.ceil(360.0 / max(lat_deg, 1e-6))), 4)
    cell_deg = 360.0 / n_cells
    lat_steps = int(math.ceil(lat_deg / cell_deg))
    lon_steps = int(math.ceil(lon_deg / cell_deg))
    return cell_deg, lat_steps, lon_steps


def neighbor_pairs_grid(
    df: DataFrame,
    id_col: str,
    lat_col: str,
    lon_col: str,
    radius_km: float,
    max_abs_lat: float = 89.0,
) -> DataFrame:
    """All unordered point pairs within ``radius_km`` (exact — the
    grid prunes candidates, the haversine predicate decides), as
    (id_a < id_b, dist_km rounded to 3 dp).

    Build side explodes each point into its (2·lat_steps+1) ×
    (2·lon_steps+1) neighbor cells; probe side stays single-cell;
    the equi-join on (lat_cell, lon_cell mod ring) is wrap-aware
    across the antimeridian. id_a < id_b both canonicalizes the pair
    and halves the join (each pair found exactly once from the lower
    id's home cell, so no distinct pass is needed).
    """
    cell_deg, lat_steps, lon_steps = grid_params(radius_km, max_abs_lat)
    n_ring = int(round(360.0 / cell_deg))
    if 2 * lon_steps + 1 >= n_ring:
        raise ValueError(
            "radius too large for the ring: lon neighborhood wraps onto "
            "itself and would duplicate pairs — use a brute-force join"
        )
    lat_c = F.floor((F.col(lat_col) + F.lit(90.0)) / F.lit(cell_deg))
    lon_c = F.pmod(
        F.floor((F.col(lon_col) + F.lit(180.0)) / F.lit(cell_deg)),
        F.lit(n_ring),
    )
    pts = df.select(
        F.col(id_col).alias("_id"),
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
        lat_c.alias("_latc"),
        lon_c.alias("_lonc"),
    )
    offsets = [
        (dy, dx)
        for dy in range(-lat_steps, lat_steps + 1)
        for dx in range(-lon_steps, lon_steps + 1)
    ]
    off = F.array(
        *[
            F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
            for dy, dx in offsets
        ]
    )
    build = (
        pts.select("*", F.explode(off).alias("_o"))
        .select(
            F.col("_id").alias("_idb"),
            F.col("_lat").alias("_latb"),
            F.col("_lon").alias("_lonb"),
            (F.col("_latc") + F.col("_o.dy")).alias("_jlat"),
            F.pmod(F.col("_lonc") + F.col("_o.dx"), F.lit(n_ring)).alias(
                "_jlon"
            ),
        )
    )
    joined = pts.join(
        build,
        (pts["_latc"] == build["_jlat"])
        & (pts["_lonc"] == build["_jlon"])
        & (pts["_id"] < build["_idb"]),
    )
    dist = haversine_km(
        F.col("_lat"), F.col("_lon"), F.col("_latb"), F.col("_lonb")
    )
    return (
        joined.select(
            F.col("_id").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.round(dist, 3).alias("dist_km"),
        )
        .filter(F.col("dist_km") <= F.lit(radius_km))
    )


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(
    df: DataFrame, lat_col: str, lon_col: str, precision: int = 6
) -> DataFrame:
    """Standard geohash cell id per row → input + ``geohash`` (and the
    integer ``gh_bits`` it decodes from): latitude/longitude quantized
    to ⌈5·precision/2⌉-bit integer codes, bit-interleaved (longitude
    first, per the geohash spec), then base32-mapped 5 bits per
    character. The spatial bucketing key everything else joins on
    (neighbor grids, privacy coarsening, tile rollups).

    Pure integer Catalyst arithmetic — floor of a scaled coordinate,
    shift/mask interleave unrolled over the bit positions, substring
    lookups into the base32 alphabet — so the exact cell assignment
    replays verbatim in any SQL engine (no geo library, no float
    drift: the scale multiply is by a power of two)."""
    if not 1 <= precision <= 12 or precision % 2:
        # odd precisions split a bit between lat/lon; the unrolled
        # interleave below assumes the even case (lat bits = lon bits)
        raise ValueError("precision must be even, 2..12")
    half = 5 * precision // 2
    scale = float(1 << half)
    latc = F.floor(
        (F.col(lat_col).cast("double") + 90.0) / 180.0 * scale
    ).cast("long")
    lonc = F.floor(
        (F.col(lon_col).cast("double") + 180.0) / 360.0 * scale
    ).cast("long")
    # exact-90/180 edge: clamp the one-past code back into range
    latc = F.least(latc, F.lit((1 << half) - 1))
    lonc = F.least(lonc, F.lit((1 << half) - 1))
    bits = F.lit(0).cast("long")
    for i in range(half):
        lon_b = F.shiftright(lonc, half - 1 - i).bitwiseAND(F.lit(1))
        lat_b = F.shiftright(latc, half - 1 - i).bitwiseAND(F.lit(1))
        bits = (
            bits
            + F.shiftleft(lon_b, 2 * half - 1 - 2 * i)
            + F.shiftleft(lat_b, 2 * half - 2 - 2 * i)
        )
    chars = [
        F.substring(
            F.lit(_GEOHASH32),
            F.shiftright(bits, 5 * (precision - 1 - k))
            .bitwiseAND(F.lit(31))
            .cast("int")
            + 1,
            1,
        )
        for k in range(precision)
    ]
    return df.withColumn("gh_bits", bits).withColumn(
        "geohash", F.concat(*chars)
    )


def point_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "point_id",
    px: str = "x",
    py: str = "y",
    poly_id: str = "poly_id",
    vidx: str = "vidx",
    vx: str = "x",
    vy: str = "y",
) -> DataFrame:
    """Point-in-polygon join by ray casting → (point_id, poly_id)
    for every point strictly inside a polygon: cast a horizontal ray
    rightward and count edge crossings; odd = inside (even-odd
    rule). Non-convex polygons work; points exactly ON an edge or
    vertex follow the half-open crossing convention below (an edge
    counts when y1 > py differs from y2 > py, so the upper endpoint
    is exclusive) — deterministic, engine-identical.

    Scale shape: the polygon table is a DIMENSION by contract (maps,
    geofences — thousands of vertices), so edges BROADCAST and the
    point table is never shuffled: one broadcast nested-loop against
    the bounded edge list + one (point, poly) aggregate. For
    continent-scale polygon sets, pre-bucket by bounding box
    (range_join_grid) before this operator."""
    w = Window.partitionBy(poly_id).orderBy(vidx)
    verts = polygons.select(
        F.col(poly_id).alias("_pid"),
        F.col(vidx).alias("_i"),
        F.col(vx).cast("double").alias("_x1"),
        F.col(vy).cast("double").alias("_y1"),
    )
    wrap = verts.groupBy("_pid").agg(
        F.min_by(F.struct("_x1", "_y1"), F.col("_i")).alias("_first")
    )
    edges = (
        verts.withColumn(
            "_x2",
            F.lead("_x1").over(
                Window.partitionBy("_pid").orderBy("_i")
            ),
        )
        .withColumn(
            "_y2",
            F.lead("_y1").over(
                Window.partitionBy("_pid").orderBy("_i")
            ),
        )
        .join(wrap, "_pid")
        .select(
            "_pid",
            "_x1",
            "_y1",
            F.coalesce("_x2", F.col("_first._x1")).alias("_x2"),
            F.coalesce("_y2", F.col("_first._y1")).alias("_y2"),
        )
    )
    p = points.select(
        F.col(point_id).alias("point_id"),
        F.col(px).cast("double").alias("_px"),
        F.col(py).cast("double").alias("_py"),
    )
    crossed = p.crossJoin(F.broadcast(edges)).filter(
        ((F.col("_y1") > F.col("_py")) != (F.col("_y2") > F.col("_py")))
        & (
            F.col("_px")
            < (F.col("_x2") - F.col("_x1"))
            * (F.col("_py") - F.col("_y1"))
            / (F.col("_y2") - F.col("_y1"))
            + F.col("_x1")
        )
    )
    inside = (
        crossed.groupBy("point_id", "_pid")
        .agg(F.count("*").alias("_c"))
        .filter(F.pmod(F.col("_c"), 2) == 1)
    )
    return inside.select("point_id", F.col("_pid").alias("poly_id"))


def morans_i_grid(
    df: DataFrame,
    i_col: str,
    j_col: str,
    value_col: str,
) -> DataFrame:
    """Moran's I spatial autocorrelation over a grid of cells →
    one row (n_cells, w_sum, morans_i, expected_i): I = (n/ΣW) ·
    Σ w_ij·z_i·z_j / Σ z_i², with binary rook weights (cells sharing
    an edge, |Δi|+|Δj| = 1) — positive I means neighboring cells move
    together, E[I] = −1/(n−1) under no autocorrelation. The input is
    the CELL table (callers bucket raw points first — at 100 TB the
    aggregation to cells is the only data-scale pass); the adjacency
    self-join keys on (i±1, j), so it's an equi-join on the cell
    table, never a theta join. Deviations sit on the exact 2^-20
    grid (grid-floored mean); both quadratic sums accumulate
    grid-floored in decimal, order-free exact."""
    q = GRID
    src = df.select(
        F.col(i_col).cast("long").alias("_i"),
        F.col(j_col).cast("long").alias("_j"),
        (F.floor(F.col(value_col).cast("double") * q) / q).alias("_v"),
    ).filter(F.col("_v").isNotNull())
    m = src.agg(
        (F.floor(F.avg("_v") * q) / q).alias("_m"),
        F.count("*").alias("_n"),
    )
    z = src.crossJoin(F.broadcast(m)).select(
        "_i", "_j", "_n", (F.col("_v") - F.col("_m")).alias("_z")
    )
    right = z.select(
        F.col("_i").alias("_ri"),
        F.col("_j").alias("_rj"),
        F.col("_z").alias("_rz"),
    )
    # east + south neighbors; each unordered adjacency counted once
    # here and doubled below (w_ij symmetric)
    east = z.join(
        right,
        (F.col("_ri") == F.col("_i") + 1) & (F.col("_rj") == F.col("_j")),
    )
    south = z.join(
        right,
        (F.col("_ri") == F.col("_i")) & (F.col("_rj") == F.col("_j") + 1),
    )
    dec = "decimal(38,0)"
    q2 = GRID * GRID
    adj = east.unionByName(south).agg(
        F.count("*").alias("_np"),
        (
            F.sum(F.floor(F.col("_z") * F.col("_rz") * q2).cast(dec))
            .cast("double")
            / q2
        ).alias("_cross"),
    )
    den = z.groupBy("_n").agg(
        (
            F.sum(F.floor(F.col("_z") * F.col("_z") * q2).cast(dec))
            .cast("double")
            / q2
        ).alias("_zz")
    )
    t = den.crossJoin(F.broadcast(adj))
    nn = F.col("_n").cast("double")
    wsum = 2.0 * F.col("_np").cast("double")
    ii = F.when(
        (F.col("_zz") > 0) & (F.col("_np") > 0),
        (nn / wsum) * (2.0 * F.col("_cross") / F.col("_zz")),
    )
    return t.select(
        F.col("_n").cast("long").alias("n_cells"),
        wsum.cast("long").alias("w_sum"),
        F.round(ii, 6).alias("morans_i"),
        F.round(F.lit(-1.0) / (nn - 1.0), 6).alias("expected_i"),
    )


def geary_c_grid(
    df: DataFrame,
    i_col: str,
    j_col: str,
    value_col: str,
) -> DataFrame:
    """Geary's C spatial contiguity ratio over a grid → one row
    (n_cells, w_sum, geary_c): C = (n−1)·Σ wᵢⱼ(xᵢ−xⱼ)² /
    (2W·Σ(xᵢ−x̄)²) with binary rook weights — Moran's I weighs
    covariance with the GLOBAL mean, Geary's C squared LOCAL
    differences, so C is the more sensitive of the pair to
    small-neighborhood breaks (C < 1 clustered, 1 random, > 1
    dispersed). Same equi-joined adjacency and exact decimal sums as
    ``morans_i_grid``."""
    q = GRID
    src = df.select(
        F.col(i_col).cast("long").alias("_i"),
        F.col(j_col).cast("long").alias("_j"),
        (F.floor(F.col(value_col).cast("double") * q) / q).alias("_v"),
    ).filter(F.col("_v").isNotNull())
    m = src.agg(
        (F.floor(F.avg("_v") * q) / q).alias("_m"),
        F.count("*").alias("_n"),
    )
    z = src.crossJoin(F.broadcast(m)).select(
        "_i", "_j", "_n", "_v", (F.col("_v") - F.col("_m")).alias("_z")
    )
    right = z.select(
        F.col("_i").alias("_ri"),
        F.col("_j").alias("_rj"),
        F.col("_v").alias("_rv"),
    )
    east = z.join(
        right,
        (F.col("_ri") == F.col("_i") + 1) & (F.col("_rj") == F.col("_j")),
    )
    south = z.join(
        right,
        (F.col("_ri") == F.col("_i")) & (F.col("_rj") == F.col("_j") + 1),
    )
    dec = "decimal(38,0)"
    q2 = GRID * GRID
    dd = (F.col("_v") - F.col("_rv")) * (F.col("_v") - F.col("_rv"))
    adj = east.unionByName(south).agg(
        F.count("*").alias("_np"),
        (
            F.sum(F.floor(dd * q2).cast(dec)).cast("double") / q2
        ).alias("_sqd"),
    )
    den = z.groupBy("_n").agg(
        (
            F.sum(F.floor(F.col("_z") * F.col("_z") * q2).cast(dec))
            .cast("double")
            / q2
        ).alias("_zz")
    )
    t = den.crossJoin(F.broadcast(adj))
    nn = F.col("_n").cast("double")
    wsum = 2.0 * F.col("_np").cast("double")
    # each unordered adjacency appears once in _sqd; w_ij symmetric
    # doubles both the numerator pair sum and W, so the 2s cancel in
    # (n-1)·(2·sqd) / (2·W·zz) — written out for term-for-term replay
    cc = F.when(
        (F.col("_zz") > 0) & (F.col("_np") > 0),
        (nn - 1.0)
        * (2.0 * F.col("_sqd"))
        / (2.0 * wsum * F.col("_zz")),
    )
    return t.select(
        F.col("_n").cast("long").alias("n_cells"),
        wsum.cast("long").alias("w_sum"),
        F.round(cc, 6).alias("geary_c"),
    )


def getis_ord_g(
    df: DataFrame,
    i_col: str,
    j_col: str,
    value_col: str,
) -> DataFrame:
    """Global Getis–Ord G over a grid of NON-NEGATIVE cell values →
    one row (n_cells, w_sum, g_stat, expected_g): G = Σᵢⱼ wᵢⱼxᵢxⱼ /
    Σᵢ≠ⱼ xᵢxⱼ with rook weights — the HOT-SPOT statistic: Moran's I
    sees any co-variation, G asks specifically whether HIGH values
    sit next to each other (G > E[G] = W/(n(n−1))). The denominator
    is exact from totals ((Σx)² − Σx²); the numerator is the same
    adjacency join, decimal-exact."""
    q = GRID
    src = df.select(
        F.col(i_col).cast("long").alias("_i"),
        F.col(j_col).cast("long").alias("_j"),
        (F.floor(F.col(value_col).cast("double") * q) / q).alias("_v"),
    ).filter(F.col("_v").isNotNull() & (F.col("_v") >= 0))
    right = src.select(
        F.col("_i").alias("_ri"),
        F.col("_j").alias("_rj"),
        F.col("_v").alias("_rv"),
    )
    east = src.join(
        right,
        (F.col("_ri") == F.col("_i") + 1) & (F.col("_rj") == F.col("_j")),
    )
    south = src.join(
        right,
        (F.col("_ri") == F.col("_i")) & (F.col("_rj") == F.col("_j") + 1),
    )
    dec = "decimal(38,0)"
    q2 = GRID * GRID
    adj = east.unionByName(south).agg(
        F.count("*").alias("_np"),
        (
            F.sum(
                F.floor(F.col("_v") * F.col("_rv") * q2).cast(dec)
            ).cast("double")
            / q2
        ).alias("_num"),
    )
    tot = src.agg(
        F.count("*").alias("_n"),
        (
            F.sum(F.floor(F.col("_v") * q).cast(dec)).cast("double") / q
        ).alias("_sx"),
        (
            F.sum(
                F.floor(F.col("_v") * F.col("_v") * q2).cast(dec)
            ).cast("double")
            / q2
        ).alias("_sxx"),
    )
    t = tot.crossJoin(F.broadcast(adj))
    nn = F.col("_n").cast("double")
    wsum = 2.0 * F.col("_np").cast("double")
    den = F.col("_sx") * F.col("_sx") - F.col("_sxx")
    g = F.when(den > 0, 2.0 * F.col("_num") / den)
    return t.select(
        F.col("_n").cast("long").alias("n_cells"),
        wsum.cast("long").alias("w_sum"),
        F.round(g, 6).alias("g_stat"),
        F.round(wsum / (nn * (nn - 1.0)), 6).alias("expected_g"),
    )

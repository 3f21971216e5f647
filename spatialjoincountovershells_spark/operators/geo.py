"""Geodetic (lat/lon) operators — the north-star input shape is a table
of geo-tagged image+caption rows, so the engine speaks WGS-style
latitude/longitude natively, not just the reference's Euclidean cube
(reference scope: `src/astr_rcount/main.c:445-672` is box-only; this
module is graft scope).

Design: NOT a new kernel.  Coordinates embed on the unit sphere and
are QUANTIZED to an integer lattice — ``floor(u * 2^20)`` per axis,
about 6 m of ground resolution — so every downstream arithmetic step
(differences, squares, sums, comparisons) is exact integer math held
in float64, the same cross-engine determinism contract as
``functions/keycoords.py``.  Great-circle shells become chord shells
(``chord = 2 R sin(d / 2R)``, strictly monotone for ``d <= pi*R``), so
the battle-tested periodic-box ``shell_count`` kernel runs UNCHANGED
on shifted lattice coordinates: geodesy is an adapter, not a fork.

Wrap safety: lattice coords sit in ``[-2^20, 2^20]``; shifting by
``+2^21`` centers the sphere inside the periodic box ``[0, 2^22)``
with a margin of ``2^20`` lattice units per face.  The kernel's
min-image fold is therefore the identity (``|dx| <= 2^21 = box/2``
always), and no periodic image can enter any shell whose chord edge is
``<= 2^20`` — i.e. any great-circle radius up to ``pi*R/3 ~ 6671 km``.
``geo_shell_count`` asserts that bound.

Cross-engine caveat (documented, tested): ``cos``/``sin`` are the only
non-correctly-rounded steps (Java ``Math`` and DuckDB's libm both
guarantee <= 1 ulp but not the same value).  A 1-2 ulp input wobble
flips ``floor(u * 2^20)`` only when ``u * 2^20`` lands within ~1e-9 of
an integer — probability ~7e-10 per coordinate on the deterministic
synth keys, and `tests/test_geo.py` pins three-engine agreement
(Spark / DuckDB / numpy) over every key range the contract uses.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.knn import knn
from ..operators.shell_count import shell_count
from ..operators.tiling import morton_expr

# Lattice: floor(unit_coord * 2^20) -> ~6.1 m ground resolution.  The
# multiplier is a power of two so the scale step is EXACT (exponent
# shift, no rounding); the only rounded steps are the trig calls and
# the one product of their results.
GEO_QUANT = float(1 << 20)
GEO_SHIFT = 2.0 * GEO_QUANT      # sphere center in the periodic box
GEO_BOX = 4.0 * GEO_QUANT        # box size; wrap margin = GEO_QUANT
# pi/180 rounded ONCE to f64 (== java.lang.Math.toRadians' constant);
# both engines multiply by this literal so the conversion is one
# identical correctly-rounded step.
DEG2RAD = 0.017453292519943295
R_EARTH_KM = 6371.0088           # IUGG mean Earth radius


# Deterministic key -> lat/lon derivation for contract queries and
# tests (same philosophy as functions/keycoords.py): exact multiples of
# 2^-12 degree, so the +180 / -90 shifts and the /4096 are all exact
# and both engines see bit-identical inputs.
LATLON_CONSTS = (2654435761, 2246822519)
_LAT_MOD = 180 * 4096
_LON_MOD = 360 * 4096


def key_latlon_exprs(key: Column) -> tuple[Column, Column]:
    lat = ((key * F.lit(LATLON_CONSTS[0])) % F.lit(_LAT_MOD)) / F.lit(4096.0) \
        - F.lit(90.0)
    lon = ((key * F.lit(LATLON_CONSTS[1])) % F.lit(_LON_MOD)) / F.lit(4096.0) \
        - F.lit(180.0)
    return lat, lon


def sql_latlon(key_col: str) -> tuple[str, str]:
    """The identical lat/lon derivation as ANSI SQL."""
    return (
        f"((({key_col} * {LATLON_CONSTS[0]}) % {_LAT_MOD}) / 4096.0) - 90.0",
        f"((({key_col} * {LATLON_CONSTS[1]}) % {_LON_MOD}) / 4096.0) - 180.0",
    )


def with_key_latlon(df: DataFrame, key_col: str) -> DataFrame:
    lat, lon = key_latlon_exprs(F.col(key_col))
    return df.withColumn("lat", lat).withColumn("lon", lon)


def latlon_np(keys: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ``key_latlon_exprs`` (tests / brute-force oracles).

    Precondition: keys >= 0.  numpy ``%`` follows the divisor's sign
    while Spark/DuckDB ``%`` follow the dividend's, so the three-engine
    twins diverge for negative keys — fail loudly instead (ADVICE r3).
    """
    k = keys.astype(np.int64)
    if k.size and k.min() < 0:
        raise ValueError(
            "latlon_np requires nonnegative keys: numpy % (divisor-sign) "
            "and Spark/DuckDB % (dividend-sign) disagree below zero"
        )
    lat = (k * LATLON_CONSTS[0]) % _LAT_MOD / 4096.0 - 90.0
    lon = (k * LATLON_CONSTS[1]) % _LON_MOD / 4096.0 - 180.0
    return lat, lon


def geo_unit_np(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    """numpy twin of ``geo_unit_exprs`` -> (n, 3) float64 of exact ints."""
    rlat, rlon = lat * DEG2RAD, lon * DEG2RAD
    return np.stack([
        np.floor((np.cos(rlat) * np.cos(rlon)) * GEO_QUANT),
        np.floor((np.cos(rlat) * np.sin(rlon)) * GEO_QUANT),
        np.floor(np.sin(rlat) * GEO_QUANT),
    ], axis=1)


def chord_edges_km(edges_km) -> np.ndarray:
    """Great-circle shell edges (km) -> chord-lattice edges (f64).

    chord_lattice = 2 * 2^20 * sin(d / 2R); strictly monotone for
    d <= pi*R, so strict-< first-match binning on squared chords is
    exactly great-circle binning.
    """
    e = np.asarray(edges_km, dtype=np.float64)
    if not np.all(np.diff(e) > 0) or e[0] <= 0:
        raise ValueError("edges_km must be positive and strictly ascending")
    if float(e[-1]) > np.pi * R_EARTH_KM / 3.0:
        # beyond this the chord exceeds the wrap margin (and at pi*R
        # the chord->arc map stops being injective)
        raise ValueError("geo shells support great-circle radii "
                         f"<= pi*R/3 ~ {np.pi * R_EARTH_KM / 3.0:.0f} km")
    return 2.0 * GEO_QUANT * np.sin(e / (2.0 * R_EARTH_KM))


def geo_unit_exprs(lat: Column, lon: Column) -> tuple[Column, Column, Column]:
    """Quantized unit-sphere lattice coords (DOUBLE holding exact ints).

    Fixed tree, mirrored verbatim by ``geo_unit_sql``:
    qx = floor((cos(lat*C) * cos(lon*C)) * 2^20), etc.
    """
    rlat, rlon = lat * F.lit(DEG2RAD), lon * F.lit(DEG2RAD)
    q = F.lit(GEO_QUANT)
    qx = F.floor((F.cos(rlat) * F.cos(rlon)) * q).cast("double")
    qy = F.floor((F.cos(rlat) * F.sin(rlon)) * q).cast("double")
    qz = F.floor(F.sin(rlat) * q).cast("double")
    return qx, qy, qz


def geo_unit_sql(lat_sql: str, lon_sql: str) -> tuple[str, str, str]:
    """The identical derivation as ANSI SQL (for DuckDB oracles)."""
    rlat = f"(({lat_sql}) * {DEG2RAD!r})"
    rlon = f"(({lon_sql}) * {DEG2RAD!r})"
    q = repr(GEO_QUANT)
    return (
        f"CAST(floor((cos({rlat}) * cos({rlon})) * {q}) AS DOUBLE)",
        f"CAST(floor((cos({rlat}) * sin({rlon})) * {q}) AS DOUBLE)",
        f"CAST(floor(sin({rlat}) * {q}) AS DOUBLE)",
    )


def _embed(df: DataFrame, lat_col: str, lon_col: str,
           keep: list[str]) -> DataFrame:
    qx, qy, qz = geo_unit_exprs(F.col(lat_col), F.col(lon_col))
    s = F.lit(GEO_SHIFT)
    return df.select(
        *keep,
        (qx + s).alias("x"), (qy + s).alias("y"), (qz + s).alias("z"),
    )


def geo_shell_count(
    probes: DataFrame,
    points: DataFrame,
    edges_km,
    id_col: str = "probe_id",
    probe_latlon: tuple[str, str] = ("lat", "lon"),
    point_latlon: tuple[str, str] = ("lat", "lon"),
    plan: str = "sql",
    weight_col: str | None = None,
    **shell_kwargs,
) -> DataFrame:
    """Count-over-shells with GREAT-CIRCLE shells on lat/lon tables.

    -> (id_col, shell_idx int, cnt long), nonzero rows only — for each
    probe, the number of points whose great-circle distance falls in
    each [edge_{i-1}, edge_i) shell (strict-< first-match, exactly the
    reference's binning semantics transported to the sphere).

    Scale shape == ``shell_count``'s (the call IS shell_count on the
    chord lattice): cell-grid ring join, no driver collect, every plan
    available (`plan=` and remaining shell_count kwargs pass through).
    weight_col (an integer column on `points`) adds a `wsum` column on
    every plan, exactly as in shell_count (ADVICE r3: the column
    must survive the lat/lon->lattice embedding, so it is an explicit
    parameter here, not a kwarg).
    """
    ch = chord_edges_km(edges_km)
    h = _embed(probes, *probe_latlon, keep=[id_col])
    p = _embed(points, *point_latlon,
               keep=[weight_col] if weight_col else [])
    return shell_count(
        h, p, ch, box=GEO_BOX, dtype="float64", id_col=id_col,
        plan=plan, weight_col=weight_col, **shell_kwargs,
    )


def geo_nearest_site(
    rows: DataFrame,
    sites: DataFrame,
    id_col: str = "row_id",
    site_id_col: str = "site_id",
    row_latlon: tuple[str, str] = ("lat", "lon"),
    site_latlon: tuple[str, str] = ("lat", "lon"),
) -> DataFrame:
    """Reverse geocode: nearest site per row (e.g. tag every geo-tagged
    image with its closest city) -> (id_col, site_id_col, d2 long).

    d2 is the squared chord distance in lattice units (exact integer;
    monotone in great-circle distance, so "nearest by chord" ==
    "nearest by great-circle").  Ties break to the smallest site id.

    Scale shape: sites broadcast (the site table is the small dim —
    cities, regions, POI sets), ONE map-side-combinable
    ``groupBy(id).agg(min(struct(d2, site_id)))`` — the candidate
    pairs reduce inside each scan task, so the shuffle carries one row
    per input row, never the pair table.  For site tables too big to
    broadcast, compose ``geo_shell_count``'s cell-grid ring join with
    a bounded radius instead.
    """
    r = _embed(rows, *row_latlon, keep=[id_col])
    s = _embed(sites, *site_latlon, keep=[site_id_col]).select(
        F.col(site_id_col).alias("_sid"),
        F.col("x").alias("_sx"), F.col("y").alias("_sy"),
        F.col("z").alias("_sz"),
    )
    dx = F.col("x") - F.col("_sx")
    dy = F.col("y") - F.col("_sy")
    dz = F.col("z") - F.col("_sz")
    d2 = ((dx * dx + dy * dy) + dz * dz).cast("long")
    best = (
        r.crossJoin(F.broadcast(s))
        .select(id_col, F.struct(d2.alias("d2"),
                                 F.col("_sid").alias("sid")).alias("c"))
        .groupBy(id_col)
        .agg(F.min("c").alias("c"))
    )
    return best.select(
        id_col,
        F.col("c.sid").alias(site_id_col),
        F.col("c.d2").alias("d2"),
    )


def geo_knn(
    rows: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "row_id",
    neighbor_id_col: str = "neighbor_id",
    row_latlon: tuple[str, str] = ("lat", "lon"),
    cand_latlon: tuple[str, str] = ("lat", "lon"),
    **knn_kwargs,
) -> DataFrame:
    """Exact k nearest neighbors by GREAT-CIRCLE distance
    -> (id_col, neighbor_id_col, rank 1..k, d2).

    Nearest-by-chord == nearest-by-great-circle (the chord map is
    monotone), so this is the ring-widening ``knn`` operator on the
    quantized chord lattice: same iterative k-ring search, same
    window-flag bookkeeping, no driver collect.  ``d2`` is the exact
    integer squared chord in lattice units; ties break to the smaller
    neighbor id (deterministic cross-engine).
    """
    r = _embed(rows, *row_latlon, keep=[id_col])
    c = _embed(candidates, *cand_latlon, keep=[neighbor_id_col])
    return knn(
        r, c, k, box=GEO_BOX, dtype="float64", id_col=id_col,
        particle_id_col=neighbor_id_col, **knn_kwargs,
    )


def geo_equirect_exprs(lat: Column, lon: Column,
                       box: float = 1000.0) -> tuple[Column, Column]:
    """Equirectangular (plate-carrée) projection into the engine's
    [0, box)^2 plane: x from lon, y from (90 - lat), each one division
    + one multiply (both correctly rounded, mirrored by
    ``geo_equirect_sql``).

    This is the bridge that lets EVERY planar tile operator —
    tile_rollup / tile_adaptive / tile_cover / tile_kring_stats /
    tile_dbscan / tile_moran_i / tile_getis_g / tile_local_moran /
    tile_join_counts / rasterize_points — run on geo-tagged rows
    unchanged.  The statistics are then planar statistics of the
    PROJECTED points (standard web-map tiling practice; tiles shrink
    in ground area toward the poles) — use the chord-lattice operators
    (geo_shell_count / geo_knn / geo_nearest_site) when metric
    distances must be great-circle exact.
    """
    x = ((lon + F.lit(180.0)) / F.lit(360.0)) * F.lit(box)
    y = ((F.lit(90.0) - lat) / F.lit(180.0)) * F.lit(box)
    return x, y


def geo_equirect_sql(lat_sql: str, lon_sql: str,
                     box: float = 1000.0) -> tuple[str, str]:
    """The identical projection as ANSI SQL (for DuckDB oracles)."""
    return (
        f"((({lon_sql}) + 180.0) / 360.0) * {box!r}",
        f"((90.0 - ({lat_sql})) / 180.0) * {box!r}",
    )


def geo_tile_exprs(lat: Column, lon: Column, level: int) -> tuple[Column, Column]:
    """Equirectangular slippy-tile coords (tx, ty) at ``level``.

    tx = clamp(floor(((lon + 180) / 360) * 2^level)); ty likewise from
    (90 - lat) / 180.  The division is the single rounded step (same
    correctly-rounded result in both engines); the power-of-two scale
    is exact.  ty=2^level (lat == -90 exactly) clamps into range.
    """
    res = 1 << level
    tx = F.floor(((lon + F.lit(180.0)) / F.lit(360.0)) * F.lit(float(res)))
    ty = F.floor(((F.lit(90.0) - lat) / F.lit(180.0)) * F.lit(float(res)))
    clamp = lambda c: F.least(F.greatest(c, F.lit(0)), F.lit(res - 1))  # noqa: E731
    return clamp(tx), clamp(ty)


def geo_tile_sql(lat_sql: str, lon_sql: str, level: int) -> tuple[str, str]:
    """The identical tile-coord derivation as ANSI SQL."""
    res = 1 << level
    tx = f"floor(((({lon_sql}) + 180.0) / 360.0) * {float(res)!r})"
    ty = f"floor(((90.0 - ({lat_sql})) / 180.0) * {float(res)!r})"
    c = lambda e: f"least(greatest({e}, 0), {res - 1})"  # noqa: E731
    return c(tx), c(ty)


def geo_tile_expr(lat: Column, lon: Column, level: int) -> Column:
    """Z-order (Morton) tile id at ``level`` for lat/lon columns —
    lat/lon twin of ``tiling.morton_tile_expr``, so every hierarchical
    tile operator (rollup / adaptive / cover / kring / hot-spot stats)
    composes with geo-tagged rows unchanged."""
    tx, ty = geo_tile_exprs(lat, lon, level)
    return morton_expr(tx, ty)


def geo_tile_stats(
    df: DataFrame,
    level: int,
    latlon: tuple[str, str] = ("lat", "lon"),
    weight_col: str | None = None,
) -> DataFrame:
    """Per-tile occupancy of a geo-tagged table -> (tile_id, n[, wsum]).

    One map-side-combined groupBy on the Morton tile key; the payload
    columns never shuffle.  Feed the result to ``tiling.tile_rollup``-
    style pyramids or the grid spatial statistics for hot-spot maps.
    """
    lat, lon = (F.col(c) for c in latlon)
    g = df.select(
        geo_tile_expr(lat, lon, level).alias("tile_id"),
        *( [F.col(weight_col)] if weight_col else [] ),
    ).groupBy("tile_id")
    if weight_col:
        return g.agg(F.count(F.lit(1)).alias("n"),
                     F.sum(weight_col).cast("long").alias("wsum"))
    return g.agg(F.count(F.lit(1)).alias("n"))


def trajectory_stats(
    pings: DataFrame,
    user_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    latlon: tuple[str, str] = ("lat", "lon"),
    stay_hop: int = 1000,
) -> DataFrame:
    """Per-entity trajectory statistics over time-ordered geo pings ->
    (user_id, n_pings, path_len, max_hop, n_moves, n_stays), all int64.

    Hops are great-circle in lattice units: each ping embeds on the
    quantized unit sphere (geo_unit_exprs — exact integers in f64), a
    per-user LAG window pairs consecutive pings, and
    ``hop = floor(sqrt(dx^2 + dy^2 + dz^2))`` is the chord length
    (~6 m per unit; strictly monotone in great-circle distance, see
    module docstring).  sqrt is IEEE-correctly-rounded on an exact
    integer input, so the floor is engine-invariant — the whole
    contract stays integer.  ``n_stays`` counts hops < ``stay_hop``
    lattice units (~6 km default): the stay-point/dwell signal.

    Scale shape: ONE shuffle — the window partitions by user (the same
    user-key shuffle every events operator shares); the aggregation
    reuses that partitioning.  No self-join, no pair materialization:
    a 10^12-ping table costs one sort-within-user pass.

    ``order_cols`` must be a total order within each user (the default
    (ts, event_id) is); with duplicate sort keys the LAG pairing —
    hence the hop decomposition — would be partition-order dependent.
    """
    lat, lon = (F.col(c) for c in latlon)
    qx, qy, qz = geo_unit_exprs(lat, lon)
    d = pings.select(
        F.col(user_col), *[F.col(c) for c in order_cols],
        qx.alias("_qx"), qy.alias("_qy"), qz.alias("_qz"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(*order_cols)
    dx = F.col("_qx") - F.lag("_qx").over(w)
    dy = F.col("_qy") - F.lag("_qy").over(w)
    dz = F.col("_qz") - F.lag("_qz").over(w)
    hop = F.floor(F.sqrt((dx * dx + dy * dy) + dz * dz))
    d = d.select(F.col(user_col), hop.alias("_hop"))
    return d.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_pings"),
        F.coalesce(F.sum("_hop"), F.lit(0)).cast("long").alias("path_len"),
        F.coalesce(F.max("_hop"), F.lit(0)).cast("long").alias("max_hop"),
        F.count("_hop").alias("n_moves"),
        F.coalesce(
            F.sum((F.col("_hop") < F.lit(stay_hop)).cast("long")), F.lit(0)
        ).alias("n_stays"),
    )

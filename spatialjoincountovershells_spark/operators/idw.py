"""Inverse-distance-weighted spatial interpolation.

Estimate a value at each query point from the marked data points
within `radius`: est = sum(w_i * v_i) / sum(w_i), w_i = 1/d_i^power —
the classic geostatistics interpolator (Shepard 1968), and the natural
"value" companion of the reference's count-over-shells probe: the SAME
candidate pipeline as ``range_join_pairs`` (cell grid + ring-1
equi-join + strict d^2 < r^2, reference RangeSearch.c:11-52 surface),
with a weighted aggregation instead of a pair emit.

Determinism contract (the repo-wide pattern): every per-pair float
step is ONE fixed correctly-rounded IEEE-f64 tree (a division, or
division by d2*sqrt(d2) for odd powers), immediately quantized to
int64 — so the aggregation is an EXACT integer sum (decimal(38,0))
with order-independent results, and the final ratio is one more f64
tree quantized to floor(x * 2^out_shift).  The DuckDB oracle mirrors
the trees verbatim.

Exact hits (d == 0, a query point coinciding with a data point) take
the standard IDW convention: the estimate is the mean of the
coincident values (computed as its own f64 tree), ignoring all other
neighbors.  Queries with no neighbor in `radius` emit no row.

Scale shape: identical to the sql shell plan — the big data table is
scanned once, shuffled only by the cell_id equi-join key, and the
aggregation is a partial+final hash agg on the query id; candidate
volume is the ring-1 cell neighborhood, Euclidean-pruned.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import squared_distance_expr
from ..functions.shells import squared_edges
from .shell_count import _H, _P, _prep, plan_grid

# weights are clamped at 2^62 BEFORE the long cast so a pathologically
# tiny (but nonzero) d2 saturates identically in Spark and the oracle
# instead of hitting engine-specific overflow behavior
_W_CLAMP = float(1 << 62)


def _weight_expr(d2, power: int, scale: float):
    """floor(scale / d^power) as ONE fixed f64 tree, int64-clamped."""
    if power == 1:
        den = F.sqrt(d2)
    elif power == 2:
        den = d2
    elif power == 3:
        den = d2 * F.sqrt(d2)
    elif power == 4:
        den = d2 * d2
    else:
        raise ValueError(f"power must be in 1..4, got {power}")
    # clamp BEFORE floor: Spark's floor(double) returns LONG while
    # DuckDB's returns DOUBLE, so the trees only agree if the value is
    # already <= 2^62 (long-exact) when floor runs
    return F.floor(F.least(F.lit(scale) / den, F.lit(_W_CLAMP))).cast("long")


def idw_interpolate(
    queries: DataFrame,
    data: DataFrame,
    radius: float,
    value_col: str,
    power: int = 2,
    box: float = 1000.0,
    dtype: str = "float64",
    id_col: str = "halo_id",
    h_coords: tuple[str, str, str] = ("x", "y", "z"),
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
    weight_shift: int = 30,
    out_shift: int = 10,
) -> DataFrame:
    """-> (id_col, n_neighbors, idw_q) per query point with >= 1
    neighbor at d < radius (periodic min-image metric, like every
    spatial operator here).  `value_col` must be an integral mark;
    idw_q = floor(estimate * 2^out_shift).  `weight_shift` sets the
    weight quantization floor(2^weight_shift / d^power) — larger keeps
    more precision for far neighbors, at the cost of bigger integers
    (sums are exact decimal(38,0) either way)."""
    edges = np.asarray(
        [radius], dtype=np.float32 if dtype == "float32" else np.float64
    )
    rmax = float(edges[-1])
    nc, ring_k = plan_grid("sql", rmax, box, ncells=ncells)
    h, p = _prep(queries, data, rmax, box, nc, ring_k, id_col, h_coords,
                 p_coords, extra_p=(value_col,))
    r2 = squared_edges(edges)
    j = h.join(p, "cell_id")
    d2 = squared_distance_expr(_H, _P, box, dtype)
    pairs = j.select(
        F.col(id_col),
        F.col(value_col).cast("long").alias("_v"),
        d2.alias("_d2"),
    ).where(F.col("_d2") < F.lit(float(r2[0])))
    wq = _weight_expr(F.col("_d2"), power, float(1 << weight_shift))
    ex = F.col("_d2") == F.lit(0.0)
    dec = "decimal(38,0)"
    agg = pairs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum(ex.cast("long")).alias("_n_exact"),
        F.sum(F.when(ex, F.col("_v"))).alias("_v_exact"),
        F.sum(F.when(~ex, wq).cast(dec)).alias("_den"),
        # cast wq to decimal BEFORE the product: long*long could
        # overflow for near-zero d2 weights at the 2^62 clamp
        F.sum(F.when(~ex, wq.cast(dec) * F.col("_v"))).alias("_num"),
    )
    scale = float(1 << out_shift)
    est_exact = F.floor(
        (F.col("_v_exact").cast("double") / F.col("_n_exact").cast("double"))
        * F.lit(scale)
    )
    est_idw = F.floor(
        (F.col("_num").cast("double") / F.col("_den").cast("double"))
        * F.lit(scale)
    )
    return agg.select(
        F.col(id_col),
        F.col("n_neighbors").cast("long").alias("n_neighbors"),
        F.when(F.col("_n_exact") > 0, est_exact)
        .otherwise(est_idw)
        .cast("long")
        .alias("idw_q"),
    )

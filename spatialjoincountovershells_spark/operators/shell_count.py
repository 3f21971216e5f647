"""Count-over-shells distance-band spatial join — the engine's core query.

Reference semantics (SURVEY §2.3 J1/J2, §2.4 A1, §2.11):
* for every halo, count particles in each concentric shell
  [r_{i-1}, r_i) around it, strict-``<`` first-match binning on
  ascending pre-squared float32 edges
  (``src/objects/ArraySTR/MultiRangeCount.c:85-115``);
* periodic boundary on the cube [0, box)^3
  (``MultiRangeCount.c:13-73``), valid while r_max < box/2;
* zero-distance pairs ARE counted (STR semantics, SURVEY §2.11.4).

Spark plans (the two join variants share the cell-grid candidate generation):

  halos --cell+ring explode--> (cell_id, halo_id, hx, hy, hz)   [27x rows]
  particles --cell assign----> (cell_id, px, py, pz)            [1x rows]
  equi-join on cell_id  ==  the reference's MBR-overlap pruning

* plan="sql": JVM-only — distance + binning as column expressions
  inside whole-stage codegen, then groupBy(halo_id, shell).count().
  Catalyst/AQE picks broadcast vs sort-merge; at cluster scale,
  pre-bucketing the particle table by cell_id makes the big side
  shuffle-free (see plans/pipeline.py).
* plan="fused": cogroup-per-cell Arrow kernel — candidate pairs never
  materialize in the shuffle; each cell computes a numpy distance
  matrix and emits per-(halo, shell) partial counts via np.bincount
  (the analog of the reference's in-place ``counts[i]++`` fusion,
  ``MultiRangeCount.c:110``).  Wins when pairs/cell is large.
* plan="bcast" / "dgrid": one side CSR-packed by cell and broadcast,
  the other streamed through ``_ring_sweep`` — the one probe-and-bin
  loop of the broadcast plans (and of correlation's 1-NN kernel).

Output: long-form (halo_id, shell_idx, cnt), nonzero rows only — the
dense (nhalos x nshells) matrix of the reference is a presentation
concern (see sources/report.py).
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geometry import squared_distance_expr, squared_distance_np
from ..functions.shells import shell_index_expr, shell_index_np, squared_edges
from .cells import explode_ring, grid_ncells, ring_offsets, with_cell  # noqa: F401

_H = ("_hx", "_hy", "_hz")
_P = ("_px", "_py", "_pz")


def apply_salting(
    h: DataFrame,
    p: DataFrame,
    salt_threshold: int,
    key: str = "cell_id",
) -> tuple[DataFrame, DataFrame, str]:
    """Split dense cells across sub-keys so no single reducer owns a hot cell.

    Explicit skew handling (BASELINE north_star) on top of AQE's runtime
    skew-join:  a cheap pre-pass counts particles per cell; cells above
    `salt_threshold` get factor = ceil(n/threshold) (capped at
    _MAX_SALT) sub-keys.
    Particles pick a deterministic sub-key by xxhash64 of their coords;
    halo-ring rows fan out to ALL sub-keys of a hot cell (sequence +
    explode), so the join result is unchanged while the hot cell's work
    spreads over `factor` tasks.  Cold cells pay nothing (factor 1, no
    fanout).  Returns (salted_h, salted_p, new_key).

    Sizing: the broadcast hot-cell list is tiny (cells above threshold
    only); the halo fanout multiplies only ring rows that touch hot
    cells — bounded by 27 * _MAX_SALT per halo in the worst case.
    """
    hot = (
        p.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > salt_threshold)
        .select(
            key,
            F.least(
                F.ceil(F.col("_n") / F.lit(salt_threshold)), F.lit(_MAX_SALT)
            ).cast("int").alias("_factor"),
        )
    )
    skey = "_salted_cell_id"
    p2 = (
        p.join(F.broadcast(hot), key, "left")
        .withColumn("_factor", F.coalesce(F.col("_factor"), F.lit(1)))
        .withColumn(
            skey,
            F.col(key) * F.lit(_MAX_SALT)
            + F.pmod(F.xxhash64(*[F.col(c) for c in _P]), F.col("_factor")),
        )
        .drop("_factor")
    )
    h2 = (
        h.join(F.broadcast(hot), key, "left")
        .withColumn("_factor", F.coalesce(F.col("_factor"), F.lit(1)))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_factor") - 1)))
        .withColumn(skey, F.col(key) * F.lit(_MAX_SALT) + F.col("_salt"))
        .drop("_factor", "_salt")
    )
    return h2, p2, skey


def _prep(
    halos: DataFrame,
    particles: DataFrame,
    rmax: float,
    box: float,
    nc: int,
    ring_k: int,
    id_col: str,
    h_coords: tuple[str, str, str],
    p_coords: tuple[str, str, str],
    extra_p: Iterable[str] = (),
):
    """Both sides of a cell equi-join on the (nc, ring_k) grid from
    plan_grid: halos exploded over their ring cells, particles keyed by
    their own cell.  -> (h, p)"""
    h = halos.select(
        F.col(id_col), *[F.col(c).alias(a) for c, a in zip(h_coords, _H)]
    )
    # per-row Euclidean cell prune: the MBR-overlap analog, drops ring
    # cells no point of which can satisfy the strict d^2 < rmax^2 bound
    h = explode_ring(h, nc, box, cols=_H, k=ring_k, prune_radius=rmax)
    p = particles.select(
        *[F.col(c).alias(a) for c, a in zip(p_coords, _P)],
        *[F.col(c) for c in extra_p],
    )
    p = with_cell(p, nc, box, cols=_P)
    return h, p


# CPU-pinned per-core cost model fitted to the measured regimes
# (BENCH/BASELINE.md): the codegen join processes its (fine ring-1 grid)
# candidates at ~2.5M pairs/s/core; the cogroup Arrow kernel runs ~4.5x
# faster per pair (~11M) on its coarser 128-occupancy grid (more pairs)
# plus ~2.4 us/core per row shipped through the cogroup (particles +
# exploded halo-ring rows).  All four constants re-fit in round 4 after
# the BUCKETED cogroup rewrite (see _fused_plan: per-cell groups ->
# cell_id mod n_buckets groups dropped fused's per-row overhead from a
# measured ~13 us to ~2.4 us — that 13 us was per-GROUP cogroup cost
# amortized over tiny per-cell groups, not serialization), solving the
# 2x2 system from the pinned ref-shape (rmax 12.77) and headline
# (rmax 20) operating points at 6M x 600k.  Comparing each plan's own
# work at its own rates predicts the winner in every measured regime; a
# single pairs-per-core threshold does not.
R_SQL_PAIRS_PER_CORE_SEC = 2.5e6
R_FUSED_PAIRS_PER_CORE_SEC = 1.1e7
A_FUSED_SEC_PER_ROW = 2.4e-6
# per exploded halo-ring row (shuffled + hash-probed) on the sql plan
A_SQL_SEC_PER_ROW = 2.3e-6
# fused's fixed cost — Python-worker pool spinup + Arrow init, absent
# from the pure-JVM sql plan (measured: small shape 600k x 60k rmax=20
# pinned@4: sql 3.35s vs fused 4.58s, a ~1.2s wall gap the variable
# terms don't explain).  Keeps tiny jobs on sql.
F_FUSED_FIXED_CORE_SEC = 5.0

# the broadcast-grid plans (bcast, dgrid) run on cells of size
# r_max / _BCAST_CELL_MULT probed ring-k: empty cells are free in the
# CSR layout and the ring bookkeeping is a few numpy ops per streamed
# row INSIDE the kernel, never a row, so the finer grid cuts candidate
# pairs toward the ball volume.  2 is the measured optimum
# (BENCH/BASELINE.md, dgrid cell-refinement sweep: mult 2 4.7 s,
# 3 6.0 s, 4 140 s).
_BCAST_CELL_MULT = 2
# the fused plan's grid targets this many particles per cell
_FUSED_OCCUPANCY = 128
# apply_salting splits one hot cell into at most this many sub-keys
_MAX_SALT = 64
# dense CSR offsets up to this many cells (64 MB of int32); finer grids
# fall back to a searchsorted over the sorted cell keys
_DENSE_CELLS = 16_000_000
# candidate pairs _ring_sweep expands at once (measured on the 1-NN and
# dgrid kernels: 2^16 beats 2^18 and one expansion per batch)
_SWEEP_PAIRS = 1 << 16


def plan_grid(
    plan: str,
    rmax: float,
    box: float = 1000.0,
    n_particles: int | None = None,
    ncells: int | None = None,
) -> tuple[int, int]:
    """The grid a shell_count plan runs on -> (cells per axis, ring k):
    the one grid policy of shell_count, choose_plan and the cell joins.
    An explicit `ncells` overrides it on every plan.

    * 'sql' (and the other row-materializing joins): the finest ring-1
      grid (cells >= r_max), capped at ~1 particle per cell when
      `n_particles` is known.  Finer cells LOSE for a join that
      materializes ring rows: a row costs ~1 us against ~0.6 us saved
      per pruned pair (cells of r_max/2: 32 s -> 228 s, ref shape).
    * 'fused': that grid coarsened to ~_FUSED_OCCUPANCY particles per
      cell (needs `n_particles`): per-cell numpy dispatch and ring
      fanout dominate a fine grid (ref shape: 35.8 s at nc=78, 16.6 s
      at nc=36).
    * 'bcast' / 'dgrid': cells of r_max / _BCAST_CELL_MULT, ring-2.

    ring k is the least with k * cell_size >= r_max.  Raises ValueError
    unless r_max < box/2, the precondition of the periodic search
    (§2.11.5).
    """
    if not rmax < box / 2:
        raise ValueError(f"r_max={rmax} must be < box/2={box / 2}")
    if ncells:
        nc = ncells
    elif plan in ("bcast", "dgrid"):
        nc = grid_ncells(rmax / _BCAST_CELL_MULT, box)
    elif plan == "fused":
        occ = round((n_particles / _FUSED_OCCUPANCY) ** (1.0 / 3.0))
        nc = min(grid_ncells(rmax, box), max(2, int(occ)))
    else:
        nc = grid_ncells(rmax, box, n_hint=n_particles)
    return nc, max(1, int(np.ceil(rmax / (box / nc) - 1e-9)))


def _csr_index_bytes(nc: int, n_rows: int) -> int:
    """Bytes of the cell index _csr_grid builds over n_rows on an nc^3
    grid: the dense ``starts`` offsets, or past _DENSE_CELLS the sorted
    int64 ``keys``."""
    if nc**3 <= _DENSE_CELLS:
        return (nc**3 + 1) * (4 if n_rows < 2**31 else 8)
    return 8 * n_rows


def choose_plan(
    n_halos: int,
    n_particles: int,
    rmax: float,
    box: float = 1000.0,
    ncells: int | None = None,
    max_broadcast_bytes: int = 512 << 20,
    weighted: bool = False,
) -> str:
    """Pick the physical plan for shell_count, pricing each plan on the
    grid it builds (plan_grid).

    'dgrid' whenever the DATA (particle) side fits the broadcast
    budget (~28 B/particle of payload plus the cell index): the
    reference's own architecture — in-memory data grid, streamed
    probes — with no shuffle AND no aggregation; fastest in every
    CPU-pinned measurement at in-memory data scales
    (BENCH/BASELINE.md).

    Else 'bcast' whenever the probe (halo) side fits the budget
    (~40 B/halo plus the cell index; 512 MB covers ~10M probes —
    reference scale): the only plan that never shuffles the big table.
    The cell index is the one _csr_grid builds (_csr_index_bytes).

    Otherwise 'fused' vs 'sql' by estimated core-time on each plan's
    own grid: candidate pairs at its measured per-core rate plus its
    per-row terms; ties go to sql (lower fixed overhead, pure JVM).
    """
    from .cells import expected_ring_cells

    nc_bcast, _ = plan_grid("dgrid", rmax, box, ncells=ncells)
    # a weight adds one int64 per particle to the dgrid payload; bcast
    # streams the weights with the particles, so its grid is unchanged
    per_particle = 36 if weighted else 28
    if (n_particles * per_particle + _csr_index_bytes(nc_bcast, n_particles)
            <= max_broadcast_bytes):
        return "dgrid"
    if n_halos * 40 + _csr_index_bytes(nc_bcast, n_halos) <= max_broadcast_bytes:
        return "bcast"

    nc_sql, _ = plan_grid("sql", rmax, box, n_particles, ncells)
    nc_fused, _ = plan_grid("fused", rmax, box, n_particles, ncells)

    def ring(nc: int) -> float:
        return expected_ring_cells(rmax / (box / nc))  # Euclidean cell prune

    def pairs(nc: int) -> float:
        return n_halos * ring(nc) * n_particles / float(nc**3)

    t_sql = (
        pairs(nc_sql) / R_SQL_PAIRS_PER_CORE_SEC
        + n_halos * ring(nc_sql) * A_SQL_SEC_PER_ROW
    )
    t_fused = (
        pairs(nc_fused) / R_FUSED_PAIRS_PER_CORE_SEC
        + (n_particles + n_halos * ring(nc_fused)) * A_FUSED_SEC_PER_ROW
        + F_FUSED_FIXED_CORE_SEC
    )
    return "sql" if t_sql <= t_fused else "fused"


def shell_count(
    halos: DataFrame,
    particles: DataFrame,
    edges: np.ndarray,
    box: float = 1000.0,
    dtype: str = "float32",
    id_col: str = "halo_id",
    h_coords: tuple[str, str, str] = ("x", "y", "z"),
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
    plan: str = "sql",
    salt_threshold: int | None = None,
    n_halos_est: int | None = None,
    n_particles_est: int | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """J1+J2+A1: -> (id_col, shell_idx int, cnt long), nonzero rows only.

    weight_col: optional integer weight column on the particle side —
    the output gains `wsum long` = sum of weights per (halo, shell)
    (mass-weighted radial profiles, the natural generalization of the
    reference's count-only A1).  Every plan supports it: the join
    plans ('sql'/'fused') aggregate arbitrary expressions for free;
    'dgrid' broadcasts one int64 weight per particle and bincounts
    weights alongside counts (the fused kernel's 2^53-exactness
    guard); 'bcast' streams each particle's weight with its pairs into
    an exact int64 sort-reduce.  Keep weights integer for bit-exact
    cross-engine sums.

    id_col keeps its input type on every plan (long, int or string
    halo ids).

    plan: 'sql' (codegen join), 'fused' (cogroup Arrow kernel), 'bcast'
    / 'dgrid' (broadcast grid), or 'auto' — pick by estimated cost
    (choose_plan).  'auto' and 'fused' need the particle count, 'auto'
    the halo count too: pass n_halos_est / n_particles_est (free if the
    caller tracks table stats, as any catalog/Iceberg metadata does) or
    one count() pre-job per missing side runs here — at cluster scale,
    always pass the estimates.  Each plan runs on its own grid
    (plan_grid); `ncells` overrides it.

    salt_threshold: if set, run the dense-cell salting pre-pass
    (apply_salting) so no hot cell serializes one reducer/task.

    Input contract, the same on every plan: coordinates on a face (0 or
    box) or outside the box by rounding error are clamped into the edge
    cell and measured with the periodic min-image distance (wrap
    coordinates further out into [0, box) first).  A NaN
    coordinate takes cell 0 on its axis (the JVM's long cast of NaN,
    mirrored by the broadcast kernels); its distances are NaN, which
    fail the strict d^2 < r^2 test, so a NaN particle adds to no count
    and a NaN halo gets no output row.  An empty side gives an empty
    result.
    """
    edges = np.asarray(edges)
    rmax = float(edges[-1])
    n_est = n_particles_est
    if plan == "auto":
        n_est = n_est or particles.count()
        n_h = n_halos_est or halos.count()
        plan = choose_plan(n_h, n_est, rmax, box, ncells,
                           weighted=weight_col is not None)
    if plan == "fused" and not ncells:
        n_est = n_est or particles.count()
    nc, ring_k = plan_grid(plan, rmax, box, n_est, ncells)
    r2 = squared_edges(edges)
    if plan in ("bcast", "dgrid"):
        # no shuffle at all -> salting is moot
        grid_plan = _dgrid_plan if plan == "dgrid" else _bcast_plan
        return grid_plan(
            halos, particles, r2, box, dtype, id_col, nc,
            h_coords, p_coords, ring_k=ring_k, weight_col=weight_col,
        )
    h, p = _prep(
        halos, particles, rmax, box, nc, ring_k, id_col, h_coords, p_coords,
        extra_p=(weight_col,) if weight_col else (),
    )
    join_key = "cell_id"
    if salt_threshold is not None:
        h, p, join_key = apply_salting(h, p, salt_threshold)
    if plan == "fused":
        return _fused_plan(h, p, r2, box, dtype, id_col, join_key,
                           weight_col=weight_col)
    j = h.join(p, join_key)
    d2 = squared_distance_expr(_H, _P, box, dtype)
    # project d2 ONCE, then bin on the column reference — embedding the
    # distance expression inside every WHEN branch would re-evaluate it
    # per branch (and blow codegen limits at 40 shells)
    wcols = [F.col(weight_col)] if weight_col else []
    proj = j.select(F.col(id_col), d2.alias("_d2"), *wcols).where(
        F.col("_d2") < F.lit(float(r2[-1]))
    )
    sh = shell_index_expr(F.col("_d2"), r2).alias("shell_idx")
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if weight_col:
        aggs.append(F.sum(weight_col).cast("long").alias("wsum"))
    return (
        proj.select(F.col(id_col), sh, *wcols)
        .groupBy(id_col, "shell_idx")
        .agg(*aggs)
    )


def _fused_plan(h, p, r2, box, dtype, id_col, join_key: str = "cell_id",
                weight_col: str | None = None) -> DataFrame:
    """Cogroup Arrow kernel, bucketed.

    Cogrouping per CELL was the round-3 shape; per-group Python/Arrow
    overhead (a few ms x one group per cell) dominated at production
    grids (~27k cells -> fused 85.5s where sql ran 23.9s at the ref
    shape, BENCH/BASELINE.md).  Round 4: cogroup on `cell_id mod
    n_buckets` (a few hundred groups regardless of grid size) and
    segment per cell INSIDE the kernel — both sides sorted by cell key,
    searchsorted block boundaries, the same chunked distance-matrix
    kernel per common cell.  Pair math, f32 discipline and counting
    semantics are unchanged; only the grouping granularity moved, so
    all goldens/oracles are invariant.  Composes with salting: the
    salted key is cell_id*_MAX_SALT+salt, so pmod spreads a hot cell's
    sub-keys across consecutive buckets.
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    r2k = np.asarray(r2, dtype=np_dtype)
    nr = len(r2k)
    bx = np_dtype(box)
    out_cols = [id_col, "shell_idx", "cnt"] + (["wsum"] if weight_col else [])
    try:
        # the conf may be 'auto' under AQE-managed deployments
        conf_parts = int(
            h.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        conf_parts = 256
    n_buckets = max(256, conf_parts)

    def _empty():
        return pd.DataFrame({c: [] for c in out_cols}).astype(
            {c: ("int32" if c == "shell_idx" else "int64")
             for c in out_cols}
        )

    def kern(left: pd.DataFrame, right: pd.DataFrame):
        if len(left) == 0 or len(right) == 0:
            return _empty()
        hkey = left[join_key].to_numpy(np.int64)
        pkey = right[join_key].to_numpy(np.int64)
        # introsort, NOT stable: per-(id, shell) integer counts are
        # invariant to row order within a cell block
        ho = np.argsort(hkey)
        po = np.argsort(pkey)
        hkey = hkey[ho]
        pkey = pkey[po]
        H = left[list(_H)].to_numpy(np_dtype)[ho]
        ids = left[id_col].to_numpy()[ho]
        P = right[list(_P)].to_numpy(np_dtype)[po]
        if weight_col:
            w = right[weight_col].to_numpy(np.int64)[po]
        # exploded halo-ring rows repeat ids across cells: factorize once
        # per bucket so the accumulator is (distinct ids x shells)
        uids, id_idx = np.unique(ids, return_inverse=True)
        uc = np.intersect1d(
            hkey[np.r_[True, hkey[1:] != hkey[:-1]]],
            pkey[np.r_[True, pkey[1:] != pkey[:-1]]],
        )
        if len(uc) == 0:
            return _empty()
        hs = np.searchsorted(hkey, uc, "left")
        he = np.searchsorted(hkey, uc, "right")
        ps = np.searchsorted(pkey, uc, "left")
        pe = np.searchsorted(pkey, uc, "right")
        key_chunks: list[np.ndarray] = []
        w_chunks: list[np.ndarray] = []
        for i in range(len(uc)):
            PP = P[ps[i] : pe[i]]
            n = len(PP)
            HH_all = H[hs[i] : he[i]]
            hloc_all = id_idx[hs[i] : he[i]]
            # chunk the halo side so the (chunk x n) matrix stays small
            chunk = max(1, 4_000_000 // max(n, 1))
            for s in range(0, len(HH_all), chunk):
                HH = HH_all[s : s + chunk]
                d2 = squared_distance_np(HH, PP, box=float(bx))
                sh = shell_index_np(d2.ravel(), r2k)
                kidx = np.nonzero(sh < nr)[0]
                if len(kidx) == 0:
                    continue
                hloc = hloc_all[s : s + len(HH)][kidx // n]
                key_chunks.append(hloc * nr + sh[kidx])
                if weight_col:
                    # surviving pair -> its particle (flat pair % n)
                    w_chunks.append(w[ps[i] : pe[i]][kidx % n])
        if not key_chunks:
            return _empty()
        keys = np.concatenate(key_chunks)
        acc = np.bincount(keys, minlength=len(uids) * nr)
        if weight_col:
            wk = np.concatenate(w_chunks)
            if np.abs(wk).sum() < 2.0**53:
                # bincount's f64 partial sums are exact while every
                # intermediate stays under 2^53 — guaranteed by sum|w|
                # over the bucket — and ~10x faster than the scatter
                accw = np.bincount(
                    keys, weights=wk, minlength=len(uids) * nr
                ).astype(np.int64)
            else:  # astronomically heavy bucket: exact fallback
                accw = np.zeros(len(uids) * nr, dtype=np.int64)
                np.add.at(accw, keys, wk)
        nz = np.nonzero(acc)[0]
        cols = {
            id_col: uids[nz // nr],
            "shell_idx": (nz % nr).astype(np.int32),
            "cnt": acc[nz],
        }
        if weight_col:
            cols["wsum"] = accw[nz]
        return pd.DataFrame(cols)

    schema = _count_schema(h, id_col, bool(weight_col))
    bkt = F.pmod(F.col(join_key), F.lit(n_buckets)).cast("int").alias("_bkt")
    hsel = [F.col(id_col), *[F.col(c) for c in _H], F.col(join_key), bkt]
    psel = [*[F.col(c) for c in _P], F.col(join_key), bkt] + (
        [F.col(weight_col)] if weight_col else []
    )
    out = (
        h.select(*hsel)
        .groupBy("_bkt")
        .cogroup(p.select(*psel).groupBy("_bkt"))
        .applyInPandas(kern, schema=schema)
    )
    # per-cell partials -> final agg (the map-side-combine analog)
    aggs = [F.sum("cnt").alias("cnt")]
    if weight_col:
        aggs.append(F.sum("wsum").alias("wsum"))
    return out.groupBy(id_col, "shell_idx").agg(*aggs)


def _build_grid(
    side: DataFrame,
    coords: tuple[str, str, str],
    id_col: str | None,
    ncells: int,
    box: float,
    np_dtype,
    weight_col: str | None = None,
):
    """Collect one side, CSR-index it by cell key on the driver,
    broadcast.

    The cell key is a codegen'd column expression (with_cell —
    identical f64 floor(x/cs) arithmetic to the kernels', so cell
    assignment is plan-invariant); the collect is an UNORDERED Arrow
    collect and the CSR ordering is a driver-side numpy argsort +
    gather.  A Spark range-partitioned sort before the collect was
    measured SLOWER end-to-end (the sort adds a full shuffle + sampling
    pass and the driver still has to collect every row afterwards;
    argsort+gather of 6M rows is ~0.8s vs ~3s of sort overhead) — and
    the serial work is bounded by the same broadcast budget that gates
    this plan, so it cannot grow past ~16M rows.  Ids pass through in
    their input type; weights are int64.
    Returns (broadcast, n_rows)."""
    cols = ([id_col] if id_col else []) + list(coords)
    if weight_col:
        cols.append(weight_col)
    tbl = with_cell(side.select(*cols), ncells, box, cols=coords).toArrow()
    extra = {}
    if id_col:
        extra["ids"] = np.asarray(tbl.column(id_col))
    if weight_col:
        extra["W"] = np.asarray(tbl.column(weight_col)).astype(
            np.int64, copy=False)
    xyz = [np.asarray(tbl.column(c)).astype(np_dtype, copy=False)
           for c in coords]
    grid = _csr_grid(np.asarray(tbl.column("cell_id")), ncells, xyz, **extra)
    return side.sparkSession.sparkContext.broadcast(grid), len(tbl)


def _csr_grid(key: np.ndarray, nc: int, xyz, **cols) -> dict:
    """CSR layout of one side by cell key: coords ``x``/``y``/``z`` and
    every extra column in key order, plus dense per-cell offsets
    ``starts`` over the nc^3 grid (64 MB of int32 at _DENSE_CELLS) or,
    on absurdly fine grids, the sorted ``keys`` for a searchsorted
    lookup — with dense offsets the kernels never touch the keys, and
    leaving them out cuts the broadcast ~35%."""
    # introsort, NOT stable: every kernel output is a per-id integer
    # count, invariant to row order within a cell, and default argsort
    # is ~2.4x faster than the stable radix at 6M keys (profiled)
    order = np.argsort(key)
    grid = {a: v[order] for a, v in zip("xyz", xyz)}
    grid.update({c: v[order] for c, v in cols.items()})
    if nc**3 <= _DENSE_CELLS:
        counts = np.bincount(key, minlength=nc**3)
        grid["starts"] = np.concatenate(([0], np.cumsum(counts))).astype(
            np.int32 if len(key) < 2**31 else np.int64
        )
    else:
        grid["keys"] = key[order]
    return grid


class _Ring(NamedTuple):
    """What _ring_sweep needs to know of a grid and the radius."""

    nc: int
    cs: float
    k: int
    offs: np.ndarray  # ring-k cell offsets in -k..k, mod-dedup'd, pruned
    doff: np.ndarray  # the same offsets as interior cell-key deltas
    prune_ok: bool
    fastpath_ok: bool
    r2: np.ndarray  # squared edges in the kernel dtype
    rmax2_infl: float  # f64 r_max^2, inflated for the cell prune
    box: np.floating  # in the kernel dtype


def _ring_geometry(nc: int, box: float, kk: int, r2: np.ndarray,
                   np_dtype) -> _Ring:
    """Ring-k offsets (mod-dedup'd), offset-level Euclidean prune, the
    interior neighbor-key delta LUT, and the two fast-path gates."""
    cs = box / nc
    rmax2_infl = float(np.asarray(r2, dtype=np.float64)[-1]) * (1.0 + 1e-9)
    offs = ring_offsets(nc, k=kk)
    half = nc // 2
    raw_offs = np.array(
        [[m if m <= half else m - nc for m in o] for o in offs], dtype=np.int64
    )
    prune_ok = nc > 2 * kk
    if prune_ok:
        # a whole ring cell is out of range for EVERY probe point when
        # its min per-axis gap (|o|-1 full cells) already exceeds rmax
        # — e.g. the 8 corner cells at k=3
        omin = np.maximum(np.abs(raw_offs) - 1, 0) * cs
        raw_offs = raw_offs[(omin * omin).sum(axis=1) < rmax2_infl]
    key_t = np.int32 if nc**3 < 2**31 - 1 else np.int64
    doff = (raw_offs[:, 0] * nc + raw_offs[:, 1]) * nc + raw_offs[:, 2]
    # interior pairs have |d|_axis <= (k+1)*cs <= 2box/5 < box/2 with a
    # wide margin, so the min-image fold can never flip within an ulp
    # of the box/2 boundary
    fastpath_ok = 2 * nc >= 5 * (kk + 1)
    return _Ring(nc, cs, kk, raw_offs, doff.astype(key_t), prune_ok,
                 fastpath_ok, np.asarray(r2, dtype=np_dtype), rmax2_infl,
                 np_dtype(box))


def _ring_sweep(grid: dict, geom: _Ring, Q: np.ndarray, Q64: np.ndarray):
    """Yield (q_row, data_idx, d2) for every pair of a streamed row
    ``Q[q_row]`` and a grid row ``data_idx`` with ``d2 < r2[-1]``.

    The one probe-and-bin loop of the broadcast-grid plans (bcast,
    dgrid and the 1-NN kernel, the analog of the reference's shared
    ``MultiRangeCount.c``); each caller only accumulates.  Q64 is the
    batch at input precision: cells and the slab prune come from it
    (with_cell's f64 floor, so cell assignment is plan-invariant); Q,
    in the kernel dtype, enters only the distances.  Yields nothing
    for a part of the batch with no pair in range.

    Hot-path design (profiled stage-by-stage, round 3 — the per-cell
    bookkeeping, not the distance math, dominated the round-2 kernel):

    * rows whose cell is >= k from every box face take a FAST path:
      the neighbor key is one add against the interior delta LUT (no
      modulo), and the distance skips the min-image fold — exact,
      because every candidate pair then has per-axis |d| <= (k+1)*cs
      <= 2box/5, where min(|d|, box-|d|) provably picks |d| and
      |d|^2 == d^2 in IEEE f32;
    * one vectorized pass per ring offset (contiguous adds, two int32
      gathers, the slab prune) — ~2x the row-masked (n, noffs) variant:
      no 2-D boolean nonzero, no int64 anywhere in the hot loop;
    * empty and pruned candidate cells drop before the pair expansion,
      which is ONE np.repeat + one arange per slice of ~_SWEEP_PAIRS
      candidate pairs (cache-resident); grid coords are contiguous
      1-D arrays, so the per-pair gather is a flat np.take, and the
      streamed coords are np.repeat'ed values;
    * int32 wherever the bounds allow — half the bytes every gather,
      sort and multiply touches (profiled ~25% of kernel time);
    * f32-exact (dx2+dy2)+dz2, then ``d2 < r2max`` drops most pairs
      before any caller bins them (~40% survive at the reference-
      matched shape); one flatnonzero + a take per output is cheaper
      than a boolean-mask compaction of each output.

    q_row is int32 (a batch row); data_idx is int32 unless the grid
    or a slice's candidate count passes 2^31.
    """
    nc, cs, kk = geom.nc, geom.cs, geom.k
    Dx, Dy, Dz = grid["x"], grid["y"], grid["z"]
    keys_s, starts = grid.get("keys"), grid.get("starts")
    if starts is not None:
        st0, st1 = starts[:-1], starts[1:]
    key_t = geom.doff.dtype
    idx_t = np.int32 if len(Dx) < 2**31 - 1 else np.int64
    oidx = geom.offs + kk  # raw offset -k..+k -> gap-table row
    r2max, bx = geom.r2[-1], geom.box
    # fmax/fmin, not clip: a NaN coordinate takes cell 0, as with_cell's
    # long cast gives it in the JVM, instead of an undefined int cast;
    # its NaN distances then fail d2 < r2max, so it pairs with nothing
    pc = np.fmin(np.fmax(np.floor(Q64 / cs), 0), nc - 1).astype(np.int64)
    if geom.fastpath_ok:
        inner = ((pc >= kk) & (pc <= nc - 1 - kk)).all(axis=1)
        parts = ((np.nonzero(inner)[0], False), (np.nonzero(~inner)[0], True))
    else:
        parts = ((np.arange(len(Q)), True),)
    for rows, fold in parts:
        n = len(rows)
        if n == 0:
            continue
        P, P64, prc = Q[rows], Q64[rows], pc[rows]
        if geom.prune_ok:
            # per-(axis, slab) squared gaps, contiguous in n: gap to the
            # slab at offset |o| = within-cell face gap plus |o|-1 full
            # cells (the vectorized MBR prune)
            G = np.empty((3, 2 * kk + 1, n), dtype=np.float64)
            for a in range(3):
                lo_f = prc[:, a].astype(np.float64) * cs
                gm = P64[:, a] - lo_f
                gp = lo_f + cs - P64[:, a]
                G[a, kk] = 0.0
                for j in range(1, kk + 1):
                    gmj = gm + (j - 1) * cs
                    gpj = gp + (j - 1) * cs
                    G[a, kk - j] = gmj * gmj
                    G[a, kk + j] = gpj * gpj
        pck = prc.astype(key_t)
        pkey = (pck[:, 0] * nc + pck[:, 1]) * nc + pck[:, 2]
        pis, los, cns = [], [], []
        for j in range(len(oidx)):
            if fold:
                qc = (prc + geom.offs[j]) % nc
                qk = (qc[:, 0] * nc + qc[:, 1]) * nc + qc[:, 2]
            else:
                qk = pkey + geom.doff[j]
            if starts is not None:
                lo_i = st0[qk]
                cn = st1[qk] - lo_i
            else:
                lo_i = np.searchsorted(keys_s, qk, side="left")
                cn = np.searchsorted(keys_s, qk, side="right") - lo_i
            if geom.prune_ok:
                g2 = G[0, oidx[j, 0]] + G[1, oidx[j, 1]]
                g2 += G[2, oidx[j, 2]]
                keep = (cn > 0) & (g2 < geom.rmax2_infl)
            else:
                keep = cn > 0
            idx = np.nonzero(keep)[0]
            if len(idx) == 0:
                continue
            pis.append(idx)
            los.append(lo_i[idx])
            cns.append(cn[idx])
        if not pis:
            continue
        pi_all = np.concatenate(pis)
        lo_all = np.concatenate(los).astype(idx_t)
        cn_all = np.concatenate(cns).astype(np.int64)
        # one batch-wide expansion ran the 1-NN kernel ~35% slower than
        # slices of ~_SWEEP_PAIRS pairs (and its memory is unbounded)
        cend = np.cumsum(cn_all)
        cuts = np.searchsorted(
            cend, np.arange(_SWEEP_PAIRS, cend[-1], _SWEEP_PAIRS), side="right")
        for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(cend)]):
            if a == b:
                continue
            pi0, lo_c, cnt = pi_all[a:b], lo_all[a:b], cn_all[a:b]
            total = int(cnt.sum())
            et = idx_t if total < 2**31 - 1 else np.int64
            c0 = np.cumsum(cnt) - cnt
            didx = np.arange(total, dtype=et)
            didx += np.repeat((lo_c - c0).astype(et), cnt)
            dx = np.take(Dx, didx)
            dx -= np.repeat(P[pi0, 0], cnt)
            dy = np.take(Dy, didx)
            dy -= np.repeat(P[pi0, 1], cnt)
            dz = np.take(Dz, didx)
            dz -= np.repeat(P[pi0, 2], cnt)
            if fold:
                # min-image fold, f32-exact ((dx2+dy2)+dz2 order kept)
                np.abs(dx, out=dx)
                np.minimum(dx, bx - dx, out=dx)
                np.abs(dy, out=dy)
                np.minimum(dy, bx - dy, out=dy)
                np.abs(dz, out=dz)
                np.minimum(dz, bx - dz, out=dz)
            dx *= dx
            dy *= dy
            dz *= dz
            d2 = dx + dy
            d2 += dz
            sel = np.flatnonzero(d2 < r2max)
            if len(sel) == 0:
                continue
            q_row = np.repeat(rows[pi0].astype(np.int32), cnt)
            yield q_row[sel], didx[sel], d2[sel]

def _count_schema(side: DataFrame, id_col: str, weighted: bool) -> str:
    """Output schema of the kernel plans: the id keeps its input type
    (string halo ids pass through uncast)."""
    t = side.schema[id_col].dataType.simpleString()
    return f"{id_col} {t}, shell_idx int, cnt long" + (
        ", wsum long" if weighted else "")


def _bcast_plan(
    halos: DataFrame,
    particles: DataFrame,
    r2: np.ndarray,
    box: float,
    dtype: str,
    id_col: str,
    ncells: int,
    h_coords: tuple[str, str, str],
    p_coords: tuple[str, str, str],
    ring_k: int = 1,
    weight_col: str | None = None,
) -> DataFrame:
    """Broadcast-halo-grid plan: stream the BIG table map-side only.

    The reference holds its whole index in memory per node and streams
    probes past it (``src/astr_rcount/main.c``); this is the same
    architecture with the sides flipped to fit Spark's broadcast model:
    the probe (halo) table — the small side by the workload's own shape
    (10M probes vs 3x100M particles in the published run) — is sorted
    by cell key into a CSR layout, broadcast once, and every particle
    partition counts against it through _ring_sweep.  The 100 TB
    particle table is NEVER shuffled, exploded, or cogrouped: one scan,
    map-side partial (halo, shell) counts, and a tiny final aggregation
    whose input is bounded by nonzero (halo, shell) cells per partition.
    Requires the halo side to fit in executor memory (~40 B/halo: 10M
    halos ≈ 400 MB — the same assumption the reference makes per node).

    Candidate work per particle = halos in the ring-k cell neighborhood
    around it (cells of size rmax/k), cut by a per-probe Euclidean slab
    prune: a finer-than-rmax grid trades a few more candidate CELLS for
    far fewer candidate PAIRS — the closest Spark-shaped analog of the
    reference tree's tight MBR descent.

    Accumulator: a sort-reduce keyed by halo row * nshells + shell.
    Unit counts (_count) when unweighted; with weight_col each pair
    also carries its streamed particle's int64 weight and the exact
    int64 _reduce sums both.
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    bc, m = _build_grid(halos, h_coords, id_col, ncells, box, np_dtype)
    geom = _ring_geometry(ncells, box, ring_k, r2, np_dtype)
    r2k = geom.r2
    nr = len(r2k)
    out_t = np.int32 if m * nr < 2**31 - 1 else np.int64

    def _reduce(keys: np.ndarray, *vals: np.ndarray):
        o = np.argsort(keys, kind="stable")
        k = keys[o]
        b = np.nonzero(np.r_[True, k[1:] != k[:-1]])[0]
        return (k[b], *(np.add.reduceat(v[o], b) for v in vals))

    def _count(keys: np.ndarray):
        # sort-reduce of unit counts: ~4x cheaper than a dense bincount
        # over the m*nr domain at typical keys/task volumes (measured),
        # and it never touches an O(m*nr) accumulator
        ks = np.sort(keys)
        b = np.nonzero(np.r_[True, ks[1:] != ks[:-1]])[0]
        return ks[b], np.diff(np.r_[b, len(ks)]).astype(np.int64)

    def kern(batches):
        grid = bc.value
        comp: list[tuple[np.ndarray, ...]] = []  # reduced (key, cnt[, wsum])
        raw: list[tuple[np.ndarray, ...]] = []  # per-pair (key[, weight])
        raw_n = 0

        def flush():
            nonlocal raw, raw_n
            if not raw:
                return
            k, *w = (np.concatenate(c) for c in zip(*raw))
            if w:
                comp.append(_reduce(k, np.ones(len(k), np.int64), *w))
            elif len(k) * 4 > m * nr:
                b = np.bincount(k, minlength=m * nr)  # keys outnumber domain
                knz = np.nonzero(b)[0]
                comp.append((knz.astype(k.dtype), b[knz]))
            else:
                comp.append(_count(k))
            raw, raw_n = [], 0

        for pdf in batches:
            if len(pdf) == 0:
                continue
            P64 = pdf[list(_P)].to_numpy(np.float64)
            W = pdf[weight_col].to_numpy(np.int64) if weight_col else None
            for q_row, hidx, d2 in _ring_sweep(
                    grid, geom, P64.astype(np_dtype), P64):
                sh = np.searchsorted(r2k, d2, side="right").astype(out_t)
                keys = hidx.astype(out_t, copy=False) * out_t(nr) + sh
                raw.append((keys,) if W is None else (keys, W[q_row]))
                raw_n += len(keys)
                if raw_n > 24_000_000:
                    flush()
        flush()
        if not comp:
            return
        k, c, *ws = _reduce(*(np.concatenate(x) for x in zip(*comp)))
        cols = {
            id_col: grid["ids"][(k // nr).astype(np.int64)],
            "shell_idx": (k % nr).astype(np.int32),
            "cnt": c.astype(np.int64),
        }
        if ws:
            cols["wsum"] = ws[0]
        yield pd.DataFrame(cols)

    out = particles.select(
        *[F.col(c).alias(a) for c, a in zip(p_coords, _P)],
        *([F.col(weight_col)] if weight_col else []),
    ).mapInPandas(kern, schema=_count_schema(halos, id_col, bool(weight_col)))
    aggs = [F.sum("cnt").alias("cnt")]
    if weight_col:
        aggs.append(F.sum("wsum").alias("wsum"))
    return out.groupBy(id_col, "shell_idx").agg(*aggs)


def _dgrid_plan(
    halos: DataFrame,
    particles: DataFrame,
    r2: np.ndarray,
    box: float,
    dtype: str,
    id_col: str,
    ncells: int,
    h_coords: tuple[str, str, str],
    p_coords: tuple[str, str, str],
    ring_k: int = 1,
    weight_col: str | None = None,
) -> DataFrame:
    """Broadcast-DATA grid: the reference's architecture, sides as-is.

    ``astr_rcount`` holds the whole particle index in per-node memory
    and streams probes past it (``src/astr_rcount/main.c``); this plan
    is the 1:1 Spark analog: the PARTICLE table is cell-sorted into a
    CSR grid, broadcast once, and the (small) probe table streams
    through ``mapInPandas`` and _ring_sweep.  Every probe's shell
    counts complete inside its own task, so the output needs NO
    shuffle and NO aggregation — the map output IS the result.  Two
    structural wins over plan='bcast' at in-memory data scales:

    * ring bookkeeping (neighbor keys, CSR lookups, slab prune) is per
      PROBE, and probes are typically 10x fewer than particles;
    * per-batch counts accumulate into a dense (batch x nshells)
      bincount and leave pre-aggregated — the JVM never hash-aggregates
      tens of millions of partial rows (measured at ~40% of plan=
      'bcast' wall time at the reference-matched shape).

    Scale envelope: the DATA side must fit executor memory (16-20 B/
    particle; the reference's own published run holds 3x100M particles
    ~5 GB per node the same way).  Beyond the broadcast budget use
    plan='bcast' (stream the 100 TB side); choose_plan gates on both
    budgets.  With weight_col the grid carries one int64 weight per
    particle, bincounted next to the counts.
    """
    np_dtype = np.float32 if dtype == "float32" else np.float64
    bc, _ = _build_grid(particles, p_coords, None, ncells, box, np_dtype,
                        weight_col=weight_col)
    geom = _ring_geometry(ncells, box, ring_k, r2, np_dtype)
    r2k = geom.r2
    nr = len(r2k)

    def kern(batches):
        grid = bc.value
        W = grid.get("W")
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            H64 = pdf[list(_H)].to_numpy(np.float64)
            acc = np.zeros(n * nr, dtype=np.int64)
            accw = np.zeros(n * nr, dtype=np.int64) if W is not None else None
            for q_row, didx, d2 in _ring_sweep(
                    grid, geom, H64.astype(np_dtype), H64):
                # probe-local accumulation: batch_row * nr + shell, dense
                keys = q_row.astype(np.int64) * nr + np.searchsorted(
                    r2k, d2, side="right")
                acc += np.bincount(keys, minlength=len(acc))
                if accw is not None:
                    # per-pair particle weights: same exactness guard as
                    # the fused kernel — bincount's f64 partials are
                    # exact while every intermediate stays under 2^53
                    wk = W[didx]
                    if np.abs(wk).sum() < 2.0**53:
                        accw += np.bincount(
                            keys, weights=wk, minlength=len(accw)
                        ).astype(np.int64)
                    else:
                        np.add.at(accw, keys, wk)
            nz = np.nonzero(acc)[0]
            if len(nz):
                out_cols = {
                    id_col: pdf[id_col].to_numpy()[nz // nr],
                    "shell_idx": (nz % nr).astype(np.int32),
                    "cnt": acc[nz],
                }
                if accw is not None:
                    out_cols["wsum"] = accw[nz]
                yield pd.DataFrame(out_cols)

    probes = halos.select(
        F.col(id_col), *[F.col(c).alias(a) for c, a in zip(h_coords, _H)]
    )
    # the probe table is small by this plan's contract, so Spark's scan
    # bin-packing often lands it in one or two partitions — spread it
    # over the cluster (a shuffle of the SMALL side only)
    par = halos.sparkSession.sparkContext.defaultParallelism
    if probes.rdd.getNumPartitions() < par:
        probes = probes.repartition(par)
    return probes.mapInPandas(
        kern, schema=_count_schema(halos, id_col, bool(weight_col)))


def range_join_pairs(
    halos: DataFrame,
    particles: DataFrame,
    radius: float,
    box: float = 1000.0,
    dtype: str = "float32",
    id_col: str = "halo_id",
    particle_id_col: str = "particle_id",
    h_coords: tuple[str, str, str] = ("x", "y", "z"),
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
    include_distance: bool = False,
) -> DataFrame:
    """J3: pair-emitting range join -> (halo_id, particle_id[, d2]).

    The reference's RangeSearch surface
    (``src/objects/ArraySTR/RangeSearch.c:11-52``) — same candidate
    pipeline as shell_count minus the aggregation.  Matches the useful
    interpretation of the reference's squared-radius convention: the
    predicate is strict ``d2 < radius^2`` (SURVEY §2.3 J3 note).
    """
    edges = np.asarray([radius], dtype=np.float32 if dtype == "float32" else np.float64)
    rmax = float(edges[-1])
    nc, ring_k = plan_grid("sql", rmax, box, ncells=ncells)
    h, p = _prep(halos, particles, rmax, box, nc, ring_k, id_col, h_coords,
                 p_coords, extra_p=(particle_id_col,))
    r2 = squared_edges(edges)
    j = h.join(p, "cell_id")
    d2 = squared_distance_expr(_H, _P, box, dtype)
    out = j.select(F.col(id_col), F.col(particle_id_col), d2.alias("d2")).where(
        F.col("d2") < F.lit(float(r2[0]))
    )
    return out if include_distance else out.drop("d2")


def range_anti_join(
    particles: DataFrame,
    sites: DataFrame,
    radius: float,
    box: float = 1000.0,
    dtype: str = "float32",
    p_coords: tuple[str, str, str] = ("x", "y", "z"),
    s_coords: tuple[str, str, str] = ("x", "y", "z"),
    ncells: int | None = None,
) -> DataFrame:
    """Exclusion-zone filter: rows of `particles` with NO site at
    strict d < radius (periodic min-image) — the negation of the J3
    range join (``range_join_pairs``), the geofencing scrub shape.
    Rows pass through with ALL their columns.

    Plan: the site table (the small side by workload shape) explodes
    its ring cover and broadcasts; ONE broadcast ``left_anti`` join
    keyed on cell_id carries the distance predicate in the join
    condition, so the big table is scanned exactly once, never
    shuffled, and emits survivors map-side.  A particle matching no
    ring cell never even evaluates the distance.  Semantics equal
    NOT EXISTS(site with d^2 < r^2): the ring cover contains every
    cell a violating site could occupy, so anti-join misses nothing."""
    edges = np.asarray(
        [radius], dtype=np.float32 if dtype == "float32" else np.float64
    )
    r2 = squared_edges(edges)
    rmax = float(edges[-1])
    nc, ring_k = plan_grid("sql", rmax, box, ncells=ncells)
    s = sites.select(*[F.col(c).alias(a) for c, a in zip(s_coords, _H)])
    s = explode_ring(s, nc, box, cols=_H, k=ring_k, prune_radius=rmax,
                     out="_scell")
    p = with_cell(particles, nc, box, cols=p_coords, out="_pcell")
    d2 = squared_distance_expr(_H, p_coords, box, dtype)
    cond = (F.col("_pcell") == F.col("_scell")) & (d2 < F.lit(float(r2[0])))
    return p.join(F.broadcast(s), cond, "left_anti").drop("_pcell")


def shell_totals(counts: DataFrame, id_col: str = "halo_id") -> DataFrame:
    """A2 (corrected): grand total per shell over all halos.

    The reference's printed Total has an aliasing bug (``total =
    &counts[0]`` doubles halo 0, ``src/astr_rcount/main.c:400-429``);
    we compute the true total — SURVEY §2.11.6 says do not reproduce.
    """
    return counts.groupBy("shell_idx").agg(F.sum("cnt").alias("total"))

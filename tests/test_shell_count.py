"""Core shell-count join: TestData4PB golden fixture + randomized oracle."""

import numpy as np
import pytest

from spatialjoincountovershells_spark import (
    logspace_edges,
    shell_count,
    shell_totals,
    squared_edges,
)
from spatialjoincountovershells_spark.sources.synth import synth_points_np

from fixtures import PB_HALOS, PB_PARTICLES, dense_from_long, oracle_shell_counts


def _df_points(spark, arr, id_col=None):
    import pandas as pd

    cols = {}
    if id_col:
        cols[id_col] = np.arange(len(arr), dtype=np.int64)
    cols.update({c: arr[:, i].astype(np.float32) for i, c in enumerate("xyz")})
    pdf = pd.DataFrame(cols)
    schema = (f"{id_col} long, " if id_col else "") + "x float, y float, z float"
    return spark.createDataFrame(pdf, schema=schema)


def _run(spark, H, P, edges, plan, ncells=None, dtype="float32"):
    halos = _df_points(spark, H, id_col="halo_id")
    parts = _df_points(spark, P)
    res = shell_count(halos, parts, edges, plan=plan, ncells=ncells, dtype=dtype)
    rows = [(r.halo_id, r.shell_idx, r.cnt) for r in res.collect()]
    return dense_from_long(rows, len(H), len(edges))


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
@pytest.mark.parametrize(
    "spec,expected",
    [
        # strict-< edge case: d=1 fails `1.0 < 1.0`, lands in shell [1,2)
        ((0.5, 2.0, 3), [1, 0, 7]),
        ((0.9, 1.8, 2), [1, 7]),  # 1, sqrt2, sqrt3 all in [0.9, 1.8)
        ((1.9, 1.99, 1), [8]),
        ((0.5, 0.9, 2), [1, 0]),  # r_max < 1: only the coincident corner
    ],
)
def test_periodic_golden(spark, plan, spec, expected):
    edges = logspace_edges(*spec)
    got = _run(spark, PB_HALOS, PB_PARTICLES, edges, plan)
    want = np.array([expected, expected])  # both halos are symmetric corners
    assert got.tolist() == want.tolist()
    # and the numpy oracle agrees with the hand-derived counts
    assert oracle_shell_counts(PB_HALOS, PB_PARTICLES, squared_edges(edges)).tolist() == want.tolist()


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
@pytest.mark.parametrize(
    "seed,n_part,n_halo,spec",
    [
        (0, 1000, 50, (0.001, 5.0, 40)),  # the README's radius spec
        (1, 1000, 30, (10.0, 300.0, 8)),
        (2, 500, 20, (400.0, 499.0, 4)),  # stresses multi-dim periodic wrap
    ],
)
def test_random_vs_oracle(spark, plan, seed, n_part, n_halo, spec):
    P = synth_points_np(n_part, seed=seed)
    H = synth_points_np(n_halo, seed=seed + 1000)
    edges = logspace_edges(*spec)
    got = _run(spark, H, P, edges, plan)
    want = oracle_shell_counts(H, P, squared_edges(edges))
    assert got.tolist() == want.tolist()


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
def test_skewed_clusters_vs_oracle(spark, plan):
    """Heavily clustered data (the 100-TB failure mode the salting path
    exists for): 80% of particles in one tight blob, halos half inside
    the blob — every plan must match the numpy oracle, and the sql plan
    must also match with salting enabled on the hot cells."""
    rng = np.random.default_rng(42)
    blob = (rng.normal(0, 4.0, size=(800, 3)) + 500.0) % 1000.0
    bg = rng.uniform(0, 1000.0, size=(200, 3))
    P = np.vstack([blob, bg]).astype(np.float32)
    H = np.vstack([
        (rng.normal(0, 4.0, size=(25, 3)) + 500.0) % 1000.0,
        rng.uniform(0, 1000.0, size=(25, 3)),
    ]).astype(np.float32)
    edges = logspace_edges(1.0, 60.0, 6)
    want = oracle_shell_counts(H, P, squared_edges(edges))
    got = _run(spark, H, P, edges, plan)
    assert got.tolist() == want.tolist()
    if plan == "sql":
        halos = _df_points(spark, H, id_col="halo_id")
        parts = _df_points(spark, P)
        salted = shell_count(halos, parts, edges, plan="sql",
                             salt_threshold=50)
        rows = [(r.halo_id, r.shell_idx, r.cnt) for r in salted.collect()]
        assert dense_from_long(rows, len(H), len(edges)).tolist() == want.tolist()


@pytest.mark.parametrize("plan", ["bcast", "dgrid"])
def test_broadcast_sparse_grid_fallback(spark, plan):
    """nc^3 > 16M disables the dense CSR offsets in _build_grid, so the
    broadcast kernels must take the sorted-keys searchsorted fallback —
    the only regime that branch serves since the round-3 payload trim."""
    P = synth_points_np(400, seed=9)
    H = synth_points_np(15, seed=1009)
    edges = logspace_edges(0.5, 5.0, 4)
    got = _run(spark, H, P, edges, plan, ncells=260)
    want = oracle_shell_counts(H, P, squared_edges(edges))
    assert got.tolist() == want.tolist()


def test_shell_totals(spark):
    edges = logspace_edges(0.5, 2.0, 3)
    halos = _df_points(spark, PB_HALOS, id_col="halo_id")
    parts = _df_points(spark, PB_PARTICLES)
    counts = shell_count(halos, parts, edges)
    tot = {r.shell_idx: r.total for r in shell_totals(counts).collect()}
    # true grand total = 2x per-halo (the reference's printed Total is
    # wrong via the counts[0] aliasing bug - we assert the corrected one)
    assert tot == {0: 2, 2: 14}


def test_rmax_guard(spark):
    halos = _df_points(spark, PB_HALOS, id_col="halo_id")
    parts = _df_points(spark, PB_PARTICLES)
    with pytest.raises(ValueError, match="box/2"):
        shell_count(halos, parts, np.array([600.0], dtype=np.float32))


def test_choose_plan_measured_regimes():
    from spatialjoincountovershells_spark.operators.shell_count import choose_plan

    # dgrid wins whenever the DATA side fits the broadcast budget
    # (the reference's own in-memory-grid architecture; fastest in
    # every CPU-pinned measurement, BENCH/BASELINE.md)
    assert choose_plan(60_000, 600_000, rmax=20.0) == "dgrid"
    # data too big, probe side fits: bcast — never shuffles the big
    # table (ref scale: 10M probes vs 300M particles)
    assert choose_plan(10_000_000, 300_000_000, rmax=5.0) == "bcast"
    # beyond the budget: the measured sql/fused operating points after
    # the round-4 bucketed-cogroup rewrite (pinned@4: sf0.1 rmax=20:
    # sql 3.35 vs fused 4.58 — fused's fixed Python-worker spinup loses
    # tiny jobs; sf1 rmax=20: sql 67.0 vs fused 30.6; ref-shape
    # rmax=12.77: sql 23.9 vs fused 18.2)
    assert choose_plan(60_000, 600_000, rmax=20.0, max_broadcast_bytes=0) == "sql"
    assert choose_plan(600_000, 6_000_000, rmax=20.0, max_broadcast_bytes=0) == "fused"
    assert choose_plan(600_000, 6_000_000, rmax=12.77, max_broadcast_bytes=0) == "fused"
    # a weight keeps dgrid (its grid carries int64 weights, r4) and
    # bcast (the weights stream with the particles)
    assert choose_plan(60_000, 600_000, rmax=20.0, weighted=True) == "dgrid"
    assert choose_plan(10_000_000, 300_000_000, rmax=5.0) == "bcast"
    assert choose_plan(10_000_000, 300_000_000, rmax=5.0,
                       weighted=True) == "bcast"


def test_plan_auto_matches_sql(spark):
    P = synth_points_np(800, seed=4)
    H = synth_points_np(40, seed=1004)
    edges = logspace_edges(10.0, 300.0, 8)
    got = _run(spark, H, P, edges, "auto")
    want = _run(spark, H, P, edges, "sql")
    assert got.tolist() == want.tolist()


def test_self_join_autocorr_counts(spark):
    """shell_count with the same table on both sides (DD(r) estimator):
    raw ordered pair counts match the numpy oracle, and every point's
    d=0 self-pair lands in shell 0 (the premise that lets
    q_autocorr_shells subtract exactly N from shell 0)."""
    rng = np.random.default_rng(3)
    P = rng.uniform(0, 1000.0, size=(300, 3)).astype(np.float32)
    edges = logspace_edges(40.0, 320.0, 4)
    want = oracle_shell_counts(P, P, squared_edges(edges))
    assert (want[:, 0] >= 1).all(), "self-pair must bin to shell 0"
    parts = _df_points(spark, P)
    halos = _df_points(spark, P, id_col="halo_id")
    got = shell_count(halos, parts, edges, plan="sql", id_col="halo_id")
    rows = [(r.halo_id, r.shell_idx, r.cnt) for r in got.collect()]
    dense = dense_from_long(rows, len(P), len(edges))
    assert dense.tolist() == want.tolist()


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
def test_weighted_shell_sums(spark, plan):
    """weight_col: per-(halo, shell) integer weight sums (mass-weighted
    radial profiles) match a float64 min-image brute force exactly, and
    cnt stays identical to the unweighted run."""
    rng = np.random.default_rng(8)
    H = rng.uniform(0, 1000.0, size=(60, 3))
    P = rng.uniform(0, 1000.0, size=(500, 3))
    w = rng.integers(0, 1000, size=500)
    edges = logspace_edges(30.0, 240.0, 4)
    r2 = squared_edges(edges).astype(np.float64)
    # float64 min-image brute force with exact integer weight sums
    d = np.abs(H[:, None, :] - P[None, :, :])
    d = np.minimum(d, 1000.0 - d)
    d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    sh = np.searchsorted(r2, d2.ravel(), side="right").reshape(len(H), len(P))
    want_c = np.zeros((len(H), len(r2)), dtype=np.int64)
    want_w = np.zeros((len(H), len(r2)), dtype=np.int64)
    for hi in range(len(H)):
        for pi in range(len(P)):
            s = sh[hi, pi]
            if s < len(r2):
                want_c[hi, s] += 1
                want_w[hi, s] += w[pi]
    halos = spark.createDataFrame(
        [(i, float(x), float(y), float(z)) for i, (x, y, z) in enumerate(H)],
        "halo_id long, x double, y double, z double",
    )
    parts = spark.createDataFrame(
        [(float(x), float(y), float(z), int(wi)) for (x, y, z), wi in zip(P, w)],
        "x double, y double, z double, w long",
    )
    got = shell_count(halos, parts, edges, dtype="float64", plan=plan,
                      id_col="halo_id", weight_col="w")
    gc = np.zeros_like(want_c)
    gw = np.zeros_like(want_w)
    for r in got.collect():
        gc[r.halo_id, r.shell_idx] = r.cnt
        gw[r.halo_id, r.shell_idx] = r.wsum
    assert gc.tolist() == want_c.tolist()
    assert gw.tolist() == want_w.tolist()


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid", "auto"])
def test_string_halo_ids_match_sql(spark, plan):
    """String halo ids (the images table's 'halo%012d' shape) pass
    through every plan uncast and typed as on input; counts equal the
    integer-id sql run."""
    from pyspark.sql import functions as F

    P = synth_points_np(800, seed=5)
    H = synth_points_np(40, seed=1005)
    edges = logspace_edges(10.0, 300.0, 8)
    parts = _df_points(spark, P)
    halos = _df_points(spark, H, id_col="halo_id")
    want = sorted(
        (f"halo{r.halo_id:012d}", r.shell_idx, r.cnt)
        for r in shell_count(halos, parts, edges, plan="sql").collect()
    )
    shalos = halos.withColumn(
        "halo_id", F.format_string("halo%012d", "halo_id"))
    got = shell_count(shalos, parts, edges, plan=plan,
                      n_halos_est=len(H), n_particles_est=len(P))
    assert got.schema["halo_id"].dataType.simpleString() == "string"
    assert sorted(tuple(r) for r in got.collect()) == want


@pytest.mark.parametrize("ls_plan", ["sql", "fused"])
def test_landy_szalay_xi_vs_bruteforce(spark, ls_plan):
    """LS estimator composition: DD/DR/RR totals and the quantized xi
    match an exact f64 brute force replicating the same IEEE tree —
    on the codegen join plan AND a numpy-kernel plan (which must honor
    the f64 dtype default; f32 would bin edge-adjacent pairs off)."""
    from spatialjoincountovershells_spark.operators.correlation import (
        XI_QUANT,
        landy_szalay_xi,
    )

    rng = np.random.default_rng(12)
    D = rng.uniform(0, 1000.0, size=(120, 3))
    R = rng.uniform(0, 1000.0, size=(150, 3))
    edges = logspace_edges(60.0, 400.0, 4)
    r2 = squared_edges(edges).astype(np.float64)

    def totals(A, B, self_join):
        d = np.abs(A[:, None, :] - B[None, :, :])
        d = np.minimum(d, 1000.0 - d)
        d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
        sh = np.searchsorted(r2, d2.ravel(), side="right")
        t = np.bincount(sh[sh < len(r2)], minlength=len(r2)).astype(np.int64)
        if self_join:
            t[0] -= len(A)  # d=0 self-pairs all bin to shell 0
        return t

    dd, dr, rr = totals(D, D, True), totals(D, R, False), totals(R, R, True)
    nd, nr_ = len(D), len(R)
    want = {}
    for s in range(len(r2)):
        if rr[s] <= 0:
            continue
        ddn = dd[s] / (float(nd) * (nd - 1))
        drn = dr[s] / (float(nd) * nr_)
        rrn = rr[s] / (float(nr_) * (nr_ - 1))
        want[s] = (int(dd[s]), int(dr[s]), int(rr[s]),
                   int(np.floor((ddn - 2.0 * drn + rrn) / rrn * XI_QUANT)))
    mk = lambda A: spark.createDataFrame(  # noqa: E731
        [(float(x), float(y), float(z)) for x, y, z in A],
        "x double, y double, z double",
    )
    out = landy_szalay_xi(mk(D), mk(R), edges, plan=ls_plan)
    got = {r.shell_idx: (r.dd, r.dr, r.rr, r.xi_q) for r in out.collect()}
    assert got == want


@pytest.mark.parametrize("rk_plan", ["sql", "fused", "dgrid"])
def test_ripley_k_vs_bruteforce(spark, rk_plan):
    """Ripley's K: cumulative pair counts and the quantized K match an
    exact f64 brute force with the same IEEE tree; empty leading
    shells still emit rows (cum defined everywhere)."""
    from spatialjoincountovershells_spark.operators.correlation import ripley_k

    rng = np.random.default_rng(7)
    D = rng.uniform(0, 1000.0, size=(150, 3))
    # edges[0] tiny: shell 0 has no pairs after self-subtraction,
    # exercising the empty-shell row contract
    edges = np.array([0.5, 120.0, 250.0, 400.0])
    r2 = squared_edges(edges).astype(np.float64)
    d = np.abs(D[:, None, :] - D[None, :, :])
    d = np.minimum(d, 1000.0 - d)
    d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    sh = np.searchsorted(r2, d2.ravel(), side="right")
    t = np.bincount(sh[sh < len(r2)], minlength=len(r2)).astype(np.int64)
    t[0] -= len(D)
    cum = np.cumsum(t)
    n = len(D)
    want = {
        s: (int(cum[s]),
            int(np.floor((float(cum[s]) * 1000.0 ** 3)
                         / float(n * (n - 1)) * 1024.0)))
        for s in range(len(edges))
    }
    assert t[0] == 0  # scenario really has an empty first shell
    df = spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in D],
        "x double, y double, z double",
    )
    out = ripley_k(df, edges, plan=rk_plan)
    got = {r.shell_idx: (r.cum_pairs, r.k_q10) for r in out.collect()}
    assert got == want


def test_cross_k_vs_bruteforce(spark):
    """Bivariate K: cross pairs (no self subtraction), normalizer
    n_a * n_b; a clustered B-around-A layout gives K far above the
    CSR ball volume at small r."""
    from spatialjoincountovershells_spark.operators.correlation import ripley_k

    rng = np.random.default_rng(11)
    A = rng.uniform(0, 1000.0, size=(40, 3))
    # B: 5 points tightly around each A point -> strong cross-clustering
    B = (A[:, None, :] + rng.normal(0, 3.0, size=(40, 5, 3))).reshape(-1, 3) % 1000.0
    edges = np.array([10.0, 50.0, 200.0])
    r2 = squared_edges(edges).astype(np.float64)
    d = np.abs(A[:, None, :] - B[None, :, :])
    d = np.minimum(d, 1000.0 - d)
    d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    sh = np.searchsorted(r2, d2.ravel(), side="right")
    t = np.bincount(sh[sh < len(r2)], minlength=len(r2)).astype(np.int64)
    cum = np.cumsum(t)
    nn = len(A) * len(B)
    want = {
        s: (int(cum[s]),
            int(np.floor((float(cum[s]) * 1000.0 ** 3) / float(nn) * 1024.0)))
        for s in range(len(edges))
    }
    assert cum[0] >= len(A) * 4  # the clustering really is in shell 0
    mk = lambda P: spark.createDataFrame(  # noqa: E731
        [(float(x), float(y), float(z)) for x, y, z in P],
        "x double, y double, z double",
    )
    out = ripley_k(mk(A), edges, other=mk(B))
    got = {r.shell_idx: (r.cum_pairs, r.k_q10) for r in out.collect()}
    assert got == want
    # CSR expectation at r=10: V_ball/V_box * nn ~ 0.0042 * nn; the
    # planted clustering exceeds it by orders of magnitude
    assert got[0][1] > 100 * np.floor(4.0 / 3.0 * np.pi * 10.0 ** 3 * 1.024)


@pytest.mark.parametrize("nn_plan", ["sql", "dgrid"])
@pytest.mark.parametrize("mode", ["g", "f"])
def test_nn_dist_cdf_vs_bruteforce(spark, mode, nn_plan):
    """G/F nearest-neighbour CDFs: per-probe periodic 1-NN min,
    censored beyond edges[-1], exact integer-DIV ppm.  Sparse-enough
    layout that some probes ARE censored (the contract's tail case)."""
    from spatialjoincountovershells_spark.operators.correlation import (
        nn_dist_cdf,
    )

    rng = np.random.default_rng(13)
    P = rng.uniform(0, 1000.0, size=(120, 3))
    R = rng.uniform(0, 1000.0, size=(50, 3))
    edges = np.array([5.0, 40.0, 150.0])
    probes, data, excl_diag = (P, P, True) if mode == "g" else (R, P, False)
    d = np.abs(probes[:, None, :] - data[None, :, :])
    d = np.minimum(d, 1000.0 - d)
    d2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    if excl_diag:
        np.fill_diagonal(d2, np.inf)
    mn = d2.min(axis=1)
    r2 = squared_edges(edges).astype(np.float64)
    n = len(probes)
    cum = [int((mn < e).sum()) for e in r2]
    assert cum[-1] < n  # censoring really happens
    assert cum[0] >= 0 and cum[-1] > 0
    want = {s: (cum[s], cum[s] * 1_000_000 // n) for s in range(len(edges))}
    mk = lambda A, with_id: spark.createDataFrame(  # noqa: E731
        [(i, float(x), float(y), float(z)) for i, (x, y, z) in enumerate(A)],
        "pid long, x double, y double, z double",
    ) if with_id else spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in A],
        "x double, y double, z double",
    )
    if mode == "g":
        out = nn_dist_cdf(mk(P, True), edges, id_col="pid", plan=nn_plan)
    else:
        out = nn_dist_cdf(mk(P, False), edges, ref=mk(R, False),
                          plan=nn_plan)
    got = {r.shell_idx: (r.n_lt, r.g_ppm) for r in out.collect()}
    assert got == want


def test_nn_dist_cdf_requires_id_in_self_mode(spark):
    from spatialjoincountovershells_spark.operators.correlation import (
        nn_dist_cdf,
    )

    df = spark.createDataFrame([(1.0, 2.0, 3.0)], "x double, y double, z double")
    with pytest.raises(ValueError, match="id_col"):
        nn_dist_cdf(df, np.array([10.0]))


# ------------------------------------------------------ grid policy


@pytest.mark.parametrize("mult", [1, 2, 3])
def test_sql_cell_mult_matches_oracle(spark, mult):
    """The sql plan matches the numpy oracle on its own ring-1 grid
    (mult 1) and on explicit sub-rmax grids of cells rmax/mult, probed
    ring-mult with the Euclidean prune (mult 2, 3), including
    wrap-heavy radii."""
    from spatialjoincountovershells_spark.operators.cells import grid_ncells

    P = synth_points_np(800, seed=7)
    H = synth_points_np(40, seed=1007)
    for spec in [(0.5, 60.0, 6), (10.0, 300.0, 5)]:
        edges = logspace_edges(*spec)
        want = oracle_shell_counts(H, P, squared_edges(edges))
        nc = grid_ncells(float(edges[-1]) / mult) if mult > 1 else None
        got = _run(spark, H, P, edges, "sql", ncells=nc)
        assert got.tolist() == want.tolist()


# (plan, rmax, n_particles, ncells) -> (ncells, ring_k): the grids each
# plan built before the policy moved into plan_grid (box 1000)
_PINNED_GRIDS = [
    # sql: ring-1 cells >= rmax, capped at cbrt(n) when n is known
    (("sql", 20.0, None, None), (50, 1)),
    (("sql", 20.0, 6_000_000, None), (50, 1)),  # dense: the rmax cap binds
    (("sql", 5.0, 1000, None), (10, 1)),  # sparse: the cbrt(n) cap binds
    (("sql", 5.0, None, None), (200, 1)),
    (("sql", 12.77, 6_000_000, None), (78, 1)),
    (("sql", 20.0, None, 260), (260, 6)),
    (("sql", 499.9, None, None), (2, 1)),
    # fused: ~128 particles per cell, at most the ring-1 grid, at least 2
    (("fused", 20.0, 6_000_000, None), (36, 1)),
    (("fused", 12.77, 6_000_000, None), (36, 1)),
    (("fused", 20.0, 600_000, None), (17, 1)),
    (("fused", 5.0, 1000, None), (2, 1)),
    (("fused", 1.0, 10**9, None), (198, 1)),
    (("fused", 20.0, 6_000_000, 8), (8, 1)),
    (("fused", 499.9, 6_000_000, None), (2, 1)),
    # bcast / dgrid: cells of rmax/2 probed ring-2, n ignored
    (("dgrid", 20.0, None, None), (100, 2)),
    (("dgrid", 8.0, 1000, None), (250, 2)),
    (("bcast", 12.77, 6_000_000, None), (156, 2)),
    (("bcast", 5.0, None, 260), (260, 2)),
    (("dgrid", 20.0, None, 8), (8, 1)),
    (("dgrid", 499.9, None, None), (4, 2)),
    (("bcast", 499.9, None, None), (4, 2)),
]


@pytest.mark.parametrize("args,want", _PINNED_GRIDS)
def test_plan_grid_pinned(args, want):
    from spatialjoincountovershells_spark.operators.shell_count import plan_grid

    plan, rmax, n, ncells = args
    assert plan_grid(plan, rmax, 1000.0, n, ncells) == want


@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid"])
def test_plan_grid_rmax_guard(plan):
    from spatialjoincountovershells_spark.operators.shell_count import plan_grid

    with pytest.raises(ValueError, match="box/2"):
        plan_grid(plan, 500.0, 1000.0, 1000, None)


def test_choose_plan_prices_the_csr_index_it_builds():
    """The broadcast budget prices the cell index _csr_grid allocates on
    the r_max/2 grid: dense offsets, or past _DENSE_CELLS sorted keys."""
    from spatialjoincountovershells_spark.operators.shell_count import (
        _DENSE_CELLS,
        _csr_grid,
        _csr_index_bytes,
        choose_plan,
        plan_grid,
    )

    # rmax 8: 250^3 int32 offsets (59.6 MiB), not the ring-1 125^3
    assert _csr_index_bytes(plan_grid("dgrid", 8.0)[0], 10**6) == (
        250**3 + 1) * 4
    rng = np.random.default_rng(3)
    n = 5000
    for rmax, dense in ((40.0, True), (5.0, False)):
        nc, _ = plan_grid("dgrid", rmax)
        assert (nc**3 <= _DENSE_CELLS) == dense
        key = rng.integers(0, nc**3, n, dtype=np.int64)
        xyz = [rng.random(n, dtype=np.float32) for _ in range(3)]
        grid = _csr_grid(key, nc, xyz)
        index = grid["starts"] if dense else grid["keys"]
        assert "keys" not in grid if dense else "starts" not in grid
        assert _csr_index_bytes(nc, n) == index.nbytes
        # dgrid exactly when the particle payload plus that index fits
        need = n * 28 + index.nbytes
        assert choose_plan(10**9, n, rmax, max_broadcast_bytes=need) == "dgrid"
        assert choose_plan(10**9, n, rmax,
                           max_broadcast_bytes=need - 1) != "dgrid"


def test_explode_ring_k_prune_covers_and_is_tight(spark):
    """Ring-k explode with the per-row Euclidean prune (a) never drops a
    cell that holds an in-radius point (covering), (b) keeps strictly
    fewer rows than the unpruned ring (tight), at k = 2 and 3."""
    from spatialjoincountovershells_spark.operators.cells import (
        explode_ring,
        with_cell,
    )

    box, rmax = 1000.0, 90.0
    P = synth_points_np(600, seed=3)
    H = synth_points_np(25, seed=1003)
    d = np.abs(H[:, None, :].astype(np.float64) - P[None, :, :].astype(np.float64))
    d = np.minimum(d, box - d)
    d2 = (d[..., 0] ** 2 + d[..., 1] ** 2) + d[..., 2] ** 2
    true_pairs = {(i, j) for i, j in zip(*np.nonzero(d2 < rmax**2))}
    parts = _df_points(spark, P).selectExpr(
        "x as _px", "y as _py", "z as _pz",
    )
    for k in (2, 3):
        nc = int(box / (rmax / k))  # sub-rmax cells
        assert nc >= 2 * k + 1
        h = _df_points(spark, H, id_col="halo_id").selectExpr(
            "halo_id", "x as _hx", "y as _hy", "z as _hz")
        pruned = explode_ring(h, nc, box, cols=("_hx", "_hy", "_hz"),
                              k=k, prune_radius=rmax)
        unpruned = explode_ring(h, nc, box, cols=("_hx", "_hy", "_hz"), k=k)
        n_pruned, n_unpruned = pruned.count(), unpruned.count()
        assert n_pruned < n_unpruned  # the prune actually bites
        pc = with_cell(parts, nc, box, cols=("_px", "_py", "_pz"))
        # covering: every true in-radius pair survives as a candidate
        # (particles mapped back by their coords — ids would be
        # partition-dependent via monotonically_increasing_id)
        cand = pruned.join(pc, "cell_id").selectExpr(
            "halo_id", "_px", "_py", "_pz").collect()
        key = {(round(float(x), 3), round(float(y), 3), round(float(z), 3)): i
               for i, (x, y, z) in enumerate(P.tolist())}
        got = {(r.halo_id, key[(round(r._px, 3), round(r._py, 3), round(r._pz, 3))])
               for r in cand}
        assert true_pairs <= got


def test_manual_sql_grid_matches_auto_grid_on_sparse_data(spark, monkeypatch):
    """VERDICT r3 #6: an explicit plan='sql' call WITH a row-count
    estimate must execute on the same occupancy-capped grid the auto
    path's cost model evaluates — both take it from plan_grid, and on
    sparse data the cbrt(n) cap binds, not the rmax cap."""
    from spatialjoincountovershells_spark.operators import shell_count as sc

    n_sparse = 1000  # cbrt = 10 << 1000/rmax = 200 at rmax 5
    calls = []

    def spy(*args, **kwargs):
        calls.append((args[0], real(*args, **kwargs)))
        return calls[-1][1]

    real = sc.plan_grid
    monkeypatch.setattr(sc, "plan_grid", spy)
    halos = _df_points(spark, synth_points_np(20, seed=5), id_col="halo_id")
    parts = _df_points(spark, synth_points_np(n_sparse, seed=6))
    sc.shell_count(halos, parts, np.array([5.0], dtype=np.float32),
                   plan="sql", n_particles_est=n_sparse)
    assert calls == [("sql", (10, 1))]
    assert sc.choose_plan(20, n_sparse, 5.0, max_broadcast_bytes=0) == "sql"
    assert ("sql", (10, 1)) in calls[1:]
    # and without the estimate the over-fine rmax grid would be used
    assert real("sql", 5.0, 1000.0) == (200, 1)


_NAN = np.float32("nan")


@pytest.mark.filterwarnings("error::RuntimeWarning")
@pytest.mark.parametrize("plan", ["sql", "fused", "bcast", "dgrid", "auto"])
def test_input_contract_vs_oracle(spark, plan, monkeypatch):
    """On-face, slightly out-of-box, NaN and empty-side inputs match the
    brute-force oracle on every plan, with RuntimeWarnings raised as
    errors here and in the Python workers (a NaN cell index used to
    come from an undefined float->int cast in the broadcast kernels)."""
    monkeypatch.setitem(spark.sparkContext.environment, "PYTHONWARNINGS",
                        "error::RuntimeWarning")
    P = synth_points_np(300, seed=12)
    H = synth_points_np(12, seed=1012)
    H[0] = (0.0, 0.0, 0.0)  # on the lower faces
    P[0] = (1000.0, 0.0, 0.0)  # on the upper face: coincident with H[0]
    P[1] = (0.5, 999.5, 1000.0)
    H[1] = (-1e-3, 500.0, 1000.001)  # just outside the box
    P[2] = (-1e-3, 3.0, 999.0)
    P[3] = (1000.001, 998.0, 2.0)
    H[2] = (_NAN, 10.0, 10.0)  # NaN halo: no output row
    P[4] = (10.0, _NAN, 10.0)  # NaN particle: adds to no count
    P[5] = (_NAN, _NAN, _NAN)
    edges = logspace_edges(0.5, 60.0, 6)
    r2 = squared_edges(edges)
    for hh, pp in ((H, P), (H[:0], P), (H, P[:0])):
        got = _run(spark, hh, pp, edges, plan)
        want = oracle_shell_counts(hh, pp, r2)
        assert got.tolist() == want.tolist()
    want = oracle_shell_counts(H, P, r2)
    assert want[0, 0] >= 1 and want[2].sum() == 0

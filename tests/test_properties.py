"""Hypothesis property tests for the pure (numpy / driver-side) kernels.

These pin the algebraic contracts the Spark plans are built on, with
randomized coverage the example-based tests can't reach:

* first-match strict-< shell binning (reference
  ``src/objects/ArraySTR/MultiRangeCount.c:103-114`` semantics),
* last-edge pinning of the log2-spaced edges
  (``src/astr_rcount/main.c:646``),
* the phash codec lattice roundtrip,
* min-image folding == brute-force 27-image minimum for r < box/2
  (``src/objects/ArraySTR/MultiRangeCount.c:13-73`` equivalence),
* ring-offset dedup modulo the grid (the correctness core of
  ``explode_ring`` / the broadcast kernels' neighbor sweep),
* the broadcast-grid ring sweep's pair set and bits vs brute force,
* the SQL-derivable poly hash vs an independent big-int evaluation.

No SparkSession needed — this module runs in milliseconds.
"""

from __future__ import annotations

from unittest import mock

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from spatialjoincountovershells_spark.functions.phash import (
    BOX,
    SCALE,
    decode_phash_np,
    encode_phash_np,
)
from spatialjoincountovershells_spark.functions.shells import (
    logspace_edges,
    shell_index_np,
    squared_edges,
)
from spatialjoincountovershells_spark.functions.geometry import (
    squared_distance_np,
)
from spatialjoincountovershells_spark.functions.texthash import (
    MAXLEN,
    P,
    POWS,
    affine_consts,
    poly_hash_np,
)
from spatialjoincountovershells_spark.operators.cells import (
    grid_ncells,
    ring_offsets,
)
from spatialjoincountovershells_spark.operators.shell_count import (
    _SWEEP_PAIRS,
    _csr_grid,
    _ring_geometry,
    _ring_sweep,
)

# ------------------------------------------------------------- shell binning


@st.composite
def edges_and_d2(draw):
    """Random strictly-ascending f32 squared edges + probe d2 values,
    biased to land exactly ON edges (the strict-< boundary)."""
    n = draw(st.integers(min_value=1, max_value=40))
    raw = draw(
        st.lists(
            st.floats(min_value=1e-3, max_value=1e6, allow_nan=False),
            min_size=n,
            max_size=n,
            unique=True,
        )
    )
    r2 = np.sort(np.array(raw, dtype=np.float32))
    if not np.all(np.diff(r2) > 0):  # f32 rounding can collapse neighbors
        r2 = np.unique(r2)
    on_edge = draw(st.lists(st.integers(0, len(r2) - 1), max_size=8))
    between = draw(
        st.lists(
            st.floats(min_value=0.0, max_value=2e6, allow_nan=False), max_size=16
        )
    )
    d2 = np.array(
        [float(r2[i]) for i in on_edge] + between, dtype=np.float32
    )
    return r2, d2


@given(edges_and_d2())
@settings(max_examples=200, deadline=None)
def test_shell_index_first_match_strict_lt(case):
    r2, d2 = case
    got = shell_index_np(d2, r2)
    for v, g in zip(d2, got):
        # independent linear scan: first i with v < r2[i], len(r2) = drop
        want = len(r2)
        for i, edge in enumerate(r2):
            if v < edge:
                want = i
                break
        assert g == want
        if want < len(r2):
            assert v < r2[want]
            assert want == 0 or v >= r2[want - 1]  # d2 == edge -> NEXT shell


@given(
    st.floats(min_value=1e-3, max_value=100.0),
    st.floats(min_value=1.5, max_value=1e4),
    st.integers(min_value=2, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_logspace_edges_pinned_and_monotone(rmin, mult, n):
    rmax = rmin * mult
    e = logspace_edges(rmin, rmax, n)
    assert e.dtype == np.float32 and len(e) == n
    assert np.all(np.diff(e.astype(np.float64)) > 0)
    # the reference pins the LAST edge exactly (not np.logspace's value)
    assert e[-1] == np.float32(2.0 ** np.log2(rmax))
    s = squared_edges(e)
    assert s.dtype == np.float32
    assert np.all(s == (e * e).astype(np.float32))


# --------------------------------------------------------------- phash codec


@given(
    st.lists(
        st.tuples(
            st.integers(0, 65535), st.integers(0, 65535), st.integers(0, 65535)
        ),
        min_size=1,
        max_size=64,
    )
)
@settings(max_examples=100, deadline=None)
def test_phash_lattice_roundtrip(qs):
    q = np.array(qs, dtype=np.int64)
    ph = (q[:, 0] << 32) | (q[:, 1] << 16) | q[:, 2]
    pos = decode_phash_np(ph)
    assert pos.dtype == np.float32
    assert np.all(pos >= 0) and np.all(pos < BOX)
    # SCALE is an exact binary fraction: decode is exact, encode inverts
    assert np.array_equal(encode_phash_np(pos), ph)
    assert np.array_equal(pos.astype(np.float64) / SCALE, q.astype(np.float64))


# ------------------------------------------------------ min-image distances

coord = st.floats(min_value=0.0, max_value=np.nextafter(1000.0, 0.0))


@given(
    st.lists(st.tuples(coord, coord, coord), min_size=1, max_size=8),
    st.lists(st.tuples(coord, coord, coord), min_size=1, max_size=8),
)
@settings(max_examples=100, deadline=None)
def test_min_image_fold_equals_27_image_min(hs, ps):
    box = 1000.0
    H = np.array(hs, dtype=np.float64)
    Pm = np.array(ps, dtype=np.float64)
    got = squared_distance_np(H, Pm, box)
    shifts = np.array(
        [(a, b, c) for a in (-box, 0, box) for b in (-box, 0, box) for c in (-box, 0, box)]
    )
    brute = np.min(
        np.stack(
            [((H[:, None, :] - (Pm[None, :, :] + s)) ** 2).sum(axis=2) for s in shifts]
        ),
        axis=0,
    )
    assert np.allclose(got, brute, rtol=0, atol=1e-6)
    assert np.allclose(got, squared_distance_np(Pm, H, box).T, rtol=0, atol=0)


# ------------------------------------------------------------- ring offsets


@given(st.integers(min_value=1, max_value=9), st.integers(min_value=1, max_value=3))
@settings(max_examples=60, deadline=None)
def test_ring_offsets_dedup_mod_grid(nc, k):
    offs = ring_offsets(nc, k=k)
    assert len(offs) == len(set(offs))  # dedup'd
    assert len(offs) == min((2 * k + 1) ** 3, nc**3)
    # for EVERY base cell the modular neighbor set equals the full
    # (2k+1)^3 enumeration's — dedup-at-offset-level loses nothing
    full = [
        (dx, dy, dz)
        for dx in range(-k, k + 1)
        for dy in range(-k, k + 1)
        for dz in range(-k, k + 1)
    ]
    for c in [(0, 0, 0), (nc - 1, nc - 1, nc - 1), (nc // 2, 0, nc - 1)]:
        want = {
            ((c[0] + o[0]) % nc, (c[1] + o[1]) % nc, (c[2] + o[2]) % nc)
            for o in full
        }
        got = {
            ((c[0] + o[0]) % nc, (c[1] + o[1]) % nc, (c[2] + o[2]) % nc)
            for o in offs
        }
        assert got == want


# ------------------------------------------------------------- ring sweep

# coordinates biased onto cell faces, the box faces and the cell mid-lines
# (the slab-prune and fold boundaries), plus free values in [0, box)
sweep_coord = st.one_of(
    st.integers(min_value=0, max_value=4 * 12 - 1).map(lambda i: i * 1000.0 / 48),
    st.floats(min_value=0.0, max_value=np.nextafter(1000.0, 0.0)),
)
sweep_points = st.lists(st.tuples(sweep_coord, sweep_coord, sweep_coord),
                        max_size=40)


@pytest.mark.parametrize(
    "nc,k,prune_ok,fastpath_ok",
    [
        (2, 1, False, False),  # nc < 2k+1: the ring is the whole grid
        (4, 1, True, False),
        (9, 1, True, True),
        (4, 2, False, False),
        (7, 2, True, False),
        (12, 2, True, True),
    ],
)
@pytest.mark.parametrize("sparse", [False, True])
@pytest.mark.parametrize("sweep_pairs", [None, 3])
@given(
    ds=sweep_points,
    qs=sweep_points.filter(len),
    frac=st.floats(min_value=0.05, max_value=1.0),
    f32=st.booleans(),
)
@settings(max_examples=40, deadline=None)
def test_ring_sweep_equals_brute_force(nc, k, prune_ok, fastpath_ok, sparse,
                                       sweep_pairs, ds, qs, frac, f32):
    """_ring_sweep emits exactly the periodic pairs with d2 < r_max^2,
    each once, with d2 bit-equal to the min-image (dx2+dy2)+dz2 — on
    the interior no-fold path, the folded boundary path, with and
    without the slab prune, on dense offsets and the sparse keys, in
    one pair expansion per batch part or in many small ones."""
    box = 1000.0
    dt = np.float32 if f32 else np.float64
    cs = box / nc
    # shell_count's ring depth k covers r_max: r_max <= k*cs, < box/2
    rmax = min(frac * k * cs, 499.0)
    r2 = squared_edges(np.array([rmax / 3, rmax], dtype=np.float32))
    geom = _ring_geometry(nc, box, k, r2, dt)
    assert (geom.prune_ok, geom.fastpath_ok) == (prune_ok, fastpath_ok)
    D = np.array(ds, dtype=dt).reshape(-1, 3)
    Q = np.array(qs, dtype=dt).reshape(-1, 3)
    D64 = D.astype(np.float64)
    pc = np.clip(np.floor(D64 / cs), 0, nc - 1).astype(np.int64)
    key = (pc[:, 0] * nc + pc[:, 1]) * nc + pc[:, 2]
    grid = _csr_grid(key, nc, [D[:, 0], D[:, 1], D[:, 2]], row=np.arange(len(D)))
    if sparse:
        grid["keys"] = np.repeat(np.arange(nc**3), np.diff(grid.pop("starts")))
    got = {}
    with mock.patch(
            "spatialjoincountovershells_spark.operators.shell_count"
            "._SWEEP_PAIRS", sweep_pairs or _SWEEP_PAIRS):
        for q_row, didx, d2 in _ring_sweep(grid, geom, Q, Q.astype(np.float64)):
            assert d2.dtype == dt
            for q, i, v in zip(q_row, didx, d2):
                pair = (int(q), int(grid["row"][i]))
                assert pair not in got
                got[pair] = v.tobytes()
    d = np.abs(Q[:, None, :] - D[None, :, :])
    d = np.minimum(d, dt(box) - d)
    b2 = (d[..., 0] * d[..., 0] + d[..., 1] * d[..., 1]) + d[..., 2] * d[..., 2]
    want = {(int(q), int(i)): b2[q, i].tobytes()
            for q, i in zip(*np.nonzero(b2 < geom.r2[-1]))}
    assert got == want


@given(
    st.floats(min_value=1e-3, max_value=2000.0),
    st.one_of(st.none(), st.integers(min_value=1, max_value=10**9)),
)
@settings(max_examples=100, deadline=None)
def test_grid_ncells_ring1_safe(rmax, n_hint):
    box = 1000.0
    nc = grid_ncells(rmax, box, n_hint=n_hint)
    assert 1 <= nc <= 4096
    # ring-1 safety: cell size >= rmax whenever a >1 grid is returned
    if nc > 1:
        assert box / nc >= min(rmax, box)
    if n_hint is not None:
        assert nc <= max(1, round(n_hint ** (1 / 3)) + 1)


# ----------------------------------------------------------------- texthash


@given(st.lists(st.text(max_size=MAXLEN + 16), min_size=1, max_size=16))
@settings(max_examples=100, deadline=None)
def test_poly_hash_matches_bigint_evaluation(strings):
    got = poly_hash_np(strings)
    for s, g in zip(strings, got):
        # independent evaluation in unbounded Python ints
        want = sum(ord(ch) * pow(1_000_003, j, P) for j, ch in enumerate(s[:MAXLEN])) % P
        assert g == want
        assert 0 <= g < P


@given(st.integers(min_value=0, max_value=4096), st.integers(min_value=0, max_value=P - 1))
@settings(max_examples=100, deadline=None)
def test_affine_streams_exact_in_int64(i, x):
    a, c = affine_consts(i)
    assert 1 <= a < P and 0 <= c < P
    # the int64-safety claim: a*x + c < 2^62 for every hash value x < P
    assert a * x + c < 2**62
    assert (a * x + c) % P == (a * x + c) % P  # trivially, but via int64:
    v = (np.int64(a) * np.int64(x) + np.int64(c)) % np.int64(P)
    assert int(v) == (a * x + c) % P


def test_pows_table_matches_modpow():
    assert POWS[0] == 1
    for j in range(1, MAXLEN):
        assert POWS[j] == pow(1_000_003, j, P)


@given(
    st.lists(st.integers(0, 65535), min_size=1, max_size=50),
    st.lists(st.integers(0, 65535), min_size=1, max_size=50),
)
@settings(max_examples=200, deadline=None)
def test_morton_bijection_and_order(txs, tys):
    """Z-order encode is a bijection on 16-bit pairs (decode inverts it),
    the parent relation commutes with coordinate halving, and encoding
    is monotone along each axis with the other fixed."""
    from spatialjoincountovershells_spark.operators.tiling import (
        morton_decode_np,
        morton_np,
    )

    n = min(len(txs), len(tys))
    tx = np.array(txs[:n], dtype=np.int64)
    ty = np.array(tys[:n], dtype=np.int64)
    m = morton_np(tx, ty)
    dx, dy = morton_decode_np(m)
    assert np.array_equal(dx, tx) and np.array_equal(dy, ty)
    assert np.array_equal(m >> 2, morton_np(tx >> 1, ty >> 1))
    # monotone in ty for fixed tx (interleave preserves per-axis order)
    order = np.argsort(ty, kind="stable")
    fixed = morton_np(np.full(n, int(tx[0]), dtype=np.int64), ty[order])
    assert np.array_equal(np.sort(fixed), fixed)

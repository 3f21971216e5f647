"""range_anti_join vs a literal numpy exclusion scan."""

from __future__ import annotations

import numpy as np

from spatialjoincountovershells_spark.operators.shell_count import (
    range_anti_join,
)

BOX = 1000.0


def test_anti_join_vs_bruteforce(spark):
    rng = np.random.default_rng(73)
    pts = rng.uniform(0, BOX, size=(3000, 3))
    sites = rng.uniform(0, BOX, size=(25, 3))
    # a site near the periodic boundary so wraparound exclusion matters
    sites[0] = (2.0, 2.0, 2.0)
    r = 120.0
    sp = spark.createDataFrame(
        [(i, float(x), float(y), float(z))
         for i, (x, y, z) in enumerate(pts)],
        "particle_id long, x double, y double, z double",
    )
    ss = spark.createDataFrame(
        [(float(x), float(y), float(z)) for x, y, z in sites],
        "x double, y double, z double",
    )
    dd = np.abs(pts[:, None, :] - sites[None, :, :])
    dd = np.minimum(dd, BOX - dd)
    d2 = (dd**2).sum(axis=2)
    want = set(np.nonzero((d2 >= r * r).all(axis=1))[0].tolist())
    assert 0 < len(want) < len(pts)
    # ncells=20: cells of 50 < r, so the site ring must go 3 cells deep
    for ncells in (None, 20):
        out = range_anti_join(sp, ss, radius=r, dtype="float64",
                              ncells=ncells)
        assert out.columns == ["particle_id", "x", "y", "z"]  # passthrough
        assert {r_.particle_id for r_ in out.collect()} == want


def test_anti_join_strict_boundary(spark):
    """A point at EXACTLY d == radius survives (strict < predicate,
    reference RangeSearchValidation semantics)."""
    sp = spark.createDataFrame(
        [(1, 110.0, 100.0, 100.0), (2, 109.0, 100.0, 100.0)],
        "particle_id long, x double, y double, z double",
    )
    ss = spark.createDataFrame(
        [(100.0, 100.0, 100.0)], "x double, y double, z double"
    )
    got = {r.particle_id
           for r in range_anti_join(sp, ss, 10.0, dtype="float64").collect()}
    assert got == {1}

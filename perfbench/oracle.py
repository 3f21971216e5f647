"""Brute-force numpy oracle for count-over-shells.

float32 periodic minimum-image ``(dx*dx + dy*dy) + dz*dz`` against
squared float32 edges, strict-< first-match binning (a pair lands in
the first shell i with d2 < r2[i]; d2 >= r2[-1] is dropped) — the
invariants the program pins against the reference.
"""

from __future__ import annotations

import numpy as np

BOX = 1000.0
CHUNK = 8  # halos per distance matrix


def shell_counts(H: np.ndarray, P: np.ndarray, edges: np.ndarray) -> np.ndarray:
    """-> (len(H), len(edges)) int64 counts."""
    H = np.asarray(H, np.float32)
    P = np.asarray(P, np.float32)
    e = np.asarray(edges, np.float32)
    r2 = (e * e).astype(np.float32)
    b = np.float32(BOX)
    out = np.zeros((len(H), len(r2)), np.int64)
    for s in range(0, len(H), CHUNK):
        d2 = None
        for a in range(3):
            d = np.abs(H[s:s + CHUNK, a:a + 1] - P[None, :, a])
            np.minimum(d, b - d, out=d)
            d2 = d * d if d2 is None else d2 + d * d
        sh = np.searchsorted(r2, d2, side="right")
        for k in range(sh.shape[0]):
            row = sh[k]
            out[s + k] = np.bincount(row[row < len(r2)], minlength=len(r2))
    return out


def dense(rows, ids, n_shells: int) -> np.ndarray:
    """(id, shell_idx, cnt) frame restricted to ``ids`` -> dense matrix
    with one row per id, in the order of ``ids``."""
    pos = {v: i for i, v in enumerate(ids)}
    m = np.zeros((len(ids), n_shells), np.int64)
    sub = rows[rows.iloc[:, 0].isin(pos)]
    for hid, sh, c in sub.itertuples(index=False):
        m[pos[hid], int(sh)] = int(c)
    return m

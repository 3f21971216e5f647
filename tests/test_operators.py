"""Operator tests: image payload invariant, skew salting, kNN, PIP."""

import numpy as np
import pandas as pd
import pytest

from spatialjoincountovershells_spark import knn, logspace_edges, shell_count, squared_edges
from spatialjoincountovershells_spark.functions.geometry import squared_distance_np
from spatialjoincountovershells_spark.operators.images import (
    image_augment,
    image_features,
    image_knn_hist,
    image_quality,
    image_roundtrip_metrics,
    psnr_db,
    resize_nearest,
)
from spatialjoincountovershells_spark.operators.pip import (
    point_in_polygon,
    point_in_polygon_np,
)
from spatialjoincountovershells_spark.sources.synth import synth_images, synth_points_np

from fixtures import PB_HALOS, PB_PARTICLES, dense_from_long, oracle_shell_counts


def _df_points(spark, arr, id_col=None):
    cols = {}
    if id_col:
        cols[id_col] = np.arange(len(arr), dtype=np.int64)
    cols.update({c: arr[:, i].astype(np.float32) for i, c in enumerate("xyz")})
    pdf = pd.DataFrame(cols)
    schema = (f"{id_col} long, " if id_col else "") + "x float, y float, z float"
    return spark.createDataFrame(pdf, schema=schema)


# ------------------------------------------------------------ images (M3)

def test_image_roundtrip_invariant(spark):
    """BASELINE per-row invariant: raw payload round-trips bit-exact
    (PSNR = inf), caption passes through."""
    imgs = synth_images(spark, 32, seed=3)
    m = image_roundtrip_metrics(imgs).toPandas()
    assert len(m) == 32
    assert m["bit_exact"].all()
    assert (m["psnr_x100"] == -1).all()  # -1 == inf == lossless
    assert m["caption_ok"].all()


def test_dctq_codec_lossy_but_above_40db():
    from spatialjoincountovershells_spark.functions.dctq import (
        decode_dctq,
        encode_dctq,
    )

    rng = np.random.default_rng(17)
    for shape in ((8, 8, 3), (16, 24, 3), (10, 13, 3)):  # incl. non-8-multiples
        a = rng.integers(0, 256, size=shape, dtype=np.uint8)
        b = decode_dctq(encode_dctq(a))
        assert b.shape == a.shape and b.dtype == np.uint8
        p = psnr_db(a, b)
        assert 40.0 <= p < float("inf"), f"{shape}: psnr={p}"
        assert not np.array_equal(a, b)  # genuinely lossy


def test_roundtrip_lossy_transcode_invariant(spark):
    raw = synth_images(spark, 32, seed=13, w=16, h=16)
    m = image_roundtrip_metrics(raw, via_fmt="dctq").toPandas()
    assert len(m) == 32
    assert (m["psnr_x100"] >= 4000).all()       # the BASELINE invariant
    assert not m["bit_exact"].any()             # and it IS the lossy path
    assert m["caption_ok"].all()


def test_transcode_then_decode_matches_direct_codec(spark):
    from spatialjoincountovershells_spark.functions.dctq import decode_dctq
    from spatialjoincountovershells_spark.operators.images import transcode

    raw = synth_images(spark, 4, seed=13)
    t = transcode(raw, "dctq").select("image_id", "bytes", "fmt").toPandas()
    assert (t["fmt"] == "dctq").all()
    orig = raw.select("image_id", "bytes", "w", "h").toPandas()
    merged = t.merge(orig, on="image_id", suffixes=("_t", "_o"))
    for _, r in merged.iterrows():
        a = np.frombuffer(bytes(r["bytes_o"]), dtype=np.uint8).reshape(
            int(r["h"]), int(r["w"]), 3
        )
        got = decode_dctq(bytes(r["bytes_t"]))
        assert psnr_db(a, got) >= 40.0


def test_psnr_threshold_math():
    a = np.zeros((8, 8, 3), dtype=np.uint8)
    noisy = a.copy()
    noisy[0, 0, 0] = 2  # tiny error -> very high PSNR
    assert psnr_db(a, a) == float("inf")
    assert psnr_db(a, noisy) > 40.0
    bad = a.copy()
    bad[:, :, :] = 64
    assert psnr_db(a, bad) < 40.0


def test_image_features_deterministic(spark):
    f1 = image_features(synth_images(spark, 8, seed=5)).orderBy("image_id").toPandas()
    f2 = image_features(synth_images(spark, 8, seed=5)).orderBy("image_id").toPandas()
    pd.testing.assert_frame_equal(f1, f2)
    hist_cols = [c for c in f1.columns if c.startswith("hist_")]
    assert len(hist_cols) == 16
    assert (f1[hist_cols].sum(axis=1) == 64).all()  # 8x8 pixels


def test_resize_nearest_identity_and_downscale(spark):
    imgs = synth_images(spark, 4, seed=9, w=8, h=8)
    same = resize_nearest(imgs, 8, 8).select("image_id", "bytes").toPandas()
    orig = imgs.select("image_id", "bytes").toPandas()
    merged = same.merge(orig, on="image_id")
    assert all(bytes(a) == bytes(b) for a, b in zip(merged["bytes_x"], merged["bytes_y"]))
    small = resize_nearest(imgs, 4, 4).toPandas()
    assert (small["w"] == 4).all() and (small["h"] == 4).all()
    assert all(len(bytes(b)) == 4 * 4 * 3 for b in small["bytes"])


def test_image_quality_matches_numpy(spark):
    imgs = synth_images(spark, 12, seed=3)
    raw = imgs.select("image_id", "bytes").toPandas()
    got = image_quality(imgs).toPandas().set_index("image_id")
    for img_id, data in zip(raw["image_id"], raw["bytes"]):
        a = np.frombuffer(bytes(data), np.uint8).reshape(8, 8, 3).astype(np.int64)
        l = (a[..., 0] * 299 + a[..., 1] * 587 + a[..., 2] * 114) // 1000
        dh = np.abs(np.diff(l, axis=1))
        dv = np.abs(np.diff(l, axis=0))
        r = got.loc[img_id]
        assert r["mean_luma_x1000"] == int(l.sum()) * 1000 // l.size
        assert r["contrast"] == int(l.max()) - int(l.min())
        assert r["n_clip_lo"] == int((l <= 10).sum())
        assert r["n_clip_hi"] == int((l >= 245).sum())
        assert r["grad_h_x1000"] == int(dh.sum()) * 1000 // dh.size
        assert r["grad_v_x1000"] == int(dv.sum()) * 1000 // dv.size
        assert r["sharpness_x1000"] == (
            int(dh.sum() + dv.sum()) * 1000 // (dh.size + dv.size)
        )


def test_image_augment_bytes_match_numpy(spark):
    """Transformed payload bytes must equal the numpy crop+flip+rot90
    chain applied to the original pixels — the operator's exact spec."""
    imgs = synth_images(spark, 16, seed=7, w=10, h=6)
    orig = {
        r["image_id"]: bytes(r["bytes"])
        for r in imgs.select("image_id", "bytes").collect()
    }
    out = image_augment(imgs).toPandas()
    assert len(out) == 16
    for img_id, data, w2, h2 in zip(out["image_id"], out["bytes"], out["w"], out["h"]):
        rid = int(img_id[3:])
        a = np.frombuffer(orig[img_id], np.uint8).reshape(6, 10, 3)
        y0, x0 = (rid // 2) % 2, rid % 2
        b = a[y0:y0 + 5, x0:x0 + 9]
        if rid % 2 == 1:
            b = b[:, ::-1]
        b = np.rot90(b, rid % 4)
        assert (int(h2), int(w2)) == b.shape[:2]
        assert bytes(data) == np.ascontiguousarray(b).tobytes()


def test_image_augment_rot90_swaps_gradients(spark):
    """A quarter-turn must exactly swap grad_h/grad_v (sum AND count map
    1:1 across the rotation), pinning the orientation semantics."""
    imgs = synth_images(spark, 16, seed=7, w=10, h=6)
    q = image_quality(image_augment(imgs)).toPandas()
    base = image_quality(image_augment(imgs, rot_mod=1)).toPandas()  # k == 0
    m = q.merge(base, on="image_id", suffixes=("", "_0"))
    assert len(m) == 16
    for _, r in m.iterrows():
        k = int(r["image_id"][3:]) % 4
        if k % 2 == 1:
            assert r["grad_h_x1000"] == r["grad_v_x1000_0"]
            assert r["grad_v_x1000"] == r["grad_h_x1000_0"]
        else:  # 0 or 180 degrees: |diff| sums unchanged on both axes
            assert r["grad_h_x1000"] == r["grad_h_x1000_0"]
            assert r["grad_v_x1000"] == r["grad_v_x1000_0"]


def test_image_knn_hist_matches_bruteforce(spark):
    corpus = synth_images(spark, 40, seed=14)
    queries = synth_images(spark, 5, seed=14)
    got = image_knn_hist(corpus, queries, k=3).toPandas()
    feats = image_features(corpus).toPandas().set_index("image_id")
    hc = [c for c in feats.columns if c.startswith("hist_")]
    for qid in sorted(feats.index)[:5]:
        d = (feats[hc] - feats.loc[qid, hc]).abs().sum(axis=1).drop(qid)
        want = sorted(zip(d.values, d.index))[:3]
        sub = got[got["query_id"] == qid].sort_values("rank")
        assert list(sub["image_id"]) == [i for _, i in want]
        assert list(sub["l1_dist"]) == [int(v) for v, _ in want]
        assert list(sub["rank"]) == [1, 2, 3]


# ------------------------------------------------------------ salting

@pytest.mark.parametrize("plan", ["sql", "fused"])
def test_salting_preserves_counts(spark, plan):
    """Dense-cell salting must not change any count (PB + random oracle)."""
    P = synth_points_np(800, seed=4)
    H = synth_points_np(30, seed=1004)
    edges = logspace_edges(10.0, 300.0, 8)
    halos = _df_points(spark, H, id_col="halo_id")
    parts = _df_points(spark, P)
    res = shell_count(
        halos, parts, edges, plan=plan, salt_threshold=5
    )
    got = dense_from_long(
        [(r.halo_id, r.shell_idx, r.cnt) for r in res.collect()], len(H), len(edges)
    )
    want = oracle_shell_counts(H, P, squared_edges(edges))
    assert got.tolist() == want.tolist()


def test_salting_splits_hot_cells(spark):
    """With threshold 1 every occupied cell gets salted; key space grows."""
    from spatialjoincountovershells_spark.operators.cells import explode_ring, with_cell
    from spatialjoincountovershells_spark.operators.shell_count import apply_salting

    P = synth_points_np(500, seed=11)
    parts = with_cell(_df_points(spark, P).selectExpr("x as _px", "y as _py", "z as _pz"),
                      4, cols=("_px", "_py", "_pz"))
    halos = explode_ring(
        _df_points(spark, P[:10], id_col="halo_id").selectExpr(
            "halo_id", "x as _hx", "y as _hy", "z as _hz"
        ),
        4, cols=("_hx", "_hy", "_hz"),
    )
    h2, p2, skey = apply_salting(halos, parts, salt_threshold=2)
    plain = parts.select("cell_id").distinct().count()
    salted = p2.select(skey).distinct().count()
    assert salted > plain  # hot cells actually split
    # every particle still joins: per-key particle totals preserved
    assert p2.count() == parts.count()


# ------------------------------------------------------------ kNN oracle

def test_knn_matches_numpy_oracle(spark):
    P = synth_points_np(400, seed=21)
    H = synth_points_np(12, seed=1021)
    k = 5
    halos = _df_points(spark, H, id_col="halo_id")
    parts = _df_points(spark, P, id_col="particle_id")
    got = (
        knn(halos, parts, k=k, dtype="float64", ncells=8)
        .orderBy("halo_id", "rank")
        .toPandas()
    )
    d2 = squared_distance_np(H.astype(np.float64), P.astype(np.float64), box=1000.0)
    for hi in range(len(H)):
        order = np.lexsort((np.arange(len(P)), d2[hi]))[:k]
        sub = got[got.halo_id == hi]
        assert sub["particle_id"].tolist() == order.tolist(), f"halo {hi}"


# ------------------------------------------------------------ PIP oracle

def test_pip_matches_numpy_oracle(spark):
    rng = np.random.default_rng(3)
    pts = rng.uniform(0, 1000, size=(500, 2))
    polys = {
        1: [(100.0, 100.0), (800.0, 150.0), (700.0, 850.0), (150.0, 700.0)],
        # concave L
        2: [(200.0, 200.0), (600.0, 200.0), (600.0, 400.0),
            (400.0, 400.0), (400.0, 600.0), (200.0, 600.0)],
        # degenerate sliver
        3: [(50.0, 50.0), (950.0, 51.0), (950.0, 52.0)],
        # spills past the grid box: bbox cells must clamp monotonically
        4: [(900.0, 900.0), (1150.0, 950.0), (1050.0, 1150.0)],
    }
    pts = np.concatenate([pts, rng.uniform(900, 1100, size=(60, 2))])
    pdf = pd.DataFrame(
        {"point_id": np.arange(len(pts)), "x": pts[:, 0], "y": pts[:, 1]}
    )
    points = spark.createDataFrame(pdf, schema="point_id long, x double, y double")
    polygons = spark.createDataFrame(
        [(pid, [{"x": float(x), "y": float(y)} for x, y in v]) for pid, v in polys.items()],
        "poly_id long, vertices array<struct<x: double, y: double>>",
    )
    got = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon(points, polygons).collect()
    }
    want = set()
    for pid, v in polys.items():
        mask = point_in_polygon_np(pts[:, 0], pts[:, 1], v)
        want |= {(int(i), pid) for i in np.nonzero(mask)[0]}
    assert got == want
    # grid-tiled scale path: same result set, including points outside
    # [0, box) which clamp to edge cells monotonically with the bboxes
    got_grid = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon(points, polygons, grid=(8, 1000.0)).collect()
    }
    assert got_grid == want


def test_pii_regex_portability(spark):
    """Three-engine agreement (Spark Java regex / DuckDB RE2 / Python
    re) for pii_scrub on the adversarial cases: word-boundary digits
    glued to letters, an IP-shaped email local part (must count as ONE
    email, zero IPs — the sequential-redaction contract), a 5-group
    dotted run (leftmost 4 match), nulls and empties."""
    import re

    import duckdb

    from spatialjoincountovershells_spark.operators.text import (
        PII_RULES,
        pii_scrub,
    )

    texts = [
        "contact user12@mail3.example.com now",
        "call 555-012-3456 or 555-999-0000 x",
        "host 10.2.3.4 up and 1.2.3.4@x.com mixed",
        "edge 999-123-4567x glued 12-123-4567 short",
        "ip-ish 1.2.3.4.5 five groups",
        "a.b@c.d.e.ff punct-heavy (1.2.3.4) [555-123-4567]",
        "",
        None,
    ]
    df = spark.createDataFrame(
        list(enumerate(texts)), schema="doc_id long, text string"
    )
    got = {r.doc_id: r for r in pii_scrub(df).collect()}

    con = duckdb.connect()
    for i, t in enumerate(texts):
        cur_d = t if t is not None else ""
        cur_p = cur_d
        counts_p = {}
        for name, pat, tok in PII_RULES:
            # DuckDB RE2 leg
            n_d, cur_d = con.execute(
                "SELECT len(regexp_extract_all($t, $p)),"
                " regexp_replace($t, $p, $r, 'g')",
                {"t": cur_d, "p": pat, "r": tok},
            ).fetchone()
            # Python re leg
            counts_p[name] = len(re.findall(pat, cur_p))
            cur_p = re.sub(pat, tok, cur_p)
            assert n_d == counts_p[name], (i, name)
            assert got[i][f"n_{name}"] == n_d, (i, name)
        assert cur_d == cur_p == got[i]["clean"], i


def test_n_tokens_space_semantics(spark):
    """Pin the documented token-count contract (operators/text.py):
    space-count + 1 on trimmed text — consecutive spaces count empty
    tokens, non-space whitespace does not split."""
    from spatialjoincountovershells_spark.operators.text import text_stats

    rows = [
        (0, "a b c", 3),
        (1, "a  b", 3),        # double space -> an empty token
        (2, "  a b  ", 2),     # trim first
        (3, "", 0),
        (4, "a\tb", 1),        # tab is NOT a boundary
        (5, "one", 1),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], schema="doc_id long, text string"
    )
    got = {r.doc_id: r.n_tokens for r in text_stats(df).collect()}
    assert got == {i: n for i, _, n in rows}


def test_n_tokens_bpe_three_engine_agreement(spark):
    """The BPE-ish pre-tokenizer count must agree across Spark (Java
    regex), DuckDB (RE2) and Python `re` — all three are leftmost-first
    and the pattern avoids every construct they disagree on."""
    import re

    import duckdb

    from spatialjoincountovershells_spark.operators.text import (
        BPE_TOKEN_PATTERN,
        text_stats,
    )

    texts = [
        "don't stop, won't  go 123!!",
        "hello world",
        "a.b.c's 42x  7",
        "  leading and trailing  ",
        "",
        "tabs\tand\nnewlines\r\nmixed",
        "unicode naïve café 東京",   # non-ASCII falls in the punct branch
        "'' ''s '--' 3.14",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got_spark = {
        r.doc_id: r.n_tokens_bpe for r in text_stats(df).collect()
    }
    pat = re.compile(BPE_TOKEN_PATTERN)
    want_py = {i: len(pat.findall(t)) for i, t in enumerate(texts)}
    con = duckdb.connect()
    want_duck = {
        i: con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [t, BPE_TOKEN_PATTERN]
        ).fetchone()[0]
        for i, t in enumerate(texts)
    }
    assert got_spark == want_py == want_duck
    # sanity: the counts are pre-tokenizer counts, not whitespace splits
    assert got_spark[0] == len(pat.findall(texts[0]))
    assert got_spark[4] == 0


def test_n_tokens_bpe_seeded_fuzz_three_engines(spark):
    """500 seeded-random strings over an adversarial alphabet (letters,
    digits, apostrophes, punctuation, every ASCII whitespace INCLUDING
    \\f and \\x0b — the two \\s would disagree on — and non-ASCII):
    Spark, DuckDB and Python `re` must count identically on all of them."""
    import random
    import re

    import duckdb

    from spatialjoincountovershells_spark.operators.text import (
        BPE_TOKEN_PATTERN,
        text_stats,
    )

    rng = random.Random(0xBEEF)
    alphabet = (
        "abcXYZ019'’,.!-_ \t\n\r\f\x0b"  # noqa: W605 — raw control chars on purpose
        "éß東 "
    )
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 40)))
        for _ in range(500)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], schema="doc_id long, text string"
    )
    got_spark = {r.doc_id: r.n_tokens_bpe for r in text_stats(df).collect()}
    pat = re.compile(BPE_TOKEN_PATTERN)
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want_py = len(pat.findall(t))
        want_duck = con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [t, BPE_TOKEN_PATTERN]
        ).fetchone()[0]
        assert got_spark[i] == want_py == want_duck, (i, repr(t))

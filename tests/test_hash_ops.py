"""Tests for the SQL-derivable hash family (functions/texthash.py) and
the operators rebuilt on it: MinHash-LSH, SimHash, doc_fingerprint,
DF-capped n-gram Jaccard, and the similarity-search rewrites.

The three-engine agreement test (Spark SQL == DuckDB == numpy) is the
load-bearing one: it is what entitles the driver's hash-comparing
oracle gate to check these operators at all.  Each Arrow hash kernel
is checked against an independent reference — a DuckDB oracle from
__spark_entry__.py or a numpy mirror built on poly_hash_np — never
against itself.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from spatialjoincountovershells_spark.functions.texthash import (
    MAXLEN,
    POW2S,
    P,
    affine_consts,
    poly_hash_duck,
    poly_hash_np,
    poly_hash_spark,
)
from spatialjoincountovershells_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from spatialjoincountovershells_spark.operators.similarity import (
    ann_l2_topk,
    lsh_cosine_pairs,
)
from spatialjoincountovershells_spark.operators.text import doc_fingerprint
from spatialjoincountovershells_spark.operators.dedup import simhash

SAMPLES = [
    "", "a", "hello world", "é-accented ünïcode", "x" * (MAXLEN + 10),
    "the quick brown fox", "the quick brown fax", " leading space",
]


def test_poly_hash_three_engines(spark):
    want = poly_hash_np(SAMPLES)
    sdf = spark.createDataFrame(pd.DataFrame({"s": SAMPLES}))
    got_spark = (
        sdf.select(F.expr(poly_hash_spark("s")).alias("h")).toPandas()["h"].to_numpy()
    )
    np.testing.assert_array_equal(got_spark, want)
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"s": SAMPLES}))
    got_duck = con.execute(f"SELECT {poly_hash_duck('s')} FROM t").df().iloc[:, 0].to_numpy()
    np.testing.assert_array_equal(got_duck, want)


def test_affine_consts_in_range():
    for i in (0, 1, 63, 1000):
        a, c = affine_consts(i)
        assert 1 <= a < 2**31 - 1 and 0 <= c < 2**31 - 1


def _docs(spark, texts):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts})
    )


def test_minhash_lsh_dups_collide(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 4
    texts = [base, base, "completely different content about spark plans " * 5]
    pairs = minhash_lsh_pairs(_docs(spark, texts)).toPandas()
    dup = pairs[(pairs.doc_a == 0) & (pairs.doc_b == 1)]
    assert len(dup) == 1 and dup.iloc[0].n_bands_hit == 8  # identical: all bands
    assert len(pairs[(pairs.doc_b == 2) | (pairs.doc_a == 2)]) == 0


def test_simhash_near_dup_small_hamming(spark):
    a = "spark catalyst optimizes declarative dataframe plans into stages " * 3
    b = a.replace("stages", "phases", 1)
    out = simhash(_docs(spark, [a, a, b])).orderBy("doc_id").toPandas()
    assert out.simhash[0] == out.simhash[1]
    ham = bin((int(out.simhash[0]) ^ int(out.simhash[2])) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 24  # one token of ~27 changed


def test_simhash_pairs_bruteforce_recall(spark):
    """Banding must find EVERY pair with hamming < bands (pigeonhole) —
    compare against a brute force over the signatures."""
    from spatialjoincountovershells_spark.operators.dedup import simhash_pairs

    base = "spark catalyst optimizes declarative dataframe plans into stages "
    texts = [
        base * 3,
        base * 3,                                   # exact dup -> hamming 0
        (base * 3).replace("stages", "phases", 1),  # near dup
        "entirely unrelated content about image tile decoding " * 4,
        "another distinct document on minhash banding theory " * 4,
    ]
    docs = _docs(spark, texts)
    sigs = {r.doc_id: int(r.simhash) for r in simhash(docs).collect()}
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
            if h <= 3:
                want[(a, b)] = h
    df = simhash_pairs(docs, max_hamming=3)
    got = {(r.doc_a, r.doc_b): r.hamming for r in df.collect()}
    assert got == want and (0, 1) in got and got[(0, 1)] == 0


def test_arrowhash_matches_sql(spark):
    """with_poly_hash_arrow must equal the interpreted poly_hash_spark
    HOF bit-for-bit: NULL -> NULL, '' -> 0, MAXLEN cap, unicode and
    astral codepoints, and passthrough of the other columns."""
    from spatialjoincountovershells_spark.functions.arrowhash import (
        with_poly_hash_arrow,
    )
    from spatialjoincountovershells_spark.functions.texthash import (
        poly_hash_spark,
    )

    vals = [
        None,
        "",
        "a",
        "hello world",
        "café ☃ naïve \U0001f600",
        "x" * 63,
        "y" * 64,
        "z" * 200,  # past the MAXLEN cap
        " leading space",
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "doc_id long, tok string"
    )
    got = {
        r.doc_id: r._base
        for r in with_poly_hash_arrow(df, "tok").collect()
    }
    want = {
        r.doc_id: r._base
        for r in df.select(
            "doc_id", F.expr(poly_hash_spark("tok")).alias("_base")
        ).collect()
    }
    assert got == want and got[0] is None and got[1] == 0
    # cap: chars past MAXLEN must not change the hash
    assert got[7] == want[7] and got[6] is not None


def test_arrowhash_odd_column_names_and_existing_out(spark):
    """Column names that need backticks in DDL pass through, and an
    `out` column that already exists is rejected."""
    from spatialjoincountovershells_spark.functions.arrowhash import (
        with_poly_hash_arrow,
    )

    df = spark.createDataFrame(
        [(0, "a b"), (1, "hello")], "`doc id` long, `my-tok` string"
    )
    out = with_poly_hash_arrow(df, "my-tok")
    assert out.columns == ["doc id", "my-tok", "_base"]
    got = sorted(tuple(r) for r in out.collect())
    want = poly_hash_np(["a b", "hello"])
    assert got == [(0, "a b", int(want[0])), (1, "hello", int(want[1]))]
    with pytest.raises(ValueError, match="_base"):
        with_poly_hash_arrow(out, "my-tok")


def _duck_documents(sql: str, texts) -> dict:
    """Run a DuckDB oracle over a `documents` table of (doc_id, text)
    -> {doc_id: value of the oracle's second column}."""
    import __spark_entry__ as entrymod

    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    rows = con.execute(getattr(entrymod, sql)()).fetchall()
    return {int(r[0]): int(r[1]) for r in rows}


def test_simhash_matches_duckdb(spark):
    """The vectorized simhash kernel must be bit-identical to the
    DuckDB oracle: multi-whitespace runs (tab/CR/LF/VT/FF),
    NON-ASCII whitespace (\\xa0 is a token char in Java \\s — both
    sides must agree), >MAXLEN tokens, unicode, leading/trailing
    whitespace, and no-token docs (empty / all-whitespace / NULL)
    which must emit NO row."""
    texts = [
        "plain words here",
        "  leading and trailing  ",
        "tabs\tand\nnewlines\x0bvt\x0cff\rcr separated",
        "nbsp\xa0is-part-of-token and caf\xe9 ☃ \U0001f600",
        "x" * 200 + " capped-token " + "y" * 70,
        "",
        " \t\n ",
        None,
        "repeat repeat repeat repeat",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    want = _duck_documents("_simhash_sql", texts)
    assert got == want
    assert 5 not in got and 6 not in got and 7 not in got and 0 in got


def test_doc_fingerprint_engines_agree_and_dup_equal(spark):
    """The Arrow kernel == the DuckDB oracle bit-for-bit (incl. the
    zero-padded short-text window, empty text and unicode), and
    duplicate docs share a fingerprint."""
    texts = [
        "abcdefghijklmnopqrstuvwxyz0123",
        "abcdefghijklmnopqrstuvwxyz0123",
        "short",
        "",
        "café ☃ naïve \U0001f600 sixteen+ chars of unicode",
    ]
    df = doc_fingerprint(_docs(spark, texts))
    out = df.orderBy("doc_id").toPandas()
    want = _duck_documents("_doc_fingerprint_sql", texts)
    assert out.fingerprint.tolist() == [want[i] for i in range(len(texts))]
    assert out.fingerprint[0] == out.fingerprint[1]
    assert (out.fingerprint >= 0).all()


def test_ngram_jaccard_df_cap_drops_stop_shingles(spark):
    # five identical docs: every shingle has df=5.  With max_df=3 the
    # whole (non-discriminative) shingle set is dropped -> no pairs and,
    # critically, no 5x5 join blowup; uncapped finds all 10 exact pairs.
    texts = ["all work and no play makes a dull engine " * 3] * 5
    capped = ngram_jaccard_pairs(_docs(spark, texts), max_df=3).toPandas()
    assert len(capped) == 0
    uncapped = ngram_jaccard_pairs(_docs(spark, texts), max_df=None).toPandas()
    assert len(uncapped) == 10 and (uncapped.jac_1000 == 1000).all()


def _rand_emb(spark, n, dim=16, seed=3):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    return spark.createDataFrame(pdf), vecs


@pytest.mark.parametrize("n", [300, 5000])
def test_ann_l2_matches_numpy_bruteforce(spark, n):
    """Exact blocked top-k == numpy all-pairs oracle (incl. 10x contract scale)."""
    emb, vecs = _rand_emb(spark, n)
    k = 3
    got = (
        ann_l2_topk(emb, k=k, query_blocks=3, corpus_blocks=4)
        .orderBy("query_id", "rank")
        .toPandas()
    )
    Q = np.floor(vecs.astype(np.float64) * 1024)
    d2 = ((Q[:, None, :] - Q[None, :, :]) ** 2).sum(-1) if n <= 1000 else None
    if d2 is None:
        n2 = (Q * Q).sum(1)
        d2 = n2[:, None] + n2[None, :] - 2 * (Q @ Q.T)
    np.fill_diagonal(d2, np.inf)
    order = np.lexsort((np.broadcast_to(np.arange(n), (n, n)), d2), axis=1)
    want_n = order[:, :k]
    got_n = got.neighbor_id.to_numpy().reshape(n, k)
    np.testing.assert_array_equal(got_n, want_n)


def test_ann_l2_separate_query_frame(spark):
    emb, vecs = _rand_emb(spark, 200)
    q = emb.where(F.col("vec_id") < 5)
    out = ann_l2_topk(emb, k=2, queries=q).toPandas()
    assert sorted(out.query_id.unique()) == [0, 1, 2, 3, 4]
    assert (out.groupby("query_id").size() == 2).all()
    assert (out.query_id != out.neighbor_id).all()


def test_ann_ivf_full_probe_exact(spark):
    """n_probe == n_centroids probes every inverted list, so the IVF
    candidate set is complete and the re-rank must equal the exact
    block-nested-loop top-k bit-for-bit."""
    from spatialjoincountovershells_spark.operators.similarity import ann_ivf_topk

    emb, _ = _rand_emb(spark, 250)
    k = 3
    exact = (
        ann_l2_topk(emb, k=k, query_blocks=2, corpus_blocks=2)
        .orderBy("query_id", "rank").toPandas()
    )
    ivf = (
        ann_ivf_topk(emb, k=k, n_centroids=8, n_probe=8)
        .orderBy("query_id", "rank").toPandas()
    )
    pd.testing.assert_frame_equal(ivf.reset_index(drop=True),
                                  exact.reset_index(drop=True))


def test_ann_ivf_partial_probe_shape(spark):
    """With n_probe < n_centroids the result stays well-formed: <= k
    ranked rows per query, ranks contiguous from 1, no self-matches."""
    from spatialjoincountovershells_spark.operators.similarity import ann_ivf_topk

    emb, _ = _rand_emb(spark, 250, seed=9)
    out = ann_ivf_topk(emb, k=3, n_centroids=8, n_probe=2).toPandas()
    assert (out.query_id != out.neighbor_id).all()
    g = out.groupby("query_id")["rank"]
    assert (g.max() <= 3).all() and (g.min() == 1).all()
    assert (g.apply(lambda r: sorted(r) == list(range(1, len(r) + 1)))).all()


def test_lsh_cosine_banded_identical_collide(spark):
    rng = np.random.default_rng(11)
    v = rng.normal(size=32).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(4, dtype=np.int64),
            "embedding": [list(v), list(v), list(-v), list(rng.normal(size=32).astype(np.float32))],
        }
    )
    emb = spark.createDataFrame(pdf)
    pairs = lsh_cosine_pairs(emb, n_planes=8, bands=4).toPandas()
    got = set(map(tuple, pairs[["doc_a", "doc_b"]].to_numpy()))
    assert (0, 1) in got      # identical vectors share every band
    assert (0, 2) not in got  # antipodal vectors share none


def test_cosine_dedup_pairs_finds_identical(spark):
    from spatialjoincountovershells_spark.operators.similarity import (
        cosine_dedup_pairs,
    )

    rng = np.random.default_rng(23)
    v = rng.normal(size=32).astype(np.float32)
    w = v + rng.normal(scale=0.01, size=32).astype(np.float32)  # near-dup
    others = [rng.normal(size=32).astype(np.float32) for _ in range(6)]
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(9, dtype=np.int64),
            "embedding": [list(v), list(v), list(w)] + [list(o) for o in others],
        }
    )
    out = cosine_dedup_pairs(
        spark.createDataFrame(pdf), min_sim_1e6=950_000
    ).toPandas()
    got = set(map(tuple, out[["doc_a", "doc_b"]].to_numpy()))
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert out[out.doc_a == 0].sim_1e6.max() >= 999_000
    assert not any(a > 2 or b > 2 for a, b in got)  # randoms not near-dups


def test_ann_l2_candidate_route(spark):
    """candidates= hook (VERDICT r2 #5): LSH candidates + exact bucketed
    re-rank returns IDENTICAL top-k to the exact block-nested-loop on a
    clustered dataset where LSH recall is total — tight clusters of
    size > k whose members share every band signature (10x the contract
    scale, seeded)."""
    rng = np.random.default_rng(17)
    n_clusters, per, dim, k = 60, 11, 8, 3
    centers = rng.normal(size=(n_clusters, dim)) * 10.0
    vecs = (
        np.repeat(centers, per, axis=0)
        + rng.normal(size=(n_clusters * per, dim)) * 1e-3
    ).astype(np.float32)
    n = len(vecs)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(map(list, vecs))}
    )
    emb = spark.createDataFrame(pdf)
    cand = lsh_cosine_pairs(emb, n_planes=8, bands=4, seed=7, dim=dim)
    both = cand.selectExpr("doc_a AS query_id", "doc_b AS neighbor_id").union(
        cand.selectExpr("doc_b AS query_id", "doc_a AS neighbor_id")
    )
    got = (
        ann_l2_topk(emb, k=k, candidates=both)
        .orderBy("query_id", "rank")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        ann_l2_topk(emb, k=k, query_blocks=3, corpus_blocks=4)
        .orderBy("query_id", "rank")
        .toPandas()
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_phash_near_dup_bruteforce_recall(spark):
    """Banded Hamming join on the images phash column (bits=48, 3 bands)
    finds exactly the brute-force pair set at max_hamming=2, stays
    JVM-side, and the planted single-bit variant is recovered."""
    import numpy as np

    from spatialjoincountovershells_spark.operators.images import phash_near_dup

    rng = np.random.default_rng(5)
    ph = rng.integers(0, 1 << 48, 300, dtype=np.int64)
    ph = np.concatenate([ph, ph[:20] ^ (1 << 7), ph[:5] ^ ((1 << 3) | (1 << 40))])
    ids = np.arange(len(ph))
    df = spark.createDataFrame(
        [(int(i), int(p)) for i, p in zip(ids, ph)], "image_id long, phash long"
    )
    out = phash_near_dup(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    got = {(r.image_a, r.image_b): r.hamming for r in out.collect()}
    want = {}
    for i in range(len(ph)):
        for j in range(i + 1, len(ph)):
            h = int(bin((int(ph[i]) ^ int(ph[j])) & ((1 << 64) - 1)).count("1"))
            if h <= 2:
                want[(i, j)] = h
    assert got == want
    assert got[(0, 300)] == 1 and got[(0, 320)] == 2


def test_minhash_rowwise_buckets_match_grouped(spark):
    """The shuffle-free per-row bucket derivation (minhash_band_buckets)
    must be bit-identical to a grouped signature path — the DuckDB
    oracle's DISTINCT shingles -> GROUP BY doc_id min -> band keys:
    min over the shingle multiset equals min over its distinct set.
    Includes repeated-shingle, sub-shingle-length, empty and unicode
    texts."""
    import __spark_entry__ as entrymod
    from spatialjoincountovershells_spark.functions.texthash import (
        affine_sql,
        band_key_sql,
        poly_hash_fixed_duck,
    )
    from spatialjoincountovershells_spark.operators.dedup import (
        minhash_band_buckets,
    )

    texts = SAMPLES + ["abababababababab", "the the the the the", "tiny"]
    n_hashes, bands, shingle_n = 32, 8, 8
    r = n_hashes // bands
    mins = ", ".join(
        f"min({affine_sql('base', i)}) AS mh_{i}" for i in range(n_hashes)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"{band_key_sql([f'mh_{b * r + j}' for j in range(r)])} AS key FROM sig"
        for b in range(bands)
    )
    sql = f"""
WITH {entrymod._shingle_cte(shingle_n, min_len=shingle_n)},
hb AS (SELECT doc_id, {poly_hash_fixed_duck("shingle", shingle_n)} AS base FROM sh),
sig AS (SELECT doc_id, {mins} FROM hb GROUP BY doc_id)
{band_selects}"""
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
        ),
    )
    want = {(int(d), int(b), int(k)) for d, b, k in con.execute(sql).fetchall()}
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {tuple(x) for x in minhash_band_buckets(docs).collect()}
    assert got == want
    assert {d for d, _, _ in want} == {
        i for i, t in enumerate(texts) if len(t) >= shingle_n
    }


def _minhash_buckets_np(texts, n_hashes=32, bands=8, shingle_n=8) -> set:
    """numpy mirror of minhash_band_buckets -> {(doc_id, band, key)}:
    explicit shingle strings through poly_hash_np, then the affine
    streams' min and the POW2S band key — no convolution, no Spark."""
    r = n_hashes // bands
    streams = [affine_consts(i) for i in range(n_hashes)]
    out = set()
    for doc_id, t in enumerate(texts):
        if t is None or len(t) < shingle_n:
            continue  # minhash_band_buckets' guard: no bucket rows
        sh = [t[i:i + shingle_n] for i in range(len(t) - shingle_n + 1)]
        base = poly_hash_np(sh, shingle_n)
        mh = [int(((a * base + c) % P).min()) for a, c in streams]
        for b in range(bands):
            key = sum(mh[b * r + j] * POW2S[j] % P for j in range(r)) % P
            out.add((doc_id, b, key))
    return out


def test_minhash_band_buckets_match_numpy(spark):
    """minhash_band_buckets' Arrow kernel must be bit-identical to the
    numpy mirror on the guard domain (text non-null, len >= shingle_n):
    unicode, exact-boundary-length, repeated-shingle and long texts.
    Guarded-out docs (NULL, empty, shorter than shingle_n) emit no
    rows, and minhash_lsh_pairs' pairs are exactly the reference
    buckets' collisions."""
    from spatialjoincountovershells_spark.operators.dedup import (
        minhash_band_buckets,
    )

    texts = SAMPLES + [
        None,
        "tiny",
        "abcdefg",                       # shingle_n - 1 chars -> guarded out
        "abcdefgh",                      # exactly shingle_n chars -> 1 shingle
        "abababababababab",
        "the the the the the",
        "z" * 8 + "café ☃ naïve \U0001f600 text" * 3,
        "The quick brown fox jumps over the lazy dog. " * 10,
        "The quick brown fox jumps over the lazy dog. " * 10,  # dup doc
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {tuple(x) for x in minhash_band_buckets(docs).collect()}
    want = _minhash_buckets_np(texts)
    assert got == want
    guarded = {i for i, t in enumerate(texts) if t is None or len(t) < 8}
    assert guarded >= {0, 1, len(SAMPLES), len(SAMPLES) + 1, len(SAMPLES) + 2}
    assert not {d for d, _, _ in got} & guarded

    by_bucket: dict = {}
    for d, b, k in want:
        by_bucket.setdefault((b, k), []).append(d)
    want_pairs: dict = {}
    for ids in by_bucket.values():
        ids.sort()
        for i, a in enumerate(ids):
            for c in ids[i + 1:]:
                want_pairs[(a, c)] = want_pairs.get((a, c), 0) + 1
    got_pairs = {
        (r.doc_a, r.doc_b): r.n_bands_hit
        for r in minhash_lsh_pairs(docs).collect()
    }
    n = len(texts)
    assert got_pairs == want_pairs and got_pairs[(n - 2, n - 1)] == 8


def test_crossmodal_dup_planted_classification(spark):
    """crossmodal_dup_pairs classifies planted variants correctly:
    same-caption + 1-bit phash flip -> 'both' (8/8 caption bands,
    hamming 1); different-caption + 2-bit flip -> 'image_only'
    (hamming 2, bands coalesced to 0); same-caption + unrelated
    phash -> 'caption_only' (hamming coalesced to -1)."""
    import numpy as np

    from spatialjoincountovershells_spark.operators.images import (
        crossmodal_dup_pairs,
    )
    from spatialjoincountovershells_spark.sources.synth import splitmix64

    n = 60
    ids = np.arange(n, dtype=np.uint64)
    cap = [
        f"cap {splitmix64(i ^ np.uint64(11))} {splitmix64(i ^ np.uint64(12))}"
        for i in ids
    ]
    alt = [
        f"alt {splitmix64(i ^ np.uint64(13))} {splitmix64(i ^ np.uint64(14))}"
        for i in ids
    ]
    ph = splitmix64(ids ^ np.uint64(15)).astype(np.int64) & ((1 << 48) - 1)
    ph_alt = splitmix64(ids ^ np.uint64(16)).astype(np.int64) & ((1 << 48) - 1)
    rows = [(int(i), int(ph[i]), cap[i]) for i in range(n)]
    rows += [  # v1: both
        (int(i) + 1000, int(ph[i] ^ (1 << (i % 16))), cap[i])
        for i in range(0, n, 10)
    ]
    rows += [  # v2: image_only
        (int(i) + 2000, int(ph[i] ^ (1 << (i % 16)) ^ (1 << (16 + i % 16))), alt[i])
        for i in range(0, n, 15)
    ]
    rows += [  # v3: caption_only
        (int(i) + 3000, int(ph_alt[i]), cap[i]) for i in range(0, n, 20)
    ]
    df = spark.createDataFrame(rows, "image_id long, phash long, caption string")
    got = {
        (r.image_a, r.image_b): (r.n_caption_bands, r.hamming, r.match_kind)
        for r in crossmodal_dup_pairs(df).collect()
    }
    for i in range(0, n, 10):
        assert got[(i, i + 1000)] == (8, 1, "both")
    for i in range(0, n, 15):
        bands, ham, kind = got[(i, i + 2000)]
        assert (ham, kind) == (2, "image_only") and bands == 0
    for i in range(0, n, 20):
        bands, ham, kind = got[(i, i + 3000)]
        assert (bands, ham, kind) == (8, -1, "caption_only")
    for (a, b), (bands, ham, kind) in got.items():
        if kind == "caption_only":
            assert ham == -1 and bands > 0
        elif kind == "image_only":
            assert 0 <= ham <= 2 and bands == 0
        else:
            assert 0 <= ham <= 2 and bands > 0


def test_lm_familiarity_vs_python_replay(spark):
    """lm_familiarity == a pure-python Count-Min replay on the same
    texthash family: exact n_tok / sum_est / integer-div fam, and a
    garbled doc scores below the natural ones."""
    import re

    import numpy as np

    from spatialjoincountovershells_spark.functions.texthash import (
        affine_consts,
        poly_hash_np,
    )
    from spatialjoincountovershells_spark.operators.text import lm_familiarity

    texts = [
        "the cat sat on the mat and the dog sat too",
        "the dog and the cat ran to the mat",
        "zxqj vwpk qqyz zxqj",          # garbled: rare tokens only
        "the the the the",               # degenerate natural
        "   ",                           # zero tokens: no output row
    ]
    d, w = 4, 64
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tok"], r["sum_est"], r["fam"])
        for r in lm_familiarity(df, d=d, w=w).collect()
    }

    toks_per_doc = [
        [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t] for s in texts
    ]
    all_toks = [t for ts in toks_per_doc for t in ts]
    base = poly_hash_np(np.array(all_toks, dtype=object))
    grid: dict = {}
    M = (1 << 31) - 1
    for i in range(d):
        a, b = affine_consts(i)
        for h in base:
            key = (i, ((int(h) * a + b) % M) % w)
            grid[key] = grid.get(key, 0) + 1

    def est(tok):
        h = int(poly_hash_np(np.array([tok], dtype=object))[0])
        return min(
            grid.get((i, ((h * affine_consts(i)[0] + affine_consts(i)[1])
                          % M) % w), 0)
            for i in range(d)
        )

    want = {}
    for i, ts in enumerate(toks_per_doc):
        if not ts:
            continue
        s = sum(est(t) for t in ts)
        want[i] = (len(ts), s, s // len(ts))
    assert got == want
    assert 4 not in got  # the zero-token doc emits no row
    assert got[2][2] < got[0][2]  # garbled text scores below natural


# --------------------------------------------------------- hot-bucket cap

def test_bucket_pairs_hot_bucket_cap(spark):
    """A planted degenerate bucket (20 identical texts -> one bucket per
    band) is DROPPED by the max_bucket cap, so no task ever expands its
    C(n,2) pairs; distinct near-dups elsewhere still surface, and
    oversized_buckets reports exactly the dropped buckets."""
    from spatialjoincountovershells_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_lsh_pairs,
        oversized_buckets,
    )

    hot = ["identical boilerplate text repeated across the shard " * 3] * 20
    a = "a genuinely unique document about catalyst plan shapes " * 3
    b = a.replace("shapes", "shaped", 1)
    docs = _docs(spark, hot + [a, b])

    capped = minhash_lsh_pairs(docs, max_bucket=8).toPandas()
    got = set(map(tuple, capped[["doc_a", "doc_b"]].to_numpy()))
    assert (20, 21) in got                      # near-dup pair survives
    assert all(x >= 20 for ab in got for x in ab)  # hot bucket emits none

    uncapped = minhash_lsh_pairs(docs, max_bucket=None).toPandas()
    hotpairs = uncapped[(uncapped.doc_a < 20) & (uncapped.doc_b < 20)]
    assert len(hotpairs) == 20 * 19 // 2        # C(20,2), all bands hit
    assert (hotpairs.n_bands_hit == 8).all()

    over = oversized_buckets(
        minhash_band_buckets(docs), ["band", "key"], "doc_id", max_bucket=8
    ).toPandas()
    assert len(over) == 8 and (over.n_ids == 20).all()  # one per band


def test_minhash_cap_matches_duckdb_oracle(spark):
    """The cap is mirrored in the oracle: Spark minhash_lsh_pairs with
    max_bucket=8 == _minhash_lsh_sql(max_bucket=8) on a corpus where
    the cap actually fires (20-doc hot bucket)."""
    import __spark_entry__ as entrymod

    hot = ["identical boilerplate text repeated across the shard " * 3] * 20
    a = "a genuinely unique document about catalyst plan shapes " * 3
    b = a.replace("shapes", "shaped", 1)
    texts = hot + [a, b]
    pdf = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )
    got = (
        minhash_lsh_pairs(spark.createDataFrame(pdf), max_bucket=8)
        .orderBy("doc_a", "doc_b").toPandas()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        entrymod._minhash_lsh_sql(max_bucket=8) + " ORDER BY doc_a, doc_b"
    ).df()
    assert len(got) == len(want) == 1
    np.testing.assert_array_equal(
        got[["doc_a", "doc_b", "n_bands_hit"]].to_numpy(np.int64),
        want[["doc_a", "doc_b", "n_bands_hit"]].to_numpy(np.int64),
    )


def test_hamming_pairs_hot_bucket_cap(spark):
    """Same cap on the signature-carrying banded Hamming join: 20
    identical simhashes are a hot slice in every band."""
    from spatialjoincountovershells_spark.operators.dedup import simhash_pairs

    hot = ["spark catalyst optimizes declarative dataframe plans " * 3] * 20
    docs = _docs(spark, hot)
    assert len(simhash_pairs(docs, max_bucket=8).toPandas()) == 0
    full = simhash_pairs(docs, max_bucket=None).toPandas()
    assert len(full) == 20 * 19 // 2 and (full.hamming == 0).all()


def test_ann_l2_exhaustive_guard(spark):
    """Self-search above exhaustive_limit refuses unless exhaustive=True
    (round-4 VERDICT #3 — same policy as pq_ann_topk)."""
    emb, _ = _rand_emb(spark, 40, dim=8, seed=5)
    with pytest.raises(ValueError, match="exhaustive"):
        ann_l2_topk(emb, k=2, exhaustive_limit=10)
    out = ann_l2_topk(emb, k=2, exhaustive_limit=10, exhaustive=True).toPandas()
    assert len(out) == 40 * 2

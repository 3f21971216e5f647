"""Seeded inputs for the four workloads.

The same seed gives byte-identical inputs; another seed gives other
inputs with the same row counts.  The program sees only the tables.

* shell points: (id, phash) tables, positions quantized to the uint16
  phash lattice of ``functions.phash`` (box 1000).  ``uniform`` uses the
  program's own ``sources.synth.synth_points``; ``clustered`` packs half
  the particles into Plummer clumps around Zipf-sized host halos.
* images tables: the BASELINE images shape (string ``image_id``, binary
  payload, ``phash``) written as parquet with pyarrow.
* documents: the shape and statistics of the sf0.1 ``documents`` test
  table (5000 rows, 30-word vocabulary, 10-100 words, five languages,
  20 sources, 5% near and 0.16% exact duplicates; measured figures in
  perfbench/README.md), plus an eval set for decontamination.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

BOX = 1000.0
SCALE = BOX / 65536.0

# shell workloads: 10 particles per halo, as the paper's workload
SHELL_PARTICLES = 200_000
SHELL_HALOS = 20_000
# images-shaped sjcs_job input
JOB_PARTICLES = 100_000
JOB_HALOS = 10_000
JOB_PARTICLE_FILES = 4
# shells_clustered: Plummer clumps (scale PLUMMER_A, cut at 10 a) hold
# CLUMPED of the particles, around N_HOSTS host halos
N_HOSTS = 64
CLUMPED = 0.5
PLUMMER_A = 2.0
# corpus_job input, as the sf0.1 documents table
N_DOCS = 5_000
N_NEAR_DUPS = 250   # the text of an original plus " dup"
N_EXACT_DUPS = 8    # the text of an original
N_EVAL_DOCS = 40
N_MARKED = 30       # eval docs whose evalmark token is planted in a doc

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
EVAL_VOCAB = ("alpha bravo charlie delta echo foxtrot golf hotel india "
              "juliett kilo lima mike november oscar papa quebec romeo "
              "sierra tango uniform victor whiskey xray yankee zulu").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4118, 0.1506, 0.1488, 0.1484, 0.1404)


def ref_edges(n_particles: int) -> tuple[np.ndarray, float]:
    """bench.py's reference-matched radius spec: 40 log2 shells over
    r_max/5000..r_max, r_max scaled so the density-radius product (and
    so candidates per probe, ~259) matches the reference's run."""
    density = n_particles / BOX**3
    rmax = 5.0 * (0.1 / density) ** (1.0 / 3.0)
    edges = np.logspace(np.log2(rmax / 5000.0), np.log2(rmax), 40, base=2.0)
    return edges.astype(np.float32), rmax


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def _pack(q: np.ndarray) -> np.ndarray:
    q = q.astype(np.int64)
    return (q[:, 0] << 32) | (q[:, 1] << 16) | q[:, 2]


def decode(phash: np.ndarray) -> np.ndarray:
    """(n,) phash -> (n,3) float32 positions, as functions.phash does."""
    p = phash.astype(np.int64)
    q = np.stack([(p >> 32) & 0xFFFF, (p >> 16) & 0xFFFF, p & 0xFFFF], axis=1)
    return q.astype(np.float32) * np.float32(SCALE)


def synth_seeds(seed: int) -> tuple[int, int]:
    """(particle, halo) seeds for sources.synth.synth_points."""
    return 1000 * int(seed) + 1, 1000 * int(seed) + 2


def uniform_points(seed: int, n_particles: int, n_halos: int):
    """Numpy mirror of the uniform workload's synth_points tables:
    -> (particle positions, halo positions), ids are row numbers."""
    from spatialjoincountovershells_spark.sources.synth import synth_points_np

    sp, sh = synth_seeds(seed)
    return synth_points_np(n_particles, sp), synth_points_np(n_halos, sh)


def clustered_points(seed: int, n_particles: int, n_halos: int):
    """-> (particle phash, halo phash, host halo ids).

    Halos are uniform.  CLUMPED of the particles sit in Plummer
    spheres (scale PLUMMER_A, truncated at 10 a) centred on
    N_HOSTS host halos, with Zipf(1) clump sizes, so the largest
    clump holds ~1/5 of them; the rest are uniform.  Each particle is a
    ring candidate of ~the same number of (uniform) halos wherever it
    sits, so total candidate pairs stay close to the uniform workload's
    while the densest cell holds hundreds of times the mean."""
    rng = _rng(seed, 11)
    hq = rng.integers(0, 65536, size=(n_halos, 3))
    hosts = rng.choice(n_halos, size=N_HOSTS, replace=False)
    n_cl = int(n_particles * CLUMPED)
    w = 1.0 / np.arange(1, N_HOSTS + 1)
    sizes = np.floor(w / w.sum() * n_cl).astype(np.int64)
    sizes[0] += n_cl - sizes.sum()
    centre = np.repeat(hq[hosts].astype(np.float64) * SCALE, sizes, axis=0)
    # Plummer radius by inverse CDF, truncated at 10 a
    u = (1.0 - rng.uniform(size=n_cl)) / (1.0 + 0.01) ** 1.5  # (0, M(10a)]
    r = PLUMMER_A / np.sqrt(u ** (-2.0 / 3.0) - 1.0)
    v = rng.normal(size=(n_cl, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    pos = np.mod(centre + v * r[:, None], BOX)
    q_cl = np.floor(pos / SCALE).astype(np.int64) % 65536
    q_bg = rng.integers(0, 65536, size=(n_particles - n_cl, 3))
    q = np.concatenate([q_cl, q_bg])[rng.permutation(n_particles)]
    return _pack(q), _pack(hq), np.sort(hosts)


# ------------------------------------------------------------- parquet


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def images_table(seed: int, stream: int, n: int, prefix: str):
    """The images shape: image_id string, bytes binary (8x8 RGB8),
    w, h int, fmt string, caption string, phash long."""
    import pyarrow as pa

    rng = _rng(seed, stream)
    q = rng.integers(0, 65536, size=(n, 3))
    payload = rng.integers(0, 256, size=n * 192, dtype=np.uint8)
    offsets = np.arange(0, (n + 1) * 192, 192, dtype=np.int32)
    ids = np.arange(n)
    tag = rng.integers(0, 2**62, size=n)
    return pa.table({
        "image_id": pa.array([f"{prefix}{i:012d}" for i in ids]),
        "bytes": pa.Array.from_buffers(
            pa.binary(), n, [None, pa.py_buffer(offsets),
                             pa.py_buffer(payload)]),
        "w": pa.array(np.full(n, 8, np.int32)),
        "h": pa.array(np.full(n, 8, np.int32)),
        "fmt": pa.array(["raw"] * n),
        "caption": pa.array([f"synthetic caption {i} {t:x}"
                             for i, t in zip(ids, tag)]),
        "phash": pa.array(_pack(q)),
    })


def write_images(seed: int, out: str) -> dict:
    """sjcs_job inputs under ``out``: particles/ (several files) and
    halos/.  -> paths, row counts, bytes and the input hash."""
    import pyarrow.parquet as pq

    from common import arrays_hash

    parts = images_table(seed, 21, JOB_PARTICLES, "part")
    halos = images_table(seed, 22, JOB_HALOS, "halo")
    pdir = _fresh_dir(os.path.join(out, "particles"))
    hdir = _fresh_dir(os.path.join(out, "halos"))
    step = -(-JOB_PARTICLES // JOB_PARTICLE_FILES)
    for k in range(JOB_PARTICLE_FILES):
        pq.write_table(parts.slice(k * step, step),
                       os.path.join(pdir, f"part-{k:03d}.parquet"))
    pq.write_table(halos, os.path.join(hdir, "part-000.parquet"))
    return {
        "particles": pdir, "halos": hdir,
        "rows": {"particles": JOB_PARTICLES, "halos": JOB_HALOS},
        "bytes": {"particles": dir_bytes(pdir), "halos": dir_bytes(hdir)},
        "hash": arrays_hash(parts["phash"].to_numpy(),
                            halos["phash"].to_numpy(),
                            np.frombuffer(parts["bytes"].chunk(0).buffers()[2],
                                          np.uint8)),
        "halo_ids": halos["image_id"].to_numpy(zero_copy_only=False),
        "halo_pos": decode(halos["phash"].to_numpy()),
        "particle_pos": decode(parts["phash"].to_numpy()),
    }


def documents(seed: int):
    """-> (documents table, eval table) as pandas frames.

    Documents mirror the sf0.1 test table: N_DOCS of them, words drawn
    from VOCAB, 10-100 per doc, its language shares (LANG_P), 20
    sources.  N_NEAR_DUPS are near duplicates of another doc (its text +
    " dup"), N_EXACT_DUPS exact copies.  N_MARKED carry an
    ``evalmark<k>`` token that also appears in the eval set, so
    decontamination removes exactly those; eval docs are otherwise
    written in a disjoint vocabulary.  doc_ids are a seeded
    permutation."""
    import pandas as pd

    n = N_DOCS
    rng = _rng(seed, 31)
    lens = rng.integers(10, 101, size=n)
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    ends = np.cumsum(lens)
    texts = [" ".join(VOCAB[w] for w in words[e - k:e])
             for e, k in zip(ends, lens)]
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    # fixed numbers of copies, each of an original: every duplicate
    # cluster is a star, so the cluster stage's work hardly varies
    order = rng.permutation(n)
    n_near, n_exact = N_NEAR_DUPS, N_EXACT_DUPS
    originals = order[n_near + n_exact:]
    for i in order[:n_near]:
        j = int(rng.choice(originals))
        texts[i] = texts[j] + " dup"
        langs[i] = langs[j]
    for i in order[n_near:n_near + n_exact]:
        texts[i] = texts[int(rng.choice(originals))]
    marked = rng.choice(originals, size=N_MARKED, replace=False)
    for k, i in enumerate(marked):
        texts[i] = f"{texts[i]} evalmark{k:05d}"
    docs = pd.DataFrame({
        "doc_id": rng.permutation(n).astype(np.int64),
        "text": texts,
        "lang": [LANGS[x] for x in langs],
        "source": [f"src{i % 20}" for i in range(n)],
    })
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)

    ev = []
    for k in range(N_EVAL_DOCS):
        m = int(rng.integers(8, 30))
        body = " ".join(EVAL_VOCAB[w]
                        for w in rng.integers(0, len(EVAL_VOCAB), size=m))
        if k < len(marked):
            body = f"{body} evalmark{k:05d}"
        ev.append(body)
    evals = pd.DataFrame({"doc_id": np.arange(len(ev), dtype=np.int64),
                          "text": ev})
    return docs, evals


def write_documents(seed: int, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from common import frame_hash

    docs, evals = documents(seed)
    ddir = _fresh_dir(os.path.join(out, "documents"))
    edir = _fresh_dir(os.path.join(out, "eval"))
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(ddir, "part-000.parquet"))
    pq.write_table(pa.Table.from_pandas(evals, preserve_index=False),
                   os.path.join(edir, "part-000.parquet"))
    return {
        "documents": ddir, "eval": edir,
        "rows": {"documents": len(docs), "eval": len(evals)},
        "bytes": {"documents": dir_bytes(ddir), "eval": dir_bytes(edir)},
        "hash": frame_hash(docs),
    }

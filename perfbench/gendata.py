"""Deterministic input tables for the benchmark.

The content of every table is fixed (content seed 42), so the expected
result hashes in ``expected_hashes.json`` hold for any run seed. The run
seed only permutes the row order of each table before it is written.
A query whose result changes with the seed is order-dependent, which is
a determinism defect of the query, not of the data.

Shapes follow the synthetic sf0.1 tables the queries were written
against:

* ``documents``: 5000 docs of 10-100 tokens over a 30-word vocabulary,
  250 near-duplicates (another doc's text plus `` dup``) and 8 exact
  duplicate pairs; ``lang`` skewed to ``en``; ``source`` = ``src{id % 20}``.
* ``embeddings``: 2000 unit-norm 64-d float vectors with a uniform label
  in 0..9.
* ``part``: 20000 parts with 64 names, 25 brands and 6 types.
* ``region``: the 5 TPC-H regions (the session warmup scans it).
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
N_DOCS = 5000
N_VECS = 2000
N_PARTS = 20000
DIM = 64

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_ADJ = "large hot blue old cold red new small".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def documents(rng):
    lens = rng.integers(10, 101, N_DOCS)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + n]))
        at += n
    # 250 near-duplicates: a copy of another doc plus a marker token
    near = rng.choice(N_DOCS, 250, replace=False)
    for i in near:
        j = int(rng.integers(0, N_DOCS))
        if j != i:
            texts[i] = texts[j] + " dup"
    # 8 exact duplicate pairs
    pairs = rng.choice(N_DOCS, 16, replace=False).reshape(8, 2)
    for a, b in pairs:
        texts[b] = texts[a]
    langs = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in langs], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    x = rng.standard_normal((N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, 10, N_VECS).astype(np.int32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array([list(r) for r in x], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def part(rng):
    ids = np.arange(N_PARTS, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), N_PARTS)
    noun = rng.integers(0, len(PART_NOUN), N_PARTS)
    return pa.table({
        "p_partkey": pa.array(ids, pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[n]}" for a, n in zip(adj, noun)]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)]),
        "p_type": pa.array(
            [PART_TYPES[t] for t in rng.integers(0, 6, N_PARTS)]),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (ids % 1000) * 0.1, 2), pa.float64()),
    })


def region():
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })


def tables():
    """The fixed-content tables, in canonical row order."""
    rng = np.random.default_rng(CONTENT_SEED)
    return {
        "documents": documents(rng),
        "embeddings": embeddings(rng),
        "part": part(rng),
        "region": region(),
    }


def write(out_dir, seed):
    """Write every table to ``out_dir/<name>.parquet`` with its rows
    permuted by ``seed``. Returns the total row count written."""
    os.makedirs(out_dir, exist_ok=True)
    perm_rng = np.random.default_rng(seed)
    rows = 0
    for name, t in tables().items():
        t = t.take(pa.array(perm_rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows += t.num_rows
    return rows

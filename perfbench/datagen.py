"""Seeded inputs. The engine sees only what these functions produce:
the same seed gives the same vectors, metadata, documents and tables.

Vectors come from a clustered Gaussian mixture (cluster centres drawn
once per seed, points scattered around them), so nearest neighbours
are meaningful and LSH recall is neither trivially 1 nor near 0.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 64
CLUSTERS = 32
SPREAD = 0.35  # per-coordinate noise around a centre (centres are N(0, 1))

CATS = [f"c{i}" for i in range(8)]

# Word list of the registry's documents table (short technical words
# plus fillers); the pipeline's text operators tokenize these.
VOCAB = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "customer", "the",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_W = [0.41, 0.15, 0.15, 0.15, 0.14]


class Mixture:
    """Cluster centres plus a sampler for points and queries."""

    def __init__(self, rng: np.random.Generator, dim: int = DIM, clusters: int = CLUSTERS):
        self.rng = rng
        self.centres = rng.normal(size=(clusters, dim))

    def sample(self, n: int) -> np.ndarray:
        lab = self.rng.integers(0, len(self.centres), n)
        return self.centres[lab] + SPREAD * self.rng.normal(size=(n, self.centres.shape[1]))


def metadata(rng: np.random.Generator, n: int) -> list[dict]:
    """Per-row metadata the filter templates select on."""
    cats = rng.integers(0, len(CATS), n)
    scores = np.round(rng.random(n), 4)
    years = rng.integers(2000, 2024, n)
    return [
        {"cat": CATS[c], "score": float(s), "year": int(y)}
        for c, s, y in zip(cats, scores, years)
    ]


def angular_distances(X: np.ndarray, q: np.ndarray) -> np.ndarray:
    """The engine's cosine distance, acos(clamped cosine)/pi, from every
    row of ``X`` to ``q`` (a zero vector on either side gives 1.0)."""
    nx = np.linalg.norm(X, axis=1)
    nq = np.linalg.norm(q)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (X @ q) / (nx * nq)
    d = np.arccos(np.clip(cos, -1.0, 1.0)) / np.pi
    d[(nx == 0.0) | (nq == 0.0)] = 1.0
    return d


def top_k(d: np.ndarray, k: int, mask: np.ndarray | None = None) -> np.ndarray:
    """Row indices of the ``k`` smallest distances, ties to the lower
    index (the engine's ORDER BY distance, id)."""
    idx = np.arange(len(d)) if mask is None else np.flatnonzero(mask)
    order = np.lexsort((idx, d[idx]))
    return idx[order[:k]]


# ---- pipeline tables -----------------------------------------------

def write_pipeline_tables(out_dir: str, seed: int, *, n_doc: int, n_emb: int,
                          n_orders: int, n_lineitem: int, n_customer: int) -> None:
    """The registry tables the pipeline entries read, as parquet files
    named ``<table>.parquet`` (the layout ``queries()`` expects)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, table) -> None:
        # bounded row groups so scans split, as in the repo's fixtures
        bpr = max(1, table.nbytes // max(1, table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(2048, (512 << 10) // bpr))

    # documents: 10-90 words; 3% exact copies and 3% one-word edits of
    # other documents, so the near-duplicate operators have clusters
    vocab = np.array(VOCAB)
    words = [list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 91)))])
             for _ in range(n_doc)]
    n_planted = max(1, int(0.03 * n_doc))
    for src, dst in zip(rng.integers(0, n_doc, n_planted), rng.integers(0, n_doc, n_planted)):
        if src != dst:
            words[dst] = list(words[src])
    for src, dst in zip(rng.integers(0, n_doc, n_planted), rng.integers(0, n_doc, n_planted)):
        if src != dst:
            w = list(words[src])
            w[int(rng.integers(0, len(w)))] = str(vocab[int(rng.integers(0, len(vocab)))])
            words[dst] = w
    texts = [" ".join(w) for w in words]
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_W)),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: unit-norm 64-dim directions, label 0..9
    E = rng.standard_normal((n_emb, DIM)).astype(np.float32)
    E /= np.linalg.norm(E, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(E), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }))

    # star-schema slice for the Catalyst-only control
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(n_customer), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customer)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customer), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customer), 2),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_customer)]),
    }))
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customer, n_orders), pa.int64()),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
    }))
    l_ord = np.sort(rng.integers(0, n_orders, n_lineitem))
    write("lineitem", pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_quantity": rng.integers(1, 51, n_lineitem).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_lineitem), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lineitem) / 100.0, 2),
    }))

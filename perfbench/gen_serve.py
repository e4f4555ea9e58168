"""Seeded generator for the ``serve`` workload: a crawl of documents with
clustered embeddings and planted duplicates, and a query pool (text and
vector per query) with its exact answers over the documents that ingestion
should keep: BM25 top lists from the Python reference and exact cosine
neighbours from numpy.

Documents ``1..n`` are distinct. Each planted duplicate copies one of them
under a higher id, either exactly (some with case and whitespace changes)
or with one word edited in its single long paragraph; only ``1..n`` should
survive.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import ref
from gen_text import Vocab, clustered_vectors, cosine_topk, perturb_words

#: Planted duplicates, as shares of the distinct documents.
SHARES = {"exact_dup": 0.08, "near_dup": 0.06}
DIM = 16
N_CLUSTERS = 8
POOL = 200
#: Reference list depth (deeper than k, for tie checks at the cut).
REF_DEPTH = 20
K = 10
#: Query popularity is Zipf over the pool with this exponent.
ZIPF_S = 1.1


def generate(out_dir: str, seed: int, n_docs: int) -> dict:
    rng = np.random.default_rng(seed)
    vocab = Vocab(rng)
    texts = [vocab.sentence_text(rng, int(rng.integers(80, 120)))
             for _ in range(n_docs)]
    vecs, _ = clustered_vectors(rng, n_docs, DIM, N_CLUSTERS)
    ids = np.arange(1, n_docs + 1, dtype=np.int64)

    counts = {k: int(round(v * n_docs)) for k, v in SHARES.items()}
    dup_text, dup_vec = [], []
    for kind, n in counts.items():
        for src in rng.integers(0, n_docs, n):
            t = texts[src]
            if kind == "near_dup":
                t = perturb_words(rng, t, vocab, 1)
            else:
                t = t.upper() if rng.random() < 0.3 else t
                t = t.replace(". ", ".  ") if rng.random() < 0.5 else t
            dup_text.append(t)
            dup_vec.append(vecs[src])
    dup_ids = np.arange(n_docs + 1, n_docs + 1 + len(dup_text), dtype=np.int64)
    all_vecs = np.concatenate([vecs, np.asarray(dup_vec, np.float32)])
    order = rng.permutation(n_docs + len(dup_text))  # rows carry no plant order
    os.makedirs(out_dir, exist_ok=True)
    crawl = pa.table({
        "doc_id": np.concatenate([ids, dup_ids]),
        "text": texts + dup_text,
        "embedding": pa.array(list(all_vecs), pa.list_(pa.float32())),
    })
    pq.write_table(crawl.take(pa.array(order)),
                   os.path.join(out_dir, "crawl.parquet"))

    # Query text: two to four content words, drawn by corpus frequency so
    # popular queries carry hot terms.
    qtexts = [" ".join(vocab.words_for(rng, int(rng.integers(2, 5)), 0.0))
              for _ in range(POOL)]
    near = rng.integers(0, n_docs, POOL)
    qvecs = (vecs[near] + rng.normal(scale=0.2 / np.sqrt(DIM),
                                     size=(POOL, DIM))).astype(np.float32)
    bm25 = ref.Bm25(dict(zip(ids.tolist(), texts)))
    exact, _ = cosine_topk(vecs, qvecs, K)
    pool = [
        {"text": qt, "vec": qv.tolist(),
         "bm25": bm25.topk(qt, REF_DEPTH),
         "exact": ids[ex].tolist()}
        for qt, qv, ex in zip(qtexts, qvecs, exact)
    ]
    with open(os.path.join(out_dir, "pool.json"), "w") as f:
        json.dump(pool, f)
    return {"docs": n_docs, "planted": counts, "pool": POOL, "dim": DIM,
            "clusters": N_CLUSTERS, "zipf_s": ZIPF_S,
            "text_bytes": sum(len(t.encode()) for t in texts + dup_text)}

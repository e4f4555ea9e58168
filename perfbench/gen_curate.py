"""Seeded generator for the ``curate`` workload: a document corpus with
planted exact duplicates, near-duplicates, shared boilerplate paragraphs,
shared verbatim spans, low-quality documents, benchmark-contaminated
documents and PII, plus the eval set used for decontamination."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen_text import Vocab, perturb_words

#: Planted shares of the corpus (of documents, by category).
SHARES = {
    "exact_dup": 0.06,
    "near_dup": 0.05,
    "boilerplate": 0.10,
    "shared_span": 0.04,
    "low_quality": 0.05,
    "contaminated": 0.02,
    "pii": 0.05,
}
N_BOILERPLATE = 4
N_SPANS = 12
N_EVAL = 24


def generate(out_dir: str, seed: int, n_docs: int) -> dict:
    rng = np.random.default_rng(seed)
    vocab = Vocab(rng)
    boiler = vocab.paragraphs(rng, N_BOILERPLATE, 20, 30)
    spans = [vocab.sentence_text(rng, 24) for _ in range(N_SPANS)]
    evals = [vocab.sentence_text(rng, 14) for _ in range(N_EVAL)]

    counts = {k: int(round(v * n_docs)) for k, v in SHARES.items()}
    n_base = n_docs - counts["exact_dup"] - counts["near_dup"]
    docs: list[str] = []
    for _ in range(n_base):
        docs.append("\n".join(vocab.paragraphs(rng, int(rng.integers(3, 6)))))

    # Disjoint plant roles among the base documents.
    order = [int(i) for i in rng.permutation(n_base)]
    take = lambda n: [order.pop() for _ in range(n)]  # noqa: E731
    low = take(counts["low_quality"])
    contaminated = take(counts["contaminated"])
    span_docs = take(counts["shared_span"])
    boiler_docs = take(counts["boilerplate"])
    pii_docs = take(counts["pii"])
    dup_sources = take(counts["exact_dup"])  # enough for one copy each
    near_sources = take(counts["near_dup"])

    for i in low:  # too few words for the Gopher word-count rule
        docs[i] = vocab.sentence_text(rng, int(rng.integers(12, 30)))
    for i in contaminated:
        paras = docs[i].split("\n")
        q = evals[int(rng.integers(0, N_EVAL))]
        paras[0] = paras[0] + " " + q
        docs[i] = "\n".join(paras)
    span_of: dict[int, int] = {}
    for i in span_docs:
        s = int(rng.integers(0, N_SPANS))
        paras = docs[i].split("\n")
        j = int(rng.integers(0, len(paras)))
        paras[j] = paras[j] + " " + spans[s]
        docs[i] = "\n".join(paras)
        span_of[i] = s
    for i in boiler_docs:
        paras = docs[i].split("\n")
        paras.insert(int(rng.integers(0, len(paras) + 1)),
                     boiler[int(rng.integers(0, N_BOILERPLATE))])
        docs[i] = "\n".join(paras)
    for i in pii_docs:
        user = "".join(rng.choice(list("abcdefghij"), 7))
        docs[i] = docs[i] + f" Contact {user}@example.com for details."

    groups: list[list[int]] = []
    src = iter(dup_sources)
    remaining = counts["exact_dup"]
    while remaining > 0:
        base = next(src)
        n_copy = min(remaining, int(rng.integers(1, 4)))
        members = [base]
        for _ in range(n_copy):
            # case and whitespace changes normalise away
            text = docs[base].upper() if rng.random() < 0.3 else docs[base]
            docs.append(text.replace(". ", ".  ") if rng.random() < 0.5 else text)
            members.append(len(docs) - 1)
        groups.append(members)
        remaining -= n_copy
    near_pairs = []
    for base in near_sources:
        # one edit per paragraph: no paragraph repeats verbatim, so the
        # pair reaches the MinHash stage intact
        docs.append("\n".join(perturb_words(rng, p, vocab, 1)
                               for p in docs[base].split("\n")))
        near_pairs.append([base, len(docs) - 1])

    perm = rng.permutation(len(docs))  # doc ids carry no plant order
    ids = np.empty(len(docs), dtype=np.int64)
    ids[perm] = np.arange(len(docs)) + 1
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({"doc_id": ids, "text": docs})
    pq.write_table(table.take(pa.array(np.argsort(ids))),
                   os.path.join(out_dir, "corpus.parquet"))
    pq.write_table(pa.table({"doc_id": np.arange(len(evals)) + 1,
                             "text": evals}),
                   os.path.join(out_dir, "eval.parquet"))
    idl = lambda xs: sorted(int(ids[x]) for x in xs)  # noqa: E731
    truth = {
        "exact_groups": [idl(g) for g in groups],
        "near_pairs": [idl(p) for p in near_pairs],
        "low_quality": idl(low),
        "contaminated": idl(contaminated),
        "evals": evals,
        "spans": spans,
        "span_docs": idl(span_docs),
        "pii_docs": idl(pii_docs),
        "boilerplate": boiler,
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    return {"docs": len(docs), "planted": counts,
            "text_bytes": sum(len(d.encode()) for d in docs)}

"""Curation of an LLM training corpus, the first step of ``serve``'s set-up.

One pass is ``curate_corpus`` with the Gopher rules,
the unigram-LM filter, paragraph dedup, MinHash near-dedup and PII
redaction on → ``span_dedup`` → ``decontaminate`` against the eval set →
``pack_sequences``. The checks are the planted ground truth: at most one
survivor per exact-duplicate group and per near-duplicate pair, no
low-quality survivor, no survivor that still carries an eval question,
every shared span left in at most one survivor, no e-mail address left,
and a packing that places every survivor exactly once within the bin
budget.
"""

from __future__ import annotations

import json
import os

import gen_curate

SIZES = {"bench": 300, "tiny": 150}
MAX_LEN = 2048


def generate(out_dir: str, seed: int, size: str) -> dict:
    meta = gen_curate.generate(out_dir, seed, SIZES[size])
    meta["shares"] = gen_curate.SHARES
    return meta


class Curate:
    def __init__(self, ctx):
        self.ctx = ctx
        with open(os.path.join(ctx.inputs, "truth.json")) as f:
            self.truth = json.load(f)

    def run(self) -> list[str]:
        """One full pass; returns its check failures."""
        ctx, dm, tr = self.ctx, self.ctx.dm, self.ctx.tracer
        spark = ctx.spark
        corpus = spark.read.parquet(os.path.join(ctx.inputs, "corpus.parquet"))
        evalset = spark.read.parquet(os.path.join(ctx.inputs, "eval.parquet"))

        with tr.span("pipeline", "curate_corpus") as sp:
            cur = dm.pipeline.curate_corpus(
                corpus, gopher=True, lm_filter=True, para_dedup=True,
                fuzzy=True, redact=True,
            ).localCheckpoint()
            sp.rows_out = cur.count()
        with tr.span("spandedup", "span_dedup") as sp:
            sd = dm.spandedup.span_dedup(cur).localCheckpoint()
            sp.rows_out = sd.count()
        with tr.span("trainset", "decontaminate+pack_sequences") as sp:
            clean = dm.trainset.decontaminate(sd, evalset).localCheckpoint()
            docs = {r["doc_id"]: r["text"] for r in clean.collect()}
            packed = dm.trainset.pack_sequences(
                clean.withColumn("n_tokens", dm.functions.token_count("text")),
                max_len=MAX_LEN,
            ).collect()
            sp.rows_out = len(docs) + len(packed)
        return check(docs, packed, self.truth)


def check(docs: dict[int, str], packed: list, t: dict) -> list[str]:
    """Survivors and packing against the planted ground truth."""
    fails = []
    alive = set(docs)
    for g in t["exact_groups"]:
        if len(alive.intersection(g)) > 1:
            fails.append(f"exact group {g} has {len(alive & set(g))} survivors")
            break
    for p in t["near_pairs"]:
        if len(alive.intersection(p)) > 1:
            fails.append(f"near-duplicate pair {p} both survive")
            break
    bad = alive.intersection(t["low_quality"])
    if bad:
        fails.append(f"{len(bad)} low-quality documents survive")
    # A planted eval question may legitimately leave a document before
    # decontamination (span dedup cuts it from all but one carrier), so
    # the check is on the text: no survivor still carries one.
    n = sum(any(q in text for q in t["evals"]) for text in docs.values())
    if n:
        fails.append(f"{n} survivors still contain an eval question")
    for span in t["spans"]:
        n = sum(span in text for text in docs.values())
        if n > 1:
            fails.append(f"a shared span survives in {n} documents")
            break
    if any("@example.com" in text for text in docs.values()):
        fails.append("an e-mail address survives redaction")
    ids = [r["doc_id"] for r in packed]
    if sorted(ids) != sorted(alive):
        fails.append(f"packing placed {len(ids)} docs, {len(alive)} survive")
    bins: dict[int, int] = {}
    for r in packed:
        if not r["truncated"]:
            bins[r["bin_id"]] = bins.get(r["bin_id"], 0) + r["n_tokens"]
    over = [b for b, n in bins.items() if n > MAX_LEN]
    if over:
        fails.append(f"{len(over)} bins exceed {MAX_LEN} tokens")
    return fails

"""``serve``: a closed loop of single-query requests with one client, over
an index built through the write path.

Set-up first runs one curation pass over a separate crawl
(:mod:`wl_curate`), then ingests the served crawl into a versioned store:
``ingest_batch`` (exact, fuzzy and intra-batch dedup, bootstrapping the
snapshot pair) → survivors as docs version 0 → BM25 postings and stats
(``inverted_index``, ``index_stats``, ``term_stats``) and an IVF index
(``ivf_build``), each written as a committed version. The survivors must
be exactly the crawl's distinct documents. One operation is one round of
three single-query requests: BM25 top-k, IVF search and a hybrid
``rrf_fuse`` of the two; an untimed hybrid request ends set-up. Each
request's query text and vector come from a pool, picked by a Zipf draw so popular queries repeat. Each answer is
checked against the pool's exact answers over the distinct documents:
BM25 lists must match the Python reference (ties allowed to reorder), IVF
neighbours must carry their exact cosine in rank order with recall@10
against exact neighbours at least ``RECALL_FLOOR``, and fused scores must
follow the RRF formula over the two lists.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq

import gen_serve
import ref
import wl_curate
from common import dir_bytes, now

#: Distinct documents in the crawl.
SIZES = {"bench": 600, "tiny": 150}
KINDS = ("bm25", "ivf", "hybrid")
N_PROBE = 4
#: Lowest recall@10 an IVF answer may have.
RECALL_FLOOR = 0.5
QUERY_ID_BASE = 10**9


def generate(out_dir: str, seed: int, size: str) -> dict:
    meta = gen_serve.generate(out_dir, seed, SIZES[size])
    meta["shares"] = gen_serve.SHARES
    meta["curate"] = wl_curate.generate(os.path.join(out_dir, "curate"),
                                        seed, size)
    return meta


def check_survivors(kept: list[int], n_docs: int) -> list[str]:
    """Ingestion keeps exactly the distinct documents ``1..n_docs``."""
    dups = sum(d > n_docs for d in kept)
    lost = n_docs - (len(kept) - dups)
    if dups or lost:
        return [f"ingest: {lost} distinct docs dropped, "
                f"{dups} planted duplicates kept"]
    return []


def check_ivf(q: dict, rows, vecs: dict) -> tuple[list[str], float]:
    """IVF answer check: k neighbours, each with its exact cosine, in
    cosine order, and recall@k against the exact neighbours at least
    ``RECALL_FLOOR``. Returns (failures, recall)."""
    rows = sorted(rows, key=lambda r: r["rank"])
    if len(rows) != gen_serve.K:
        return [f"ivf: {len(rows)} neighbours, not {gen_serve.K}"], 0.0
    qv = np.asarray(q["vec"], np.float64)
    prev = None
    for r in rows:
        c = vecs.get(r["neighbor_id"])
        if c is None:
            return [f"ivf: unknown id {r['neighbor_id']}"], 0.0
        cos = float(qv @ c / (np.linalg.norm(qv) * np.linalg.norm(c)))
        if abs(cos - r["cosine"]) > 1e-9:
            return [f"ivf: cosine {r['cosine']} != exact {cos}"], 0.0
        if prev is not None and r["cosine"] > prev + 1e-12:
            return ["ivf: neighbours out of cosine order"], 0.0
        prev = r["cosine"]
    got = {r["neighbor_id"] for r in rows}
    recall = len(got & set(q["exact"])) / gen_serve.K
    if recall < RECALL_FLOOR:
        return [f"ivf: recall@{gen_serve.K} {recall} < {RECALL_FLOOR}"], recall
    return [], recall


def check_hybrid(q: dict, rows) -> list[str]:
    """Fused answer check: BM25-side hits are reference top-k hits, every
    score follows the RRF formula, and ranks follow the fused order."""
    bm = dict((int(d), s) for d, s in q["bm25"])
    n_ref = min(gen_serve.K, len(q["bm25"]))
    cut = q["bm25"][n_ref - 1][1]
    n_bm = n_vec = 0
    for r in rows:
        r1, r2 = r["rank_1"], r["rank_2"]
        n_bm += r1 is not None
        n_vec += r2 is not None
        if r1 is not None and bm.get(r["doc_id"], -1.0) < cut - 1e-6:
            return [f"hybrid: doc {r['doc_id']} is not a BM25 top-k hit"]
        want = ref.rrf([{0: r1} if r1 else {}, {0: r2} if r2 else {}])[0]
        if abs(want - r["rrf"]) > 1e-12:
            return [f"hybrid: rrf {r['rrf']} != {want}"]
    if n_bm != n_ref or n_vec != gen_serve.K:
        return [f"hybrid: fused {n_bm} BM25 and {n_vec} IVF hits"]
    order = sorted(rows, key=lambda r: (-r["rrf"], r["doc_id"]))
    if [r["rank"] for r in order] != list(range(1, len(rows) + 1)):
        return ["hybrid: fused ranks do not follow the RRF order"]
    return []


class Serve:
    #: set-up ends with the warm-up: one hybrid request, which runs both
    #: searches and so compiles every request plan
    warmup_ops = 0

    def __init__(self, ctx):
        self.ctx = ctx
        with open(os.path.join(ctx.inputs, "pool.json")) as f:
            self.pool = json.load(f)
        tab = pq.read_table(os.path.join(ctx.inputs, "crawl.parquet"),
                            columns=["doc_id", "embedding"])
        n = ctx.meta["docs"]
        self.vec = {d: np.asarray(v, np.float64)
                    for d, v in zip(tab["doc_id"].to_pylist(),
                                    tab["embedding"].to_pylist()) if d <= n}
        rng = np.random.default_rng(ctx.seed + 1)
        p = 1.0 / np.arange(1, len(self.pool) + 1) ** gen_serve.ZIPF_S
        self.order = rng.choice(len(self.pool), 100_000, p=p / p.sum())
        self.recall: list[float] = []
        self.lat: dict[str, list[float]] = {k: [] for k in KINDS}
        self.curate = wl_curate.Curate(SimpleNamespace(**{
            **vars(ctx), "inputs": os.path.join(ctx.inputs, "curate"),
            "meta": ctx.meta["curate"]}))

    def setup(self) -> list[str]:
        """Curate the curation crawl, then ingest the served crawl and
        build the served indexes; returns the checks' failures."""
        t = now()
        fails = self.curate.run()
        self.curate_s = now() - t
        fails += self._ingest()
        return fails + self._request("hybrid", QUERY_ID_BASE - 1,
                                     self.pool[int(self.order[-1])])

    def _ingest(self) -> list[str]:
        from pyspark.sql import functions as F

        ctx, dm, tr, spark = self.ctx, self.ctx.dm, self.ctx.tracer, self.ctx.spark
        vs = dm.versioned
        store = ctx.run.sub("store")

        def put(df, name: str):
            vs.write_table_version(df, f"{store}/{name}", 0)
            return vs.read_table_version(spark, f"{store}/{name}", 0)

        crawl = spark.read.parquet(os.path.join(ctx.inputs, "crawl.parquet"))
        with tr.span("dedup", "ingest_batch+write_snapshots") as sp:
            surv, snaps = dm.dedup.ingest_batch(crawl.select("doc_id", "text"))
            surv = surv.localCheckpoint()
            kept = [r["doc_id"] for r in surv.select("doc_id").collect()]
            dm.dedup.write_snapshots(snaps, f"{store}/snapshots")
            sp.rows_out = len(kept)
        with tr.span("sources", "write_table_version") as sp:
            docs = put(crawl.join(surv.select("doc_id"), "doc_id", "semi"), "docs")
            sp.rows_out = len(kept)
        with tr.span("retrieval", "inverted_index+index_stats+term_stats"):
            self.postings = put(dm.retrieval.inverted_index(docs), "postings")
            self.stats = put(dm.retrieval.index_stats(docs), "stats")
            self.dfreq = put(dm.retrieval.term_stats(self.postings), "dfreq")
        with tr.span("similarity", "ivf_build"):
            idx = dm.similarity.ivf_build(
                docs.select(F.col("doc_id").alias("vec_id"), "embedding"),
                n_clusters=gen_serve.N_CLUSTERS, seed=ctx.seed)
            self.ivf = dm.similarity.IvfIndex(
                put(idx.assigned, "ivf"), idx.centers, idx.n_clusters,
                idx.mean_fit_dist)
        self.store_ratio = dir_bytes(store) / ctx.meta["text_bytes"]
        return check_survivors(kept, ctx.meta["docs"])

    # -- requests ---------------------------------------------------------

    def _bm25(self, qid: int, q: dict):
        df = self.ctx.spark.createDataFrame(
            [(qid, q["text"])], "query_id long, query string")
        return self.ctx.dm.retrieval.bm25_topk(
            self.postings, df, self.stats, k=gen_serve.K, dfreq=self.dfreq)

    def _ivf(self, qid: int, q: dict):
        df = self.ctx.spark.createDataFrame(
            [(qid, q["vec"])], "vec_id long, embedding array<float>")
        return self.ctx.dm.similarity.ivf_search(
            df, self.ivf, k=gen_serve.K, n_probe=N_PROBE)

    def op(self, i: int) -> tuple[int, list[str]]:
        """One round: a BM25, an IVF and a hybrid request, each a separate
        single-query request with its own Zipf-drawn pool query."""
        fails = []
        for k, kind in enumerate(KINDS):
            n = len(KINDS) * i + k
            q = self.pool[int(self.order[n % len(self.order)])]
            t = now()
            fails += self._request(kind, QUERY_ID_BASE + n, q)
            if not self.ctx.tracer.enabled:
                self.lat[kind].append(now() - t)
        return len(KINDS), fails

    def _request(self, kind: str, qid: int, q: dict) -> list[str]:
        from pyspark.sql import functions as F

        tr = self.ctx.tracer
        if kind == "bm25":
            with tr.span("retrieval", "bm25_topk") as sp:
                rows = self._bm25(qid, q).collect()
                sp.rows_out = len(rows)
            got = [(r["doc_id"], float(r["bm25"]))
                   for r in sorted(rows, key=lambda r: r["rank"])]
            err = ref.check_topk(got, [tuple(x) for x in q["bm25"]], gen_serve.K)
            return [f"bm25: {err}"] if err else []
        if kind == "ivf":
            with tr.span("similarity", "ivf_search") as sp:
                rows = self._ivf(qid, q).collect()
                sp.rows_out = len(rows)
            return self._check_ivf(q, rows)
        # the fused plan runs both searches; it is attributed to retrieval,
        # which owns rrf_fuse
        with tr.span("retrieval", "bm25_topk+ivf_search+rrf_fuse") as sp:
            vec = self._ivf(qid, q).select(
                "query_id", F.col("neighbor_id").alias("doc_id"), "rank")
            rows = self.ctx.dm.retrieval.rrf_fuse(
                [self._bm25(qid, q), vec]).collect()
            sp.rows_out = len(rows)
        return check_hybrid(q, rows)

    def _check_ivf(self, q: dict, rows) -> list[str]:
        fails, recall = check_ivf(q, rows, self.vec)
        self.recall.append(recall)
        return fails

    def extras(self) -> dict:
        """Curation time, store size, per-request latencies of the timed,
        untraced rounds, and recall."""
        from common import timing_ms

        out = {"curate_s": (self.curate_s, "s", "one curation pass, cold"),
               "store_bytes_per_input_byte": (self.store_ratio, "ratio")}
        if self.recall:
            out["ivf_recall_at_10"] = (float(np.mean(self.recall)), "ratio",
                                       f"min {min(self.recall)}")
        every = [x for k in KINDS for x in self.lat[k]]
        if not every:
            return out
        allq = timing_ms(every)
        out |= {"query_p50_ms": (allq["p50_ms"], "ms"),
               "query_tail_ms": (allq["tail_ms"], "ms",
                                 f"{allq['tail']} of {allq['n']} requests")}
        for k in KINDS:
            if self.lat[k]:
                out[f"{k}_p50_ms"] = (timing_ms(self.lat[k])["p50_ms"], "ms")
        return out

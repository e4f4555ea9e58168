"""Independent correctness references: plain Python and numpy only.

Nothing here imports the program; each function recomputes an expected
answer from the generated inputs or their planted ground truth.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

# ---------------------------------------------------------------------------
# munge
# ---------------------------------------------------------------------------

#: The reference's 11 percentile points and CASE-ladder labels.
PERCENTILES = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 0.95, 0.99)
LABELS = ("10th", "20th", "30th", "40th", "50th", "60th", "70th", "80th",
          "90th", "95th", "99th", "99+th")


def munge_expected(npi: np.ndarray, hcpcs: np.ndarray, srvc: np.ndarray,
                   hcpcs_re: str, key_hex: str, pca_k: int) -> dict:
    valid_re = re.compile(hcpcs_re)
    valid_code = {c: bool(valid_re.search(c)) for c in set(hcpcs.tolist())}
    valid = np.array([valid_code[c] for c in hcpcs.tolist()])
    present = npi != ""
    invalid = Counter(hcpcs[~valid].tolist())

    # by-key sample: md5 prefix of the key, all-or-none per key
    keep = {k for k in set(npi[present].tolist())
            if hashlib.md5(k.encode()).hexdigest()[:2] <= key_hex}
    sampled = np.array([k in keep for k in npi.tolist()])
    key_rows = int(sampled.sum())
    key_sum = int(npi[sampled].astype(np.int64).sum())

    clean = valid & present
    codes, g = np.unique(hcpcs[clean], return_inverse=True)
    v = srvc[clean].astype(np.float64)
    order = np.lexsort((v, g))
    sv, sg = v[order], g[order]
    starts = np.searchsorted(sg, np.arange(len(codes)))
    ends = np.searchsorted(sg, np.arange(len(codes)), side="right")
    pct = np.empty((len(codes), len(PERCENTILES)))
    for gi, (s0, s1) in enumerate(zip(starts, ends)):
        vals = sv[s0:s1]
        for j, p in enumerate(PERCENTILES):
            pct[gi, j] = _percentile(vals, p)
    hit = v[:, None] <= pct[g]
    label = np.where(hit.any(axis=1), hit.argmax(axis=1), len(LABELS) - 1)
    buckets = Counter(LABELS[i] for i in label.tolist())
    prov, pi = np.unique(npi[clean], return_inverse=True)
    feats = np.zeros((len(prov), len(LABELS)))
    np.add.at(feats, (pi, label), 1.0)
    eig = np.sort(np.linalg.eigvalsh(np.cov(feats, rowvar=False)))[::-1]
    return {
        "rows": int(len(npi)),
        "invalid_counts": dict(sorted(invalid.items())),
        "invalid_rows": int((~valid).sum()),
        "empty_npi_rows": int((~present).sum()),
        "key_sample_rows": key_rows,
        "key_sample_keys": len(keep),
        "key_sample_npi_sum": key_sum,
        "clean_rows": int(clean.sum()),
        "bucket_counts": {k: int(v) for k, v in sorted(buckets.items())},
        "providers": int(feats.shape[0]),
        "pca_explained_variance": (eig[:pca_k] / eig.sum()).tolist(),
    }


def _percentile(sorted_vals: np.ndarray, p: float) -> float:
    """Exact percentile with Hive's linear interpolation between the two
    nearest ranks, ``(hi - pos) * v[lo] + (pos - lo) * v[hi]``."""
    pos = (len(sorted_vals) - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    a, b = sorted_vals[lo], sorted_vals[hi]
    if lo == hi or a == b:
        return float(a)
    return (hi - pos) * a + (pos - lo) * b


# ---------------------------------------------------------------------------
# BM25 (serve)
# ---------------------------------------------------------------------------


def terms(text: str) -> list[str]:
    """The program's documented tokenisation: lowercase, split on single
    spaces, drop empty tokens."""
    return [w for w in text.lower().split(" ") if w]


class Bm25:
    """Exact Lucene-style BM25 over an in-memory corpus. Each per-term
    contribution is rounded half-up to 7 decimals before summing, as the
    program's scores are."""

    def __init__(self, docs: dict[int, str], k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.post: dict[str, dict[int, int]] = {}
        self.dl: dict[int, int] = {}
        for did, text in docs.items():
            toks = terms(text)
            self.dl[did] = len(toks)
            for t, tf in Counter(toks).items():
                self.post.setdefault(t, {})[did] = tf
        self.n = len(docs)
        self.avgdl = sum(self.dl.values()) / self.n

    def scores(self, query: str) -> dict[int, float]:
        acc: dict[int, Decimal] = {}
        q7 = Decimal("0.0000001")
        for t in set(terms(query)):
            plist = self.post.get(t)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for did, tf in plist.items():
                tfn = (tf * (self.k1 + 1.0)) / (
                    tf + self.k1 * ((1.0 - self.b)
                                    + self.b * (self.dl[did] / self.avgdl)))
                c = Decimal(repr(idf * tfn)).quantize(q7, ROUND_HALF_UP)
                acc[did] = acc.get(did, Decimal(0)) + c
        return {d: float(s) for d, s in acc.items()}

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        s = self.scores(query)
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def check_topk(got: list[tuple[int, float]], ref: list[tuple[int, float]],
               k: int, tol: float = 1e-6) -> str | None:
    """Tie-aware top-k equality: the returned scores must equal the
    reference's k best scores position by position, and each returned id
    must carry that score in the reference. ``ref`` lists more than ``k``
    entries so ties across the cut can be checked."""
    want = ref[:k]
    if len(got) != len(want):
        return f"top-k size {len(got)} != {len(want)}"
    ref_score = dict(ref)
    for pos, ((gid, gs), (_rid, rs)) in enumerate(zip(got, want)):
        if abs(gs - rs) > tol:
            return f"rank {pos + 1}: score {gs} != reference {rs}"
        own = ref_score.get(gid)
        if own is None and gs > ref[-1][1] + tol:
            return f"rank {pos + 1}: id {gid} not in the reference ranking"
        if own is not None and abs(own - gs) > tol:
            return f"rank {pos + 1}: id {gid} scored {gs}, reference {own}"
    return None


def rrf(rankings: list[dict[int, int]], k: int = 60) -> dict[int, float]:
    """Reciprocal-rank fusion scores of id→rank maps."""
    out: dict[int, float] = {}
    for r in rankings:
        for did, rank in r.items():
            out[did] = out.get(did, 0.0) + 1.0 / (k + rank)
    return out

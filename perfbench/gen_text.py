"""Seeded synthetic text shared by the curate and serve generators.

Words come from a per-seed vocabulary with Zipf-distributed frequencies and
stopwords mixed in, so documents pass the Gopher quality rules unless a
generator deliberately breaks them.
"""

from __future__ import annotations

import numpy as np

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a",
             "in", "is", "it", "for", "on", "as", "was"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "bar",
              "den", "fil", "gor", "hun", "jas", "kel", "mor", "nix", "pal",
              "quo", "ren", "sul", "tor", "vek", "wil", "yan", "zor", "ph",
              "st", "tr", "an", "el", "or", "us"]


class Vocab:
    def __init__(self, rng: np.random.Generator, size: int = 6000,
                 zipf_s: float = 1.05):
        words: set[str] = set()
        while len(words) < size:
            n = int(rng.integers(2, 5))
            w = "".join(rng.choice(_SYLLABLES, n))
            if 3 <= len(w) <= 11 and w not in STOPWORDS:
                words.add(w)
        self.words = np.array(sorted(words))
        rng.shuffle(self.words)
        p = 1.0 / np.arange(1, size + 1) ** zipf_s
        self.p = p / p.sum()
        self.stop = np.array(STOPWORDS)

    def words_for(self, rng: np.random.Generator, n: int,
                  stop_share: float = 0.3) -> list[str]:
        content = self.words[rng.choice(len(self.words), n, p=self.p)]
        stops = self.stop[rng.integers(0, len(self.stop), n)]
        return list(np.where(rng.random(n) < stop_share, stops, content))

    def sentence_text(self, rng: np.random.Generator, n_words: int) -> str:
        """Words grouped into capitalised, full-stopped sentences."""
        words = self.words_for(rng, n_words)
        out, i = [], 0
        while i < len(words):
            k = int(rng.integers(6, 14))
            chunk = words[i:i + k]
            chunk[0] = chunk[0].capitalize()
            out.append(" ".join(chunk) + ".")
            i += k
        return " ".join(out)

    def paragraphs(self, rng: np.random.Generator, n_par: int,
                   lo: int = 25, hi: int = 45) -> list[str]:
        return [self.sentence_text(rng, int(rng.integers(lo, hi)))
                for _ in range(n_par)]


def perturb_words(rng: np.random.Generator, text: str, vocab: Vocab,
                  n_edits: int) -> str:
    """Replace ``n_edits`` words in place (a near-duplicate)."""
    words = text.split(" ")
    for pos in rng.choice(len(words), min(n_edits, len(words)), replace=False):
        words[pos] = str(vocab.words[rng.integers(0, len(vocab.words))])
    return " ".join(words)


def clustered_vectors(rng: np.random.Generator, n: int, dim: int,
                      n_clusters: int, spread: float = 0.35):
    """Gaussian clusters on the unit sphere (float32), with their labels."""
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, n)
    vecs = centers[labels] + rng.normal(scale=spread / np.sqrt(dim),
                                        size=(n, dim))
    return vecs.astype(np.float32), labels


def cosine_topk(corpus: np.ndarray, queries: np.ndarray, k: int):
    """Exact cosine top-k ids (ascending index breaks ties) per query."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ c.T
    order = np.lexsort((np.broadcast_to(np.arange(c.shape[0]), sims.shape),
                        -sims), axis=1)
    return order[:, :k], np.take_along_axis(sims, order[:, :k], axis=1)

"""Seeded input generators. Every array the program receives comes from
here, drawn from ``numpy.random.default_rng([seed, stream, index])`` so an
input depends only on the seed and its position, never on how many
operations a run managed to finish. ``digest`` fingerprints inputs so two
runs with the same seed can be shown to have received identical bytes."""

from __future__ import annotations

import hashlib

import numpy as np

# one stream id per kind of input, so adding a draw to one kind never
# shifts the values of another
BASE, CENTERS, QUERY, INSERT, DELETE, PROBES, DOCS = range(7)


def rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


def digest(*arrays) -> str:
    """sha256 over the raw bytes (plus dtype and shape) of ``arrays``."""
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(f"{a.dtype.str}{a.shape}".encode())
        h.update(a.tobytes())
    return h.hexdigest()[:16]


class VectorGen:
    """float32 vectors from a fixed mixture of Gaussian clusters: centres
    with per-coordinate spread ``center_scale``, unit noise around them."""

    def __init__(self, seed: int, dim: int, clusters: int, center_scale: float = 3.0):
        self.seed, self.dim = seed, dim
        self.centers = rng(seed, CENTERS).normal(0.0, center_scale, (clusters, dim)).astype(np.float32)

    def draw(self, r: np.random.Generator, n: int) -> np.ndarray:
        labels = r.integers(0, len(self.centers), n)
        noise = r.normal(0.0, 1.0, (n, self.dim)).astype(np.float32)
        return self.centers[labels] + noise

    def base(self, n: int) -> np.ndarray:
        return self.draw(rng(self.seed, BASE), n)

    def query(self, op: int) -> np.ndarray:
        return self.draw(rng(self.seed, QUERY, op), 1)[0]

    def insert(self, op: int, n: int) -> np.ndarray:
        return self.draw(rng(self.seed, INSERT, op), n)

    def probes(self, op: int, n: int, clusters: int) -> np.ndarray:
        """A batch of related queries: ``n`` vectors around ``clusters``
        seeded cluster centres."""
        r = rng(self.seed, PROBES, op)
        chosen = r.choice(len(self.centers), size=clusters, replace=False)
        labels = chosen[r.integers(0, clusters, n)]
        return self.centers[labels] + r.normal(0.0, 1.0, (n, self.dim)).astype(np.float32)

    def delete_ids(self, op: int, live_ids: np.ndarray, n: int) -> np.ndarray:
        """``n`` distinct ids drawn from ``live_ids`` (sorted, so the draw
        depends only on the live set, not on its order)."""
        pool = np.sort(live_ids)
        return rng(self.seed, DELETE, op).choice(pool, size=min(n, len(pool)), replace=False)


class DocGen:
    """Documents of Zipf-distributed words. From batch 1 on, a fixed share of
    each batch are near-copies of earlier documents (``subs`` random word
    substitutions); ``planted`` marks them."""

    def __init__(self, seed: int, vocab: int = 20_000, zipf_s: float = 1.1, length: tuple = (100, 141),
                 dup_share: float = 0.2, subs: int = 3):
        self.seed, self.length, self.dup_share, self.subs = seed, length, dup_share, subs
        w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** zipf_s
        self.cdf = np.cumsum(w / w.sum())
        self.docs: list[np.ndarray] = []  # word ids of every generated doc, by doc id

    def _words(self, r: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, r.random(n)), len(self.cdf) - 1).astype(np.int32)

    def batch(self, b: int, n: int):
        """Batch ``b`` (generate in order 0, 1, 2, ...): ``(ids, texts,
        planted)`` with ``planted`` a bool array of near-copy rows."""
        if b * n != len(self.docs):
            raise ValueError("batches must be generated in order with a fixed size")
        r = rng(self.seed, DOCS, b)
        n_dup = int(round(n * self.dup_share)) if b > 0 else 0
        planted = np.zeros(n, dtype=bool)
        planted[r.choice(n, size=n_dup, replace=False)] = True
        earlier = len(self.docs)
        for i in range(n):
            if planted[i]:
                words = self.docs[int(r.integers(0, earlier))].copy()
                pos = r.choice(len(words), size=self.subs, replace=False)
                words[pos] = self._words(r, self.subs)
            else:
                words = self._words(r, int(r.integers(*self.length)))
            self.docs.append(words)
        ids = np.arange(earlier, earlier + n, dtype=np.int64)
        texts = [" ".join(f"w{x}" for x in self.docs[i]) for i in ids]
        return ids, texts, planted

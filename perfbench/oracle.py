"""Independent reference computations for the benchmark's output checks.

Nothing here imports the program under test: each function restates
the documented method from its definition.

- ``hash_vector``: the deterministic local embedder's documented
  recipe (sha256 of ``task:text`` seeds NumPy's PCG64, standard normal
  draws, unit norm).
- ``l2_topk`` / ``maxsim_all``: NumPy exact k-NN (Euclidean) and
  late-interaction MaxSim (sum over query vectors of the best dot
  product, reported negated so ascending is best).
- ``Bm25``: pure-Python BM25 over the documented tokenizer (lowercase,
  split on ``[^a-z0-9]+``), k1=1.2, b=0.75, idf = ln((N - df + 0.5) /
  (df + 0.5) + 1), scores rounded to 6 decimals, ties by id ascending.
  Rounding a value that sits on a half-way point can differ from the
  engine's in the last decimal; the comparison tolerance covers it.
- ``rrf``: reciprocal rank fusion with k=60 over 0-based list
  positions (1 / (60 + position)), rounded to 6 decimals, ties by id
  ascending.
- ``compare_ranked``: result-list comparison that compares score
  multisets instead of ids where scores tie at the k-th place.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from typing import Callable, Hashable, Sequence

import numpy as np

TOKEN_SPLIT = re.compile("[^a-z0-9]+")
BM25_K1 = 1.2
BM25_B = 0.75
RRF_K = 60


def tokenize(text: str) -> list[str]:
    return [t for t in TOKEN_SPLIT.split(text.lower()) if t]


def hash_vector(text: str, dim: int, task: str) -> np.ndarray:
    digest = hashlib.sha256(f"{task}:{text}".encode()).digest()
    rng = np.random.default_rng(int.from_bytes(digest[:8], "big"))
    v = rng.standard_normal(dim)
    n = float(np.linalg.norm(v))
    return v / n if n else v


def ranked_by_distance(ids: np.ndarray, dist: np.ndarray, k: int) -> list[tuple]:
    """The k smallest distances as ``(id, distance)``, ties by id."""
    order = np.lexsort((ids, dist))[:k]
    return [(ids[i].item(), float(dist[i])) for i in order]


def l2_distances(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    diff = matrix.astype(np.float64) - np.asarray(q, dtype=np.float64)
    return np.sqrt(np.einsum("ij,ij->i", diff, diff))


def l2_topk(matrix: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[tuple]:
    """Exact k nearest rows by Euclidean distance, ``(id, distance)``
    ascending, ties by id."""
    return ranked_by_distance(ids, l2_distances(matrix, q), k)


def maxsim_all(flat: np.ndarray, offsets: np.ndarray, query: np.ndarray) -> np.ndarray:
    """Negated MaxSim of every document: ``flat`` stacks all
    documents' token vectors, ``offsets`` is each document's first
    row."""
    sims = flat @ np.asarray(query, dtype=np.float64).T  # tokens x query vectors
    return -np.maximum.reduceat(sims, offsets, axis=0).sum(axis=1)


class Bm25:
    """BM25 over an in-memory ``{id: text}`` corpus (ids must sort)."""

    def __init__(self, docs: dict[Hashable, str], k1: float = BM25_K1, b: float = BM25_B):
        self.k1, self.b = k1, b
        self.ids = list(docs)
        self.index = {d: i for i, d in enumerate(self.ids)}
        self.id_rank = np.empty(len(self.ids), dtype=np.int64)
        self.id_rank[sorted(range(len(self.ids)), key=self.ids.__getitem__)] = np.arange(len(self.ids))
        tokens = [tokenize(t) for t in docs.values()]
        dl = np.array([len(t) for t in tokens], dtype=np.float64)
        self.n = len(self.ids)
        self.avgdl = float(dl.mean()) if self.n else 0.0
        # per-document length normalisation k1 * (1 - b + b * dl / avgdl)
        self.norm = k1 * (1 - b + b * dl / self.avgdl) if self.n else dl
        postings: dict[str, tuple[list[int], list[int]]] = {}
        for i, toks in enumerate(tokens):
            for t, tf in Counter(toks).items():
                docs_tf = postings.setdefault(t, ([], []))
                docs_tf[0].append(i)
                docs_tf[1].append(tf)
        self.postings = {
            t: (np.array(d), np.array(f, dtype=np.float64)) for t, (d, f) in postings.items()
        }

    def idf(self, term: str) -> float:
        df = len(self.postings[term][0]) if term in self.postings else 0
        return math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)

    def _rounded(self, query: str) -> tuple[np.ndarray, np.ndarray]:
        """Scores of all documents (rounded to 6 decimals) and the
        indices of those matching any unique query term."""
        acc = np.zeros(self.n)
        hit = np.zeros(self.n, dtype=bool)
        for t in dict.fromkeys(tokenize(query)):
            if t not in self.postings:
                continue
            d, tf = self.postings[t]
            acc[d] += self.idf(t) * tf * (self.k1 + 1) / (tf + self.norm[d])
            hit[d] = True
        return np.round(acc, 6), np.flatnonzero(hit)

    def topk(self, query: str, k: int) -> tuple[list[tuple], Callable]:
        """The top k ``(id, score)``, score descending then id
        ascending, and a lookup of any id's score (None if unmatched)."""
        s, hit = self._rounded(query)
        order = hit[np.lexsort((self.id_rank[hit], -s[hit]))[:k]]
        matched = np.zeros(self.n, dtype=bool)
        matched[hit] = True

        def lookup(doc_id):
            i = self.index.get(doc_id)
            return float(s[i]) if i is not None and matched[i] else None

        return [(self.ids[i], float(s[i])) for i in order], lookup


def rrf(legs: Sequence[Sequence[Hashable]], k: int = RRF_K) -> dict[Hashable, float]:
    """Fused score of every id in any leg."""
    acc: dict[Hashable, float] = {}
    for leg in legs:
        for pos, uid in enumerate(leg):
            acc[uid] = acc.get(uid, 0.0) + 1.0 / (k + pos)
    return {u: round(s, 6) for u, s in acc.items()}


def rrf_topk(legs: Sequence[Sequence[Hashable]], topk: int, k: int = RRF_K) -> list[tuple]:
    fused = rrf(legs, k)
    return sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]


def compare_ranked(
    got: Sequence[tuple],
    want: Sequence[tuple],
    tol: float,
    truth: Callable[[Hashable], float | None] | None = None,
) -> str | None:
    """Check a ranked ``(id, score)`` list against the reference.

    Scores must match position by position within ``tol``. Ids must
    match as sets within each run of reference scores that tie (within
    ``tol``), except for the run that reaches the last place: there a
    tie may be cut anywhere, so only the score multiset is compared,
    and ``truth(id)`` (the reference score of any id) must confirm each
    returned id's score. Returns an error message or None."""
    if len(got) != len(want):
        return f"length {len(got)} != expected {len(want)}"
    for i, ((gid, gs), (wid, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > tol:
            return f"position {i + 1}: score {gs!r} ({gid!r}) != expected {ws!r} ({wid!r})"
    if len({g for g, _ in got}) != len(got):
        return "duplicate ids in result"
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[j - 1][1]) <= tol:
            j += 1
        if j < len(want):
            g = {x for x, _ in got[i:j]}
            w = {x for x, _ in want[i:j]}
            if g != w:
                return f"positions {i + 1}-{j}: ids {sorted(g)} != expected {sorted(w)}"
        elif truth is not None:
            for gid, gs in got[i:j]:
                ts = truth(gid)
                if ts is None or abs(ts - gs) > tol:
                    return f"id {gid!r} reported score {gs!r}, reference {ts!r}"
        i = j
    return None

"""Seeded input generator for the repository benchmark.

Everything the program under test receives is made here from one
``--seed``: the same seed gives byte-identical inputs.

- A fixed pseudo-word vocabulary (``VOCAB_SIZE`` words, independent of
  the seed) sampled with Zipf exponent ``ZIPF_S``: a few head words sit
  in most documents, the long tail gives BM25 selective postings.
- ``serve_corpus``: documents of 1-3 sentences. Every sentence is
  longer than half the chunker budget and shorter than the budget, and
  the chunk overlap is one character, so the regex chunker emits
  exactly one chunk per sentence — the expected chunk table is known
  without running the chunker.
- ``batch_corpus``: passages with Zipf text, a clustered dense vector
  (``BATCH_CLUSTERS`` Gaussian clusters) and a late-interaction
  multi-vector (3-6 token vectors drawn around ``TOKEN_CLUSTERS``
  token centres).
- Query sets drawn from the same distributions.
- ``ingest_inputs``: the traced write cycle's documents, a base corpus
  plus small batches in which some sentences carry a token planted for
  that batch. These inputs are fixed (they do not depend on
  ``--seed``), so the cycle's outcome repeats exactly on every run.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

VOCAB_SIZE = 20000
ZIPF_S = 1.1

# chunker budget for the serve corpus: sentences are (CHUNK_SIZE / 2,
# SENTENCE_MAX] characters long, so no two fit one chunk
CHUNK_SIZE = 240
CHUNK_OVERLAP = 1
SENTENCE_MIN = 130
SENTENCE_MAX = 230

# small corpora ingested untimed before the measured set-up (own streams)
PRIME_DOCS = 200
PRIME_PASSAGES = 500
PRIME_STREAM = 3

SERVE_DOCS = 2000
SERVE_DIM = 64

BATCH_PASSAGES = 16000
BATCH_DIM = 32
BATCH_CLUSTERS = 64
BATCH_NOISE = 0.35
MV_DIM = 16
TOKEN_CLUSTERS = 48
MV_NOISE = 0.3

# every query has the same shape, so the work per query varies only
# with which words / vectors the seed draws
QUERY_WORDS = 3
QUERY_TOKENS = 3

_ONSETS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _ONSETS for v in _VOWELS]


def vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase pseudo-words, rank order fixed.

    Word ``i`` spells ``i`` in base ``len(_SYLLABLES)`` with a leading
    syllable per digit, so every word is unique, alphabetic and one
    token under the engine's ``[^a-z0-9]+`` split."""
    base = len(_SYLLABLES)
    words = []
    for i in range(size):
        parts = [_SYLLABLES[i % base]]
        n = i // base
        while n:
            parts.append(_SYLLABLES[n % base])
            n //= base
        # two syllables minimum keeps head words from being 2 letters
        if len(parts) == 1:
            parts.append("x")
        words.append("".join(parts))
    return words


class ZipfWords:
    """Draws words with P(rank r) proportional to r ** -ZIPF_S."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB_SIZE) -> None:
        self.rng = rng
        self.words = vocabulary(size)
        p = np.arange(1, size + 1, dtype=np.float64) ** -ZIPF_S
        self.cdf = np.cumsum(p / p.sum())

    def draw(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        idx = np.minimum(idx, len(self.words) - 1)
        return [self.words[i] for i in idx]

    def sentence(self, first: str | None = None) -> str:
        """Words (after ``first``, if given) until the sentence is
        SENTENCE_MIN..SENTENCE_MAX characters long."""
        out: list[str] = [first] if first else []
        length = len(first) if first else -1
        while length < SENTENCE_MIN:
            w = self.draw(1)[0]
            if length + 1 + len(w) > SENTENCE_MAX:
                continue
            out.append(w)
            length += 1 + len(w)
        return " ".join(out)


@dataclass
class ServeInputs:
    docs: list[tuple[int, str]]
    # (uid, doc_id, text) of every chunk the program should produce
    chunks: list[tuple[str, int, str]]
    queries: list[str]
    warmup_queries: list[str]


def serve_corpus(
    seed: int, n_docs: int, n_queries: int, n_warmup: int, stream: int = 1
) -> ServeInputs:
    rng = np.random.default_rng([seed, stream])
    zw = ZipfWords(rng)
    docs, chunks = [], []
    for doc_id in range(n_docs):
        sentences = [zw.sentence() for _ in range(int(rng.integers(1, 4)))]
        docs.append((doc_id, ". ".join(sentences)))
        chunks.extend(
            (f"{doc_id}-{j}", doc_id, s) for j, s in enumerate(sentences)
        )

    def query() -> str:
        return " ".join(zw.draw(QUERY_WORDS))

    queries = [query() for _ in range(n_queries)]
    warmup = [query() for _ in range(n_warmup)]
    return ServeInputs(docs, chunks, queries, warmup)


@dataclass
class BatchInputs:
    pids: np.ndarray  # int64
    texts: list[str]
    vecs: np.ndarray  # float32 (n, BATCH_DIM)
    mvs: list[np.ndarray]  # float32 (n_tokens, MV_DIM) each
    centers: np.ndarray
    token_centers: np.ndarray
    rng: np.random.Generator

    def vector_queries(self, n: int) -> np.ndarray:
        c = self.rng.integers(0, len(self.centers), n)
        q = self.centers[c] + BATCH_NOISE * self.rng.standard_normal(
            (n, self.centers.shape[1])
        )
        return q.astype(np.float64)

    def multivec_queries(self, n: int) -> list[np.ndarray]:
        out = []
        for _ in range(n):
            t = self.rng.integers(0, len(self.token_centers), QUERY_TOKENS)
            out.append(
                self.token_centers[t]
                + MV_NOISE * self.rng.standard_normal((len(t), MV_DIM))
            )
        return out

    def keyword_queries(self, n: int) -> list[str]:
        zw = ZipfWords(self.rng)
        return [" ".join(zw.draw(QUERY_WORDS)) for _ in range(n)]


def batch_corpus(seed: int, n: int, stream: int = 2) -> BatchInputs:
    rng = np.random.default_rng([seed, stream])
    zw = ZipfWords(rng)
    texts = [" ".join(zw.draw(int(rng.integers(12, 31)))) for _ in range(n)]
    centers = rng.standard_normal((BATCH_CLUSTERS, BATCH_DIM))
    assign = rng.integers(0, BATCH_CLUSTERS, n)
    vecs = (
        centers[assign] + BATCH_NOISE * rng.standard_normal((n, BATCH_DIM))
    ).astype(np.float32)
    token_centers = rng.standard_normal((TOKEN_CLUSTERS, MV_DIM))
    mvs = []
    for _ in range(n):
        t = rng.integers(0, TOKEN_CLUSTERS, int(rng.integers(3, 7)))
        mvs.append(
            (token_centers[t] + MV_NOISE * rng.standard_normal((len(t), MV_DIM))).astype(
                np.float32
            )
        )
    return BatchInputs(
        np.arange(n, dtype=np.int64), texts, vecs, mvs, centers, token_centers, rng
    )


INGEST_SEED = 0
INGEST_STREAM = 4
INGEST_BASE_DOCS = 40
INGEST_BATCHES = 2
INGEST_BATCH_DOCS = 20


@dataclass
class IngestInputs:
    base: ServeInputs
    batches: list[ServeInputs]  # doc ids from 1000 * (batch + 1)
    planted: list[str]  # one token per batch, in every third document


def ingest_inputs() -> IngestInputs:
    base = serve_corpus(INGEST_SEED, INGEST_BASE_DOCS, 0, 0, stream=INGEST_STREAM)
    rng = np.random.default_rng([INGEST_SEED, INGEST_STREAM + 1])
    zw = ZipfWords(rng)
    batches, planted = [], []
    for b in range(INGEST_BATCHES):
        token = f"planted{b}"  # digits keep it out of the vocabulary
        docs, chunks = [], []
        for i in range(INGEST_BATCH_DOCS):
            doc_id = 1000 * (b + 1) + i
            n = int(rng.integers(1, 4))
            sentences = [zw.sentence(token if i % 3 == 0 and j == 0 else None) for j in range(n)]
            docs.append((doc_id, ". ".join(sentences)))
            chunks.extend((f"{doc_id}-{j}", doc_id, s) for j, s in enumerate(sentences))
        batches.append(ServeInputs(docs, chunks, [], []))
        planted.append(token)
    return IngestInputs(base, batches, planted)

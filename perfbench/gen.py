"""Seeded inputs for the MCP stdio benchmark: corpus, request streams and
the write_sync change set, all derived from one ``--seed``.

The server only ever sees what this module produces: corpus files on disk
and JSON-RPC requests. Everything the checks need (chunk counts per file,
the sentence behind every chunk) is known here before the server starts.

Corpus shape
  * a vocabulary of ``VOCAB`` synthetic words, more than
    ``HybridSearchServer.MAX_CACHED_TERMS`` (4,096); sentences draw
    Zipf-distributed words from all of it;
  * document lengths from one-chunk notes to one long document of
    ``long_chunks`` chunks, so neighbor frames are real windows;
  * one sentence per paragraph, every sentence >= 60 characters, and no
    two adjacent sentences whose pseudo embeddings would let the Max-Min
    chunker join them, so every sentence is exactly one chunk and the
    expected ``chunkCount`` is the sentence count.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

# corpus sizes per scale: ``full`` is the benchmark, ``tiny`` the smoke run
SCALES = {
    "full": {"notes": 300, "medium": 60, "long_chunks": 2000,
             "edits": 20, "adds": 10, "deletes": 10},
    "tiny": {"notes": 12, "medium": 3, "long_chunks": 40,
             "edits": 2, "adds": 2, "deletes": 2},
}
# the corpus (and its index build) depends on seed % CORPUS_VARIANTS, so
# the built tables can be cached per variant; every request stream and
# the write_mix change set use the whole seed
CORPUS_VARIANTS = 4

VOCAB = 12_000
ZIPF_S = 1.05
# the Max-Min chunker joins a lone sentence with the next one when
# 1.5 * cos > 0.6, i.e. cos > 0.4; keep a margin for the float32 vectors
MAX_ADJACENT_COS = 0.35
EMBED_DIM = 64  # RagEngine's default table dimension
MIN_SENTENCE_CHARS = 60
# query terms: 1-4 Zipf draws from the HEAD_WORDS most frequent words,
# which the sidecar's term cache holds after ~100 queries, plus one word
# drawn uniformly from the rest, which almost always misses it. A plain
# Zipf stream over the whole vocabulary keeps warming the cache for
# thousands of queries, so its latency falls through a run and a faster
# run would see a warmer cache.
HEAD_WORDS = 32

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch dr fl gr kr pl pr sh st th tr".split()
_VOWELS = "a e i o u ai ea io ou".split()
_CODAS = ["", "", "n", "r", "s", "l", "m", "x", "nd", "st"]


@dataclass
class Corpus:
    root: str
    # relative file name -> list of sentences (one chunk each)
    docs: dict[str, list[str]] = field(default_factory=dict)
    long_doc: str = ""

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def chunk_count(self) -> int:
        return sum(len(s) for s in self.docs.values())


class Generator:
    """One random stream over one corpus variant's vocabulary. Separate
    streams (corpus, reads, writes, edits) get separate generators, so
    how many reads a run consumes never shifts what it writes."""

    def __init__(self, stream: list[int], corpus_seed: int):
        self.rng = np.random.default_rng(stream)
        self.tag = "x".join(str(x) for x in stream)
        self.vocab = _make_vocab(np.random.default_rng([corpus_seed, 1]))
        self._cdf = _zipf_cdf(VOCAB)
        self._head_cdf = _zipf_cdf(HEAD_WORDS)

    # -- words and sentences ----------------------------------------------

    def words(self, n: int, cdf=None) -> list[str]:
        cdf = self._cdf if cdf is None else cdf
        idx = np.searchsorted(cdf, self.rng.random(n), side="right")
        return [self.vocab[min(int(i), len(cdf) - 1)] for i in idx]

    def query_terms(self) -> list[str]:
        head = self.words(int(self.rng.integers(1, 5)), self._head_cdf)
        return head + [self.vocab[int(self.rng.integers(HEAD_WORDS, VOCAB))]]

    def _sentence(self, prev_vec, extra: str = "") -> tuple[str, np.ndarray]:
        from mcp_local_rag_spark.embedder import pseudo_embed

        while True:
            n = int(self.rng.integers(9, 15))
            body = self.words(n)
            if extra:
                body.insert(int(self.rng.integers(0, n)), extra)
            s = " ".join(body).capitalize() + "."
            if len(s) < MIN_SENTENCE_CHARS:
                continue
            v = np.asarray(pseudo_embed(s, EMBED_DIM), dtype=np.float64)
            if prev_vec is None or float(v @ prev_vec) <= MAX_ADJACENT_COS:
                return s, v

    def sentences(self, n: int, extra: str = "") -> list[str]:
        out, prev = [], None
        for _ in range(n):
            s, prev = self._sentence(prev, extra)
            out.append(s)
        return out

    # -- corpus -------------------------------------------------------------

    def corpus(
        self, root: str, *, notes: int, medium: int, long_chunks: int
    ) -> Corpus:
        """``notes`` one-chunk files, ``medium`` files of 2-60 chunks
        (log-uniform) and one file of ``long_chunks`` chunks."""
        c = Corpus(root=root)
        for i in range(notes):
            c.docs[f"notes/note_{i:05d}.txt"] = self.sentences(1)
        for i in range(medium):
            n = int(round(np.exp(self.rng.uniform(np.log(2), np.log(60)))))
            c.docs[f"docs/doc_{i:04d}.txt"] = self.sentences(n)
        c.long_doc = "long/handbook.txt"
        c.docs[c.long_doc] = self.sentences(long_chunks)
        return c

    def edit_corpus(self, c: Corpus, *, edits: int, adds: int, deletes: int) -> None:
        """The write_sync change set, applied to ``c`` in memory
        (``write_corpus`` puts it on disk). The long document is left
        alone so the re-sync cost tracks the change set, not one file."""
        names = sorted(n for n in c.docs if n != c.long_doc)
        picked = self.rng.choice(len(names), size=edits + deletes, replace=False)
        for j in picked[:edits]:
            name = names[int(j)]
            c.docs[name] = self.sentences(int(self.rng.integers(1, 12)))
        for j in picked[edits:]:
            del c.docs[names[int(j)]]
        for i in range(adds):
            c.docs[f"added/add_{i:04d}.txt"] = self.sentences(
                int(self.rng.integers(1, 12))
            )

    # -- request streams ---------------------------------------------------

    def queries(self, c: Corpus, *, limit: int = 10):
        """Endless query_documents requests. One query in eight is a
        known-answer query: the exact text of a stored chunk, whose own
        row must rank first (distance 0). The read_chunk_neighbors call
        that follows each query is built from its answer (``run.py``)."""
        names = sorted(c.docs)
        i = 0
        while True:
            if i % 8 == 7:
                name = names[int(self.rng.integers(len(names)))]
                k = int(self.rng.integers(len(c.docs[name])))
                yield {
                    "args": {"query": c.docs[name][k], "limit": limit},
                    "expect_top": (c.path(name), k),
                }
            else:
                yield {"args": {"query": " ".join(self.query_terms()), "limit": limit}}
            i += 1

    def raw_source(self, i: int) -> tuple[str, list[str]]:
        """An ingest_data item: a source name and its sentences, each
        carrying a token no corpus word can equal (corpus words are
        letters only)."""
        token = f"tok{self.tag}n{i}"
        return f"bench://source/{self.tag}/{i}", self.sentences(
            int(self.rng.integers(1, 4)), extra=token
        )


def corpus_for(corpus_seed: int, root: str, scale: str) -> Corpus:
    """The corpus of one variant, identical on every call."""
    p = SCALES[scale]
    return Generator([corpus_seed, 0], corpus_seed).corpus(
        root, notes=p["notes"], medium=p["medium"], long_chunks=p["long_chunks"]
    )


def stale_source(corpus_seed: int) -> tuple[str, list[str]]:
    """The ingest_data item the stale table was left lagging on."""
    return Generator([corpus_seed, 9], corpus_seed).raw_source(0)


def write_corpus(c: Corpus) -> None:
    """Materialise ``c`` under its root: write every file, remove files
    no longer in it (the phase-3 deletes)."""
    want = {c.path(n) for n in c.docs}
    for dirpath, _, files in os.walk(c.root):
        for f in files:
            p = os.path.join(dirpath, f)
            if p not in want:
                os.remove(p)
    for name, sents in c.docs.items():
        p = c.path(name)
        text = "\n\n".join(sents) + "\n"
        try:
            with open(p, encoding="utf-8") as fh:
                if fh.read() == text:
                    continue
        except FileNotFoundError:
            os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "w", encoding="utf-8") as fh:
            fh.write(text)


def _zipf_cdf(n: int) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -ZIPF_S
    return np.cumsum(w / w.sum())


def _make_vocab(rng) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < VOCAB:
        n_syl = int(rng.integers(2, 4))
        w = "".join(
            _ONSETS[int(rng.integers(len(_ONSETS)))]
            + _VOWELS[int(rng.integers(len(_VOWELS)))]
            for _ in range(n_syl)
        ) + _CODAS[int(rng.integers(len(_CODAS)))]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out

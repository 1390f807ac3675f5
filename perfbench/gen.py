"""Seeded input generator for the benchmark (NumPy + pyarrow, no Spark).

Everything the program under test receives is written here, before any
timer starts, and depends only on ``(seed, sizes)``:

* a crawl-order corpus: Zipf(1.2) head words shared by every host, plus a
  host-windowed tail vocabulary so rare terms sit in a few contiguous
  doc-id runs (the shape real crawls have and the WAND doc-range pruning
  is built for);
* query streams of 2-4 head words (on a schedule shared by all seeds)
  plus one tail term that occurs in the corpus, distinct within a stream;
* 64-d passage vectors, two passages per document, and one vector per
  query.

The corpus is kept in memory as token-id arrays as well, so the NumPy
oracles in :mod:`perfbench.oracle` need no re-tokenization.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_HEAD = 40
N_TAIL = 20_000
HOST_PAGES = 250
HOST_WINDOW = 2000
HOST_STEP = 37
ZIPF_S = 1.2
DOC_LEN = (20, 121)  # [low, high) tokens per document
DIM = 64
PASSAGES_PER_DOC = 2

VOCAB = np.array(
    [f"w{i}" for i in range(N_HEAD)] + [f"t{i}" for i in range(N_TAIL)],
    dtype=object,
)


@dataclass
class Corpus:
    """Documents ``first_id .. first_id + n - 1`` as token-id runs."""

    first_id: int
    offsets: np.ndarray  # int64, len n + 1, into ``tokens``
    tokens: np.ndarray   # int32 vocabulary ids

    @property
    def n(self) -> int:
        return len(self.offsets) - 1

    @property
    def doc_ids(self) -> np.ndarray:
        return np.arange(self.first_id, self.first_id + self.n, dtype=np.int64)

    def texts(self) -> list[str]:
        words = VOCAB[self.tokens]
        o = self.offsets
        return [" ".join(words[o[i]:o[i + 1]]) for i in range(self.n)]

    def text_bytes(self) -> int:
        lens = np.char.str_len(VOCAB.astype(str))[self.tokens]
        # one separator between consecutive tokens of a document
        return int(lens.sum() + (self.tokens.size - self.n))


def make_corpus(rng: np.random.Generator, first_id: int, n: int) -> Corpus:
    ranks = np.arange(1, N_HEAD + N_TAIL + 1, dtype=np.float64)
    cum = np.cumsum(ranks**-ZIPF_S)
    cum /= cum[-1]
    lens = rng.integers(DOC_LEN[0], DOC_LEN[1], size=n)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    idx = np.searchsorted(cum, rng.random(int(offsets[-1])), side="right")
    idx = np.minimum(idx, N_HEAD + N_TAIL - 1)
    doc = np.repeat(np.arange(first_id, first_id + n), lens)
    host = doc // HOST_PAGES
    w0 = (host * HOST_STEP) % (N_TAIL - HOST_WINDOW)
    tail = idx >= N_HEAD
    idx = np.where(tail, N_HEAD + w0 + (idx - N_HEAD) % HOST_WINDOW, idx)
    return Corpus(first_id, offsets, idx.astype(np.int32))


#: the head words of the i-th query follow one schedule for every seed, so
#: the few timed requests of a run always have the same mix of query
#: shapes; the seed picks the corpus and each query's tail term
HEAD_SCHEDULE_SEED = 20240501


def make_queries(
    rng: np.random.Generator, corpus: Corpus, n: int, prefix: str
) -> list[tuple[str, str]]:
    """``n`` distinct (q_id, query) pairs: 2-4 head words from the fixed
    schedule + 1 tail term drawn from a random corpus token, so every query
    has matches."""
    heads_rng = np.random.default_rng(HEAD_SCHEDULE_SEED)
    tail_pool = corpus.tokens[corpus.tokens >= N_HEAD]
    seen: set[str] = set()
    out: list[tuple[str, str]] = []
    while len(out) < n:
        heads = heads_rng.choice(N_HEAD, size=int(heads_rng.integers(2, 5)), replace=False)
        tail = int(tail_pool[rng.integers(0, tail_pool.size)])
        words = [VOCAB[h] for h in sorted(heads)] + [VOCAB[tail]]
        text = " ".join(words)
        if text in seen:
            continue
        seen.add(text)
        out.append((f"{prefix}{len(out)}", text))
    return out


def make_vectors(rng: np.random.Generator, n_rows: int) -> np.ndarray:
    return rng.standard_normal((n_rows, DIM), dtype=np.float32)


def write_corpus(corpus: Corpus, path: str) -> str:
    table = pa.table({
        "doc_id": pa.array(corpus.doc_ids, pa.int64()),
        "text": pa.array(corpus.texts(), pa.string()),
    })
    pq.write_table(table, path)
    return path


def passage_vectors(rng: np.random.Generator, corpus: Corpus) -> np.ndarray:
    """(n_docs * PASSAGES_PER_DOC, DIM); row ``i`` belongs to doc
    ``first_id + i // PASSAGES_PER_DOC``."""
    return make_vectors(rng, corpus.n * PASSAGES_PER_DOC)


def write_vectors(corpus: Corpus, vecs: np.ndarray, path: str) -> str:
    """The vector table in the program's index schema
    (vec_idx, doc_id, psg_id, vector)."""
    n = vecs.shape[0]
    doc = np.repeat(corpus.doc_ids, PASSAGES_PER_DOC).astype(str)
    psg = np.tile(np.arange(PASSAGES_PER_DOC), corpus.n).astype(str)
    table = pa.table({
        "vec_idx": pa.array(np.arange(n, dtype=np.int64)),
        "doc_id": pa.array(doc.tolist(), pa.string()),
        "psg_id": pa.array(np.char.add(np.char.add(doc, "_"), psg).tolist(), pa.string()),
        "vector": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1), pa.float32()), DIM
        ).cast(pa.list_(pa.float32())),
    })
    pq.write_table(table, path)
    return path


def seeded(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream name)."""
    key = [int(seed) % 2**64] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))

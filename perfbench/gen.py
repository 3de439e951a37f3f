"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and its size parameters and
writes plain parquet files that the library then reads; the seed never
reaches the library. Each generator
also returns the ground truth the output checks need (which rows were
planted as duplicates). The same seed and parameters give byte-identical
files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB_SIZE = 4000
_ZIPF_S = 1.1
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def vocabulary() -> list[str]:
    """The fixed Zipf vocabulary: distinct 2-4 syllable words, ranked.
    Independent of the workload seed, so every seed draws from the same
    language."""
    rng = np.random.RandomState(12345)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < _VOCAB_SIZE:
        n = rng.randint(2, 5)
        w = "".join(_SYLLABLES[i] for i in rng.randint(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_probs(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** _ZIPF_S
    return p / p.sum()


def jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    return len(sa & sb) / len(sa | sb)


def _write_parquet_parts(rows: dict, out_dir: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files of contiguous ranges,
    so the scan has one split per file."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(next(iter(rows.values())))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    table = pa.table(rows)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))


# --------------------------------------------------------------- curate_text
def text_corpus(
    seed: int,
    out_dir: str,
    n_docs: int,
    exact_dup_share: float,
    near_dup_share: float,
    boilerplate_share: float,
    n_boilerplate: int = 4,
    boilerplate_len: int = 12,
    min_len: int = 40,
    max_len: int = 160,
    n_files: int = 4,
) -> dict:
    """Write a ``(doc_id, text, source)`` parquet corpus.

    Base documents are Zipf draws; a ``boilerplate_share`` of them carry
    one of ``n_boilerplate`` shared token spans. Then ``exact_dup_share``
    of ``n_docs`` are verbatim copies and ``near_dup_share`` are 1-2
    token edits with word-set Jaccard >= 0.9 of a base document. Every
    copy has a larger ``doc_id`` than its source, so keep-first dedup by
    ``doc_id`` keeps the source.
    """
    rng = np.random.RandomState(seed)
    vocab = vocabulary()
    probs = _zipf_probs(len(vocab))
    n_exact = int(round(n_docs * exact_dup_share))
    n_near = int(round(n_docs * near_dup_share))
    n_base = n_docs - n_exact - n_near
    spans = [
        " ".join(vocab[i] for i in rng.choice(len(vocab), boilerplate_len, p=probs))
        for _ in range(n_boilerplate)
    ]
    texts: list[str] = []
    base_set: set[str] = set()
    while len(texts) < n_base:
        length = rng.randint(min_len, max_len + 1)
        toks = [vocab[i] for i in rng.choice(len(vocab), length, p=probs)]
        if rng.rand() < boilerplate_share:
            pos = rng.randint(0, length + 1)
            toks[pos:pos] = [spans[rng.randint(n_boilerplate)]]
        text = " ".join(toks)
        if text not in base_set:
            base_set.add(text)
            texts.append(text)
    exact_ids: list[int] = []
    near_ids: list[int] = []
    for _ in range(n_exact):
        exact_ids.append(len(texts))
        texts.append(texts[rng.randint(n_base)])
    while len(near_ids) < n_near:
        src = texts[rng.randint(n_base)]
        toks = src.split()
        for _ in range(rng.randint(1, 3)):
            toks[rng.randint(len(toks))] = vocab[rng.randint(len(vocab))]
        text = " ".join(toks)
        if text not in base_set and jaccard(src, text) >= 0.9:
            base_set.add(text)
            near_ids.append(len(texts))
            texts.append(text)
    _write_parquet_parts(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "source": pa.array([f"src{i % 7}" for i in range(len(texts))]),
        },
        out_dir,
        n_files,
    )
    return {
        "n_docs": len(texts),
        "exact_dup_ids": exact_ids,
        "near_dup_ids": near_ids,
        "texts": texts,
    }


# ----------------------------------------------------------- semantic_ingest
class VectorStream:
    """Clustered embedding vectors for the closed-loop ingest.

    Vectors are ``center + U(-0.5, 0.5)^dim`` around ``n_clusters`` unit
    centers, so fresh vectors sit far below the dedup threshold of each
    other (cosine ~0.2), and bounded noise keeps appended rows inside
    the base corpus's per-dimension range. A planted duplicate is an
    already-accepted vector plus ``U(-0.01, 0.01)^dim`` (cosine > 0.99).
    """

    def __init__(self, seed: int, dim: int = 64, n_clusters: int = 16) -> None:
        self.rng = np.random.RandomState(seed)
        c = self.rng.normal(size=(n_clusters, dim))
        self.centers = c / np.linalg.norm(c, axis=1, keepdims=True)
        self.dim = dim
        self.accepted: list[np.ndarray] = []
        self.next_id = 0

    def _fresh(self, n: int) -> np.ndarray:
        cl = self.rng.randint(len(self.centers), size=n)
        return self.centers[cl] + self.rng.uniform(-0.5, 0.5, (n, self.dim))

    def base(self, n: int) -> tuple[np.ndarray, np.ndarray]:
        """``n`` fresh vectors, all expected to be accepted."""
        vecs = self._fresh(n)
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        self.accepted.extend(vecs)
        return ids, vecs

    def batch(self, n: int, dup_share: float) -> tuple[np.ndarray, np.ndarray, set[int]]:
        """One file's rows: ``dup_share`` of them near-copies of
        accepted vectors (their ids are returned), the rest fresh and
        appended to the accepted set."""
        n_dup = int(round(n * dup_share))
        src = self.rng.randint(len(self.accepted), size=n_dup)
        dups = np.stack([self.accepted[i] for i in src]) + self.rng.uniform(
            -0.01, 0.01, (n_dup, self.dim)
        )
        fresh = self._fresh(n - n_dup)
        vecs = np.concatenate([fresh, dups])
        order = self.rng.permutation(n)
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        vecs = vecs[order]
        is_dup = order >= n - n_dup
        self.accepted.extend(vecs[~is_dup])
        return ids, vecs, set(ids[is_dup].tolist())


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    """One parquet file of ``(vec_id long, embedding array<float>)``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs],
                pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(table, path)

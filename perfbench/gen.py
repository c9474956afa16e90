"""Seeded input generators. The same seed always gives the same inputs.

Every generator takes the benchmark seed as an argument; the program
under test only ever sees the files the benchmark stages from them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Reference scale of the paper's job: 4,810 award rows, and 91,200
#: tracks at ~1.25 rows per track, so ~114k spotify rows.
AWARDS = 4810
TRACKS = 91_200

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]

#: Corpus shape: share of planted near-duplicates and of junk documents,
#: embedding dimension, embedding clusters, vocabulary size.
DUP_FRAC = 0.12
JUNK_FRAC = 0.04
DIM = 32
CLUSTERS = 16
VOCAB = 4000


def grammy_spotify(seed: int, n_awards: int = AWARDS, n_tracks: int = TRACKS):
    """(grammy, spotify) pandas frames from the repo's seeded fixture
    generators, both seeded from ``seed``."""
    from tests.fixtures_grammy import make_grammy, make_spotify

    return (
        make_grammy(n=n_awards, seed=2 * seed + 1),
        make_spotify(n_tracks=n_tracks, seed=2 * seed + 2),
    )


def write_csv(frame: pd.DataFrame, out) -> None:
    """Write ``frame`` as a headered CSV to a path or a binary file.
    Empty strings and NULLs both become empty fields, as with
    ``DataFrame.to_csv``."""
    pacsv.write_csv(pa.Table.from_pandas(frame.replace("", None), preserve_index=False), out)


class Corpus:
    """A synthetic LLM-training corpus with known structure.

    * ``texts``: Zipf-distributed words plus stopwords, 30-70 tokens.
    * ``junk``: ids of short punctuation-heavy documents that the quality
      gate is expected to drop.
    * ``planted``: (original, copy) pairs where the copy differs from the
      original in one token; their 3-shingle Jaccard is about 0.9.
    * ``vectors``: unit-scale embeddings around ``CLUSTERS`` centres; a
      copy's vector is its original's plus small noise.
    """

    def __init__(self, seed: int, n_docs: int):
        rng = np.random.default_rng(seed)
        vocab, dim, n_clusters = VOCAB, DIM, CLUSTERS
        words = np.array([f"w{i}" for i in range(vocab)])
        p = 1.0 / np.arange(1, vocab + 1) ** 1.05
        p /= p.sum()
        n_dup = int(n_docs * DUP_FRAC)
        n_junk = int(n_docs * JUNK_FRAC)
        n_orig = n_docs - n_dup - n_junk
        centres = rng.normal(size=(n_clusters, dim))
        texts: list[str] = []
        vecs = np.empty((n_docs, dim))
        for i in range(n_orig):
            length = int(rng.integers(30, 71))
            toks = words[rng.choice(vocab, size=length, p=p)]
            sw = rng.random(length) < 0.15
            toks[sw] = rng.choice(STOPWORDS, size=int(sw.sum()))
            texts.append(" ".join(toks))
            vecs[i] = centres[rng.integers(n_clusters)] + 0.35 * rng.normal(size=dim)
        originals = rng.choice(n_orig, size=n_dup, replace=False)
        for j, o in enumerate(originals):
            toks = texts[o].split(" ")
            toks[int(rng.integers(len(toks)))] = f"edit{seed}x{j}"
            texts.append(" ".join(toks))
            vecs[n_orig + j] = vecs[o] + 0.01 * rng.normal(size=dim)
        for j in range(n_junk):
            texts.append("!! ?? -- " * int(rng.integers(1, 4)) + f"x{j}")
            vecs[n_orig + n_dup + j] = rng.normal(size=dim)
        # shuffled ids, so originals, copies and junk land in every epoch slice
        self.ids = rng.permutation(n_docs).astype(np.int64)
        ids = self.ids
        self.planted = sorted(
            tuple(sorted((int(ids[o]), int(ids[n_orig + j])))) for j, o in enumerate(originals)
        )
        self.junk = {int(ids[j]) for j in range(n_orig + n_dup, n_docs)}
        self.texts = texts
        self.vectors = vecs
        self.centroids = _kmeans(vecs, n_clusters, rng)

    def text_of(self) -> dict[int, str]:
        return {int(i): t for i, t in zip(self.ids, self.texts)}

    def vector_of(self) -> dict[int, np.ndarray]:
        return {int(i): v for i, v in zip(self.ids, self.vectors)}

    def write_parquet(self, path: str) -> None:
        """Stage (doc_id, text, embedding) as one parquet file."""
        table = pa.table({
            "doc_id": pa.array(self.ids, pa.int64()),
            "text": pa.array(self.texts, pa.string()),
            "embedding": pa.array(list(self.vectors), pa.list_(pa.float64())),
        })
        pq.write_table(table, path)


def _kmeans(x: np.ndarray, k: int, rng: np.random.Generator, iters: int = 8) -> list[tuple[int, list[float]]]:
    """Seeded Lloyd iterations; the IVF coarse quantizer the index is
    saved with, in ``(centroid_id, vector)`` form."""
    c = x[rng.choice(len(x), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        a = d.argmin(1)
        for j in range(k):
            if (a == j).any():
                c[j] = x[a == j].mean(0)
    return [(j, [float(v) for v in c[j]]) for j in range(k)]

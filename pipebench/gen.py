"""Seeded input generator for the pipeline benchmark.

Everything the benchmark feeds the package is built here from one
integer seed: the same seed gives byte-identical inputs. Two input
sets exist, one per workload:

- :func:`write_curation_corpus` -- a near-duplicate-heavy document and
  vector corpus: every base document gets sibling copies whose
  perturbation (word swap, word drop or appended tag) the seed picks.
- :func:`serve_inputs` -- the document/vector halves a serving store is
  built from, the micro-batch slices ingested later, and the query
  vectors and term pairs the reads probe with.

The curation and serving corpora share one fixed base
(:data:`BASE_SEED`) and the seed picks what varies on top of it --
perturbations, micro-batch membership and queries -- so that a pass's
cost does not swing with cell or posting-list sizes that a new base
corpus would redraw. All
arrays come from ``numpy.random.default_rng``; files are written with
pyarrow, one file per table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMB_DIM = 64
N_LABELS = 10

_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

#: seed of the base corpora the curation and serving inputs vary
BASE_SEED = 0


def vocabulary(size: int = 600) -> list[str]:
    """Fixed synthetic vocabulary (seed-independent): consonant-vowel
    syllable pairs and triples, so every word is a distinct lowercase
    token with no spaces."""
    cons = "bcdfghklmnprstvz"
    vows = "aeiou"
    syl = [c + v for c in cons for v in vows]
    words: list[str] = []
    for a in syl:
        for b in syl:
            words.append(a + b)
            if len(words) == size:
                return words
    return words


#: vocabulary ranks query terms come from: frequent enough to match
#: many documents, rare enough that postings stay a small share
MID_RANKS = range(20, 40)

_VOCAB = vocabulary()
_ZIPF_P = 1.0 / np.arange(1, len(_VOCAB) + 1)
_ZIPF_P = _ZIPF_P / _ZIPF_P.sum()


def _texts(rng, n: int, min_words: int = 8, max_words: int = 90) -> list[str]:
    lens = rng.integers(min_words, max_words + 1, n)
    words = rng.choice(len(_VOCAB), size=int(lens.sum()), p=_ZIPF_P)
    vocab = np.array(_VOCAB, dtype=object)[words]
    out = []
    pos = 0
    for ln in lens:
        out.append(" ".join(vocab[pos:pos + ln]))
        pos += ln
    return out


def _documents(rng, n: int) -> pa.Table:
    texts = _texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in ids.tolist()]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _vectors(rng, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Isotropic unit vectors with an unrelated 0..9 label, the shape
    of the reference ``embeddings`` table: distinct rows are nearly
    orthogonal, so only deliberate siblings come out as near
    duplicates."""
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    return vecs.astype(np.float32), labels.astype(np.int32)


def _embeddings(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_curation_corpus(
    out_dir: str, seed: int, base_docs: int, base_vecs: int, copies: int
) -> dict[str, int]:
    """Write ``documents.parquet`` and ``embeddings.parquet`` holding
    ``base_docs * copies`` documents and ``base_vecs * copies`` vectors.
    Copy 0 of each base row is the original; copies 1.. are near
    duplicates whose perturbation the seed picks: one word replaced,
    one word dropped, or a tag token appended (documents), and a
    small seeded jitter (vectors). The base rows come from
    :data:`BASE_SEED`. Returns the row counts."""
    base_rng = np.random.default_rng([BASE_SEED, 2])
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    base = _texts(base_rng, base_docs)
    texts: list[str] = list(base)
    kinds = rng.integers(0, 3, (copies - 1, base_docs))
    picks = rng.random((copies - 1, base_docs))
    new_words = rng.choice(len(_VOCAB), size=(copies - 1, base_docs), p=_ZIPF_P)
    for c in range(1, copies):
        for i, text in enumerate(base):
            words = text.split(" ")
            at = int(picks[c - 1, i] * len(words))
            kind = kinds[c - 1, i]
            if kind == 0:
                words[at] = _VOCAB[new_words[c - 1, i]]
            elif kind == 1 and len(words) > 1:
                del words[at]
            else:
                words.append(f"tag{c}")
            texts.append(" ".join(words))
    n = len(texts)
    ids = np.arange(n, dtype=np.int64)
    docs = pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(_LANGS)[base_rng.choice(5, n, p=_LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    vecs, labels = _vectors(base_rng, base_vecs)
    jitter = rng.normal(0.0, 0.02, ((copies - 1) * base_vecs, EMB_DIM))
    sib = np.tile(vecs, (copies - 1, 1)) + jitter
    sib /= np.linalg.norm(sib, axis=1, keepdims=True)
    all_vecs = np.concatenate([vecs, sib.astype(np.float32)])
    all_labels = np.tile(labels, copies)
    emb = _embeddings(np.arange(len(all_vecs)), all_vecs, all_labels)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": docs.num_rows, "embeddings": emb.num_rows}


@dataclass
class ServeInputs:
    """Inputs of the serving workload: the base half the stores are
    built from, the ingest slices, and the read probes."""

    base_docs: pa.Table
    base_vecs: pa.Table
    doc_slices: list[pa.Table]
    vec_slices: list[pa.Table]
    query_vecs: list[list[float]]
    term_pairs: list[list[str]]


def serve_inputs(
    seed: int, n_slices: int, n_queries: int,
    n_docs: int = N_DOCUMENTS, n_vecs: int = N_EMBEDDINGS,
) -> ServeInputs:
    """Split an sf0.1 documents/embeddings pair (from :data:`BASE_SEED`)
    in half: the first half builds the stores, the second half is
    shuffled by the seed and cut into ``n_slices`` equal micro-batches.
    Query vectors are seeded jitters of corpus vectors; term pairs are
    two distinct words from :data:`MID_RANKS`."""
    base_rng = np.random.default_rng([BASE_SEED, 3])
    rng = np.random.default_rng([seed, 3])
    docs = _documents(base_rng, n_docs)
    vecs, labels = _vectors(base_rng, n_vecs)
    emb = _embeddings(np.arange(n_vecs), vecs, labels)
    half_d, half_v = n_docs // 2, n_vecs // 2
    d_rows = half_d + rng.permutation(n_docs - half_d)
    v_rows = half_v + rng.permutation(n_vecs - half_v)
    d_step = len(d_rows) // n_slices
    v_step = len(v_rows) // n_slices
    doc_slices = [docs.take(d_rows[i * d_step:(i + 1) * d_step]) for i in range(n_slices)]
    vec_slices = [emb.take(v_rows[i * v_step:(i + 1) * v_step]) for i in range(n_slices)]
    src = rng.integers(0, n_vecs, n_queries)
    q = vecs[src] + rng.normal(0.0, 0.05, (n_queries, EMB_DIM))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    # ranks a and (first + last - a) keep a pair's summed term frequency,
    # and so the postings a probe reads, nearly the same for every pair
    half = MID_RANKS.start + len(MID_RANKS) // 2
    pairs = [
        [_VOCAB[a], _VOCAB[MID_RANKS.start + MID_RANKS[-1] - a]]
        for a in rng.integers(MID_RANKS.start, half, n_queries)
    ]
    return ServeInputs(
        base_docs=docs.slice(0, half_d),
        base_vecs=emb.slice(0, half_v),
        doc_slices=doc_slices,
        vec_slices=vec_slices,
        query_vecs=[[float(x) for x in row] for row in q],
        term_pairs=pairs,
    )

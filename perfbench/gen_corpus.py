"""Seeded synthetic ``documents`` + ``embeddings`` tables for the query set.

Same schema and value shapes as the engine's star-schema test data
(``doc_id, text, lang, source, n_chars`` and ``vec_id, embedding
FLOAT[64], label``), with planted exact duplicates, near duplicates
(marked ``dup``) and near-duplicate vectors so the dedup and similarity
queries have work to find.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
DIM = 64


def _documents(rng: random.Random, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.004:
            texts.append(texts[rng.randrange(i)])               # exact duplicate
        elif i > 10 and r < 0.05:
            words = texts[rng.randrange(i)].split()
            words[rng.randrange(len(words))] = "dup"             # near duplicate
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB)
                                  for _ in range(rng.randint(8, 100))))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def _embeddings(rng: random.Random, n_vecs: int) -> pa.Table:
    centroids = [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(10)]
    vecs: list[list[float]] = []
    labels: list[int] = []
    for i in range(n_vecs):
        if i > 10 and rng.random() < 0.03:
            j = rng.randrange(i)                                  # near-duplicate vector
            vecs.append(_unit([x + rng.gauss(0, 0.01) for x in vecs[j]]))
            labels.append(labels[j])
            continue
        label = rng.randrange(10)
        c = centroids[label]
        vecs.append(_unit([x + rng.gauss(0, 0.12) for x in c]))
        labels.append(label)
    return pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_documents(rng, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(_embeddings(rng, n_vecs), os.path.join(out_dir, "embeddings.parquet"))

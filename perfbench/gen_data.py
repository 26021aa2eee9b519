#!/usr/bin/env python3
"""Generates the benchmark's input tables as parquet.

The tables are the two the measured operator rows read, `documents` and
`embeddings`, with the schemas and sf0.1 row counts of the engine's fixture
set (FIXTURES.md). Values are drawn with numpy from a fixed data seed, so
every checkout generates the same bytes; the benchmark's --seed only
reorders work, never the data.

Usage: gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data dup part column order scan a slow "
         "agg key window table merge vector join").split()


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out):
    os.makedirs(out, exist_ok=True)
    n_doc, n_emb = 5000, 2000
    rng = lambda salt: np.random.default_rng([DATA_SEED, salt])

    # Word soup from a small vocabulary; every 20th document is a copy of an
    # earlier one with a couple of words replaced, so dedup has real targets.
    r = rng(7)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n_doc):
        if i >= 20 and i % 20 == 7:
            words = texts[int(r.integers(0, i))].split(" ")
            for _ in range(int(r.integers(0, 3))):
                words[int(r.integers(0, len(words)))] = vocab[r.integers(0, len(vocab))]
        else:
            words = list(vocab[r.integers(0, len(vocab), int(r.integers(10, 100)))])
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng(8)
    centers = r.normal(0.0, 0.6, (10, 64))
    labels = r.integers(0, 10, n_emb)
    vecs = centers[labels] + r.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1])

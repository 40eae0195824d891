"""Seeded input for the benchmark: the `documents` table (doc_id, text,
lang, source, n_chars) in the shape of the repo's sf0.1 testdata, from
which `graft.Tables` derives the objects, chunks and corpus views.

Texts are 10-100 words from a 30-word vocabulary; 5% of documents are
an earlier document plus " dup".
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
SOURCES = 20
DUP_SHARE = 0.05


def generate(seed, n_docs, out_dir):
    """Write documents.parquet under out_dir; return its row count and a
    digest of the rows."""
    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), size=int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), size=n_docs, p=LANG_WEIGHTS)]
    ids = list(range(n_docs))
    sources = [f"src{i % SOURCES}" for i in ids]
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    h = hashlib.sha256()
    for row in zip(ids, texts, langs, sources):
        h.update("\t".join(map(str, row)).encode() + b"\n")
    return {"documents": n_docs, "digest": h.hexdigest()}

"""Seeded benchmark inputs derived from the repository's test tables.

``testdata/`` beside this file holds a byte-for-byte copy of the
seed-42 test tables the library's plan builders and DuckDB oracles are
validated on (see TESTDATA.md at the repository root): all of sf0.01,
and the sf0.1 ``documents`` and ``embeddings``. The SQL workload reads
the sf0.01 tables as they are. The curation corpus is a pure function
of (seed, size) over the sf0.1 corpus: a seeded sample of its documents
and vectors, plus near-duplicates planted among them, which the
correctness gate looks for.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "testdata")
SQL_TABLES = os.path.join(TESTDATA, "sf0.01")
CORPUS_BASE = os.path.join(TESTDATA, "sf0.1")
# a planted copy of a shorter document could fall below the Jaccard
# threshold, so only documents this long are copied
MIN_DUP_WORDS = 20


def table_rows(table_dir: str) -> int:
    """Rows in every parquet file of ``table_dir`` (from the footers)."""
    return sum(pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
               for f in os.listdir(table_dir) if f.endswith(".parquet"))


def documents(seed: int, n_docs: int, dup_frac: float = 0.1):
    """``n_docs`` documents: a seeded sample of the base corpus, then
    near-duplicates of sampled documents appended after it.

    Returns ``(table, planted_pairs)``: each planted pair is
    ``(original_id, copy_id)``, where the copy is the original with
    about 5% of its words replaced by words of the corpus (3-shingle
    Jaccard well above 0.5). Ids are renumbered 0..n_docs-1.
    """
    rng = np.random.default_rng([seed, 2])
    base = pq.read_table(os.path.join(CORPUS_BASE, "documents.parquet"))
    n_dup = int(n_docs * dup_frac)
    n_orig = n_docs - n_dup
    cols = base.take(rng.choice(base.num_rows, n_orig, replace=False)
                     ).to_pydict()
    texts = cols["text"]
    vocab = sorted({w for t in texts for w in t.split(" ")})
    long_ids = [i for i, t in enumerate(texts)
                if len(t.split(" ")) >= MIN_DUP_WORDS]
    planted = []
    for i, src in enumerate(rng.choice(long_ids, n_dup, replace=False)):
        src = int(src)
        words = texts[src].split(" ")
        for j in rng.choice(len(words), len(words) // 20, replace=False):
            words[j] = vocab[rng.integers(0, len(vocab))]
        text = " ".join(words)
        for k in ("text", "lang", "source", "n_chars"):
            cols[k].append(cols[k][src])
        cols["text"][-1], cols["n_chars"][-1] = text, len(text)
        planted.append((src, n_orig + i))
    cols["doc_id"] = list(range(n_docs))
    return pa.table(cols, schema=base.schema), planted


def embeddings(seed: int, n_vecs: int, dup_frac: float = 0.1):
    """``n_vecs`` unit vectors: a seeded sample of the base vectors, then
    twins of sampled vectors appended after it.

    Returns ``(table, planted_pairs)``: a twin is its original plus
    noise of norm 0.01, renormalised, so its cosine to the original
    exceeds 0.999 (no two base vectors are within cosine 0.9).
    """
    rng = np.random.default_rng([seed, 3])
    base = pq.read_table(os.path.join(CORPUS_BASE, "embeddings.parquet"))
    n_dup = int(n_vecs * dup_frac)
    n_orig = n_vecs - n_dup
    sample = base.take(rng.choice(base.num_rows, n_orig, replace=False))
    vecs = np.stack(sample.column("embedding").to_numpy(zero_copy_only=False))
    src = rng.choice(n_orig, n_dup, replace=False)
    noise = rng.normal(size=(n_dup, vecs.shape[1]))
    twins = vecs[src] + 0.01 * noise / np.linalg.norm(noise, axis=1,
                                                     keepdims=True)
    twins /= np.linalg.norm(twins, axis=1, keepdims=True)
    allv = np.vstack([vecs, twins]).astype(np.float32)
    labels = sample.column("label").to_numpy()
    table = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(allv), pa.list_(pa.float32())),
        "label": np.concatenate([labels, labels[src]]),
    }, schema=base.schema)
    return table, [(int(s), n_orig + i) for i, s in enumerate(src)]


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int):
    """Write ``documents`` and ``embeddings``; return the planted pairs
    of each and the embedding dimension as
    ``(doc_pairs, vec_pairs, dim)``."""
    docs, doc_pairs = documents(seed, n_docs)
    vecs, vec_pairs = embeddings(seed, n_vecs)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out_dir, "embeddings.parquet"))
    return doc_pairs, vec_pairs, len(vecs.column("embedding")[0])

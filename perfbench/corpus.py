"""Seed-keyed synthetic LLM-data corpus for the corpus_curation and
hybrid_ingest_serving workloads.

The base corpus has the shape of the sf0.1 fixture lake: 5,000 `documents`
rows (space-separated tokens from a 30-word vocabulary that includes the
stopwords `the` and `a`, 10-100 tokens, about 5 % near-duplicates that
repeat an earlier text with `dup` tokens appended) and 2,000 unit-norm
64-d `embeddings` rows.

`write_scaled` replicates it `scale` times with the gate-neutral scheme
of bench.py's scale probe: replica r Caesar-rotates every letter by r
(a bijection on letters, so character 2-gram repetition and type-token
ratios are unchanged) and appends " the a" so the stopword gates still
fire. Replica ids are offset by ID_STRIDE; replica embeddings get a
1e-6-scale deterministic perturbation. Each replica uses its OWN
rotation, so scale is capped at 26: rotation 26 would equal rotation 0
and plant exact duplicates across replicas.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
N_DOCS = 5000
N_VECS = 2000
DIM = 64
NEAR_DUP_FRACTION = 0.05
ID_STRIDE = 10_000_000
MAX_SCALE = 26
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def random_text(rng: np.random.Generator, n_tokens: int) -> str:
    """n_tokens words drawn uniformly from VOCAB, space-separated."""
    return " ".join(VOCAB[t] for t in rng.integers(0, len(VOCAB), n_tokens))


def unit_vectors(rng: np.random.Generator, n: int) -> np.ndarray:
    """n Gaussian DIM-d vectors scaled to unit norm (float64)."""
    vecs = rng.standard_normal((n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs


def base_corpus(seed: int, n_docs: int = N_DOCS) -> tuple[dict, dict]:
    """(documents columns, embeddings columns) of the sf0.1-shaped base;
    a smaller n_docs keeps the sf0.1 ratio of 2 vectors per 5 docs."""
    rng = np.random.default_rng([seed, 1, n_docs])
    n_vecs = n_docs * N_VECS // N_DOCS
    texts: list[str] = []
    lengths = rng.integers(10, 101, n_docs)
    is_dup = rng.random(n_docs) < NEAR_DUP_FRACTION
    for i in range(n_docs):
        if is_dup[i] and i > 0:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(0, 4)))
        else:
            texts.append(random_text(rng, lengths[i]))
    docs = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
    }
    vecs = unit_vectors(rng, n_vecs)
    embs = {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": vecs.astype(np.float32),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    }
    return docs, embs


def rotate(text: str, r: int) -> str:
    """Replica r's text: letters Caesar-rotated by r, then ' the a'."""
    if not 0 <= r < MAX_SCALE:
        raise ValueError(f"replica {r} outside the distinct-rotation range")
    table = str.maketrans(_ALPHA, _ALPHA[r:] + _ALPHA[:r])
    return text.translate(table) + " the a"


def scaled_tables(seed: int, scale: int, n_docs: int = N_DOCS) -> tuple[pa.Table, pa.Table]:
    if not 1 <= scale <= MAX_SCALE:
        raise ValueError(f"scale must be in 1..{MAX_SCALE}, got {scale}")
    docs, embs = base_corpus(seed, n_docs)
    texts = [rotate(t, r) for r in range(scale) for t in docs["text"]]
    doc_ids = np.concatenate([docs["doc_id"] + r * ID_STRIDE for r in range(scale)])
    documents = pa.table(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": docs["lang"] * scale,
            "source": docs["source"] * scale,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    i = np.arange(DIM)
    vec_parts = [
        embs["embedding"]
        + (((i * 131 + r * 977) % 1000 - 500) * 1e-6).astype(np.float32)
        for r in range(scale)
    ]
    flat = np.concatenate(vec_parts).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.concatenate(
                [embs["vec_id"] + r * ID_STRIDE for r in range(scale)]
            ),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(flat.ravel()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": np.tile(embs["label"], scale),
        }
    )
    return documents, embeddings


def write_scaled(
    out_dir: str, seed: int, scale: int, n_docs: int = N_DOCS, files: int = 4
) -> str:
    """Write documents.parquet / embeddings.parquet directories (each split
    into `files` parts so the scan is not one task) into out_dir, once per
    (seed, scale): a completed directory is reused."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    documents, embeddings = scaled_tables(seed, scale, n_docs)
    for name, table in (("documents", documents), ("embeddings", embeddings)):
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // files)
        for k in range(files):
            pq.write_table(
                table.slice(k * step, step), os.path.join(d, f"part-{k:03d}.parquet")
            )
    open(done, "w").close()
    return out_dir

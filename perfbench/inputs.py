"""Seeded input tables for the benchmark.

The benchmark never reads data from outside its checkout, so it builds
the flat ``documents`` and ``embeddings`` tables the program expects
(the shape of the repository's sf test tables) from scratch:

* ``documents(doc_id BIGINT, text, lang, source, n_chars BIGINT)`` —
  10..100 words drawn from a 30-word vocabulary; about 5% of docs end
  in a ``dup`` token and a few of those copy an earlier doc verbatim,
  so exact, substring and semantic dedup all have work to do.
* ``embeddings(vec_id BIGINT, embedding FLOAT[64], label INT)`` — unit
  vectors with a weak per-label bias, one per leading doc.

The base corpus is fixed (``BASE_SEED``) so every workload seed carries
the same amount of work. The workload seed only moves ids: it sets the
doc_id offset of every replica, which docs are pending on resume, and
the id offset of the corpus_prep tables. Every table derived from the
seed carries a digest, so equal seeds give equal digests and different
seeds different ones.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20
DIM = 64
N_LABELS = 10
# replica r of the base corpus sits at doc_id + ID_BASE + ID_STRIDE * (seed
# * n + r). ID_STRIDE = lcm(9, 3, 4, 11, 97, 50): the span derivation's
# moduli (span count, kind, noise mode, whitespace-only), the
# decontamination probes (doc_id % 97) and the k-means seeds (vec_id % 50)
# then pick the same base docs for every seed, so a seed changes ids and
# hash orders but not the amount of work. ID_BASE, the least multiple of
# ID_STRIDE of 16 digits, gives every id of every input seed 16 digits
# (the OCR text and the output carry the id as a string), and the largest
# id stays below 2**53, so it is exact wherever an engine casts it to DOUBLE.
ID_STRIDE = 960_300
ID_BASE = 1_041_341_248 * ID_STRIDE
INPUT_SEEDS = 2**31


def input_seed(seed: int) -> int:
    """The input seed of a ``--seed``: any integer is accepted, and seeds
    that differ by a multiple of 2**31 make the same inputs."""
    return seed % INPUT_SEEDS


def base_documents(n_docs: int) -> dict[str, list]:
    """The fixed base corpus, ids 0..n_docs-1, as python columns."""
    rng = np.random.default_rng(BASE_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        words = rng.choice(VOCAB, size=int(rng.integers(10, 100))).tolist()
        if rng.random() < 0.05:
            if i and rng.random() < 0.1:
                # verbatim copy of an earlier dup-tagged doc (exact dedup)
                texts.append(texts[int(rng.integers(0, i))])
                continue
            words.append("dup")
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P).tolist()
    return {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }


def base_embeddings(n_vec: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(BASE_SEED + 1)
    centers = rng.normal(size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, size=n_vec)
    vecs = rng.normal(size=(n_vec, DIM)) + 0.6 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), labels.astype(np.int32)


def documents_table(base: dict[str, list], id_offsets: list[int]) -> pa.Table:
    """The base corpus replicated once per id offset."""
    cols: dict[str, list] = {k: [] for k in base}
    for off in id_offsets:
        cols["doc_id"].extend(i + off for i in base["doc_id"])
        for k in ("text", "lang", "source", "n_chars"):
            cols[k].extend(base[k])
    return pa.table(
        {
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
        }
    )


def embeddings_table(n_vec: int, id_offset: int) -> pa.Table:
    vecs, labels = base_embeddings(n_vec)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64) + id_offset),
            # the program's tables carry a variable-length list
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def replica_offsets(seed: int, replicas: int) -> list[int]:
    return [ID_BASE + ID_STRIDE * (seed * replicas + r) for r in range(replicas)]


def digest(*tables: pa.Table, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for t in tables:
        for batch in t.to_batches():
            for col in batch.columns:
                for buf in col.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()[:16]


def write_table(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)

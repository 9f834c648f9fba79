"""Seeded workload inputs for the benchmark.

Every input is a pure function of (workload, seed). The program under test
only ever sees the generated files:

* ``documents.parquet`` — a seed corpus with the ``documents`` schema the
  probes read (doc_id, text, lang, source, n_chars): a 30-word vocabulary,
  44-577 character texts, five languages, 20 sources.
* ``pages.parquet`` / ``expected.parquet`` — pages and goldens rendered from
  that corpus by ``goose_spark.fixtures.generate`` (fresh_articles).
* ``embeddings.parquet`` plus the DuckDB oracle rows (neardup_corpus).

The page template sizes a page by ``doc_id`` alone: the log-uniform target
``2 KB * 100**r`` with ``r = (doc_id * 2654435761 % 1000) / 1000`` and a
5-20 MB body when ``doc_id % 250 == 0``. Doc ids are drawn stratified over
``r``, so every seed gets the same size mix (and the same share of null,
truncated and duplicated rows, which also follow ``doc_id % 1000``) while
the ids, texts, urls and languages change with the seed.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMBED_DIM = 64
N_LABELS = 10

# doc_id * 2654435761 % 1000 == doc_id * 761 % 1000, and 761 is a unit
# mod 1000: the residue class of doc_id mod 1000 that lands on size rank v
# is v * 761**-1 mod 1000.
_INV761 = pow(761, -1, 1000)
_GIANT_RANKS = frozenset((0, 250, 500, 750))  # doc_id % 250 == 0

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _text(rng: random.Random, n_words: int | None = None) -> str:
    n = rng.randint(8, 96) if n_words is None else n_words
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _doc(doc_id: int, text: str, rng: random.Random) -> dict:
    return {"doc_id": doc_id, "text": text,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{doc_id % N_SOURCES}", "n_chars": len(text)}


def _write(rows: list[dict], schema: pa.Schema, path: str) -> str:
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return path


def stratified_doc_ids(rng: random.Random, n: int) -> list[int]:
    """n distinct non-giant doc ids, one per size stratum of the template's
    log-uniform size rank (see module docstring)."""
    ids: set[int] = set()
    out = []
    for k in range(n):
        v = int((k + rng.random()) * 1000 / n) % 1000
        while v in _GIANT_RANKS:
            v = (v + 1) % 1000
        residue = v * _INV761 % 1000
        while True:
            doc_id = residue + 1000 * rng.randrange(1, 100_000)
            if doc_id not in ids:
                break
        ids.add(doc_id)
        out.append(doc_id)
    return out


def build_fresh_articles(work: str, seed, n_docs: int) -> dict:
    """A first crawl of n_docs article pages (2-200 KB, no giant pages)."""
    from goose_spark.fixtures import generate

    rng = random.Random(f"fresh_articles/{seed}")
    rows = [_doc(i, _text(rng), rng) for i in stratified_doc_ids(rng, n_docs)]
    docs = _write(rows, DOC_SCHEMA, os.path.join(work, "documents.parquet"))
    pages, expected = generate(docs, os.path.join(work, "pages"))
    return {"pages": pages, "expected": expected, "documents": docs}


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def build_neardup_corpus(work: str, seed, n_docs: int, n_vecs: int,
                         block: int) -> dict:
    """Documents and embeddings with planted near-duplicate clusters and one
    template-heavy block of `block` docs / vectors (kept below the SimHash
    HOT_BUCKET_CAP so every oracle stays exact)."""
    rng = random.Random(f"neardup_corpus/{seed}")
    # --- documents: background, planted clusters, template block
    texts: list[str] = []
    n_cluster_docs = n_docs // 10
    n_background = n_docs - n_cluster_docs - block
    texts += [_text(rng) for _ in range(n_background)]
    while len(texts) < n_background + n_cluster_docs:
        base = _text(rng, rng.randint(40, 90)).split()
        for _ in range(rng.randint(2, 5)):
            words = list(base)
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            texts.append(" ".join(words + ["dup"]))
    texts = texts[:n_background + n_cluster_docs]
    template = _text(rng, 80).split()
    for _ in range(block):
        words = list(template)
        for _ in range(2):
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        texts.append(" ".join(words))
    order = list(range(n_docs))
    rng.shuffle(order)
    rows = [_doc(doc_id, texts[j], rng) for doc_id, j in enumerate(order)]
    docs = _write(rows, DOC_SCHEMA, os.path.join(work, "documents.parquet"))

    # --- embeddings: label-centred background, planted clusters, block
    nrng = np.random.default_rng(rng.randrange(2**32))
    centres = _unit(nrng.normal(size=(N_LABELS, EMBED_DIM)))
    labels = nrng.integers(0, N_LABELS, size=n_vecs)
    vecs = _unit(centres[labels] * 0.6
                 + nrng.normal(size=(n_vecs, EMBED_DIM)) * 0.12)
    n_planted = n_vecs // 10
    for i in range(n_vecs - block - n_planted, n_vecs - block, 4):
        vecs[i:i + 4] = _unit(vecs[i] + nrng.normal(size=(4, EMBED_DIM)) * 0.01)
        labels[i:i + 4] = labels[i]
    tmpl = vecs[0] + 0.0
    vecs[n_vecs - block:] = _unit(tmpl + nrng.normal(size=(block, EMBED_DIM)) * 0.02)
    labels[n_vecs - block:] = labels[0]
    perm = nrng.permutation(n_vecs)
    # the ANN probes seed their centroids with vec_id < 8: keep those rows
    # spread over the background, not inside the template block
    perm = np.concatenate([np.arange(8), perm[perm >= 8]])
    emb = [{"vec_id": vid, "embedding": vecs[j].tolist(),
            "label": int(labels[j])} for vid, j in enumerate(perm)]
    embeddings = _write(emb, EMB_SCHEMA, os.path.join(work, "embeddings.parquet"))
    return {"documents": docs, "embeddings": embeddings, "sf_dir": work}


def cached(root: str, key: str, build) -> dict:
    """Run `build(work_dir)` once per key; later calls reuse its result.

    A build that fails leaves no cache entry behind."""
    work = os.path.join(root, key)
    done = os.path.join(work, ".done")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = build(work)
    with open(done, "w") as f:
        json.dump(out, f)
    return out

"""Seeded inputs.  The program receives only what these functions write.

* SPECFEM strain trees come from the engine's own fixture writer
  (``seisdb_spark.pipeline.generate_fixture``) with the benchmark's seed.
* The documents corpus mirrors the measured statistics of the sf0.1
  ``documents`` table (uniform 30-word vocabulary, 10-100 words per doc,
  5% near-duplicates that are an earlier doc plus the word ``dup``, 0.16%
  exact copies, the sf0.1 language mix), then replicates it with the
  word-suffix bijection of ``tools/scale_stress._gen_documents`` so the
  duplicate rate stays fixed as the corpus grows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from seisdb_spark.pipeline import generate_fixture

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_SHARE = (0.412, 0.140, 0.149, 0.148, 0.151)
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016
REPLICA_DOC_OFFSET = 10**8  # tools/scale_stress.REPLICA_DOC_OFFSET


def strain_tree(root: str, seed: int, nprocs: int, nspec: int, n_strides: int) -> dict:
    """One station's SPECFEM tree: ``nprocs`` x ``nspec`` elements x
    ``n_strides`` snapshot steps, with stride 3 missing in the E and Z force
    dirs (so the exists-in-all-forces filter rejects one step)."""
    return generate_fixture(
        root,
        nprocs=nprocs,
        nspec=nspec,
        step0=0,
        step1=10 * n_strides,
        dstep=10,
        missing_steps=(30,),
        seed=seed,
        kinds=("strain_field",),
    )


def tree_input_bytes(meta: dict) -> tuple[int, int]:
    """(files, bytes) a strain build reads: ibool files plus snapshots."""
    files = total = 0
    for d in (meta["model_dir"], *meta["force_dirs"]):
        for name in os.listdir(d):
            files += 1
            total += os.path.getsize(os.path.join(d, name))
    return files, total


def _base_corpus(rng: np.random.Generator, n_docs: int) -> list[str]:
    vocab = np.asarray(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        draw = rng.random()
        if i and draw < NEAR_DUP_SHARE:
            texts.append(texts[rng.integers(i)] + " dup")
        elif i and draw < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(texts[rng.integers(i)])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return texts


def documents(sf_dir: str, seed: int, n_docs: int, factor: int) -> int:
    """Write ``<sf_dir>/documents.parquet``; returns its size in bytes."""
    rng = np.random.default_rng(seed)
    base = _base_corpus(rng, n_docs)
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_SHARE)].tolist()
    ids, texts = list(range(n_docs)), list(base)
    for r in range(1, factor):
        ids += [d * 10 + 1 + r * REPLICA_DOC_OFFSET for d in range(n_docs)]
        texts += [" ".join(f"{w}_r{r}" for w in t.split(" ")) for t in base]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": langs * factor,
            "source": [f"src{i % 20}" for i in range(n_docs)] * factor,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(table, path)
    return os.path.getsize(path)

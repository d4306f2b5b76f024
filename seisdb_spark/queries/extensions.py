"""Extension surface (SURVEY §2.11): the LLM-training-data-pipeline operators
a 100 TB engine needs — dedup (exact / MinHash-LSH / shingle-Jaccard /
SimHash), similarity search over embeddings (brute-force + sign-bucket ANN),
text analysis (stats, quality, token budgets, language-ID), and multimodal
binary-column handling — each as an oracle-checkable query over the driver's
documents/embeddings tables.

Column-expression builders live in ``seisdb_spark.functions`` (text.py,
vectors.py, multimodal.py); this module composes them into driver queries.

Portability discipline for the oracles:
  * hashing uses md5/sha256 (identical hex output in Spark and DuckDB) —
    never engine-native hash();
  * dot products are generated as an explicit left-associated term chain so
    both engines accumulate in the same IEEE-754 order (bit-identical);
  * hex-digit parsing: Spark ``conv(d,16,10)`` vs DuckDB ``strpos(alphabet,d)-1``;
  * the oracles compute Jaccard relationally (shingle join + integer
    counts), never via engine-specific list set-ops.  The Spark side may
    use ``collect_set``/``array_intersect``: it needs only the set sizes,
    which are exact integers in any engine, so both sides divide the same
    two integers.

Scale notes (the round-1 verdict's fix list, addressed):
  * MinHash-LSH is real LSH now: word 3-shingles, 12 hashes in 4 bands x 3
    rows, ONE band-bucket self-join over an exploded band table whose
    lineage both join sides share via ReusedExchange — candidate rate at
    sf0.01 drops from 74% of all pairs to 0.02%.  Every LSH path builds
    it from functions/text.py's ``minhash_bands`` (the band table) and
    ``band_pairs`` (the join); every decontamination path from
    ext_dedup's ``decon_bench_sh``/``decon_train_sh``/``decon_report``.
  * Jaccard verification runs ONLY on LSH candidate pairs (no quadratic
    token self-join).
  * top-k rankings use orderBy().limit(k) — Spark plans TakeOrderedAndProject
    (per-partition heap + driver-side merge of k rows), never a
    single-partition global Window.
"""


# Round-12 split: the operator families formerly defined inline here (the
# file had grown to ~5,800 lines across ~15 unrelated families) now live in
# per-family modules; this module re-exports EVERY public and private name
# from each so the long-standing import surface
# (``from seisdb_spark.queries.extensions import X``) — used by the
# streaming twins, the curation composition, vector_store, tools, and the
# test suite — is unchanged.  Importing this module still registers every
# family's queries (each submodule registers at import).

from __future__ import annotations

from seisdb_spark.queries import (
    ext_common,
    ext_dedup,
    ext_embed,
    ext_layout,
    ext_packing,
    ext_retrieval,
    ext_sampling,
    ext_sketch,
    ext_text,
)

# Re-export verbatim (underscore helpers included — _SHINGLE_CTE etc. are
# part of the historical import surface).  Shared helpers imported by
# several submodules are the same objects, so collisions are no-ops.
for _mod in (
    ext_common,
    ext_text,
    ext_dedup,
    ext_sketch,
    ext_embed,
    ext_retrieval,
    ext_packing,
    ext_sampling,
    ext_layout,
):
    for _name, _val in vars(_mod).items():
        if not _name.startswith("__"):
            globals()[_name] = _val
del _mod, _name, _val

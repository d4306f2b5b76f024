"""End-to-end corpus curation: the composed training-set build.

``build_training_set`` chains the engine's curation operators into the
pipeline a 100 TB corpus actually runs:

1. **decontamination** — drop the benchmark holdout and every train doc
   sharing an 8-word shingle with it (broadcast semi-join — eval suites
   are MBs against the corpus);
2. **quality gate** — length window + stopword-ratio ceiling (pushed
   predicates, no shuffle);
3. **exact dedup** — md5 content hash, keep the minimum doc_id per hash
   (one shuffle on the digest);
4. **near-dup clustering** — banded MinHash-LSH candidates, exact-Jaccard
   verify on candidates only, connected components over the verified
   pairs, keep each component's canonical (minimum) doc;
5. **sample** — stratified per-language keep rates via a content-stable
   hash bucket (default), or greedy per-language token budgets
   (``sample="budgeted"``);
6. **deterministic shards** — ``write_training_shards``: content-hash
   shard assignment, per-shard sorted parquet, audit manifest; with
   ``pack=True`` each doc additionally carries its sequence-packing
   (seq, offset) assignment and shards coincide with packing shards.

Stages 1-3 are :func:`curation_survivors` and stages 4-5
:func:`curation_keep`; :func:`curate` is their lazy composition, the
``curation_keep_set`` plan.  ``build_training_set`` runs these actions,
in order: the documents footer read; the survivors' eager
``localCheckpoint``, so the corpus-sized stages 1-3 run once and both the
near-dup pairs and the shard write read the checkpoint; ``cc_auto``'s
checkpoint and count of the verified pairs (plus the pointer-jumping
rounds when the pair list outgrows one task); and the shard write.  The
manifest it returns is a lazy plan over the written shards.  Both
checkpoints are released once the shards are written.

The stages call the same definitions as the registry operators that
carry their oracles: the gate's ``word_count``/``stopword_ratio``
(``quality_filter_pipeline``), ``decon_join`` (the decontamination
queries), ``_jaccard_on_candidates`` (``dedup_cluster_components``) and
``stratified_keep`` (``stratified_sample``).  The exact-dedup window
(the ``dedup_exact`` rule) and the canonical keep over the components
are composed inline here.  The composed keep-set is hash-checked by the
``curation_keep_set`` oracle and cross-checked against an independent
pandas re-implementation in tests/test_curation_build.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seisdb_spark.functions.graph import (
    cc_auto_held,
    cc_exact_lazy,
    release_checkpoint,
)
from seisdb_spark.queries.extensions import (
    CURATION_MAX_WORDS as MAX_WORDS,
)
from seisdb_spark.queries.extensions import (
    CURATION_MIN_WORDS as MIN_WORDS,
)
from seisdb_spark.queries.extensions import (
    CURATION_MAX_STOPWORD_RATIO as MAX_STOPWORD_RATIO,
)
from seisdb_spark.queries.extensions import (
    DECON_BENCH_MOD,
    JACCARD_THRESHOLD,
    _jaccard_on_candidates,
    budgeted_selection,
    decon_join,
    packing_assignment,
    stopword_ratio,
    stratified_keep,
    word_count,
)
from seisdb_spark.sources.tables import load_table, spread, write_training_shards


#: The final rebalancing stage by name: per-language keep rates via a
#: content-stable hash bucket (the driver-query contract), or greedy
#: per-language token budgets with an id-reassignment-invariant text-hash
#: order.
SAMPLERS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "stratified": lambda df: df.filter(stratified_keep()),
    "budgeted": budgeted_selection,
}


def _sampler(sample: str) -> Callable[[DataFrame], DataFrame]:
    try:
        return SAMPLERS[sample]
    except KeyError:
        raise ValueError(f"unknown sample mode {sample!r}") from None


def curation_survivors(docs: DataFrame) -> DataFrame:
    """The doc-level stages over a documents table: decontaminate -> gate
    -> exact dedup.  Returns the surviving (doc_id, lang, text) rows.

    Decontamination drops the benchmark holdout (doc_id % mod == 0, the
    eval-suite stand-in) and every train doc sharing an 8-word shingle
    with it — the broadcast semi-join of ``decontamination_overlap``
    applied as a gate stage."""
    contaminated = decon_join(docs).select("doc_id").distinct()
    gated = (
        docs.filter(
            (F.col("doc_id") % DECON_BENCH_MOD != 0)
            & word_count().between(MIN_WORDS, MAX_WORDS)
            & (stopword_ratio() <= MAX_STOPWORD_RATIO)
        )
        # the contaminated set is overlap-dependent: AQE broadcasts this
        # anti-join when it is small, as with the near-dup losers below
        .join(contaminated, "doc_id", "left_anti")
    )

    # exact dedup: keep the minimum doc_id per content hash
    w = Window.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    return gated.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    ).drop("_rn")


def curation_keep(
    survivors: DataFrame,
    cc: Callable[[DataFrame], DataFrame] = cc_exact_lazy,
    sample: str = "stratified",
) -> DataFrame:
    """Near-dup canonical selection -> sample over the
    :func:`curation_survivors` rows.  Returns the kept (doc_id, lang, text)
    rows.  ``survivors`` is read twice: by the near-dup pairs and by the
    anti-join that drops each component's non-canonical docs."""
    pick = _sampler(sample)
    # a doc survives iff it IS its component's canonical (or is in no
    # component)
    pairs = _jaccard_on_candidates(survivors).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    members = cc(pairs)
    losers = members.filter(F.col("v") != F.col("component")).select(
        F.col("v").alias("doc_id")
    )
    neardup_kept = survivors.join(losers, "doc_id", "left_anti")
    return pick(neardup_kept).select("doc_id", "lang", "text")


def curate(
    docs: DataFrame,
    cc: Callable[[DataFrame], DataFrame] = cc_exact_lazy,
    sample: str = "stratified",
) -> DataFrame:
    """The keep-set plan over a documents table: decontaminate -> gate ->
    exact dedup -> near-dup canonical selection -> sample, as
    ``curation_keep(curation_survivors(docs), cc, sample)``.  Returns the
    surviving (doc_id, lang, text) rows.

    ``sample`` picks the final rebalancing stage from :data:`SAMPLERS`:
    ``"stratified"`` (the driver-query contract) or ``"budgeted"`` (via
    :func:`~seisdb_spark.queries.extensions.budgeted_selection`); any
    other value raises ``ValueError`` before ``cc`` runs.

    ``cc`` picks the connected-components form for the near-dup stage.
    The default (:func:`cc_exact_lazy`) keeps the whole plan lazy — the
    ``curation_keep_set`` driver-query contract; action paths
    (:func:`build_training_set`) use :func:`cc_auto`, which counts the
    verified pairs and switches to distributed pointer jumping when the
    edge list outgrows one task.

    Any gate changed HERE (on the default path) must be mirrored in the
    ``curation_keep_set`` oracle and the pandas cross-check in
    tests/test_curation_build.py, or the driver hash gate silently
    breaks."""
    return curation_keep(curation_survivors(docs), cc, sample)


def build_training_set(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_shards: int = 8,
    sample: str = "stratified",
    pack: bool = False,
) -> DataFrame:
    """Run the full curation over ``<sf_dir>/documents.parquet`` and write
    the surviving docs as deterministic training shards under ``out_dir``.
    Returns the lazy shard manifest (shard, n_rows, key_checksum) over the
    written shards.

    This is an ACTION API (it writes).  The :func:`curation_survivors`
    rows are localCheckpointed once, so the corpus-sized decontamination
    explode, gate and md5 window run once and both the near-dup pairs and
    the final anti-join / sample / shard write read the checkpoint.  The
    near-dup clustering goes through :func:`cc_auto`: the verified-pair
    list is materialized once, counted, and routed to distributed pointer
    jumping when it outgrows a single task — at a web-scale dup rate the
    pair list is billions of edges, which the lazy single-task union-find
    must never receive.  Every checkpoint the build takes is released once
    the shards are written (or the write raises).

    ``sample`` selects curation_keep()'s final rebalancing stage
    (``"stratified"`` or ``"budgeted"``); an unknown value raises
    ``ValueError`` before any job runs.  ``pack=True`` appends the
    sequence-packing stage: each surviving doc gains (n_tokens,
    seq_in_shard, offset_in_seq) from
    :func:`~seisdb_spark.queries.extensions.packing_assignment` before the
    shard write, and the shard key switches to the TEXT digest so the
    writer's shard assignment coincides with the packing shards (both are
    content_hash32(text) mod n_shards) — the written layout IS the packed
    training set a dataloader streams."""
    _sampler(sample)  # an unknown mode raises before any job runs
    docs = spread(load_table(spark, sf_dir, "documents"))
    survivors = curation_survivors(docs).localCheckpoint(eager=True)
    held = [survivors]

    def cc(pairs: DataFrame) -> DataFrame:
        members, checkpoints = cc_auto_held(pairs)
        held.extend(checkpoints)
        return members

    try:
        kept = curation_keep(survivors, cc, sample)
        if pack:
            packed = packing_assignment(kept, n_shards=n_shards)
            return write_training_shards(packed, out_dir, "text", n_shards=n_shards)
        return write_training_shards(kept, out_dir, "doc_id", n_shards=n_shards)
    finally:
        for df in held:
            release_checkpoint(df)

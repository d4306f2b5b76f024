"""End-to-end curated training-set build: the composed keep-set must equal
an independent pandas re-implementation (gate -> exact dedup -> union-find
near-dup canonicals -> hash sample), and the written shards must cover it
exactly."""

from __future__ import annotations

import hashlib
import os
import re

import pandas as pd
import pytest

from seisdb_spark.curation import (
    MAX_STOPWORD_RATIO,
    MAX_WORDS,
    MIN_WORDS,
    build_training_set,
)
from seisdb_spark.queries.extensions import JACCARD_THRESHOLD, SAMPLE_RATES
from seisdb_spark.queries.registry import REGISTRY
from tests.conftest import SF_DIR, jobs_run


def _decon_dropped(docs: pd.DataFrame) -> set[int]:
    """Independent decontamination: train docs sharing any 8-word shingle
    with the doc_id % 10 == 0 benchmark holdout."""

    def sh8(t: str) -> set[str]:
        w = t.split(" ")
        return {" ".join(w[i : i + 8]) for i in range(len(w) - 7)}

    is_bench = docs.doc_id % 10 == 0
    bench_sh: set[str] = set()
    for t in docs.text[is_bench]:
        bench_sh |= sh8(t)
    return {
        int(r.doc_id)
        for r in docs[~is_bench].itertuples()
        if sh8(r.text) & bench_sh
    }


def _expected_survivors(spark) -> set[int]:
    """Independent pandas re-derivation of curate()'s keep set BEFORE the
    sampling stage: decontaminate -> gate -> exact dedup -> near-dup
    canonical selection."""
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    n_words = docs.text.str.count(" ") + 1
    # content gate: stopword density ceiling, counted with Python re
    # independently of the engine's regexp_extract_all
    stopword_hits = docs.text.map(
        lambda t: len(re.findall(r"\b(?:the|a|of|and|to)\b", t))
    )
    contaminated = _decon_dropped(docs)
    gated = docs[
        (docs.doc_id % 10 != 0)
        & ~docs.doc_id.isin(contaminated)
        & (n_words >= MIN_WORDS)
        & (n_words <= MAX_WORDS)
        & (stopword_hits / n_words <= MAX_STOPWORD_RATIO)
    ]

    # exact dedup: min doc_id per md5(text)
    md5 = gated.text.map(lambda t: hashlib.md5(t.encode()).hexdigest())
    keepers = gated.assign(_h=md5).sort_values("doc_id").drop_duplicates("_h")
    kept_ids = set(keepers.doc_id)

    # near-dup canonical selection: reuse the (driver-verified) pair op on
    # the full corpus, then restrict edges to the current survivor set and
    # union-find — mirrors curate() running LSH on the deduped survivors,
    # because removed exact-duplicate docs only ever drop edges
    pairs = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR).toPandas()
    pairs = pairs[pairs.jaccard >= JACCARD_THRESHOLD]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(pairs.doc_a, pairs.doc_b, strict=True):
        if a in kept_ids and b in kept_ids:
            ra, rb = find(int(a)), find(int(b))
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for v in list(parent):
        comp_min.setdefault(find(v), v)
        comp_min[find(v)] = min(comp_min[find(v)], v)
    losers = {v for v in parent if comp_min[find(v)] != v}
    kept_ids -= losers
    return {int(d) for d in kept_ids}


def _expected_keep_set(spark) -> set[int]:
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    kept_ids = _expected_survivors(spark)
    # stratified sample: first 4 md5 hex digits of str(doc_id)
    lang_of = dict(zip(docs.doc_id, docs.lang, strict=True))
    out = set()
    for d in kept_ids:
        bucket = int(hashlib.md5(str(d).encode()).hexdigest()[:4], 16)
        rate = SAMPLE_RATES.get(lang_of[d], 0.5)
        if bucket < 65536 * rate:
            out.add(int(d))
    return out


def test_build_training_set_matches_independent_pipeline(spark, tmp_path):
    out_dir = str(tmp_path / "training")
    manifest = build_training_set(spark, SF_DIR, out_dir, n_shards=4)
    want = _expected_keep_set(spark)

    shard_dirs = [d for d in os.listdir(out_dir) if re.match(r"shard=\d+", d)]
    assert len(shard_dirs) == 4
    got = set()
    for d in shard_dirs:
        got |= set(pd.read_parquet(os.path.join(out_dir, d)).doc_id)
    assert got == want, (
        f"keep-set mismatch: {len(got ^ want)} ids differ "
        f"(spark {len(got)}, independent {len(want)})"
    )
    man = manifest.toPandas()  # the returned manifest is a lazy plan
    assert int(man.n_rows.sum()) == len(want)
    assert len(want) > 0


def test_build_training_set_runs_at_most_25_jobs(spark, tmp_path):
    """One build reads the documents footer, checkpoints the gated,
    exact-deduped survivors once, checkpoints and counts the verified
    pairs, and writes the shards: at most 25 Spark jobs at sf0.01 (33
    while the pairs and the shard write each re-ran the decontamination,
    gate and exact-dedup lineage from the raw table, and the written
    shards' schema was inferred back)."""
    jobs = jobs_run(
        spark, lambda: build_training_set(spark, SF_DIR, str(tmp_path / "t"), n_shards=4)
    )
    assert 0 < jobs <= 25, jobs


def test_build_training_set_releases_its_checkpoints(spark, tmp_path):
    """The survivor checkpoint (corpus text) and cc_auto's pair checkpoint
    are released once the shards are written: a build leaves the
    session's persistent-RDD count unchanged (it grew by one per build
    while cc_auto's checkpoint was kept)."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    manifest = build_training_set(spark, SF_DIR, str(tmp_path / "t"), n_shards=4)
    after = jsc.getPersistentRDDs().size()
    # <= 0: the async ContextCleaner may reclaim an earlier test's RDD
    # between the two samples
    assert after - before <= 0, f"{after - before} checkpoints retained"
    assert manifest.count() == 4  # the manifest reads the written shards


def test_build_training_set_rejects_unknown_sample_before_any_job(spark, tmp_path):
    def build():
        with pytest.raises(ValueError, match="unknown sample mode"):
            build_training_set(spark, SF_DIR, str(tmp_path / "t"), sample="uniform")

    assert jobs_run(spark, build) == 0


def test_curate_stopword_gate_fires(spark):
    """The sf0.01 corpus has no stopword-heavy docs (the gate is a no-op
    there), so prove the content gate on synthetic rows: a doc over the
    density ceiling is dropped, a clean doc of the same length survives."""
    heavy = "the a of and to " * 8  # ~41 words, stopword ratio ~1.0
    clean = "wavefield snapshot tensor strain green function " * 7  # ~43 words
    # ids 6 and 19 both pass the final md5-bucket sample at the 'en' rate,
    # so the only discriminator between the two docs is the content gate
    docs = spark.createDataFrame(
        [(6, "en", heavy), (19, "en", clean)], "doc_id long, lang string, text string"
    )
    from seisdb_spark.curation import curate

    kept = {r.doc_id for r in curate(docs).select("doc_id").collect()}
    assert 6 not in kept, "stopword-heavy doc must be gated out"
    assert 19 in kept


def test_curate_distributed_cc_path_matches_lazy(spark):
    """The production composition must produce the identical keep-set
    whichever CC form cc_auto dispatches to: run curate() with the forced
    distributed branch (threshold 0 — every edge list is 'too big') and
    with the default lazy form, and compare."""
    from seisdb_spark.curation import curate
    from seisdb_spark.functions.graph import cc_auto
    from seisdb_spark.sources.tables import load_table, spread

    docs = spread(load_table(spark, SF_DIR, "documents"))
    lazy_ids = {r.doc_id for r in curate(docs).select("doc_id").collect()}
    dist_ids = {
        r.doc_id
        for r in curate(docs, cc=lambda p: cc_auto(p, max_single_task_edges=0))
        .select("doc_id")
        .collect()
    }
    assert dist_ids == lazy_ids
    assert len(lazy_ids) > 0

def test_build_training_set_budgeted_packed(spark, tmp_path):
    """The composed build with sample='budgeted' and pack=True: the written
    shards must contain exactly the independent pandas keep-set (greedy
    per-(lang, shard) token budgets over the curation survivors), and every
    doc's (shard, seq_in_shard, offset_in_seq) must equal an independent
    cumulative-sum packing recompute."""
    from seisdb_spark.queries.extensions import (
        _BUDGET_PER_SHARD,
        BUDGET_N_SHARDS,
        PACK_SEQ_TOKENS,
    )

    n_shards = BUDGET_N_SHARDS  # = 4; output shards align with budget shards
    out_dir = str(tmp_path / "packed")
    manifest = build_training_set(
        spark, SF_DIR, out_dir, n_shards=n_shards, sample="budgeted", pack=True
    )
    man = manifest.toPandas()

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    sub = docs[docs.doc_id.isin(_expected_survivors(spark))].copy()
    sub["n_tokens"] = [
        max(len(re.findall(r"\w+|[^\w\s]", t)), -(-len(t.encode()) // 4))
        for t in sub.text
    ]
    sub["h"] = [
        int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in sub.text
    ]
    sub["shard"] = sub.h % n_shards
    want_ids = set()
    for (_lang, _shard), grp in sub.groupby(["lang", "shard"]):
        grp = grp.sort_values(["h", "doc_id"])
        used = grp.n_tokens.cumsum().shift(fill_value=0)
        want_ids |= {int(d) for d in grp.doc_id[used < _BUDGET_PER_SHARD]}
    kept = sub[sub.doc_id.isin(want_ids)]

    exp = {}
    for shard, grp in kept.groupby("shard"):
        grp = grp.sort_values(["h", "doc_id"])
        start = grp.n_tokens.cumsum().shift(fill_value=0)
        for d, st in zip(grp.doc_id, start, strict=True):
            exp[int(d)] = (
                int(shard),
                int(st // PACK_SEQ_TOKENS),
                int(st % PACK_SEQ_TOKENS),
            )

    got = {}
    for d in os.listdir(out_dir):
        m = re.match(r"shard=(\d+)", d)
        if not m:
            continue
        pdf = pd.read_parquet(os.path.join(out_dir, d))
        for r in pdf.itertuples():
            got[int(r.doc_id)] = (
                int(m.group(1)),
                int(r.seq_in_shard),
                int(r.offset_in_seq),
            )
    assert set(got) == want_ids
    assert got == exp
    assert int(man.n_rows.sum()) == len(exp)
    assert len(exp) > 0

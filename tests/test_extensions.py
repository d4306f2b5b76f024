"""Behavioral tests for the LLM-pipeline extension surface beyond oracle
parity: LSH candidate-rate + recall guarantees, ANN recall vs brute force,
and planted-near-duplicate detection for both text and embeddings.

Oracle parity (hash equality vs DuckDB) is covered in test_oracle_parity.py;
these tests assert the *quality* properties the oracles can't express.
"""

from __future__ import annotations

import itertools
import re

import numpy as np
import pandas as pd
import pytest

from tests.conftest import SF_DIR, SMOKE_SF_DIR

from seisdb_spark.functions.text import SHINGLE_K
from seisdb_spark.queries.registry import REGISTRY


def _shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


@pytest.fixture(scope="module")
def docs_pdf() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")


def test_lsh_candidate_rate_and_recall(spark, docs_pdf):
    """The round-1 LSH emitted 74% of all pairs; the rebuilt one must emit
    <1% AND still catch every truly-near-duplicate pair (J >= 0.8)."""
    cand = (
        REGISTRY["minhash_lsh_candidates"].spark(spark, SF_DIR).toPandas()
    )
    n = len(docs_pdf)
    all_pairs = n * (n - 1) // 2
    rate = len(cand) / all_pairs
    assert rate < 0.01, f"candidate rate {rate:.2%} (must be <1%)"

    # ground truth by brute force on the driver corpus (only feasible at
    # test scale — which is exactly why the engine uses LSH)
    sets = {r.doc_id: _shingle_set(r.text) for r in docs_pdf.itertuples()}
    true_neardups = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        sa, sb = sets[a], sets[b]
        inter = len(sa & sb)
        if inter and inter / (len(sa) + len(sb) - inter) >= 0.8:
            true_neardups.add((a, b))
    got = {(r.doc_a, r.doc_b) for r in cand.itertuples()}
    assert true_neardups, "corpus should contain planted near-dups"
    missed = true_neardups - got
    assert not missed, f"LSH missed {len(missed)} true near-dup pairs: {sorted(missed)[:5]}"


def test_jaccard_pairs_subset_of_candidates_and_correct(spark, docs_pdf):
    """dedup_jaccard_pairs = exact Jaccard on LSH candidates only; every
    emitted pair's Jaccard must match a brute-force recomputation."""
    pairs = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR).toPandas()
    sets = {r.doc_id: _shingle_set(r.text) for r in docs_pdf.itertuples()}
    for r in pairs.itertuples():
        sa, sb = sets[r.doc_a], sets[r.doc_b]
        inter = len(sa & sb)
        jac = inter / (len(sa) + len(sb) - inter)
        assert jac >= 0.7
        assert abs(jac - r.jaccard) < 1e-4


def test_lsh_planted_neardup_roundtrip(spark, tmp_path):
    """End-to-end through the real query path on a planted corpus: a doc and
    its one-word-edited copy must be LSH candidates AND pass the Jaccard
    verification; unrelated docs must not."""
    rng = np.random.default_rng(7)
    vocab = [f"w{i}" for i in range(50)]
    base = " ".join(rng.choice(vocab, size=60))
    edited = base.split(" ")
    edited[30] = "XEDIT"
    rows = [
        (0, base, "en", "s0"),
        (1, " ".join(edited), "en", "s0"),
    ] + [
        (i, " ".join(rng.choice(vocab, size=60)), "en", "s0")
        for i in range(2, 40)
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    pdf.to_parquet(tmp_path / "documents.parquet")

    cand = REGISTRY["minhash_lsh_candidates"].spark(spark, str(tmp_path)).toPandas()
    got = {(r.doc_a, r.doc_b) for r in cand.itertuples()}
    assert (0, 1) in got, "planted near-dup not an LSH candidate"

    verified = REGISTRY["dedup_jaccard_pairs"].spark(spark, str(tmp_path)).toPandas()
    vgot = {(r.doc_a, r.doc_b) for r in verified.itertuples()}
    assert (0, 1) in vgot, "planted near-dup failed Jaccard verification"


def test_ann_recall_vs_bruteforce(spark):
    """Sign-bucket ANN must recover most of the true top-10 while scanning
    only the probed buckets (adaptive nbits+1 of 2^nbits buckets)."""
    exact = REGISTRY["similarity_topk_dot"].spark(spark, SF_DIR).toPandas()
    approx = REGISTRY["ann_signbucket_topk"].spark(spark, SF_DIR).toPandas()
    recall = len(set(exact.vec_id) & set(approx.vec_id)) / len(exact)
    # the query vector itself (dot with self) is always in its own bucket,
    # and sign-agreement correlates with dot — empirically 0.7 at sf0.01;
    # assert a conservative floor so data regeneration can't flap the test
    assert recall >= 0.4, f"ANN recall {recall} below floor"


def _expected_bits(n: int, target: int, minb: int, maxb: int = 16) -> int:
    import math

    ceil_div = -(-n // target)
    bits = max(1, math.ceil(math.log2(ceil_div))) if ceil_div > 1 else 1
    return max(minb, min(maxb, bits))


def test_adaptive_bits_formula_lockstep(spark, duck):
    """The Spark, DuckDB, and Python bucket-width expressions must agree
    with each other and with the closed form ceil(log2(ceil(n/target)))
    for counts spanning six orders of magnitude (clamps included)."""
    from pyspark.sql import functions as F

    from seisdb_spark.functions.vectors import (
        adaptive_bits_col,
        adaptive_bits_py,
        adaptive_bits_sql,
    )

    for n in (1, 7, 64, 500, 513, 2000, 4096, 10**6, 10**9):
        for target, minb in ((64, 2), (8, 4)):
            want = _expected_bits(n, target, minb)
            got_spark = (
                spark.range(n)
                .agg(adaptive_bits_col(F.count(F.lit(1)), target, minb).alias("b"))
                .head()[0]
                if n <= 10**6
                else spark.createDataFrame([(n,)], "n long")
                .select(adaptive_bits_col(F.col("n"), target, minb).alias("b"))
                .head()[0]
            )
            got_duck = duck.execute(
                f"SELECT {adaptive_bits_sql(target, minb)} FROM range({n})"
            ).fetchone()[0]
            got_py = adaptive_bits_py(n, target, minb)
            assert got_spark == got_duck == got_py == want, (
                n, target, minb, got_spark, got_duck, got_py, want,
            )


@pytest.mark.parametrize("n_background", [40, 2048])
def test_embedding_neardup_planted_two_scales(spark, tmp_path, n_background):
    """The planted near-dup pair must be found at BOTH fixture sizes even
    though the derived band width r differs (4 bits at n=42, 8 at n=2050) —
    banding keeps recall while per-bucket occupancy stays ~constant."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=64).astype(np.float32)
    near = (base + rng.normal(scale=0.01, size=64).astype(np.float32)).astype(np.float32)
    others = rng.normal(size=(n_background, 64)).astype(np.float32)
    vecs = [base, near] + list(others)
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [v.tolist() for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    d = tmp_path / f"scale{n_background}"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")

    pairs = REGISTRY["embedding_neardup_pairs"].spark(spark, str(d)).toPandas()
    got = {(r.vec_a, r.vec_b) for r in pairs.itertuples()}
    assert (0, 1) in got, f"planted pair missed at n={len(vecs)}"
    # every reported pair is a true near-dup (the exact-cosine verify gate)
    for va, vb in got:
        x = np.asarray(vecs[va], dtype=np.float64)
        y = np.asarray(vecs[vb], dtype=np.float64)
        assert x @ y / (np.linalg.norm(x) * np.linalg.norm(y)) >= 0.95

    # probe the EXACT production blocking stage: the banded-LSH candidate
    # set must contain the planted pair (blocking recall) while shrinking
    # the verify workload well below the all-pairs quadratic
    from seisdb_spark.queries.extensions import neardup_band_candidates

    emb = spark.read.parquet(str(d / "embeddings.parquet"))
    _, cand = neardup_band_candidates(spark, emb)
    cand_pairs = {(r.vec_a, r.vec_b) for r in cand.toPandas().itertuples()}
    assert (0, 1) in cand_pairs, "blocking stage dropped the planted pair"
    n = len(vecs)
    all_pairs = n * (n - 1) // 2
    assert len(cand_pairs) < all_pairs / 2, (
        f"blocking barely prunes: {len(cand_pairs)} of {all_pairs} pairs"
    )


def test_pii_scan_detects_planted_pii(spark, tmp_path):
    """The driver corpus is synthetic-clean (every doc flags pii_clean=1),
    so prove the detectors on planted PII."""
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "contact me at jane.doe+x@example.org for details",
                "call 5551234567 or visit https://example.com/a?b=1 now",
                "clean text with no identifiers at all",
                "two mails a@b.io c@d.co and id 00012345678",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [1] * 4,
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["pii_scan_counts"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert list(out.n_emails) == [1, 0, 0, 2]
    assert list(out.n_digit_runs) == [0, 1, 0, 1]
    assert list(out.n_urls) == [0, 1, 0, 0]
    assert list(out.pii_clean) == [0, 0, 1, 0]


def test_ann_probe_is_broadcast_equijoin(spark):
    """The ANN probe set (nbits+1 keys) must broadcast into an equi-join on
    the bucket key — never a scan-and-filter over every row's Hamming
    distance (the shape that stops pruning at scale)."""
    from seisdb_spark.plancheck import final_plan, has_node

    df = REGISTRY["ann_signbucket_topk"].spark(spark, SF_DIR)
    df.collect()
    head = final_plan(df)
    assert has_node(head, "BroadcastHashJoin [bucket")


def test_neardup_band_self_join_reuses_exchange(spark):
    """The banded near-dup self-join's two sides must share one computation
    of the band table (ReusedExchange), not recompute the sign-string
    lineage twice."""
    from seisdb_spark.plancheck import final_plan, has_node

    df = REGISTRY["embedding_neardup_pairs"].spark(spark, SF_DIR)
    df.collect()
    assert has_node(final_plan(df), "ReusedExchange")


# the 3-shingle explode of functions/text.py::shingle_tokens, as the
# executed plan prints it
_SHINGLE_GENERATE = re.compile(
    r"Generate explode\(transform\(sequence\(1, \(size\(w#\d+, false\) - "
    rf"{SHINGLE_K - 1}\)"
)


def _subtrees(plan: str, pattern: re.Pattern) -> list[str]:
    """Each node line of a tree-string plan that matches ``pattern``,
    together with the indented lines of the subtree under it."""
    lines = plan.splitlines()
    depth = lambda line: len(line) - len(line.lstrip(" :+-"))  # noqa: E731
    out = []
    for i, line in enumerate(lines):
        if pattern.search(line):
            j = i + 1
            while j < len(lines) and depth(lines[j]) > depth(line):
                j += 1
            out.append("\n".join(lines[i:j]))
    return out


def test_lsh_candidates_share_one_signature_exchange(spark):
    """The band self-join of ``_lsh_candidates`` computes the signature
    table once: one documents scan, one shingle explode, and the second
    join side reads the signature aggregate's Exchange as a
    ReusedExchange."""
    from seisdb_spark.plancheck import final_plan, run_plan

    df = REGISTRY["minhash_lsh_candidates"].spark(spark, SF_DIR)
    run_plan(df)
    plan = final_plan(df)
    assert plan.count("FileScan parquet") == 1
    assert len(_SHINGLE_GENERATE.findall(plan)) == 1
    assert re.search(
        r"ReusedExchange \[doc_id#\d+L, min#\d+L.*Exchange hashpartitioning\(doc_id", plan
    )


@pytest.mark.parametrize(
    ("name", "n_scans"), [("dedup_jaccard_pairs", 1), ("curation_keep_set", 4)]
)
def test_jaccard_on_candidates_explodes_the_corpus_once(spark, name, n_scans):
    """``_jaccard_on_candidates`` explodes the whole corpus into shingles
    once, for the signatures.  Its verify explodes only the candidate
    docs, once, to collect each one's shingle set: that Generate sits
    above the LeftSemi join with the broadcast candidate set.
    dedup_jaccard_pairs runs 7 shuffle exchanges at sf0.01.
    curation_keep_set reads the documents table 4 times because its
    decontamination and gate filters are pushed into separate scans."""
    from seisdb_spark.plancheck import count_exchanges, final_plan, run_plan

    df = REGISTRY[name].spark(spark, SF_DIR)
    run_plan(df)
    plan = final_plan(df)
    assert plan.count("FileScan parquet") == n_scans
    semi = ["LeftSemi" in t for t in _subtrees(plan, _SHINGLE_GENERATE)]
    assert sorted(semi) == [False, True]
    if name == "dedup_jaccard_pairs":
        assert count_exchanges(plan) == 7


DEGENERATE_DOCS = {
    "empty": [],
    "short": [(1, "en", ""), (2, "en", "one"), (3, "en", "a b"), (10, "en", "a b")],
    "duplicate": [(1, "en", "a b c d"), (2, "en", "a b c d")],
}


@pytest.mark.parametrize("case", sorted(DEGENERATE_DOCS))
def test_near_dup_primitives_on_degenerate_docs(spark, case):
    """The LSH band join, the Jaccard verify, the decontamination join and
    curate() hold under the session's ANSI settings on inputs the fixtures
    never contain: no documents; 0/1/2-word documents (fewer words than a
    shingle, a benchmark doc among them); and one exact-duplicate pair,
    which is a candidate with Jaccard 1.0.  None gives a decontamination
    hit or a kept doc (the duplicate pair is shorter than the curation
    length gate)."""
    from seisdb_spark.curation import curate
    from seisdb_spark.functions.graph import cc_auto, cc_exact_lazy
    from seisdb_spark.queries.extensions import (
        _jaccard_on_candidates,
        _lsh_candidates,
        decon_join,
        decon_report,
    )
    from seisdb_spark.sources.tables import spread

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    docs = spread(
        spark.createDataFrame(DEGENERATE_DOCS[case], "doc_id long, lang string, text string")
    )
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    dup = case == "duplicate"
    assert rows(_lsh_candidates(docs)) == ([(1, 2)] if dup else [])
    assert rows(_jaccard_on_candidates(docs)) == ([(1, 2, 1.0)] if dup else [])
    assert rows(decon_report(decon_join(docs))) == []
    for cc in (cc_exact_lazy, cc_auto):
        assert rows(curate(docs, cc=cc)) == []


# (shingle rows, candidate pairs, expected (doc_a, doc_b, jaccard) rows)
VERIFY_CASES = {
    # no shared shingle; doc 3 has no shingle at all
    "disjoint": ([(1, "x"), (1, "y"), (2, "z")], [(1, 2), (1, 3)], []),
    # repeated (doc_id, sh) rows: the sets are {x, y} and {x, z}
    "repeated": (
        [(1, "x"), (1, "x"), (1, "y"), (2, "x"), (2, "x"), (2, "z")],
        [(1, 2)],
        [(1, 2, 1 / 3)],
    ),
}


@pytest.mark.parametrize("case", sorted(VERIFY_CASES))
def test_verify_jaccard_scores_shingle_sets(spark, case):
    """``_verify_jaccard`` scores each candidate pair from its two shingle
    sets: a pair that shares no shingle gives no row, and a shingle table
    with repeated (doc_id, sh) rows scores as its distinct table does."""
    from seisdb_spark.queries.extensions import _verify_jaccard

    sh_rows, cand_rows, want = VERIFY_CASES[case]
    sh = spark.createDataFrame(sh_rows, "doc_id long, sh string")
    cand = spark.createDataFrame(cand_rows, "doc_a long, doc_b long")
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert rows(_verify_jaccard(sh, cand)) == want
    assert rows(_verify_jaccard(sh.distinct(), cand)) == want


@pytest.mark.parametrize("n_vecs", [64, 4096])
def test_ann_recall_two_scales(spark, tmp_path, n_vecs):
    """ANN top-10 recall vs a numpy brute force holds at two fixture sizes
    spanning the adaptive range (nbits=2 at n=64, 6 at n=4096)."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "vec_id": range(n_vecs),
            "embedding": [v.tolist() for v in vecs],
            "label": [0] * n_vecs,
        }
    )
    d = tmp_path / f"ann{n_vecs}"
    d.mkdir()
    pdf.to_parquet(d / "embeddings.parquet")

    q = vecs[0].astype(np.float64)
    dots = vecs.astype(np.float64) @ q
    exact_top = set(np.argsort(-dots)[:10].tolist())
    approx = REGISTRY["ann_signbucket_topk"].spark(spark, str(d)).toPandas()
    recall = len(exact_top & set(approx.vec_id)) / 10
    assert recall >= 0.3, f"ANN recall {recall} at n={n_vecs}"
    assert 0 in set(approx.vec_id), "query vector missing from its own bucket"


def test_embedding_neardup_planted(spark, tmp_path):
    """A vector and its tiny-noise copy (cosine ~ 0.9996) must be found by
    the sign-bucketed near-dup join; random pairs must not."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=64).astype(np.float32)
    near = (base + rng.normal(scale=0.01, size=64).astype(np.float32)).astype(np.float32)
    others = rng.normal(size=(30, 64)).astype(np.float32)
    vecs = [base, near] + list(others)
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [v.tolist() for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")

    pairs = REGISTRY["embedding_neardup_pairs"].spark(spark, str(tmp_path)).toPandas()
    got = {(r.vec_a, r.vec_b) for r in pairs.itertuples()}
    assert (0, 1) in got, "planted near-dup embedding pair not found"
    a, b = np.asarray(base, dtype=np.float64), np.asarray(near, dtype=np.float64)
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    found = pairs[(pairs.vec_a == 0) & (pairs.vec_b == 1)].cosine.iloc[0]
    assert abs(found - want) < 1e-4
    for va, vb in got - {(0, 1)}:
        x = np.asarray(vecs[va], dtype=np.float64)
        y = np.asarray(vecs[vb], dtype=np.float64)
        assert x @ y / (np.linalg.norm(x) * np.linalg.norm(y)) >= 0.95


def test_simhash_neardups_close_in_hamming(spark, docs_pdf):
    """Near-duplicate documents must land at small SimHash Hamming distance
    relative to the corpus background."""
    fp = REGISTRY["simhash_fingerprint"].spark(spark, SF_DIR).toPandas()
    fpmap = dict(zip(fp.doc_id, fp.simhash, strict=True))
    pairs = REGISTRY["dedup_jaccard_pairs"].spark(spark, SF_DIR).toPandas()
    assert len(pairs) > 0

    def ham(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    nd = [ham(fpmap[r.doc_a], fpmap[r.doc_b]) for r in pairs.itertuples()]
    rng = np.random.default_rng(3)
    ids = list(fpmap)
    bg = [
        ham(fpmap[a], fpmap[b])
        for a, b in zip(rng.choice(ids, 300), rng.choice(ids, 300), strict=True)
        if a != b
    ]
    assert np.mean(nd) < np.mean(bg), (np.mean(nd), np.mean(bg))


def test_ivf_recall_floor(spark):
    """IVF with nprobe=3 of 10 random-label partitions: the query's own
    partition is always probed, so recall beats the 0.3 random baseline."""
    exact = REGISTRY["similarity_topk_dot"].spark(spark, SF_DIR).toPandas()
    approx = REGISTRY["ann_ivf_topk"].spark(spark, SF_DIR).toPandas()
    recall = len(set(exact.vec_id) & set(approx.vec_id)) / len(exact)
    assert recall >= 0.2, f"IVF recall {recall} below floor"


def test_decontamination_planted_overlap(spark, tmp_path):
    """A train doc embedding a verbatim 8-gram from a benchmark doc must be
    flagged with the right collision counts; clean docs must not appear."""
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    contaminated = "noise words then " + bench_text + " trailing tail"
    pdf = pd.DataFrame(
        {
            # doc_id 0 and 10 are benchmark (doc_id % 10 == 0)
            "doc_id": [0, 10, 3, 7],
            "text": [
                bench_text,
                "totally different benchmark content here with many words",
                contaminated,  # shares 8-grams with doc 0
                "clean training text sharing nothing with the benchmark set",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [1] * 4,
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["decontamination_overlap"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    assert list(out.index) == [3]  # only the contaminated doc
    # the planted span has 10 words -> 3 distinct 8-grams, all from 1 bench doc
    assert out.loc[3, "n_shared_shingles"] == 3
    assert out.loc[3, "n_bench_docs"] == 1


def test_decontamination_bench_side_is_broadcast(spark):
    """The benchmark shingle set must broadcast (eval suites are MBs against
    a 100 TB corpus) — the training side must never shuffle for the join."""
    from seisdb_spark.plancheck import final_plan, has_node

    df = REGISTRY["decontamination_overlap"].spark(spark, SF_DIR)
    df.collect()
    assert has_node(final_plan(df), "BroadcastHashJoin")


def test_sequence_packing_invariants(spark):
    """Per shard, in deterministic (hash, doc_id) order: each doc's
    (seq_in_shard, offset_in_seq) must equal the running token start
    divided/modded by the 2048 budget — cross-checked against an
    independent pandas cumulative sum."""
    from seisdb_spark.queries.extensions import PACK_SEQ_TOKENS

    out = REGISTRY["sequence_packing"].spark(spark, SF_DIR).toPandas()
    assert out.doc_id.is_unique and len(out) > 0
    # recompute the deterministic order key independently (md5 of the TEXT —
    # the ordering is a pure function of content, not of the doc id)
    import hashlib as _h

    texts = pd.read_parquet(f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"])
    tmap = dict(zip(texts.doc_id, texts.text, strict=True))
    out["h"] = [
        int(_h.md5(tmap[d].encode()).hexdigest()[:8], 16) for d in out.doc_id
    ]
    for shard, grp in out.groupby("shard"):
        grp = grp.sort_values(["h", "doc_id"])
        start = grp.n_tokens.cumsum().shift(fill_value=0)
        assert (grp.seq_in_shard.values == (start // PACK_SEQ_TOKENS).values).all()
        assert (grp.offset_in_seq.values == (start % PACK_SEQ_TOKENS).values).all()
        # shard assignment itself is the same content hash mod N
        from seisdb_spark.queries.extensions import PACK_N_SHARDS

        assert (grp.h % PACK_N_SHARDS == shard).all()


def test_sequence_packing_plan_single_shard_exchange(spark):
    """Packing's 100 TB shape: exactly ONE Exchange (hash on shard), a
    PER-PARTITION sort feeding the window — never a rangepartitioning
    global sort (the shape that serializes a corpus-wide total order)."""
    from seisdb_spark.plancheck import count_exchanges, final_plan, has_node

    df = REGISTRY["sequence_packing"].spark(spark, SF_DIR)
    df.collect()
    head = final_plan(df)
    assert count_exchanges(head, key="shard") == 1
    assert count_exchanges(head) == 1
    assert not has_node(head, "rangepartitioning")


def test_budgeted_sample_invariants(spark):
    """Per (lang, shard) in deterministic hash order: kept docs are exactly
    the greedy prefix whose running prior total is under the shard budget —
    cross-checked against an independent pandas rederivation over the full
    corpus (including the docs the query dropped)."""
    import hashlib as _h

    from seisdb_spark.queries.extensions import (
        BUDGET_N_SHARDS,
        BUDGET_TOKENS_PER_LANG,
        _BUDGET_PER_SHARD,
    )

    out = REGISTRY["budgeted_sample_per_lang"].spark(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out.budget_used_before < _BUDGET_PER_SHARD).all()

    # independent full-corpus rederivation (regex tokens + bytes/4 floor)
    import re as _re

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    docs["n_tokens"] = [
        max(len(_re.findall(r"\w+|[^\w\s]", t)), -(-len(t.encode()) // 4))
        for t in docs.text
    ]
    docs["h"] = [
        int(_h.md5(t.encode()).hexdigest()[:8], 16) for t in docs.text
    ]
    docs["shard"] = docs.h % BUDGET_N_SHARDS
    want_ids = set()
    for (_lang, _shard), grp in docs.groupby(["lang", "shard"]):
        grp = grp.sort_values(["h", "doc_id"])
        used = grp.n_tokens.cumsum().shift(fill_value=0)
        want_ids |= set(grp.doc_id[used < _BUDGET_PER_SHARD])
    assert set(out.doc_id) == want_ids

    # the selection approximately fills each language's budget (each shard
    # overshoots by at most one doc, so the floor is budget - slack)
    per_lang = out.groupby("lang").n_tokens.sum()
    full_langs = docs.groupby("lang").n_tokens.sum()
    for lang, total in per_lang.items():
        if full_langs[lang] >= 2 * BUDGET_TOKENS_PER_LANG:
            assert total >= BUDGET_TOKENS_PER_LANG * 0.8, (lang, total)


def test_repeated_passage_spans_planted(spark, tmp_path):
    """A verbatim 14-word passage planted in two docs at different word
    offsets must come back as one maximal span per doc covering exactly the
    planted words; a doc carrying TWO well-separated repeats must yield two
    islands; clean docs must not appear."""
    passage = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut"  # 14 words
    )
    filler_a = " ".join(f"fa{i}" for i in range(5))
    filler_b = " ".join(f"fb{i}" for i in range(9))
    filler_c = " ".join(f"fc{i}" for i in range(30))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                filler_a + " " + passage + " tail1 tail2",  # words 6..19
                passage + " " + filler_b,  # words 1..14
                # two repeats of the SAME passage, separated by >10 words
                passage + " " + filler_c + " " + passage,
                "completely unrelated clean text with unique words only",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [1] * 4,
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["repeated_passage_spans"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .sort_values(["doc_id", "span_start"])
        .reset_index(drop=True)
    )
    spans = {
        d: [(r.span_start, r.span_end) for r in g.itertuples()]
        for d, g in out.groupby("doc_id")
    }
    # 14-word passage -> 5 grams of 10 words; span covers the passage exactly
    assert spans[1] == [(6, 19)]
    assert spans[2] == [(1, 14)]
    # doc 3: repeats at words 1..14 and 45..58 (second starts after the
    # 14-word passage + 30 filler words)
    assert spans[3] == [(1, 14), (45, 58)]
    assert 4 not in spans
    assert (out.n_grams == 5).all()


def test_passage_flagged_positions_matches_rep_join_and_scans_once(spark):
    """The r18-opt window flag stage must (a) return exactly the rows of
    the rep-aggregate + join pair it replaced — including the edge case a
    naive min!=max rewrite could get wrong: a gram repeated at several
    positions of ONE doc only is NOT flagged (the threshold counts
    DISTINCT docs) — and (b) consume its gram input ONCE (the old pair
    ran the tokenize+explode+md5 scan twice per execution)."""
    from seisdb_spark.queries.ext_dedup import (
        passage_flagged_positions,
        passage_grams,
        passage_hits,
        passage_rep,
    )

    ten = " ".join(f"w{i}" for i in range(10))  # one exact 10-gram
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    # the gram twice in ONE doc (>10 words apart): repeated
                    # positions but a single distinct doc -> must NOT flag
                    ten + " " + " ".join(f"x{i}" for i in range(11)) + " " + ten,
                    # a DIFFERENT gram shared by docs 2 and 3 -> must flag
                    "shared " + ten.replace("w", "s"),
                    ten.replace("w", "s") + " shared",
                ],
            }
        )
    )
    grams = passage_grams(docs)
    new = passage_flagged_positions(grams)
    old = passage_hits(grams, passage_rep(grams))
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got = rows(new)
    assert got == rows(old)
    assert {r[0] for r in got} == {2, 3}  # doc 1's intra-doc repeat unflagged

    # single consumption: exactly ONE Generate (gram explode) in the
    # executed plan — the old pair's plan carries two
    from seisdb_spark.plancheck import final_plan

    new.write.format("noop").mode("overwrite").save()
    assert final_plan(new).count("Generate") == 1
    old.write.format("noop").mode("overwrite").save()
    assert final_plan(old).count("Generate") == 2


def test_semantic_dedup_planted_and_shrinkage(spark, tmp_path):
    """A near-identical embedding pair must land in one cluster with the
    later vector dropped (kept=0); every drop must be justified by a real
    >= 0.95 cosine to an earlier same-cluster member (numpy recheck); and
    the pairwise work must be within-cluster only (sum nc*(nc-1)/2 well
    under the all-pairs count)."""
    rng = np.random.default_rng(23)
    base = rng.normal(size=64).astype(np.float32)
    near = (base + rng.normal(scale=0.005, size=64).astype(np.float32)).astype(
        np.float32
    )
    others = rng.normal(size=(60, 64)).astype(np.float32)
    vecs = [base, near] + list(others)
    pdf = pd.DataFrame(
        {
            "vec_id": range(len(vecs)),
            "embedding": [v.tolist() for v in vecs],
            "label": [0] * len(vecs),
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")

    out = (
        REGISTRY["semantic_dedup"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    assert len(out) == len(vecs)
    # the planted pair: same cluster, earlier kept, later dropped
    assert out.loc[0, "cluster"] == out.loc[1, "cluster"]
    assert out.loc[0, "kept"] == 1
    assert out.loc[1, "kept"] == 0

    # every drop is justified: cosine >= 0.95 to some earlier cluster-mate
    V = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    nrm = np.linalg.norm(V, axis=1)
    for vid in out.index[out.kept == 0]:
        mates = out.index[
            (out.cluster == out.loc[vid, "cluster"]) & (out.index < vid)
        ]
        cos = [V[vid] @ V[m] / (nrm[vid] * nrm[m]) for m in mates]
        assert max(cos) >= 0.95 - 1e-9, (vid, max(cos, default=None))

    # quadratic work is within-cluster only
    sizes = out.groupby("cluster").size()
    pair_work = int((sizes * (sizes - 1) // 2).sum())
    n = len(vecs)
    assert pair_work < n * (n - 1) // 2 / 2, pair_work


def test_semantic_dedup_plan_maponly_assignment(spark):
    """The round-7 redesign's contract: centroid assignment must be a
    map-only broadcast argmax — NO Window node (the round-6 plan shuffled
    n*K scored rows through a hashpartitioning(vec_id) exchange to run the
    per-vector argmax window), the seed row must broadcast, and nothing may
    degenerate to a cartesian product."""
    from seisdb_spark.plancheck import final_plan, has_node

    df = REGISTRY["semantic_dedup"].spark(spark, SF_DIR)
    df.collect()
    plan = final_plan(df)
    assert not has_node(plan, "Window"), "assignment regressed to a window"
    assert has_node(plan, "Broadcast")
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "rangepartitioning")


def test_bm25_planted_ranking(spark, tmp_path):
    """BM25 must rank by term coverage and tf, normalize by doc length, and
    exclude docs matching no query term."""
    q1, q2, q3 = ("hash", "join", "vector")
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                f"{q1} {q2} {q3} {q1} {q2} {q3}",  # all terms, dense
                f"{q1} filler filler filler filler filler filler filler",
                f"{q1} filler",  # same tf as doc 2, much shorter
                "no query terms at all here",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [1] * 4,
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = REGISTRY["bm25_topk"].spark(spark, str(tmp_path)).toPandas()
    assert list(out.doc_id) == [1, 3, 2]  # 4 excluded; 3 beats 2 on length
    assert out.score.is_monotonic_decreasing


def test_bm25_plan_broadcast_stats_and_takeordered(spark):
    """The 1-row corpus-stats side must broadcast (never shuffle the corpus
    for it) and top-k must be TakeOrderedAndProject, not a global sort."""
    from seisdb_spark.plancheck import final_plan, has_node

    df = REGISTRY["bm25_topk"].spark(spark, SF_DIR)
    df.collect()
    head = final_plan(df)
    assert has_node(head, "BroadcastNestedLoopJoin") or has_node(
        head, "BroadcastExchange"
    )
    assert has_node(head, "TakeOrderedAndProject")
    # no KEYED shuffle of corpus data: the only allowed exchanges are the
    # test-table spread() round-robin and the 1-row stats consolidation
    assert not has_node(head, "hashpartitioning")
    assert not has_node(head, "rangepartitioning")


def test_split_leakage_planted_cross_split_neardup(spark, tmp_path):
    """Two near-duplicate docs whose content hashes land in different
    splits must surface as a cross_split=1 pair; a near-dup pair inside
    one split must not."""
    import hashlib

    from seisdb_spark.queries.extensions import SPLIT_MOD

    def bucket(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % SPLIT_MOD

    # find ids: two in train (bucket<=7), one in test (bucket==9)
    train_ids = [i for i in range(1, 200) if bucket(i) <= 7][:2]
    test_id = next(i for i in range(1, 200) if bucket(i) == 9)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    near = base.replace("theta", "thetaX", 1)  # 1-word edit: J >> 0.7
    rows = [
        {"doc_id": train_ids[0], "text": base},
        {"doc_id": train_ids[1], "text": near},  # train-train near-dup
        {"doc_id": test_id, "text": base},  # train-test LEAK
    ]
    # unrelated filler so LSH has non-candidates too
    for i, d in enumerate(j for j in range(200, 240) if bucket(j) <= 7):
        rows.append({"doc_id": d, "text": f"unrelated text number {i} " * 10})
    pdf = pd.DataFrame(rows)
    pdf["lang"], pdf["source"], pdf["n_chars"] = "en", "t", 1
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["split_leakage_audit"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index(["split_a", "split_b"])
    )
    assert out.loc[("train", "test"), "cross_split"] == 1
    assert out.loc[("train", "test"), "n_pairs"] >= 1
    assert out.loc[("train", "train"), "cross_split"] == 0


def test_bm25_multiquery_planted_and_shared_term(spark, tmp_path):
    """Each query must rank its own relevant docs; a term shared by two
    queries (join) must contribute the SAME df to both; docs matching no
    term of a query must not appear under that query."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "hash join hash join hash",  # q1 dense, q4 partial (join)
                "vector scan filter vector scan",  # q2 dense
                "window stream window stream window",  # q3 dense
                "sort merge join sort merge",  # q4 dense, q1 partial (join)
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [1] * 4,
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = REGISTRY["bm25_multiquery"].spark(spark, str(tmp_path)).toPandas()
    top = {
        qid: list(g.sort_values("rank").doc_id)
        for qid, g in out.groupby("query_id")
    }
    assert top[1][0] == 1 and top[2] == [2] and top[3] == [3]
    assert top[4][0] == 4
    # 'join' appears in docs 1 and 4 -> both listed under q1 AND q4
    assert set(top[1]) == {1, 4} and set(top[4]) == {1, 4}
    # doc 2/3 never surface for queries whose terms they lack
    assert 2 not in top[1] + top[3] + top[4]
    # per-query ranks are 1..n with strictly descending scores
    for _, g in out.groupby("query_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert g.score.is_monotonic_decreasing


def test_hybrid_rrf_planted_consensus_doc(spark, tmp_path):
    """A doc that is top in BOTH the lexical and the vector list must win
    the fusion, and single-list docs must carry a null rank for the list
    they miss."""
    # doc 7: contains the BM25 query terms densely AND its embedding is the
    # ANN query vector's near-twin (same label -> probed partition)
    rng = np.random.default_rng(7)
    qv = rng.normal(size=64).astype(np.float32)
    near = (qv + rng.normal(scale=0.01, size=64).astype(np.float32)).astype(
        np.float32
    )
    others = rng.normal(size=(20, 64)).astype(np.float32)
    vecs = {0: qv, 7: near}
    texts = {7: "hash join vector hash join vector"}
    doc_ids = [0, 7] + list(range(100, 120))
    emb_rows, doc_rows = [], []
    for i, d in enumerate(doc_ids):
        emb_rows.append(
            {
                "vec_id": d,
                "embedding": vecs.get(d, others[i % 20]).tolist(),
                "label": 0 if d in (0, 7) else 1 + (i % 3),
            }
        )
        doc_rows.append(
            {
                "doc_id": d,
                "text": texts.get(d, f"filler words only number {i} here"),
                "lang": "en",
                "source": "t",
                "n_chars": 1,
            }
        )
    pd.DataFrame(emb_rows).to_parquet(tmp_path / "embeddings.parquet")
    pd.DataFrame(doc_rows).to_parquet(tmp_path / "documents.parquet")
    out = REGISTRY["hybrid_rrf_topk"].spark(spark, str(tmp_path)).toPandas()
    assert out.iloc[0].doc_id == 7
    assert out.iloc[0].bm25_rank == 1  # only doc with any query term
    assert not pd.isna(out.iloc[0].ann_rank)
    # docs surfaced by ANN only carry a null bm25_rank (they match no term)
    ann_only = out[out.doc_id != 7]
    assert ann_only.bm25_rank.isna().all()
    assert out.rrf_score.is_monotonic_decreasing


def test_quality_classifier_margin_matches_manual(spark, tmp_path):
    """The margin must equal the hand-computed hashed-weight mean, and the
    keep verdict must be its sign."""
    import hashlib

    from seisdb_spark.queries.extensions import QC_WEIGHT_MOD, QC_WEIGHT_SHIFT

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["alpha beta gamma alpha", "delta epsilon"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [1] * 2,
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["quality_classifier_score"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )

    def margin(words: list[str]) -> float:
        ws = [
            int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % QC_WEIGHT_MOD
            - QC_WEIGHT_SHIFT
            for w in words
        ]
        return round(sum(ws) / (QC_WEIGHT_SHIFT * len(ws)), 6)

    # bag semantics: the repeated 'alpha' contributes twice
    m1 = margin(["alpha", "beta", "gamma", "alpha"])
    m2 = margin(["delta", "epsilon"])
    assert out.loc[1, "quality_margin"] == pytest.approx(m1, abs=1e-9)
    assert out.loc[2, "quality_margin"] == pytest.approx(m2, abs=1e-9)
    assert (out.quality_margin.abs() <= 1.0).all()
    assert (out.keep == (out.quality_margin >= 0).astype(int)).all()


def test_vocab_coverage_matches_pandas(spark, docs_pdf):
    """Per-language totals and OOV rates must match an independent pandas
    rederivation of the top-V vocabulary."""
    from collections import Counter

    from seisdb_spark.queries.extensions import VOCAB_SIZE

    out = REGISTRY["vocab_coverage"].spark(spark, SF_DIR).toPandas().set_index("lang")
    counts: Counter = Counter()
    per_lang: dict[str, Counter] = {}
    for r in docs_pdf.itertuples():
        words = r.text.split(" ")
        counts.update(words)
        per_lang.setdefault(r.lang, Counter()).update(words)
    vocab = {
        w
        for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB_SIZE]
    }
    for lang, c in per_lang.items():
        total = sum(c.values())
        oov = sum(n for w, n in c.items() if w not in vocab)
        assert out.loc[lang, "total_tokens"] == total
        assert out.loc[lang, "oov_tokens"] == oov
        assert out.loc[lang, "oov_rate"] == pytest.approx(
            round(oov / total, 6), abs=1e-9
        )


def test_vocab_coverage_plan_broadcasts_vocab(spark):
    """The induced vocabulary must come back as a BROADCAST to the
    occurrence counts — the corpus-sized side never reshuffles for it."""
    from seisdb_spark.plancheck import final_plan, has_node

    df = REGISTRY["vocab_coverage"].spark(spark, SF_DIR)
    df.collect()
    head = final_plan(df)
    assert has_node(head, "BroadcastHashJoin")
    assert has_node(head, "TakeOrderedAndProject")  # top-V, not global sort


def test_corpus_datacard_rollup_consistency(spark, docs_pdf):
    """The rollup levels must be mutually consistent: the ALL/ALL row is the
    whole corpus, per-lang rows sum to it, and stats are well-formed."""
    out = REGISTRY["corpus_datacard"].spark(spark, SF_DIR).toPandas()
    top = out[(out.lang == "ALL") & (out.source == "ALL")].iloc[0]
    assert top.n_docs == len(docs_pdf)
    lang_rows = out[(out.lang != "ALL") & (out.source == "ALL")]
    assert lang_rows.n_docs.sum() == len(docs_pdf)
    leaf = out[(out.lang != "ALL") & (out.source != "ALL")]
    assert leaf.n_docs.sum() == len(docs_pdf)
    assert ((out.dup_rate >= 0) & (out.dup_rate < 1)).all()
    assert (out.min_chars <= out.max_chars).all()
    assert ((out.avg_chars >= out.min_chars) & (out.avg_chars <= out.max_chars)).all()
    exp_words = sum(len(t.split(" ")) for t in docs_pdf.text)
    assert top.total_words == exp_words


def test_packing_efficiency_consistent_with_assignment(spark):
    """The per-shard audit must agree with the actual packing assignment:
    n_seqs = the last doc's final window + 1, totals match, and the only
    slack is each shard's final window."""
    from seisdb_spark.queries.extensions import PACK_SEQ_TOKENS

    eff = (
        REGISTRY["packing_efficiency"].spark(spark, SF_DIR).toPandas().set_index("shard")
    )
    packed = REGISTRY["sequence_packing"].spark(spark, SF_DIR).toPandas()
    for shard, grp in packed.groupby("shard"):
        total = grp.n_tokens.sum()
        assert eff.loc[shard, "total_tokens"] == total
        assert eff.loc[shard, "n_docs"] == len(grp)
        # the window the final token lands in (concat-then-chunk: last doc's
        # start + its tokens - 1, integer-divided by the budget)
        last_end = (
            grp.seq_in_shard * PACK_SEQ_TOKENS + grp.offset_in_seq + grp.n_tokens
        ).max()
        exp_seqs = -(-total // PACK_SEQ_TOKENS)
        assert eff.loc[shard, "n_seqs"] == exp_seqs
        assert last_end == total  # no internal gaps: pure concat
        assert (
            eff.loc[shard, "waste_tokens"] == exp_seqs * PACK_SEQ_TOKENS - total
        )
    assert ((eff.fill_rate > 0) & (eff.fill_rate <= 1)).all()


def test_token_rarity_matches_pandas(spark, docs_pdf):
    """Per-doc mean corpus token frequency must match an independent pandas
    rederivation (bag semantics, exact integer sums)."""
    from collections import Counter

    out = (
        REGISTRY["token_rarity_score"].spark(spark, SF_DIR).toPandas().set_index("doc_id")
    )
    freq: Counter = Counter()
    toks = {}
    for r in docs_pdf.itertuples():
        words = r.text.split(" ")
        toks[r.doc_id] = words
        freq.update(words)
    assert len(out) == len(docs_pdf)
    for doc_id, words in list(toks.items())[:50]:
        exp = round(sum(freq[w] for w in words) / len(words), 6)
        assert out.loc[doc_id, "n_tok"] == len(words)
        assert out.loc[doc_id, "mean_token_freq"] == pytest.approx(exp, abs=1e-9)
    # rare-token-heavy docs score LOW: the doc built only of corpus-unique
    # tokens would score 1.0, the minimum possible
    assert (out.mean_token_freq >= 1.0).all()


def test_source_mix_weights_invariants(spark, docs_pdf):
    """Shares sum to 1, weights invert shares around uniform, and totals
    match a pandas rederivation."""
    out = REGISTRY["source_mix_weights"].spark(spark, SF_DIR).toPandas()
    exp = (
        docs_pdf.assign(n_tokens=docs_pdf.text.str.split(" ").str.len())
        .groupby("source")
        .agg(n_docs=("doc_id", "count"), n_tokens=("n_tokens", "sum"))
    )
    got = out.set_index("source").sort_index()
    assert (got.n_docs == exp.sort_index().n_docs).all()
    assert (got.n_tokens == exp.sort_index().n_tokens).all()
    assert got.share.sum() == pytest.approx(1.0, abs=1e-4)
    n_sources = len(got)
    # uniform_weight == 1 / (n_sources * share), up to the 6 dp rounding
    assert (
        (got.uniform_weight - 1.0 / (n_sources * got.share)).abs() < 1e-2
    ).all()
    # below-average sources get weight > 1 (upsample), above-average < 1
    assert (
        (got.share < 1.0 / n_sources) == (got.uniform_weight > 1.0)
    ).all()


def test_retrieval_eval_recall_metrics(spark):
    """The ANN-quality canary must report both methods with internally
    consistent metrics, and at sf0.01 both ANN paths must clear a recall
    floor (the same corpus the driver hash-checks)."""
    out = REGISTRY["retrieval_eval_recall"].spark(spark, SF_DIR).toPandas()
    assert set(out.method) == {"signbucket", "ivf"}
    for _, r in out.iterrows():
        assert 0 <= r.hits <= 10
        assert abs(r.recall_at_10 - r.hits / 10.0) < 1e-9
        if r.top1_rank > 0:
            assert abs(r.top1_rr - round(1.0 / r.top1_rank, 6)) < 1e-9
        else:
            assert r.top1_rr == 0.0
        # both ANN paths must find the true nearest neighbor and keep a
        # sane recall on the driver corpus
        assert r.top1_rank >= 1
        assert r.recall_at_10 >= 0.3


def test_retrieval_eval_planted_perfect_recall(spark, tmp_path):
    """With every vector in one IVF partition and one LSH bucket (identical
    sign pattern, one label), both ANN paths degenerate to exact search —
    recall must be exactly 1.0 and the true top-1 found at rank 1."""
    rng = np.random.default_rng(11)
    base = np.abs(rng.normal(size=64)).astype(np.float32) + 0.1  # all positive
    rows = []
    for i in range(12):
        v = base * (1.0 + 0.01 * i)  # same signs -> same sign-bucket
        rows.append({"vec_id": i, "embedding": v.tolist(), "label": 0})
    pd.DataFrame(rows).to_parquet(tmp_path / "embeddings.parquet")
    out = (
        REGISTRY["retrieval_eval_recall"].spark(spark, str(tmp_path)).toPandas()
    )
    assert len(out) == 2
    assert (out.recall_at_10 == 1.0).all()
    assert (out.top1_rank == 1).all()
    assert (out.top1_rr == 1.0).all()


def test_editdist_neardup_planted_verify(spark, tmp_path):
    """LSH must pair both the typo-variant (verified dup) and the
    block-rewritten variant.  Under the round-8 two-tier gate the latter
    flips to is_dup=1: its >64 edits are CONCENTRATED in the 256-char
    prefix (the r7 prefix-only gate over-penalized that) while the full
    text is ~92% identical — above the 75% identity bar.  The prefix
    columns still expose the old signal for both pairs."""
    words = [f"w{i:03d}" for i in range(300)]
    base = " ".join(words)
    typo = " ".join(["w000x"] + words[1:])  # 1-char insertion
    # first 10 words replaced by 12-char z-blocks: z-count differs by 120
    # inside the prefix, so levenshtein >= 120 > EDITDIST_MAX, while the
    # other ~290 words keep shingle-Jaccard ~0.96 (certain band collision)
    far = " ".join(["z" * 12] * 10 + words[10:])
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [base, typo, far, "completely unrelated text here"],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [len(base), len(typo), len(far), 30],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["editdist_neardup_join"].spark(spark, str(tmp_path)).toPandas()
    )
    pairs = {(r.doc_a, r.doc_b): r for _, r in out.iterrows()}
    assert (1, 2) in pairs and pairs[(1, 2)].is_dup == 1
    assert pairs[(1, 2)].edit_distance <= 5
    # prefix metric unchanged: >64 edits inside the prefix...
    assert (1, 3) in pairs and pairs[(1, 3)].edit_distance > 64
    # ...but the full-text verify sees ~92% identity and accepts — and
    # the full distance stays ~the planted prefix damage, not more
    assert pairs[(1, 3)].is_dup == 1
    assert 64 < pairs[(1, 3)].full_edit_distance < 200
    # the unrelated doc never becomes a candidate
    assert not any(4 in p for p in pairs)


def test_editdist_full_text_verify_tiers(spark, tmp_path):
    """The round-8 hardening: the full-text bounded-distance verify must
    (a) accept an OCR-mutated twin with the exact mutation count, (b)
    REJECT a pair whose 256-char prefixes are IDENTICAL but whose tails
    were rewritten (the case the r7 prefix-only gate got wrong), and (c)
    fall back to the prefix gate (full_edit_distance NULL) past the
    length cap."""
    import pandas as pd

    from seisdb_spark.queries.extensions import (
        EDITDIST_FULL_CAP,
        EDITDIST_MAX,
    )

    vwords = [f"v{i:03d}" for i in range(400)]
    base = " ".join(vwords)  # 1999 chars; prefix covers words 0..50
    # (a) OCR twin: 4 single-char substitutions, all BEYOND the prefix
    ocr_words = list(vwords)
    for i in (80, 160, 240, 320):
        ocr_words[i] = vwords[i][:-1] + "X"
    ocr = " ".join(ocr_words)
    # (b) prefix-identical tail rewrite: 20 contiguous words (60..79 —
    # outside the prefix) become 100-char z-runs.  Only ~22 of ~398
    # shingles change (LSH still collides) but >1900 of 3919 chars do —
    # far past the 25% gate AND past the banded-DP bound (-> -1)
    far_words = list(vwords)
    for i in range(60, 80):
        far_words[i] = "z" * 100
    far = " ".join(far_words)
    assert len(far) <= EDITDIST_FULL_CAP
    # (c) past the cap: 900 words (4499 chars), twin with one insertion
    uwords = [f"u{i:03d}" for i in range(900)]
    long_base = " ".join(uwords)
    long_typo = " ".join(["u000x"] + uwords[1:])
    assert len(long_base) > EDITDIST_FULL_CAP

    texts = [base, ocr, far, long_base, long_typo]
    pdf = pd.DataFrame(
        {
            "doc_id": [10, 11, 12, 20, 21],
            "text": texts,
            "lang": ["en"] * 5,
            "source": ["t"] * 5,
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["editdist_neardup_join"].spark(spark, str(tmp_path)).toPandas()
    )
    pairs = {(r.doc_a, r.doc_b): r for _, r in out.iterrows()}

    ocr_pair = pairs[(10, 11)]
    assert ocr_pair.edit_distance == 0  # mutations all beyond the prefix
    assert ocr_pair.full_edit_distance == 4  # exact mutation count
    assert ocr_pair.is_dup == 1

    far_pair = pairs[(10, 12)]
    assert far_pair.edit_distance == 0  # prefix-only gate would say DUP
    assert far_pair.edit_distance <= EDITDIST_MAX
    assert far_pair.full_edit_distance == -1  # past the banded-DP bound
    assert far_pair.is_dup == 0  # the full verify catches it

    long_pair = pairs[(20, 21)]
    assert pd.isna(long_pair.full_edit_distance)  # past the cap
    assert long_pair.is_dup == 1  # prefix-gate fallback


def test_ngram_novelty_planted_and_plan(spark, tmp_path):
    """Doc 1 introduces everything (novelty 1.0); doc 2 copies doc 1
    verbatim (novelty 0.0); doc 3 is half-copied (novelty 0.5 over its
    distinct shingles).  The executed plan must carry exactly ONE gram-key
    exchange serving both the distinct and the first-owner window."""
    words = [f"w{i:02d}" for i in range(20)]
    base = " ".join(words)                         # 18 distinct 3-shingles
    # doc 3: shingles 1..9 are copies of doc 1 (the w00..w10 window), the
    # rest cross into or live inside the fresh y-block -> novel
    half = " ".join(words[:11] + [f"y{i:02d}" for i in range(9)])
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [base, base, half],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(base)] * 3,
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    df = REGISTRY["ngram_novelty_score"].spark(spark, str(tmp_path))
    out = df.toPandas().set_index("doc_id")
    assert out.loc[1].novelty == 1.0
    assert out.loc[2].novelty == 0.0
    assert 0.0 < out.loc[3].novelty < 1.0
    # doc 3's copied prefix contributes exactly 9 non-novel shingles
    assert out.loc[3].n_shingles - out.loc[3].n_novel == 9
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE repeats the plan
    assert final.count("Exchange hashpartitioning(sh") == 1
    assert "Exchange hashpartitioning(doc_id#" in final  # partial-agg rollup


def test_dsir_planted_target_like_doc_wins(spark, tmp_path):
    """A raw-pool doc written in the target sources' vocabulary must
    out-weight a raw-pool doc with disjoint vocabulary, and ranks must
    follow weights."""
    tvocab = " ".join(f"alpha{i}" for i in range(30))
    ovocab = " ".join(f"beta{i}" for i in range(30))
    pdf = pd.DataFrame(
        {
            # src0/src1 are DSIR_TARGET_SOURCES; srcZ is the raw pool
            "doc_id": [1, 2, 10, 11],
            "text": [tvocab, tvocab, tvocab, ovocab],
            "lang": ["en"] * 4,
            "source": ["src0", "src1", "srcZ", "srcZ"],
            "n_chars": [len(tvocab)] * 3 + [len(ovocab)],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["dsir_importance_weights"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    # only raw-pool docs are scored
    assert set(out.index) == {10, 11}
    assert out.loc[10].dsir_weight > out.loc[11].dsir_weight
    assert out.loc[10]["rank"] == 1 and out.loc[11]["rank"] == 2
    # target-like doc has positive importance, alien doc negative
    assert out.loc[10].dsir_weight > 0 > out.loc[11].dsir_weight


def test_bpe_merge_planted_top_pair(spark, tmp_path):
    """The dominant adjacent pair must win: 'ab' appears in every word of
    the planted corpus (weighted by word frequency), single-char words
    contribute nothing, and counts must equal the hand-computed totals."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            # 'abc' x3, 'ab' x2, 'x' x2 -> pair counts: ab=5, bc=3
            "text": ["abc ab x abc", "abc ab x"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [12, 8],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["bpe_merge_candidates"].spark(spark, str(tmp_path)).toPandas()
    )
    assert list(out.sort_values("rank")["pair"]) == ["ab", "bc"]
    counts = dict(zip(out["pair"], out["n"]))
    assert counts == {"ab": 5, "bc": 3}


def _py_bpe_golden(wfreq: dict, iters: int) -> list:
    """Pure-Python BPE trainer: same argmax order (n DESC, left, right),
    same greedy left-to-right non-overlapping merge, same early stop."""
    vocab = {}
    for w, n in wfreq.items():
        if len(w) >= 1:
            key = tuple(w)
            vocab[key] = vocab.get(key, 0) + n
    merges = []
    for it in range(1, iters + 1):
        pc = {}
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] = pc.get((syms[i], syms[i + 1]), 0) + n
        if not pc:
            break
        (left, right), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        new = {}
        for syms, c in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            key = tuple(out)
            new[key] = new.get(key, 0) + c
        vocab = new
        total = sum(len(k) * c for k, c in vocab.items())
        merges.append(
            {
                "iter": it,
                "left_sym": left,
                "right_sym": right,
                "merged": left + right,
                "n": n,
                "total_syms": total,
            }
        )
    return merges


def test_bpe_train_planted_merge_sequence(spark, tmp_path):
    """The ENTIRE merge sequence on a planted vocab must equal the
    hand-computed one, including the early stop once every word is fully
    merged: 'aab' x3 + 'ab' x2 -> pairs (a,b)=5 > (a,a)=3, so merge 1 is
    'ab'; then (a,ab)=3 is the only pair -> merge 2 is 'aab'; then no
    adjacent pair remains -> the loop stops at 2 of 8 iterations.
    total_syms must fall by exactly n each merge (12-5=7, 7-3=4... with
    'ab' words: initial 3*3+2*2=13; after m1: 3*2+2*1=8=13-5; after m2:
    3*1+2*1=5=8-3)."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["aab ab aab", "aab ab"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [10, 6],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["bpe_train_merges"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .sort_values("iter")
        .reset_index(drop=True)
    )
    assert len(out) == 2  # early stop: nothing left to merge
    assert list(out["merged"]) == ["ab", "aab"]
    assert list(out["n"]) == [5, 3]
    assert list(out["total_syms"]) == [8, 5]  # 13-5, 8-3


def test_bpe_train_matches_python_golden_on_smoke(spark):
    """The full 8-iteration merge sequence over the smoke documents table
    must equal the pure-Python golden bit-for-bit (exact integer counts +
    total argmax order make the sequence partitioning-independent), and
    iteration 1 must agree with bpe_merge_candidates' rank-1 pair."""
    from seisdb_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    wfreq = {}
    for text in docs["text"]:
        for w in text.split(" "):
            if w:
                wfreq[w] = wfreq.get(w, 0) + 1
    # NB: Spark's split keeps empty strings (consecutive spaces) but
    # char_segment drops length-0 words, matching the `if w` guard above.
    want = _py_bpe_golden(wfreq, 8)
    got = (
        REGISTRY["bpe_train_merges"]
        .spark(spark, SMOKE_SF_DIR)
        .toPandas()
        .sort_values("iter")
        .to_dict("records")
    )
    assert got == want
    cand = (
        REGISTRY["bpe_merge_candidates"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    top = cand.loc[cand["rank"] == 1].iloc[0]
    assert got[0]["merged"] == top["pair"] and got[0]["n"] == top["n"]


def test_pii_redaction_planted(spark, tmp_path):
    """Planted emails and digit runs must be replaced by typed placeholders
    (emails first — their digit runs must NOT double-redact), verified
    against a hand-redacted string's length and md5."""
    import hashlib

    t1 = "contact bob123456@example.com or call 5551234567 now"
    r1 = "contact <EMAIL> or call <DIGITS> now"
    t2 = "no pii here at all"
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [t1, t2],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [len(t1), len(t2)],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["pii_redaction"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[1].n_redactions == 2
    assert out.loc[1].redacted_len == len(r1)
    assert out.loc[1].redacted_md5 == hashlib.md5(r1.encode()).hexdigest()
    assert out.loc[2].n_redactions == 0
    assert out.loc[2].redacted_md5 == hashlib.md5(t2.encode()).hexdigest()


def test_dedup_keep_best_invariants(spark):
    """Exactly one keeper per cluster; the keeper has the cluster's max
    quality weight (doc_id breaking ties); every clustered doc appears in
    the CC output with the same cluster assignment."""
    out = REGISTRY["dedup_keep_best"].spark(spark, SF_DIR).toPandas()
    cc = (
        REGISTRY["dedup_cluster_components"].spark(spark, SF_DIR).toPandas()
    )
    assert len(out) == len(cc)
    merged = out.merge(
        cc, left_on="doc_id", right_on="doc_id", how="outer", indicator=True
    )
    assert (merged._merge == "both").all()
    assert (merged.cluster_id == merged.canonical_id).all()
    for cid, g in out.groupby("cluster_id"):
        keepers = g[g.keep == 1]
        assert len(keepers) == 1, f"cluster {cid}: {len(keepers)} keepers"
        best = g.sort_values(
            ["quality_w", "doc_id"], ascending=[False, True]
        ).iloc[0]
        assert keepers.iloc[0].doc_id == best.doc_id


def test_dedup_keep_best_no_forced_broadcast(spark):
    """The cluster table is dup-rate-dependent (corpus-fraction-sized at a
    realistic dup rate), so its join must carry NO broadcast hint — AQE
    chooses at runtime (r7 verdict weak mark).  The analyzed plan of the
    whole composition must therefore contain no ResolvedHint node (none of
    the composed sub-queries forces a broadcast either)."""
    df = REGISTRY["dedup_keep_best"].spark(spark, SF_DIR)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed


def test_embedding_int4_block_quantize_matches_numpy(spark, tmp_path):
    """Block codes and reconstruction error must equal a numpy
    re-derivation of the per-row per-block grid (incl. the zero-range
    block guard and round-half-up), and the plan must be PURE map-side —
    no exchange of any kind (the operator's whole point vs int8)."""
    from seisdb_spark.plancheck import count_exchanges, final_plan
    from seisdb_spark.queries.extensions import INT4_BLOCK, INT4_LEVELS

    rng = np.random.default_rng(13)
    vecs = rng.normal(size=(12, 64)).astype(np.float32)
    vecs[:, 8:16] = 0.5  # block 1 zero-range: codes 0, recon = mn, err 0
    pdf = pd.DataFrame(
        {
            "vec_id": range(12),
            "embedding": [v.tolist() for v in vecs],
            "label": [0] * 12,
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    df = REGISTRY["embedding_int4_block_quantize"].spark(spark, str(tmp_path))
    out = df.toPandas().set_index("vec_id").sort_index()

    for i, v in enumerate(vecs.astype(np.float64)):
        want_codes, err = [], 0.0
        for b in range(64 // INT4_BLOCK):
            blk = v[b * INT4_BLOCK : (b + 1) * INT4_BLOCK]
            mn, mx = blk.min(), blk.max()
            for x in blk:
                if mx == mn:
                    c = 0
                else:
                    c = min(
                        INT4_LEVELS,
                        int(np.floor((x - mn) * INT4_LEVELS / (mx - mn) + 0.5)),
                    )
                want_codes.append(c)
                recon = mn + c * (mx - mn) / INT4_LEVELS
                err += (x - recon) ** 2
        assert out.loc[i].codes == "-".join(map(str, want_codes))
        assert abs(out.loc[i].qerr - err) < 2e-6
        # zero-range block contributes exact-zero error and zero codes
        assert want_codes[8:16] == [0] * 8

    plan = final_plan(df)
    # EVERY exchange must be the test fixture's RoundRobin spread — count
    # exchanges and RoundRobin exchanges and require them equal, so a
    # keyed shuffle OR an Exchange SinglePartition slipping in next to
    # the spread fails the assert (r9 advice; \bexchange\b deliberately
    # excludes Broadcast/ReusedExchange, which are not shuffles)
    import re

    n_exchange = len(re.findall(r"(?i)\bexchange\b", plan))
    n_rr = len(
        re.findall(r"(?i)\bexchange\s+roundrobinpartitioning", plan)
    )
    assert n_exchange == n_rr, plan


def test_embedding_int8_quantize_matches_numpy(spark, tmp_path):
    """Codes and reconstruction error must equal a numpy re-derivation of
    the per-dim uniform grid (incl. the zero-range guard and the 255
    clamp at x = max)."""
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(10, 64)).astype(np.float32)
    vecs[:, 7] = 0.25  # a zero-range dim: step 0 -> code 0, err 0
    pdf = pd.DataFrame(
        {
            "vec_id": range(10),
            "embedding": [v.tolist() for v in vecs],
            "label": [0] * 10,
        }
    )
    pdf.to_parquet(tmp_path / "embeddings.parquet")
    out = (
        REGISTRY["embedding_int8_quantize"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    x = vecs.astype(np.float64)
    mn, mx = x.min(axis=0), x.max(axis=0)
    st = (mx - mn) / 255
    with np.errstate(divide="ignore", invalid="ignore"):
        codes = np.floor((x - mn) / st)
    codes = np.where(st == 0, 0, np.minimum(codes, 255)).astype(np.int64)
    err = ((x - (mn + codes * st)) ** 2)
    err[:, st == 0] = 0.0
    assert (out.code_sum.to_numpy() == codes.sum(axis=1)).all()
    np.testing.assert_allclose(
        out.recon_err.to_numpy(), np.round(err.sum(axis=1), 6), atol=2e-6
    )
    # x == max must land exactly on code 255 for every non-degenerate dim
    top = np.argmax(x[:, 0])
    assert codes[top, 0] == 255


_EMPTY_DOC_OPS = [
    "editdist_neardup_join",
    "ngram_novelty_score",
    "dsir_importance_weights",
    "bpe_merge_candidates",
    "pii_redaction",
    "dedup_keep_best",
]


def _write_empty(path, schema):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({f.name: [] for f in schema}, schema=schema), path
    )


@pytest.mark.parametrize("name", _EMPTY_DOC_OPS)
def test_new_ops_tolerate_empty_documents(spark, tmp_path, name):
    """Empty partitions are routine at scale: every round-7 doc operator
    must return an empty (or well-defined) result on a 0-row documents
    table, never raise."""
    import pyarrow as pa

    _write_empty(
        tmp_path / "documents.parquet",
        pa.schema(
            [
                ("doc_id", pa.int64()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("source", pa.string()),
                ("n_chars", pa.int64()),
            ]
        ),
    )
    out = REGISTRY[name].spark(spark, str(tmp_path)).toPandas()
    assert len(out) == 0


def test_new_ops_tolerate_empty_embeddings(spark, tmp_path):
    """Same guarantee for the embedding operators: a 0-row embeddings table
    yields a well-defined result (eval emits its two metric rows with zero
    hits; the quantizer emits no vectors)."""
    import pyarrow as pa

    _write_empty(
        tmp_path / "embeddings.parquet",
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("label", pa.int32()),
            ]
        ),
    )
    q = REGISTRY["embedding_int8_quantize"].spark(spark, str(tmp_path))
    assert len(q.toPandas()) == 0
    ev = REGISTRY["retrieval_eval_recall"].spark(spark, str(tmp_path)).toPandas()
    assert set(ev.method) == {"signbucket", "ivf"}
    assert (ev.hits == 0).all() and (ev.top1_rank == 0).all()


def test_hll_rollup_gate_and_oracle_shape(spark):
    """Every per-lang row must gate merged_within=1 (driver-scale corpora
    sit below the DataSketches sparse threshold, where HLL is exact) and
    n_sources must equal the distinct (lang, source) partial count."""
    out = REGISTRY["hll_sketch_rollup"].spark(spark, SF_DIR).toPandas()
    assert len(out) > 0
    assert (out.merged_within == 1).all()
    assert (out.n_sources >= 1).all()
    assert (out.exact_distinct >= 1).all()


def test_hll_partials_merge_like_direct_sketch(spark):
    """The property the stored-partials design depends on: union-merging
    per-group sketches estimates the SAME value as one direct sketch over
    the whole key set (measured identical at lgK=12 on 200k keys — the
    union preserves the register state), and both land within HLL's
    design error of the truth."""
    from pyspark.sql import functions as F

    big = spark.range(200000).select(
        (F.col("id") % 8).alias("g"),
        F.concat(F.lit("k"), F.col("id")).alias("w"),
    )
    direct = big.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(w, 12))").alias("e")
    ).collect()[0]["e"]
    merged = (
        big.groupBy("g")
        .agg(F.expr("hll_sketch_agg(w, 12)").alias("sk"))
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("e"))
        .collect()[0]["e"]
    )
    assert merged == direct
    assert abs(direct - 200000) <= 200000 * 0.03  # ~0.8% RSE design point


def test_heavy_hitters_gate_planted(spark, tmp_path):
    """A planted dominant word must come out rank 1 with exact count and
    both gates green; boundary ties (two words sharing the rank-K count)
    must not break the gate — the sketch is probed by membership in its
    full tracked list, not its own arbitrarily-tie-broken top-K slice."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            # 'zz' x5; 'aa' and 'bb' tie at 3; eight singletons pad the
            # vocab past K so the top-10 boundary cuts through the ties
            "text": [
                "zz zz zz aa bb c1 c2 c3 c4",
                "zz zz aa aa bb bb c5 c6 c7 c8",
            ],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [26, 29],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["heavy_hitters_gate"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert out.loc[0].word == "zz" and out.loc[0].exact_n == 5
    assert list(out.word[:3]) == ["zz", "aa", "bb"]  # ties broken by word
    assert (out.in_sketch == 1).all()
    assert (out.est_within == 1).all()


def _py_apply_merges(word: str, merges: list) -> int:
    syms = list(word)
    for m in merges:
        left, right, merged = m["left_sym"], m["right_sym"], m["merged"]
        out = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = merged
            else:
                out.append(s)
        syms = out
    return len(syms)


def test_bpe_apply_matches_python_golden_on_smoke(spark):
    """Per-doc BPE token counts from the train->apply query must equal a
    pure-Python re-derivation: golden-train the same 8 merges, segment
    every word greedily in merge order, sum per doc."""
    from seisdb_spark.sources.tables import load_table

    docs = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    wfreq = {}
    for text in docs["text"]:
        for w in text.split(" "):
            if w:
                wfreq[w] = wfreq.get(w, 0) + 1
    merges = _py_bpe_golden(wfreq, 8)
    want = {}
    for _, row in docs.iterrows():
        words = [w for w in row.text.split(" ") if w]
        want[row.doc_id] = (
            len(words),
            sum(_py_apply_merges(w, merges) for w in words),
        )
    out = (
        REGISTRY["bpe_apply_tokenize"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens) for _, r in out.iterrows()
    }
    assert got == want
    # merges actually compress: fewer tokens than characters somewhere
    chars = {
        row.doc_id: sum(len(w) for w in row.text.split(" ") if w)
        for _, row in docs.iterrows()
    }
    assert any(got[d][1] < chars[d] for d in got)


def test_spark_approx_top_k_overflow_modes(spark):
    """Documents the Spark behavior heavy_hitters_gate's adaptive
    capacity exists to guard against — approx_top_k does not degrade
    gracefully past maxItemsTracked, in either of two modes: (a) when a
    single PARTITION's distinct items exceed capacity the result is
    EMPTY (the x1000 harness hit this: 31k words vs 8192), and (b) when
    only the MERGED distinct count exceeds capacity the items survive
    but with INFLATED counts (singletons reported as count 2 here).
    Both silently corrupt a fixed-capacity gate."""
    from pyspark.sql import functions as F

    def run(nd):
        big = spark.range(nd).select(
            F.concat(F.lit("w"), F.col("id")).alias("w")
        )
        return big.agg(F.expr("approx_top_k(w, 1024, 1024)")).collect()[0][0]

    # (a) far past capacity (~5x) the sketch gives up -> EMPTY
    arr = run(5000)
    assert arr is not None and len(arr) == 0
    # (b) moderately past capacity (~3x) items survive with INFLATED
    # counts (eviction floors: singletons reported as count 2)
    arr = run(3000)
    assert len(arr) == 1024
    assert any(r["count"] > 1 for r in arr)  # every true count is 1


def test_hh_tracked_capacity_respects_spark_limit():
    """r10 ADVICE regression: Spark 4.1's approx_top_k hard-rejects
    maxItemsTracked > 1,000,000 (MAX_ITEMS_TRACKED_LIMIT), so the sizing
    must (a) clamp the doubling search to that limit — which is NOT a
    power of two — when the need fits under it, and (b) raise the
    informative ValueError BEFORE Spark's opaque error when it does not.
    ~450k distinct was exactly the regime the old 1<<21 ceiling silently
    waved through: need = 450k*1.3 ~ 585k -> doubled to 2^20 = 1,048,576
    > 1e6, an opaque Spark analysis error."""
    from seisdb_spark.queries.extensions import (
        HH_TRACKED_MAX,
        hh_tracked_capacity,
    )

    assert HH_TRACKED_MAX == 1_000_000
    # small vocab: plain power-of-two doubling with 30% headroom
    assert hh_tracked_capacity(100) == 1024
    assert hh_tracked_capacity(3000) == 4096
    # ~450k distinct: need ~585k fits under 1e6 but its power-of-two
    # (2^20) does not -> clamp to Spark's exact limit, never exceed it
    assert hh_tracked_capacity(450_000) == 1_000_000
    assert hh_tracked_capacity(768_000) == 1_000_000  # need 998,416
    # past the limit: loud, actionable, and OURS (not Spark's)
    with pytest.raises(ValueError, match="maxItemsTracked limit"):
        hh_tracked_capacity(770_000)  # need 1,001,016 > 1e6
    with pytest.raises(ValueError, match="exact vocab-key path"):
        hh_tracked_capacity(10_000_000)


def test_spark_accepts_clamped_non_power_of_two_capacity(spark):
    """The clamped capacity (1,000,000 — not a power of two) must be a
    capacity Spark actually accepts; Spark's own limit must reject
    nothing we can emit.  (A tiny input suffices: the capacity is an
    analysis-time parameter, rejected at plan time if invalid.)"""
    from pyspark.sql import functions as F

    arr = (
        spark.range(50)
        .select(F.concat(F.lit("w"), F.col("id") % 7).alias("w"))
        .agg(F.expr("approx_top_k(w, 5, 1000000)"))
        .collect()[0][0]
    )
    assert [r["item"] for r in arr][0] is not None and len(arr) == 5


def test_heavy_hitters_gate_survives_vocab_past_old_capacity(spark, tmp_path):
    """Regression for the x1000 failure: a corpus whose vocabulary
    (12k distinct words) exceeds the previously-fixed 8192 capacity
    must still gate every flag green — the adaptive capacity resizes
    instead of letting the sketch overflow to empty (which AQE then
    propagates into null flags)."""
    filler = " ".join(f"w{i}" for i in range(12000))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["zz zz zz zz " + filler, "zz aa aa"],
            "lang": ["en"] * 2,
            "source": ["t"] * 2,
            "n_chars": [10, 8],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = (
        REGISTRY["heavy_hitters_gate"]
        .spark(spark, str(tmp_path))
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert out.loc[0].word == "zz" and out.loc[0].exact_n == 5
    assert (out.in_sketch == 1).all()
    assert (out.est_within == 1).all()


def test_bpe_apply_plan_shape(spark):
    """The tokenize-apply pipeline must stay shaped for scale: the vocab
    segmentation is expression-only (no Python boundary), the token-count
    join back to the corpus word stream is an equi-join (never a
    cartesian), and nothing introduces a global sort."""
    from seisdb_spark.plancheck import final_plan, has_node

    df = REGISTRY["bpe_apply_tokenize"].spark(spark, SF_DIR)
    plan = final_plan(df)
    assert not has_node(plan, "CartesianProduct")
    assert not has_node(plan, "rangepartitioning")
    assert not has_node(plan, "BatchEvalPython")
    assert not has_node(plan, "NestedLoopJoin")

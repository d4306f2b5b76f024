"""Extension surface — deduplication & decontamination family: exact /
MinHash-LSH / passage-level / semantic dedup, clustering closure,
incremental probe, edit-distance verify, split-leakage audit,
train-test decontamination (exact + Bloom), keep-best, and the composed
curation pipeline queries.  Split out of extensions.py (round 12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from seisdb_spark.functions.graph import cc_exact_lazy
from seisdb_spark.queries.registry import REGISTRY, query
from seisdb_spark.sources.tables import load_table, spread
from seisdb_spark.functions.text import (
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    SHINGLE_K,
    band_pairs,
    minhash_bands,
    minhash_sig,
    shingle_tokens,
    with_token_hash,
)
from seisdb_spark.functions.vectors import (
    EMBEDDING_DIM,
    MAX_SIGN_BITS,
    dot_chain_col,
    dot_chain_sql,
    sign_string_expr,
    sign_string_sql,
)
from seisdb_spark.queries.ext_sampling import STRATIFIED_KEEP_SQL, stratified_keep
from seisdb_spark.queries.ext_text import (
    QC_WEIGHT_MOD,
    QC_WEIGHT_SHIFT,
    STOPWORD_RATIO_SQL,
    WORD_COUNT_SQL,
    word_count,
)
from seisdb_spark.queries.ext_common import (
    JACCARD_THRESHOLD,
    NEARDUP_BANDS,
    NEARDUP_BAND_STRIDE,
    NEARDUP_COSINE,
    NEARDUP_MIN_BITS,
    NEARDUP_TARGET_BUCKET_ROWS,
    _BANDS_CTE,
    _CAND_CTE,
    _LSH_CTES,
    _SCORED_CTE,
    _SHINGLE_CTE,
    _SIG_CTE,
    _cand_cte,
    _hash32_sql,
    _jaccard_on_candidates,
    _lsh_candidates,
    _shingle_cte,
    _verify_jaccard,
)


# --- passage-level (substring) dedup ---------------------------------------
PASSAGE_GRAM_WORDS = 10  # long grams: random collisions vanish, reuse stays
PASSAGE_MIN_DOCS = 2  # a gram is "repeated" when >= this many docs carry it


@query(
    "repeated_passage_spans",
    oracle=f"""
        WITH starts AS (
            SELECT doc_id, w,
                   unnest(generate_series(
                       1, greatest(len(w) - {PASSAGE_GRAM_WORDS - 1}, 0))) AS i
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        ),
        grams AS (
            SELECT doc_id, i,
                   md5(array_to_string(
                       list_slice(w, i, i + {PASSAGE_GRAM_WORDS - 1}), ' ')) AS g
            FROM starts
        ),
        rep AS (
            SELECT g FROM grams
            GROUP BY g HAVING count(DISTINCT doc_id) >= {PASSAGE_MIN_DOCS}
        ),
        hits AS (
            SELECT doc_id, i FROM grams WHERE g IN (SELECT g FROM rep)
        ),
        prev AS (
            SELECT doc_id, i,
                   lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS pi
            FROM hits
        ),
        isl AS (
            SELECT doc_id, i,
                   sum(CASE WHEN pi IS NULL
                            OR i - pi > {PASSAGE_GRAM_WORDS} THEN 1
                            ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY i
                             ROWS UNBOUNDED PRECEDING) AS island
            FROM prev
        )
        SELECT doc_id,
               CAST(min(i) AS BIGINT) AS span_start,
               CAST(max(i) + {PASSAGE_GRAM_WORDS - 1} AS BIGINT) AS span_end,
               CAST(count(*) AS BIGINT) AS n_grams
        FROM isl
        GROUP BY doc_id, island
    """,
    doc=f"PASSAGE-LEVEL (substring) dedup — the repeated-passage removal op "
    "of LLM corpus curation (document-granular dedup misses boilerplate "
    "and licence blocks recurring INSIDE otherwise-distinct docs). Every "
    f"word {PASSAGE_GRAM_WORDS}-gram is md5-fingerprinted at every "
    f"position ONCE and exchanged ONCE (hash by the 60-bit gram key); "
    f"grams carried by >= {PASSAGE_MIN_DOCS} distinct docs are flagged "
    "IN the exchanged partitions (min(doc_id) != max(doc_id) over the "
    "gram window — two constant-state frames, one sort; no second gram "
    "scan, no rejoin, and nothing corpus-sized is ever broadcast) "
    "and the surviving positions merge per-doc into "
    "MAXIMAL spans via gaps-and-islands (adjacent grams closer than one "
    "gram length coalesce; one shuffle on doc_id). Output is the (doc_id, "
    "word-span) removal list a training pipeline subtracts before "
    "packing. The suffix-array construction of 'Deduplicating Training "
    "Data' finds arbitrary-length repeats; fixed long grams are its "
    "shuffle-friendly approximation — any repeated passage of >= "
    f"{PASSAGE_GRAM_WORDS} words is found exactly, shorter ones are "
    "ignored by design.",
    bench=True,
)
def repeated_passage_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return passage_spans_from_hits(
        passage_flagged_positions(passage_grams(docs))
    )


# The pipeline's stages as named builders (the query composes them verbatim)
# so a profiler (tools/profile_decades.py at commit 2e88616) can time each
# stage separately at x100/x1000 — the r11 verdict's superlinear-decade
# attribution ask.
def passage_grams(docs: DataFrame) -> DataFrame:
    """Every word PASSAGE_GRAM_WORDS-gram, md5-fingerprinted at every
    position: (doc_id, i, g).  Map-only (tokenize + explode + hash).

    ``g`` is the first 15 hex digits of the md5 as a BIGINT (60 bits), not
    the 32-char hex string: the gram table is the largest thing this
    pipeline shuffles (~1 row per corpus token), and an 8-byte key more
    than halves the exchange bytes of the distinct/flag/join stages — the
    decade profile (tools/profile_decades.py at commit 2e88616) showed those exchanges, not
    the data, were the x1000 superlinear term.  Collision odds are
    n^2 / 2^61 expected colliding PAIRS (~0.02 at the 2.3e8-gram x1000
    stress corpus, ~1e-10 at the sf0.01 oracle gate), and a collision can
    only ever over-flag one gram position — the md5-string oracle would
    catch any such flip at the hash gate."""
    k = PASSAGE_GRAM_WORDS
    w = F.split(F.col("text"), " ")
    # sequence(1, 0) counts DOWN in Spark — short docs need the empty array
    positions = F.when(
        F.size(w) >= k, F.sequence(F.lit(1), F.size(w) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    starts = docs.select(
        "doc_id",
        w.alias("w"),
        F.explode(positions).alias("i"),
    )
    gram_md5 = F.md5(F.concat_ws(" ", F.expr(f"slice(w, i, {k})")).cast("binary"))
    return starts.select(
        "doc_id",
        "i",
        F.conv(F.substring(gram_md5, 1, 15), 16, 10).cast("bigint").alias("g"),
    )


def passage_flagged_positions(grams: DataFrame) -> DataFrame:
    """Flagged positions (doc_id, i): gram rows whose gram is carried by
    >= PASSAGE_MIN_DOCS distinct docs — the r18-opt replacement for the
    :func:`passage_rep` + :func:`passage_hits` pair.

    The old pair consumed the gram table TWICE (once under the rep
    aggregate's distinct, once as the join's probe side) with no shared
    exchange between the subtrees — the tokenize + explode + md5 scan,
    the pipeline's dominant map work, ran twice per execution, and the
    gram rows crossed TWO corpus-sized exchanges (the (g, doc_id)
    distinct + the join side; the decade profile had already shown those
    exchanges to be the x1000 superlinear term).  This form computes the
    grams ONCE and exchanges them ONCE (hash by g): with
    PASSAGE_MIN_DOCS == 2, "carried by >= 2 distinct docs" is exactly
    min(doc_id) != max(doc_id) over the g partition — ONE Window pass
    with two unordered aggregate frames sharing one sort-by-g, then the
    flag filter projects straight into the islands stage.  A generic
    threshold falls back to max(dense_rank) over the same partitioning
    (an extra doc_id sort key, still one exchange).

    Skew note (guide §2.5): a hot boilerplate gram lands its rows in ONE
    window task — but the per-row window work is two constant-state
    accumulators, and the OLD shape shipped the same hot-gram rows
    through its g-keyed join partition anyway (plus a second exchange
    and a second md5 pass); measured interleaved at sf0.1
    (tools/ab_passage.py at commit 2e88616, identical span sets): 1.14 -> 0.68 s median.
    """
    over_g = Window.partitionBy("g")
    if PASSAGE_MIN_DOCS == 2:
        flagged = grams.select(
            "doc_id",
            "i",
            F.min("doc_id").over(over_g).alias("_mn"),
            F.max("doc_id").over(over_g).alias("_mx"),
        ).filter(F.col("_mn") != F.col("_mx"))
    else:  # pragma: no cover — PASSAGE_MIN_DOCS is 2 today
        byg = over_g.orderBy("doc_id")
        flagged = grams.withColumn(
            "_nd", F.max(F.dense_rank().over(byg)).over(over_g)
        ).filter(F.col("_nd") >= PASSAGE_MIN_DOCS)
    return flagged.select("doc_id", "i")


def passage_rep(grams: DataFrame) -> DataFrame:
    """Grams carried by >= PASSAGE_MIN_DOCS distinct docs (the flagged set).
    One shuffle on the gram hash — map-side distinct first.

    NOTE (r18 opt): the query itself now routes through
    :func:`passage_flagged_positions` (one gram scan, one exchange); this
    builder and :func:`passage_hits` remain as the independently-shaped
    A-side of tools/ab_passage.py and the stage decomposition of
    tools/profile_decades.py (both at commit 2e88616), and the reference
    side of tests/test_extensions.py's equivalence test."""
    return (
        grams.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .count()
        .filter(F.col("count") >= PASSAGE_MIN_DOCS)
        .select("g")
    )


def passage_hits(grams: DataFrame, rep: DataFrame) -> DataFrame:
    """Flagged positions: grams restricted to the repeated set.
    The flagged-gram set is corpus-fraction-sized on boilerplate-heavy
    corpora (the 10x->100x stress run OOMed the driver when AQE chose to
    broadcast it), so pin a SHUFFLE hash join on the gram hash — both
    sides partition by g, no driver-side build, skew absorbed by AQE."""
    return grams.join(rep.hint("shuffle_hash"), "g").select("doc_id", "i")


def passage_spans_from_hits(hits: DataFrame) -> DataFrame:
    """Merge flagged positions into maximal per-doc spans
    (gaps-and-islands: one shuffle on doc_id, two window passes sharing
    the partitioning + the final span aggregate)."""
    from pyspark.sql import Window

    k = PASSAGE_GRAM_WORDS
    bypos = Window.partitionBy("doc_id").orderBy("i")
    prev = hits.withColumn("pi", F.lag("i").over(bypos))
    isl = prev.withColumn(
        "island",
        F.sum(
            F.when(F.col("pi").isNull() | (F.col("i") - F.col("pi") > k), 1)
            .otherwise(0)
        ).over(bypos.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return isl.groupBy("doc_id", "island").agg(
        F.min("i").cast("long").alias("span_start"),
        (F.max("i") + (k - 1)).cast("long").alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("island")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keeper_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
    doc="Exact dedup: hash-groupBy on content digest, keep the minimum "
    "doc_id per hash (SURVEY §2.11). One shuffle on a uniformly-distributed "
    "key — the 100 TB-safe dedup plan.",
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "minhash_signatures",
    oracle=f"""
        WITH {_SHINGLE_CTE},
        {_SIG_CTE}
        SELECT doc_id, {", ".join(f"mh{i}" for i in range(N_MINHASH))} FROM sig
    """,
    doc=f"MinHash signatures over word {SHINGLE_K}-shingles: ONE md5 per "
    f"shingle parsed to a 32-bit int, then {N_MINHASH} universal-hash lanes "
    "min((A*h+B) mod P) — integer multiply-adds instead of per-lane digests "
    "(the digests dominated the aggregate's cost). Shingle explode + "
    "groupBy is one shuffle; lanes partial-aggregate map-side.",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return minhash_sig(shingle_tokens(docs, distinct=False))


@query(
    "minhash_lsh_candidates",
    oracle=f"""
        WITH {_LSH_CTES}
        SELECT doc_a, doc_b FROM cand
    """,
    doc=f"MinHash-LSH candidate pairs: {SHINGLE_K}-shingles -> {N_MINHASH} "
    f"minhashes -> {N_BANDS} bands x {ROWS_PER_BAND} rows -> ONE band-bucket "
    "self-join on the exploded, persisted band table. Band collision prob "
    "1-(1-J^3)^4 tracks Jaccard (J=0.8 -> 0.94, J=0.1 -> 0.004), so "
    "candidates are a vanishing fraction of all pairs — round 1's 2x2-over-"
    "unigrams emitted 74% of all pairs and is the quadratic anti-pattern "
    "this replaces.",
    bench=True,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_candidates(spread(load_table(spark, sf_dir, "documents")))


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
        WITH {_LSH_CTES}, {_SCORED_CTE}
        SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
        FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    doc=f"Near-dup verification: exact {SHINGLE_K}-shingle Jaccard computed "
    "ONLY on LSH candidate pairs (the round-1 version token-self-joined the "
    "whole corpus — quadratic in frequent tokens; this one touches "
    "candidates * shingles). Pairs sharing no shingle can't reach the "
    f"{JACCARD_THRESHOLD} threshold, so dropping them in the verify is exact.",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = _jaccard_on_candidates(docs)
    return scored.filter(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


# The transitive closure of the verified ``scored`` pairs as ``reach(v, l)``:
# every doc v of a near-dup component with every label l it reaches; min(l)
# is the component's canonical doc.
_REACH_CTE = f"""
        ver AS (SELECT doc_a, doc_b FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}),
        und AS (
            SELECT doc_a AS src, doc_b AS dst FROM ver
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM ver
        ),
        reach (v, l) AS (
            SELECT src, src FROM und
            UNION
            SELECT u.src, r.l FROM und u JOIN reach r ON r.v = u.dst
        )
"""


@query(
    "dedup_cluster_components",
    oracle=f"""
        WITH RECURSIVE {_LSH_CTES}, {_SCORED_CTE}, {_REACH_CTE}
        SELECT v AS doc_id, min(l) AS canonical_id
        FROM reach
        GROUP BY v
    """,
    doc="Dedup CLUSTERING — the transitive closure the pairwise ops can't "
    "express: if A~B and B~C, all three share one canonical doc (min doc_id "
    "of the component) even though A~C was never scored. Spark side: exact "
    "single-pass union-find over the verified near-dup pairs as ONE lazy "
    "plan — the edge list is LSH-candidate-sized (a tiny fraction of the "
    "corpus), so it fits one task at any corpus scale where the dup RATE is "
    "sane; functions/graph.py also ships the distributed iterate-to-"
    "convergence form (pointer-jumping label propagation, O(log diameter) "
    "rounds) for edge lists that outgrow one task. The oracle is the same "
    "closure as a DuckDB recursive CTE. Output: one row per doc appearing "
    "in any near-dup pair.",
    bench=True,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    pairs = _jaccard_on_candidates(docs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    return cc_exact_lazy(pairs).select(
        F.col("v").alias("doc_id"), F.col("component").alias("canonical_id")
    )


@query(
    "dedup_incremental_probe",
    oracle=f"""
        WITH {_SHINGLE_CTE}, {_SIG_CTE}, {_BANDS_CTE},
        {_cand_cte("a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0")}, {_SCORED_CTE}
        SELECT doc_a AS batch_doc, doc_b AS corpus_doc, round(jaccard, 4) AS jaccard
        FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    doc="Incremental-ingest dedup: probe an EXISTING corpus's LSH band index "
    "with a new batch (here: docs with doc_id%10==0 stand in for the "
    "batch) — candidates are batch-x-corpus band matches only, never "
    "corpus-x-corpus. This is how dedup runs in production: the corpus "
    "index is written once (bands are a parquet table bucketed by band "
    "key), each arriving batch joins against it, and per-ingest cost "
    "scales with the BATCH, not the corpus. Verification is the same "
    "candidates-only exact Jaccard as the self-join path.",
    bench=True,
)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingle_tokens(spread(load_table(spark, sf_dir, "documents")), distinct=False)
    bands = minhash_bands(sh)
    cand = band_pairs(
        bands.filter(F.col("doc_id") % 10 == 0), bands.filter(F.col("doc_id") % 10 != 0)
    )
    return verified_probe_pairs(sh, cand)


def verified_probe_pairs(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """(batch_doc, corpus_doc, jaccard): the batch x corpus candidate pairs
    ``cand`` whose exact Jaccard over the shingle table ``sh`` reaches
    JACCARD_THRESHOLD, rounded to 4 places — the tail
    dedup_incremental_probe shares with its streaming twin."""
    return (
        _verify_jaccard(sh, cand)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(
            F.col("doc_a").alias("batch_doc"),
            F.col("doc_b").alias("corpus_doc"),
            F.round("jaccard", 4).alias("jaccard"),
        )
    )


# --- split leakage audit ----------------------------------------------------
# Hash-bucket train/val/test split (80/10/10 by content hash — reproducible
# across runs and cluster layouts, like the shard writer) + the eval-
# integrity question every training pipeline must answer before trusting a
# held-out metric: how many NEAR-DUPLICATE pairs cross a split boundary?
# Exact-duplicate leakage is caught by exact dedup; near-dup leakage (same
# doc lightly edited, landing in train AND test) silently inflates eval and
# is exactly what the banded-LSH + Jaccard machinery detects.
SPLIT_MOD = 10  # buckets 0-7 train, 8 val, 9 test


def _split_cls_sql(h: str) -> str:
    return (
        f"CASE WHEN ({h}) % {SPLIT_MOD} <= 7 THEN 0 "
        f"WHEN ({h}) % {SPLIT_MOD} = 8 THEN 1 ELSE 2 END"
    )


def _split_name_sql(c: str) -> str:
    return f"CASE WHEN {c} = 0 THEN 'train' WHEN {c} = 1 THEN 'val' ELSE 'test' END"


@query(
    "split_leakage_audit",
    oracle=f"""
        WITH {_LSH_CTES}, {_SCORED_CTE},
        verified AS (
            SELECT doc_a, doc_b FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}
        ),
        cls AS (
            SELECT doc_id,
                   {_split_cls_sql(_hash32_sql("CAST(doc_id AS VARCHAR)"))} AS c
            FROM documents
        ),
        pairs AS (
            SELECT least(a.c, b.c) AS ca, greatest(a.c, b.c) AS cb
            FROM verified v
            JOIN cls a ON a.doc_id = v.doc_a
            JOIN cls b ON b.doc_id = v.doc_b
        )
        SELECT {_split_name_sql("ca")} AS split_a,
               {_split_name_sql("cb")} AS split_b,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(CASE WHEN ca <> cb THEN 1 ELSE 0 END AS INT) AS cross_split
        FROM pairs
        GROUP BY ca, cb
    """,
    doc=f"SPLIT LEAKAGE AUDIT: assign train/val/test (80/10/10) by content "
    f"hash (md5(doc_id) % {SPLIT_MOD} — reproducible across runs/cluster "
    "layouts, the same discipline as the shard writer), then count "
    f"verified near-duplicate pairs (banded MinHash-LSH candidates + exact "
    f"Jaccard >= {JACCARD_THRESHOLD}) per ordered split pair. Rows with "
    "cross_split=1 are EVAL LEAKAGE — near-dups straddling a split "
    "boundary that exact dedup cannot catch and that silently inflate "
    "held-out metrics. Scale shape: identical to the dedup path (one "
    "shingle explode, candidates-only verify) plus two candidate-sized "
    "joins against the split assignment and a split-pair-sized aggregate.",
    bench=True,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.sources.tables import content_hash32

    docs = spread(load_table(spark, sf_dir, "documents"))
    verified = (
        _jaccard_on_candidates(docs)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    bucket = content_hash32("doc_id") % SPLIT_MOD
    cls = docs.select(
        "doc_id",
        F.when(bucket <= 7, 0).when(bucket == 8, 1).otherwise(2).alias("c"),
    )
    ca, cb = cls.alias("ca"), cls.alias("cb")
    paired = (
        verified.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            F.least(F.col("ca.c"), F.col("cb.c")).alias("lo"),
            F.greatest(F.col("ca.c"), F.col("cb.c")).alias("hi"),
        )
    )
    name = lambda c: (  # noqa: E731
        F.when(F.col(c) == 0, "train").when(F.col(c) == 1, "val").otherwise("test")
    )
    return paired.groupBy("lo", "hi").agg(F.count(F.lit(1)).alias("n_pairs")).select(
        name("lo").alias("split_a"),
        name("hi").alias("split_b"),
        "n_pairs",
        (F.col("lo") != F.col("hi")).cast("int").alias("cross_split"),
    )


# --- train/test decontamination ------------------------------------------
DECON_SHINGLE_K = 8  # long n-grams: random collisions vanish, true reuse stays
DECON_BENCH_MOD = 10  # doc_id % 10 == 0: a 10% holdout stands in for the eval set

# The train/bench shingle CTE pair, shared by the decontamination_overlap
# oracle and the composed curation_keep_set oracle (which applies the same
# drop as a gate stage) — one definition so the two can't drift.
_DECON_SH_CTES = ",".join((
    _shingle_cte(
        f"documents WHERE doc_id % {DECON_BENCH_MOD} <> 0", DECON_SHINGLE_K, "train_sh"
    ),
    _shingle_cte(
        f"documents WHERE doc_id % {DECON_BENCH_MOD} = 0",
        DECON_SHINGLE_K,
        "bench_sh",
        "bench_id",
    ),
))


def decon_bench_sh(docs: DataFrame) -> DataFrame:
    """(bench_id, sh): the distinct 8-shingles of the benchmark docs
    (doc_id % DECON_BENCH_MOD == 0 stands in for an eval suite) — the side
    every decontamination join BROADCASTS, since eval suites are MBs
    against a 100 TB corpus.  Distinct shrinks the broadcast."""
    bench = docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
    return shingle_tokens(bench, k=DECON_SHINGLE_K).select(
        F.col("doc_id").alias("bench_id"), "sh"
    )


def decon_train_sh(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): the training docs' 8-shingles, the side that streams
    through the broadcast join.  Not distinct: deduping (doc_id, sh) would
    shuffle the full corpus shingle table before the join, and every
    consumer dedups AFTER the (tiny) hit set exists — the overlap report
    via countDistinct, the curate() gate via doc_id distinct."""
    train = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    return shingle_tokens(train, k=DECON_SHINGLE_K, distinct=False)


def decon_report(hits: DataFrame) -> DataFrame:
    """The per-train-doc overlap report of a (sh, doc_id, bench_id) hit
    set: distinct shared shingles and distinct benchmark docs hit.  Only
    the hit set shuffles."""
    return hits.groupBy("doc_id").agg(
        F.countDistinct("sh").alias("n_shared_shingles"),
        F.countDistinct("bench_id").alias("n_bench_docs"),
    )


def decon_join(docs: DataFrame) -> DataFrame:
    """The train-x-benchmark shingle hit set: (sh, doc_id, bench_id) rows,
    one per train-doc 8-shingle colliding with a benchmark shingle, by a
    map-side hash join against the broadcast benchmark side.  Shared by
    the standalone overlap report and curate()'s decontamination gate."""
    return decon_train_sh(docs).join(F.broadcast(decon_bench_sh(docs)), "sh")


@query(
    "decontamination_overlap",
    oracle=f"""
        WITH {_DECON_SH_CTES}
        SELECT t.doc_id,
               CAST(count(DISTINCT t.sh) AS BIGINT) AS n_shared_shingles,
               CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
        FROM train_sh t JOIN bench_sh b ON t.sh = b.sh
        GROUP BY t.doc_id
    """,
    doc=f"Train/test DECONTAMINATION: training docs sharing any exact "
    f"{DECON_SHINGLE_K}-word shingle with the benchmark set (doc_id % "
    f"{DECON_BENCH_MOD} == 0 stands in for an eval suite). The benchmark "
    "shingle set is tiny relative to the corpus (eval suites are MBs "
    "against 100 TB), so it is BROADCAST: the training side streams "
    "through a map-side hash semi-join with no corpus-wide shuffle; only "
    "the (small) hit set shuffles for the per-doc aggregate. Long "
    "shingles make random collisions vanish while verbatim reuse — the "
    "thing decontamination hunts — survives.",
    bench=True,
)
def decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return decon_report(decon_join(spread(load_table(spark, sf_dir, "documents"))))


@query(
    "bloom_decontamination",
    oracle=None,  # set right after definition: shares the exact twin's SQL
    doc="BLOOM-PREFILTERED DECONTAMINATION: the same train-x-benchmark "
    "shingle report as decontamination_overlap, with the corpus side "
    "prefiltered by a declaratively-built Bloom filter over the bench "
    "shingle set (functions/bloom.py: bit_or word aggregation -> 1-row "
    "dense array<bigint>, Kirsch-Mitzenmacher double hashing, K=5, 10 "
    "bits/key, O(1) element_at probes in whole-stage codegen). Bloom has "
    "NO false negatives by construction, and every bloom survivor is "
    "exact-verified against the broadcast bench set, so the result "
    "EQUALS the exact twin's — the oracle IS its SQL. The scale trade: "
    "where the exact twin broadcasts the full bench shingle STRINGS and "
    "hash-joins every corpus shingle, this broadcasts a fixed-size bit "
    "array (128 KB at 2^20 bits) and the verify join's input shrinks to "
    "true hits + ~1% false positives — the pattern that keeps "
    "decontamination affordable when the eval suite grows from MBs "
    "toward GBs against a 100 TB corpus. The filter is sized at plan "
    "time from one bench-side count (eval-sized, constant in the "
    "corpus).",
    bench=True,
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.functions.bloom import (
        bloom_bits_for,
        bloom_hit,
        build_bloom,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    bench_sh = decon_bench_sh(docs)
    bench_keys = bench_sh.select("sh").distinct()
    # one eval-sized count sizes the filter (the ann_signbucket adaptive-
    # width pattern); the bench side is re-derived inside the final plan —
    # it is MBs against the corpus, and production would persist it
    m_bits = bloom_bits_for(max(bench_keys.count(), 1))
    words = build_bloom(bench_keys, "sh", m_bits)
    cand = (
        decon_train_sh(docs)
        .crossJoin(F.broadcast(words))
        .filter(
            bloom_hit(F.col("words"), F.col("sh"), built_k=F.col("bloom_k"))
        )
        .drop("words", "bloom_k")
    )
    return decon_report(cand.join(F.broadcast(bench_sh), "sh"))


def _share_bloom_decon_oracle() -> None:
    from dataclasses import replace

    REGISTRY["bloom_decontamination"] = replace(
        REGISTRY["bloom_decontamination"],
        oracle=REGISTRY["decontamination_overlap"].oracle,
    )


_share_bloom_decon_oracle()


# --- semantic dedup (SemDeDup-style) ---------------------------------------
# Round-7 redesign: BOTH stages are now ~linear in n.
#
# The round-6 scheme ran K = ceil(sqrt(n)) clusters with an EXACT pairwise
# verify inside each cluster — the SemDeDup n^1.5 operating point, measured
# at a 73x cost ratio for 100x data (BENCH_SCALE.md) and flagged as the one
# scale-weak pipeline.  The n^1.5 was forced by the exact verify: cluster
# count had to grow with n to bound the quadratic within-cluster work.
# Replacing the exact verify with the banded sign-LSH candidate machinery
# (the same family as embedding_neardup_pairs) removes that forcing —
# within-cluster pair work is bounded by bucket occupancy, not cluster
# size — so K no longer needs to grow: it is CAPPED at a constant.
#
#   * K = min(K_CAP, ceil(sqrt(n))): sqrt keeps tiny inputs sensible
#     (tests, sf0.001), the cap makes K a bounded constant at scale.
#   * assignment is a MAP-ONLY broadcast argmax: the K seeds are one
#     broadcast row holding a sorted array<struct(seed_id, c_emb, c_nrm)>,
#     and each vector's cluster is array_max(transform(cents, ...)) over
#     K cosine folds — n*K dot products with bounded K, NO per-vector
#     window and NO hashpartitioning(vec_id) exchange of n*K rows (the
#     round-6 plan shuffled n*K scored rows to run the argmax window).
#   * within-cluster verification: NEARDUP_BANDS sign-bit bands keyed on
#     (cluster, band, bucket); the bucket width adapts to the EXPECTED
#     CLUSTER SIZE n/K (footer-derived, plan literal), so within-bucket
#     pair work stays ~target-occupancy-bounded as n grows.  Exact cosine
#     runs on band collisions only; a vector is dropped (kept=0) iff some
#     band collision pairs it with an EARLIER same-cluster member at
#     cosine >= the threshold — LSH recall instead of exact recall, the
#     same documented trade embedding_neardup_pairs makes.
SEMDEDUP_MIN_K = 4
SEMDEDUP_K_CAP = 32
SEMDEDUP_COSINE = NEARDUP_COSINE  # same near-dup threshold as the LSH path


def semdedup_k(n: int) -> int:
    """ceil(sqrt(n)) clamped to [MIN_K, K_CAP] — the Python/oracle
    lockstep cluster-count formula (integer-exact via isqrt).  The cap is
    what makes assignment cost n*K LINEAR in n at scale; sqrt only governs
    small inputs where fewer clusters than K_CAP make semantic sense."""
    import math

    k = math.isqrt(n - 1) + 1 if n > 0 else 0
    return max(SEMDEDUP_MIN_K, min(SEMDEDUP_K_CAP, k))


def semdedup_band_bits(n: int) -> int:
    """Band-key width for the within-cluster LSH: adaptive to the expected
    cluster size n/K (not to n itself — the cluster id is already part of
    the bucket key), so expected within-bucket occupancy stays
    ~NEARDUP_TARGET_BUCKET_ROWS per cluster as the corpus grows."""
    from seisdb_spark.functions.vectors import adaptive_bits_py

    per_cluster = (n + semdedup_k(n) - 1) // semdedup_k(n) if n else 1
    return adaptive_bits_py(
        per_cluster, NEARDUP_TARGET_BUCKET_ROWS, NEARDUP_MIN_BITS
    )


_SEMDEDUP_K_SQL = (
    f"GREATEST({SEMDEDUP_MIN_K}, LEAST({SEMDEDUP_K_CAP}, "
    f"CAST(CEIL(SQRT(count(*))) AS BIGINT)))"
)
# DuckDB twin of semdedup_band_bits, over the nk CTE's (n, k) columns —
# integer-only, digit-for-digit with adaptive_bits_py (ceil-div chain +
# LENGTH(BIN(x - 1))).
_SEMDEDUP_R_SQL = (
    f"GREATEST({NEARDUP_MIN_BITS}, LEAST({MAX_SIGN_BITS}, LENGTH(BIN("
    f"((n + k - 1) // k + {NEARDUP_TARGET_BUCKET_ROWS - 1}) "
    f"// {NEARDUP_TARGET_BUCKET_ROWS} - 1))))"
)


@query(
    "semantic_dedup",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, embedding,
                   sqrt({dot_chain_sql("embedding", "embedding")}) AS nrm,
                   {_hash32_sql("CAST(vec_id AS VARCHAR)")} AS h,
                   {sign_string_sql("embedding")} AS fb
            FROM embeddings
        ),
        nk AS (SELECT {_SEMDEDUP_K_SQL} AS k, count(*) AS n FROM embeddings),
        wb AS (SELECT {_SEMDEDUP_R_SQL} AS r FROM nk),
        ranked AS (
            SELECT vec_id, embedding, nrm,
                   row_number() OVER (ORDER BY h, vec_id) AS rn
            FROM e
        ),
        seeds AS (
            SELECT vec_id AS seed_id, embedding AS c_emb, nrm AS c_nrm
            FROM ranked WHERE rn <= (SELECT k FROM nk)
        ),
        scored AS (
            SELECT e.vec_id, s.seed_id,
                   ({dot_chain_sql("e.embedding", "s.c_emb")})
                       / (e.nrm * s.c_nrm) AS cos
            FROM e CROSS JOIN seeds s
        ),
        assign AS (
            SELECT vec_id, seed_id AS cluster FROM (
                SELECT vec_id, seed_id,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cos DESC, seed_id) AS rn
                FROM scored
            ) WHERE rn = 1
        ),
        m AS (
            SELECT a.vec_id, a.cluster, e.embedding, e.nrm, e.fb
            FROM assign a JOIN e ON e.vec_id = a.vec_id
        ),
        bands AS (
            SELECT vec_id, cluster, embedding, nrm, band,
                   substr(fb, band * {NEARDUP_BAND_STRIDE} + 1, r) AS bk
            FROM m CROSS JOIN wb
            CROSS JOIN (SELECT unnest(generate_series(0, {NEARDUP_BANDS - 1}))
                        AS band)
        ),
        losers AS (
            SELECT DISTINCT b.vec_id
            FROM bands a JOIN bands b
              ON a.cluster = b.cluster AND a.band = b.band AND a.bk = b.bk
             AND a.vec_id < b.vec_id
            WHERE ({dot_chain_sql("a.embedding", "b.embedding")})
                  / (a.nrm * b.nrm) >= {SEMDEDUP_COSINE}
        )
        SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
               CAST(CASE WHEN vec_id IN (SELECT vec_id FROM losers)
                         THEN 0 ELSE 1 END AS INT) AS kept
        FROM m
    """,
    doc=f"SEMANTIC DEDUP (SemDeDup-style), LINEAR at scale: embedding-space "
    "near-duplicate removal with BOTH stages ~O(n). K deterministic seed "
    "centroids (the vectors with the smallest md5 id-hashes — "
    "reproducible across runs/engines, no random init), K = min("
    f"{SEMDEDUP_K_CAP}, ceil(sqrt(n))) from the parquet footer row count "
    "— BOUNDED, because the within-cluster verify no longer needs K to "
    "grow (the round-6 K=sqrt(n) + exact-pairwise scheme measured 73x "
    "cost at 100x data; see the module comment). Assignment is a MAP-ONLY "
    "broadcast argmax: the seeds travel as ONE broadcast row holding a "
    "sorted array<struct>, each vector computes K cosine folds and an "
    "array_max — no per-vector window, no n*K-row shuffle. Verification "
    f"runs {NEARDUP_BANDS} sign-bit LSH bands keyed on (cluster, band, "
    "bucket) with the bucket width adapted to the expected cluster size "
    "n/K, exact cosine on band collisions only: a vector is dropped "
    f"(kept=0) iff a collision pairs it at cosine >= {SEMDEDUP_COSINE} "
    "with an EARLIER (smaller-id) same-cluster member. Planted-near-dup "
    "recall, drop justification, and the shuffle-free assignment plan "
    "(no Window node) are asserted in tests/test_extensions.py.",
    bench=True,
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from seisdb_spark.sources.tables import content_hash32, parquet_row_count

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    n = parquet_row_count(spark, os.path.join(sf_dir, "embeddings.parquet"))
    k = semdedup_k(n)
    r = semdedup_band_bits(n)
    e = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_chain_col("embedding", "embedding")).alias("nrm"),
        content_hash32("vec_id").alias("h"),
        sign_string_expr("embedding").alias("fb"),
    )
    # K seed centroids -> ONE row holding a seed_id-sorted array<struct>;
    # broadcasting this single row (K * dim floats) is what keeps the
    # assignment below a pure projection.
    seeds = (
        e.orderBy("h", "vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("seed_id", "c_emb", "c_nrm"))).alias("cents"))
    )
    # argmax cosine over the broadcast seed array: struct(cos, -seed_id)
    # under lexicographic array_max = max cosine, ties to the LOWEST
    # seed_id — byte-identical to the oracle's row_number() tie rule.
    cos_fold = (
        f"aggregate(zip_with(slice(embedding, 1, {EMBEDDING_DIM}), "
        f"slice(c.c_emb, 1, {EMBEDDING_DIM}), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / (nrm * c.c_nrm)"
    )
    best = F.expr(
        f"array_max(transform(cents, c -> struct({cos_fold} AS cos, "
        "-c.seed_id AS nsid)))"
    )
    m = (
        e.crossJoin(F.broadcast(seeds))
        .withColumn("_b", best)
        .select(
            "vec_id",
            "embedding",
            "nrm",
            "fb",
            (-F.col("_b.nsid")).alias("cluster"),
        )
    )
    bands = m.crossJoin(
        F.broadcast(
            spark.range(0, NEARDUP_BANDS).select(F.col("id").cast("int").alias("band"))
        )
    ).select(
        "vec_id",
        "cluster",
        "embedding",
        "nrm",
        "band",
        F.col("fb")
        .substr(F.col("band") * NEARDUP_BAND_STRIDE + 1, F.lit(r))
        .alias("bk"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    pair_cos = dot_chain_col("a.embedding", "b.embedding") / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    losers = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= SEMDEDUP_COSINE)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    # cluster is a SEED VEC_ID — a BIGINT at corpus scale (the x1000
    # harness caught an INT cast overflowing at replica vec_ids >= 2^31)
    return m.join(losers.withColumn("_lost", F.lit(1)), "vec_id", "left").select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        F.when(F.col("_lost").isNull(), 1).otherwise(0).cast("int").alias("kept"),
    )


@query(
    "curation_pipeline_stats",
    oracle=f"""
        WITH {_LSH_CTES}, {_SCORED_CTE},
        losers AS (
            SELECT DISTINCT doc_b AS doc_id FROM scored
            WHERE jaccard >= {JACCARD_THRESHOLD}
        ),
        kept AS (
            SELECT doc_id, lang, text
            FROM documents
            WHERE {WORD_COUNT_SQL} BETWEEN 20 AND 1000
              AND doc_id NOT IN (SELECT doc_id FROM losers)
              AND {STRATIFIED_KEEP_SQL}
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum({WORD_COUNT_SQL}) AS BIGINT) AS total_tokens
        FROM kept
        GROUP BY lang
    """,
    doc="The full curation pipeline as ONE lazy plan: length quality gate -> "
    "LSH near-dup removal (drop the higher doc_id of each verified pair) -> "
    "deterministic stratified sample -> per-language token budget. "
    "Everything composes: the near-dup side is candidates-only (never "
    "all-pairs), the losers anti-join strategy is left to AQE (broadcast "
    "when small, shuffle when the dup-rate makes it corpus-sized), "
    "the gates are pushed predicates, and the final agg is one shuffle — "
    "the shape of a 100 TB corpus build.",
    bench=True,
)
def curation_pipeline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    losers = (
        _jaccard_on_candidates(docs)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = (
        docs.filter(word_count().between(20, 1000))
        .filter(stratified_keep())
        # No broadcast hint: ``losers`` is data-dependent (every doc losing a
        # near-dup comparison) and at a realistic 20-40 % corpus dup rate it
        # is corpus-fraction-sized — forcing a broadcast would OOM at scale.
        # AQE picks broadcast at runtime when the set is actually small.
        .join(losers, "doc_id", "left_anti")
    )
    return (
        kept.select("lang", word_count().alias("nw"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# The composed curation closure (seisdb_spark/curation.py), hash-checked
# ---------------------------------------------------------------------------
CURATION_MIN_WORDS = 20
CURATION_MAX_WORDS = 1000
# content gate: docs whose stopword density exceeds this are boilerplate-
# heavy (same ceiling quality_filter_pipeline applies)
CURATION_MAX_STOPWORD_RATIO = 0.5


@query(
    "curation_keep_set",
    oracle=f"""
        WITH RECURSIVE {_DECON_SH_CTES.strip()},
        decon AS (
            SELECT DISTINCT t.doc_id
            FROM train_sh t JOIN bench_sh b ON t.sh = b.sh
        ),
        gated AS (
            SELECT doc_id, lang, text FROM documents
            WHERE doc_id % {DECON_BENCH_MOD} <> 0
              AND doc_id NOT IN (SELECT doc_id FROM decon)
              AND {WORD_COUNT_SQL} BETWEEN {CURATION_MIN_WORDS} AND {CURATION_MAX_WORDS}
              AND {STOPWORD_RATIO_SQL} <= {CURATION_MAX_STOPWORD_RATIO}
        ),
        exact AS (
            SELECT doc_id, lang, text FROM (
                SELECT doc_id, lang, text,
                       row_number() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
                FROM gated
            ) WHERE rn = 1
        ),
        {_shingle_cte("exact")}, {_SIG_CTE}, {_BANDS_CTE}, {_CAND_CTE},
        {_SCORED_CTE}, {_REACH_CTE},
        losers AS (SELECT v FROM reach GROUP BY v HAVING min(l) <> v)
        SELECT doc_id, lang FROM exact
        WHERE doc_id NOT IN (SELECT v FROM losers)
          AND {STRATIFIED_KEEP_SQL}
    """,
    doc="The COMPOSED curation closure as one hash-checked query: "
    "benchmark DECONTAMINATION (drop the eval holdout and any train doc "
    "sharing an 8-word shingle with it — broadcast semi-join, the "
    "decontamination_overlap drop applied as a gate) -> quality gate -> "
    "exact dedup (min doc_id per content hash) -> banded-LSH near-"
    "dup candidates on the survivors -> exact-Jaccard verify -> connected-"
    "components canonical keep (only a component's minimum doc survives — "
    "the transitive guarantee the pairwise loser-drop can't give) -> "
    "deterministic stratified sample. This is seisdb_spark/curation.py's "
    "curate() plan; the oracle re-expresses the full closure in SQL with a "
    "recursive CTE for the component step. build_training_set feeds this "
    "keep-set to the deterministic shard writer.",
    bench=True,
)
def curation_keep_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.curation import curate  # deferred: curation imports us

    docs = spread(load_table(spark, sf_dir, "documents"))
    return curate(docs).select("doc_id", "lang")


# --- edit-distance verified near-dup join (record-linkage form) ------------
# The fuzzy-dedup family so far verifies candidates by set overlap (shingle
# Jaccard) or by embedding cosine; record-linkage pipelines verify by EDIT
# DISTANCE, which catches character-level mutations (OCR noise, typos,
# diff-sized whitespace) that shingle sets blur.  Same scale architecture
# as dedup_jaccard_pairs: the banded MinHash-LSH self-join proposes the
# candidate pairs, and the quadratic-per-pair Levenshtein runs ONLY on that
# vanishing fraction — never all-pairs.  The DP cost per pair is bounded by
# a fixed text prefix (EDITDIST_PREFIX chars), so per-candidate work is a
# constant at any corpus size; both gather joins put the candidate set on
# the small side (AQE broadcasts it against the corpus-sized text table).
EDITDIST_PREFIX = 256
EDITDIST_MAX = 64  # prefix-gate dup verdict: <= this many edits
# Full-text verify tier (r7 verdict item #8): candidate pairs where BOTH
# texts fit the cap get a BOUNDED-DISTANCE Levenshtein over the whole
# text — Spark's three-arg levenshtein(a, b, bound) is the O(n*bound)
# banded DP, returning -1 past the bound, so per-pair work stays
# cap*bound-bounded.  The bound is cap/4, which loses nothing: the dup
# gate is dist*4 <= max(len) <= cap, so any distance past cap/4 already
# fails it.  Pairs with a longer member keep the documented prefix-gate
# approximation (full_edit_distance NULL).
EDITDIST_FULL_CAP = 4096  # full verify only when both texts <= this
EDITDIST_FULL_BOUND = EDITDIST_FULL_CAP // 4  # banded-DP cutoff (-1 past)


@query(
    "editdist_neardup_join",
    oracle=f"""
        WITH {_LSH_CTES},
        txt AS (
            SELECT doc_id, substr(text, 1, {EDITDIST_PREFIX}) AS p,
                   CASE WHEN length(text) <= {EDITDIST_FULL_CAP}
                        THEN text END AS t
            FROM documents
        ),
        -- each Levenshtein DP runs ONCE per candidate pair here (DuckDB
        -- has no banded 3-arg form, so its full-text DP is O(len^2) —
        -- re-evaluating it per referencing expression triples oracle wall
        -- time on candidate-heavy corpora; r8 advice)
        lev AS (
            SELECT c.doc_a, c.doc_b,
                   levenshtein(ta.p, tb.p) AS plev,
                   greatest(length(ta.p), length(tb.p), 1) AS plen,
                   CASE WHEN ta.t IS NULL OR tb.t IS NULL THEN NULL
                        ELSE levenshtein(ta.t, tb.t) END AS flev,
                   greatest(length(ta.t), length(tb.t)) AS flen
            FROM cand c
            JOIN txt ta ON ta.doc_id = c.doc_a
            JOIN txt tb ON tb.doc_id = c.doc_b
        )
        SELECT doc_a, doc_b,
               CAST(plev AS INT) AS edit_distance,
               round(CAST(1.0 AS DOUBLE)
                         - CAST(plev AS DOUBLE) / plen, 6) AS prefix_sim,
               CAST(CASE
                    WHEN flev IS NULL THEN NULL
                    WHEN flev <= {EDITDIST_FULL_BOUND} THEN flev
                    ELSE -1 END AS INT) AS full_edit_distance,
               CASE
                    WHEN flev IS NOT NULL THEN
                        CASE WHEN flev * 4 <= flen THEN 1 ELSE 0 END
                    WHEN plev <= {EDITDIST_MAX} THEN 1
                    ELSE 0 END AS is_dup
        FROM lev
    """,
    doc=f"EDIT-DISTANCE NEAR-DUP JOIN (record linkage): banded MinHash-LSH "
    "blocking proposes candidate pairs; each is verified at two tiers — "
    f"Levenshtein over a fixed {EDITDIST_PREFIX}-char prefix (always), "
    "and a BOUNDED-DISTANCE full-text Levenshtein (three-arg banded DP, "
    f"O(len*bound) not O(len^2)) when both texts are <= "
    f"{EDITDIST_FULL_CAP} chars. is_dup uses the full verify where "
    "available (dist*4 <= max(len), i.e. >= 75% character identity) and "
    f"falls back to the <= {EDITDIST_MAX}-edit prefix gate for longer "
    "docs — the documented approximation now confined to the tail. "
    f"full_edit_distance is NULL past the cap and -1 past the "
    f"{EDITDIST_FULL_BOUND}-edit band (which loses nothing: the gate "
    "already fails there). Candidates only, never all-pairs; both "
    "text-gather joins keep the candidate set on the build side; every "
    "Levenshtein is JVM whole-stage codegen, no Python.",
    bench=True,
)
def editdist_neardup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    cand = _lsh_candidates(docs)
    txt = docs.select(
        "doc_id",
        F.substring("text", 1, EDITDIST_PREFIX).alias("p"),
        F.when(
            F.length("text") <= EDITDIST_FULL_CAP, F.col("text")
        ).alias("t"),
    )
    a = cand.join(
        txt.select(
            F.col("doc_id").alias("doc_a"),
            F.col("p").alias("pa"),
            F.col("t").alias("ta"),
        ),
        "doc_a",
    )
    ab = a.join(
        txt.select(
            F.col("doc_id").alias("doc_b"),
            F.col("p").alias("pb"),
            F.col("t").alias("tb"),
        ),
        "doc_b",
    )
    dist = F.levenshtein("pa", "pb")
    denom = F.greatest(F.length("pa"), F.length("pb"), F.lit(1))
    # banded DP: -1 past the bound; NULL when either side exceeded the cap
    fdist = F.expr(f"levenshtein(ta, tb, {EDITDIST_FULL_BOUND})")
    full_len = F.greatest(F.length("ta"), F.length("tb"))
    # integer-exact 75%-identity gate: dist*4 <= max(len); -1 (past the
    # band) correctly fails it because 4*bound = cap >= max(len)
    full_dup = (fdist >= 0) & (fdist * 4 <= full_len)
    return ab.select(
        "doc_a",
        "doc_b",
        dist.cast("int").alias("edit_distance"),
        F.round(
            F.lit(1.0).cast("double") - dist.cast("double") / denom, 6
        ).alias("prefix_sim"),
        fdist.cast("int").alias("full_edit_distance"),
        F.when(
            fdist.isNotNull(), F.when(full_dup, 1).otherwise(0)
        )
        .otherwise(F.when(dist <= EDITDIST_MAX, 1).otherwise(0))
        .alias("is_dup"),
    )


# --- quality-prioritized dedup: keep the BEST member of each cluster -------
# Production curation does not keep the FIRST member of a near-dup cluster
# (an artifact of crawl order) — it keeps the highest-QUALITY one.  This
# op composes three existing surfaces end-to-end: verified near-dup pairs
# (LSH + Jaccard) -> connected components (transitive closure) -> the
# hashed-linear quality margin, then an argmax per cluster (quality DESC,
# doc_id tiebreak).  Scale shape: the cluster table is DUP-RATE-DEPENDENT
# (every doc in a verified near-dup cluster — at a realistic 20-40 % corpus
# dup rate that is corpus-fraction-sized), so the join carries NO broadcast
# hint: AQE picks broadcast at runtime when the set is actually small, the
# same discipline documented at curation_pipeline_stats' losers join.  The
# join still restricts the token stream so classifier sums are computed
# ONLY for clustered docs, never
# corpus-wide; the per-cluster argmax window partitions by cluster_id
# (cluster-sized tasks, never a global sort).
@query(
    "dedup_keep_best",
    oracle=None,  # composed below (reuses the CC recursive-CTE oracle)
    doc="QUALITY-PRIORITIZED DEDUP: near-dup clusters (LSH -> Jaccard -> "
    "connected components) keep their highest-quality member by hashed "
    "linear-classifier weight (integer-exact sums; doc_id breaks ties) "
    "instead of crawl order. The cluster table is dup-rate-dependent (can "
    "be corpus-fraction-sized), so its join carries no broadcast hint — "
    "AQE broadcasts when it is actually small; the join still restricts "
    "the token stream so quality is scored only for clustered docs; "
    "the keep argmax is a cluster-partitioned window. Oracle composes the "
    "recursive-CTE closure with the classifier weights verbatim.",
    bench=True,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    # compose the REGISTERED clustering query (not a re-derivation of its
    # body) so a future change to the closure updates Spark side and the
    # composed oracle in lockstep — the same discipline the oracle uses
    cc = dedup_cluster_components(spark, sf_dir).select(
        "doc_id", F.col("canonical_id").alias("cluster_id")
    )
    tok = with_token_hash(
        docs.join(cc, "doc_id").select(
            "doc_id",
            "cluster_id",
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        ),
        token_col="word",
    )
    wt = F.col("h") % QC_WEIGHT_MOD - QC_WEIGHT_SHIFT
    q = (
        tok.groupBy("doc_id", "cluster_id")
        .agg(F.sum(wt).cast("long").alias("quality_w"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_w").desc(), "doc_id"
    )
    return q.select(
        "doc_id",
        "cluster_id",
        "quality_w",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias("keep"),
    )


def _set_keep_best_oracle() -> None:
    from dataclasses import replace

    cc_sql = REGISTRY["dedup_cluster_components"].oracle
    sql = f"""
        WITH cc AS ({cc_sql}),
        tokq AS (
            SELECT d.doc_id, cc.canonical_id AS cluster_id,
                   CAST(sum({_hash32_sql("word")} % {QC_WEIGHT_MOD}
                            - {QC_WEIGHT_SHIFT}) AS BIGINT) AS quality_w
            FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS word
                FROM documents
            ) d
            JOIN cc ON cc.doc_id = d.doc_id
            GROUP BY d.doc_id, cc.canonical_id
        )
        SELECT doc_id, cluster_id, quality_w,
               CASE WHEN row_number() OVER (
                        PARTITION BY cluster_id
                        ORDER BY quality_w DESC, doc_id) = 1
                    THEN 1 ELSE 0 END AS keep
        FROM tokq
    """
    REGISTRY["dedup_keep_best"] = replace(
        REGISTRY["dedup_keep_best"], oracle=sql
    )


_set_keep_best_oracle()

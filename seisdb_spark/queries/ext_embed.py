"""Extension surface — embedding/similarity family: brute-force and ANN
top-k (sign-bucket LSH, IVF), embedding near-dup pairs, k-means
refinement, and the int8/int4 vector quantizers.  Split out of
extensions.py (round 12)."""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    SparkSession,
)
from pyspark.sql import functions as F
from seisdb_spark.queries.registry import REGISTRY, query
from seisdb_spark.sources.tables import load_table, spread
from seisdb_spark.functions.text import band_pairs
from seisdb_spark.functions.vectors import (
    EMBEDDING_DIM,
    MAX_SIGN_BITS,
    adaptive_bits_col,
    adaptive_bits_sql,
    dot_chain_col,
    dot_chain_sql,
    sign_string_expr,
    sign_string_sql,
)
from seisdb_spark.queries.ext_common import (
    ANN_MIN_BITS,
    ANN_TARGET_BUCKET_ROWS,
    NEARDUP_BANDS,
    NEARDUP_BAND_STRIDE,
    NEARDUP_COSINE,
    NEARDUP_MIN_BITS,
    NEARDUP_TARGET_BUCKET_ROWS,
)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------
@query(
    "similarity_topk_dot",
    oracle=f"""
        WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT e.vec_id,
                   {dot_chain_sql("e.embedding", "q.q_emb")} AS dot
            FROM embeddings e CROSS JOIN q
        )
        SELECT vec_id, round(dot, 6) AS score
        FROM scored
        ORDER BY dot DESC, vec_id
        LIMIT 10
    """,
    doc="Brute-force top-k similarity search: dot product of every vector "
    "against the query (vec_id=0), explicit left-associated fp chain so both "
    "engines accumulate identically. The query side is a broadcast of one "
    "row; top-k is orderBy().limit() — Spark plans TakeOrderedAndProject "
    "(per-partition heap, k-row driver merge), no single-partition window.",
    bench=True,
)
def similarity_topk_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id", dot_chain_col("embedding", "q_emb").alias("dot")
    )
    return (
        scored.orderBy(F.col("dot").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("dot", 6).alias("score"))
    )


@query(
    "embedding_norms_by_label",
    oracle=f"""
        SELECT label,
               count(*) AS n_vectors,
               round(avg(sqrt({dot_chain_sql("embedding", "embedding")})), 4)
                   AS avg_l2_norm
        FROM embeddings
        GROUP BY label
    """,
    doc="Vector-column aggregate: mean L2 norm per label. Per-row norm is an "
    "exact fp chain; the group avg is rounded (Spark's partial-agg order is "
    "non-deterministic at the 1e-13 level).",
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    norm = F.sqrt(dot_chain_col("embedding", "embedding"))
    return (
        emb.select("label", norm.alias("l2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("l2"), 4).alias("avg_l2_norm"),
        )
    )


@query(
    "knn_cosine_labeled",
    oracle=f"""
        WITH norms AS (
            SELECT vec_id, label, embedding,
                   sqrt({dot_chain_sql("embedding", "embedding")}) AS nrm
            FROM embeddings
        ),
        q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM norms WHERE vec_id = 1),
        scored AS (
            SELECT n.vec_id, n.label,
                   ({dot_chain_sql("n.embedding", "q.q_emb")}) / (n.nrm * q.q_nrm)
                       AS cosine
            FROM norms n CROSS JOIN q
            WHERE n.vec_id <> 1
        )
        SELECT vec_id, label, round(cosine, 6) AS cosine
        FROM scored
        ORDER BY cosine DESC, vec_id
        LIMIT 5
    """,
    doc="k-NN by cosine similarity with the query's own row excluded — the "
    "label column makes this the majority-vote classification primitive. "
    "Broadcast query + streaming scan + TakeOrderedAndProject top-k.",
)
def knn_cosine_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    norms = emb.select(
        "vec_id", "label", "embedding",
        F.sqrt(dot_chain_col("embedding", "embedding")).alias("nrm"),
    )
    q = (
        norms.filter(F.col("vec_id") == 1)
        .select(F.col("embedding").alias("q_emb"), F.col("nrm").alias("q_nrm"))
    )
    scored = (
        norms.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (dot_chain_col("embedding", "q_emb") / (F.col("nrm") * F.col("q_nrm"))).alias(
                "cosine"
            ),
        )
    )
    return (
        scored.orderBy(F.col("cosine").desc(), "vec_id")
        .limit(5)
        .select("vec_id", "label", F.round("cosine", 6).alias("cosine"))
    )


@query(
    "ann_signbucket_topk",
    oracle=f"""
        WITH nb AS (
            SELECT {adaptive_bits_sql(ANN_TARGET_BUCKET_ROWS, ANN_MIN_BITS)} AS nbits
            FROM embeddings
        ),
        sb AS (
            SELECT vec_id, embedding,
                   substr({sign_string_sql("embedding")}, 1, nbits) AS bucket
            FROM embeddings CROSS JOIN nb
        ),
        q AS (SELECT embedding AS q_emb, bucket AS qb FROM sb WHERE vec_id = 0),
        probes AS (
            SELECT q_emb,
                   CASE WHEN i = 0 THEN qb
                        ELSE substr(qb, 1, i - 1)
                             || (CASE WHEN substr(qb, i, 1) = '1'
                                 THEN '0' ELSE '1' END)
                             || substr(qb, i + 1, {MAX_SIGN_BITS})
                   END AS pb
            FROM q CROSS JOIN nb
            CROSS JOIN (SELECT unnest(generate_series(0, {MAX_SIGN_BITS})) AS i)
            WHERE i <= nbits
        ),
        cand AS (
            SELECT s.vec_id,
                   {dot_chain_sql("s.embedding", "p.q_emb")} AS dot
            FROM sb s JOIN probes p ON s.bucket = p.pb
        )
        SELECT vec_id, round(dot, 6) AS score
        FROM cand
        ORDER BY dot DESC, vec_id
        LIMIT 10
    """,
    doc="Approximate nearest neighbours via sign-bit LSH with a DATA-ADAPTIVE "
    "key width: nbits = ceil(log2(n / target-bucket-rows)), with n read "
    "from the parquet FOOTERS driver-side (catalog row stats at 100 TB) so "
    "the width is a plan literal and the query launches no pre-count job "
    "— the round-5 bench's 10x cold-start tax removed. Expected bucket "
    f"occupancy stays ~{ANN_TARGET_BUCKET_ROWS} rows as data grows (each "
    "extra bit halves the probed fraction — no recompile at 100x scale). "
    "Multiprobe radius 1: the nbits+1 probe keys (exact bucket + each 1-bit "
    "flip) broadcast to an EQUI-join on the bucket key — with bucket-"
    "partitioned data this prunes partitions, unlike a scan-and-filter "
    "Hamming predicate. Exact dot + TakeOrderedAndProject inside the probed "
    "set; recall vs brute force asserted at two scales in "
    "tests/test_extensions.py.",
    bench=True,
)
def ann_signbucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from seisdb_spark.functions.vectors import adaptive_bits_py
    from seisdb_spark.sources.tables import parquet_row_count

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    # cardinality from parquet footers (driver-side metadata, no pre-count
    # job) -> nbits is a plan LITERAL; the oracle derives the same width
    # from count(*) over the same table, so the two stay in lockstep
    n = parquet_row_count(spark, os.path.join(sf_dir, "embeddings.parquet"))
    nbits = adaptive_bits_py(n, ANN_TARGET_BUCKET_ROWS, ANN_MIN_BITS)
    sb = emb.select(
        "vec_id",
        "embedding",
        sign_string_expr("embedding").substr(1, nbits).alias("bucket"),
    )
    q = sb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb"), F.col("bucket").alias("qb")
    )
    i = F.col("i").cast("int")
    flipped = F.concat(
        F.col("qb").substr(F.lit(1), i - 1),
        F.when(F.col("qb").substr(i, F.lit(1)) == "1", "0").otherwise("1"),
        F.col("qb").substr(i + 1, F.lit(MAX_SIGN_BITS)),
    )
    probes = (
        q.crossJoin(spark.range(0, nbits + 1).select(F.col("id").alias("i")))
        .select("q_emb", F.when(i == 0, F.col("qb")).otherwise(flipped).alias("pb"))
    )
    cand = sb.join(F.broadcast(probes), F.col("bucket") == F.col("pb")).select(
        "vec_id", dot_chain_col("embedding", "q_emb").alias("dot")
    )
    return (
        cand.orderBy(F.col("dot").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("dot", 6).alias("score"))
    )


def neardup_band_candidates(
    spark: SparkSession, emb: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Banded sign-bit LSH candidate generation for embedding near-dup.

    Returns ``(sb, cand)``: the per-vector sign-string/norm projection and the
    DISTINCT candidate pairs agreeing in any band (:func:`band_pairs`, the
    MinHash-LSH paths' band join, keyed by vec_id).  Shared by the production
    query and the two-scale probe-shrinkage test so the test measures the
    exact production blocking stage, not a re-derivation.
    """
    nbdf = emb.agg(
        adaptive_bits_col(
            F.count(F.lit(1)), NEARDUP_TARGET_BUCKET_ROWS, NEARDUP_MIN_BITS
        ).alias("r")
    )
    sb = emb.select(
        "vec_id",
        "embedding",
        F.sqrt(dot_chain_col("embedding", "embedding")).alias("nrm"),
        sign_string_expr("embedding").alias("fb"),
    )
    bands = (
        sb.crossJoin(F.broadcast(nbdf))
        .crossJoin(
            spark.range(0, NEARDUP_BANDS).select(F.col("id").cast("int").alias("band"))
        )
        .select(
            "vec_id",
            "band",
            F.col("fb")
            .substr(F.col("band") * NEARDUP_BAND_STRIDE + 1, F.col("r"))
            .alias("bk"),
        )
    )
    return sb, band_pairs(bands, key="vec_id", out=("vec_a", "vec_b"))


@query(
    "embedding_neardup_pairs",
    oracle=f"""
        WITH nb AS (
            SELECT {adaptive_bits_sql(NEARDUP_TARGET_BUCKET_ROWS, NEARDUP_MIN_BITS)}
                   AS r
            FROM embeddings
        ),
        sb AS (
            SELECT vec_id, embedding,
                   sqrt({dot_chain_sql("embedding", "embedding")}) AS nrm,
                   {sign_string_sql("embedding")} AS fb
            FROM embeddings
        ),
        bands AS (
            SELECT vec_id, band,
                   substr(fb, band * {NEARDUP_BAND_STRIDE} + 1, r) AS bk
            FROM sb CROSS JOIN nb
            CROSS JOIN (SELECT unnest(generate_series(0, {NEARDUP_BANDS - 1}))
                        AS band)
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b,
               round(({dot_chain_sql("sa.embedding", "sb2.embedding")})
                     / (sa.nrm * sb2.nrm), 6) AS cosine
        FROM cand
        JOIN sb sa ON sa.vec_id = vec_a
        JOIN sb sb2 ON sb2.vec_id = vec_b
        WHERE ({dot_chain_sql("sa.embedding", "sb2.embedding")})
              / (sa.nrm * sb2.nrm) >= {NEARDUP_COSINE}
    """,
    doc=f"Embedding-cosine near-dup pairs via BANDED sign-bit LSH (the "
    f"embedding analog of banded MinHash): {NEARDUP_BANDS} bands over "
    f"disjoint dimension ranges, each a DATA-ADAPTIVE r-bit key "
    f"(r = ceil(log2(n/{NEARDUP_TARGET_BUCKET_ROWS})), so within-bucket "
    "pair work stays ~linear in n instead of quadratic), candidates = "
    "DISTINCT pairs agreeing in ANY band (banding keeps recall as r grows "
    "— a single all-bits key loses recall at scale), then exact cosine "
    f">= {NEARDUP_COSINE} verification on the candidate set only. Planted "
    "near-dup recall asserted at two scales in tests/test_extensions.py.",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    sb, cand = neardup_band_candidates(spark, emb)
    sa, sb2 = sb.alias("sa"), sb.alias("sb2")
    cos = dot_chain_col("sa.embedding", "sb2.embedding") / (
        F.col("sa.nrm") * F.col("sb2.nrm")
    )
    return (
        cand.join(sa, F.col("vec_a") == F.col("sa.vec_id"))
        .join(sb2, F.col("vec_b") == F.col("sb2.vec_id"))
        .filter(cos >= NEARDUP_COSINE)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


IVF_NPROBE = 3


@query(
    "ann_ivf_topk",
    oracle=f"""
        WITH cent AS (
            SELECT label,
                   {", ".join(f"round(avg(embedding[{d}]), 3) AS c{d}" for d in range(1, EMBEDDING_DIM + 1))}
            FROM embeddings
            GROUP BY label
        ),
        q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
        probed AS (
            SELECT label
            FROM cent CROSS JOIN q
            ORDER BY {" + ".join(f"c{d} * CAST(q_emb[{d}] AS DOUBLE)" for d in range(1, EMBEDDING_DIM + 1))}
                     DESC, label
            LIMIT {IVF_NPROBE}
        )
        SELECT e.vec_id, round({dot_chain_sql("e.embedding", "q.q_emb")}, 6) AS score
        FROM embeddings e CROSS JOIN q
        WHERE e.label IN (SELECT label FROM probed)
        ORDER BY {dot_chain_sql("e.embedding", "q.q_emb")} DESC, e.vec_id
        LIMIT 10
    """,
    doc=f"IVF-style ANN: coarse quantizer = per-label mean centroids "
    f"(rounded to 3 dp so Spark's and DuckDB's float-sum orders agree "
    "bit-for-bit), probe the top-"
    f"{IVF_NPROBE} partitions by centroid dot, exact search only inside "
    f"them — scans {IVF_NPROBE}/10 of the data. The centroid table is "
    "label-count-sized (broadcast); at 100 TB the inverted lists are the "
    "partition layout itself (write.partitionBy(list_id)) so probing is "
    "partition PRUNING, not a filter. Complements ann_signbucket_topk "
    "(LSH family) as the second ANN scale path.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cent = emb.groupBy("label").agg(
        *[
            F.round(F.avg(F.expr(f"CAST(embedding[{d - 1}] AS DOUBLE)")), 3).alias(f"c{d}")
            for d in range(1, EMBEDDING_DIM + 1)
        ]
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cent_dot = F.expr(
        " + ".join(f"c{d} * CAST(q_emb[{d - 1}] AS DOUBLE)" for d in range(1, EMBEDDING_DIM + 1))
    )
    probed = (
        cent.crossJoin(F.broadcast(q))
        .orderBy(cent_dot.desc(), "label")
        .limit(IVF_NPROBE)
        .select("label")
    )
    cand = (
        emb.join(F.broadcast(probed), "label")
        .crossJoin(F.broadcast(q))
        .select("vec_id", dot_chain_col("embedding", "q_emb").alias("dot"))
    )
    return (
        cand.orderBy(F.col("dot").desc(), "vec_id")
        .limit(10)
        .select("vec_id", F.round("dot", 6).alias("score"))
    )


@query(
    "kmeans_refine_assign",
    oracle=None,  # iterative + distributed fp means: not SQL-expressible
    doc="ITERATIVE Lloyd k-means refinement of the embedding clustering "
    "(the loop that upgrades ann_ivf_topk / semantic_dedup one-shot seeds "
    "to converged centroids): 2 iterations, k=8, deterministic md5-seeded "
    "init. Spark shape per iteration (functions/cluster.py): assignment "
    "is a MAP-ONLY projection — centroids are plan literals, nearest id "
    "via k HOF folds + array argmin, no join/shuffle; re-estimation is "
    "one posexplode + groupBy(cluster, dim) average whose exchange "
    "carries at most k*dim rows per partition after partial agg; driver "
    "state is k*dim doubles. Declared rows-only: the loop needs "
    "driver-side iteration and distributed fp means are not bit-portable "
    "to DuckDB — tests/test_cluster.py asserts planted-cluster recovery, "
    "monotone inertia, and numpy-Lloyd centroid agreement instead.",
)
def kmeans_refine_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.functions.cluster import lloyd_refine

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    assigned, _ = lloyd_refine(emb)
    return assigned.select("vec_id", "cluster")


# --- int8 embedding quantization (vector-store compression) ----------------
# The embedding-store twin of the reference's E1 truncating quantizer
# (reference seisdb/DSGT.py:137-166 quantizes strain series; here the
# same storage economics applied to the vector column): per-DIMENSION
# min/max over the corpus defines a 256-level uniform grid; each vector
# stores one int8 code per dim (4x smaller than float32, 8x than float64).
# Scale shape: the stats pass is a posexplode + dim-key groupBy — exactly
# EMBEDDING_DIM keys, fully combiner-collapsed map-side — and the 1-row
# (mins, steps) array struct broadcasts back so encoding is MAP-ONLY.
# Engine-exactness: min/max involve no accumulation (exact on any
# partitioning); codes are floor() of identical doubles; the per-vector
# code SUM is exact integer arithmetic; the reconstruction error is an
# explicit left-associated 64-term chain (the dot_chain discipline).
EMB_Q_LEVELS = 255  # codes 0..255


def _embq_term_sql(d: int) -> tuple[str, str]:
    """One dimension's (code, squared-error) pair, DuckDB 1-based index."""
    x = f"CAST(e.embedding[{d + 1}] AS DOUBLE)"
    mn, st = f"s.mins[{d + 1}]", f"s.steps[{d + 1}]"
    code = (
        f"CASE WHEN {st} = 0 THEN 0 ELSE "
        f"LEAST({EMB_Q_LEVELS}, CAST(FLOOR(({x} - {mn}) / {st}) AS BIGINT)) END"
    )
    err = f"POWER({x} - ({mn} + ({code}) * {st}), 2)"
    return code, err


@query(
    "embedding_int8_quantize",
    oracle=None,  # generated below (64-term chains, shared builder)
    doc=f"INT8 EMBEDDING QUANTIZATION: per-dim corpus min/max -> uniform "
    f"{EMB_Q_LEVELS + 1}-level grid -> one int8 code per dim (4x smaller "
    "than float32). Stats collapse map-side to EMBEDDING_DIM keys; the "
    "1-row (mins, steps) struct broadcasts back so encoding is MAP-ONLY — "
    "no per-vector shuffle at any corpus size. Output pins the exact "
    "integer code sum and the reconstruction L2^2 error per vector "
    "(explicit left-associated chain, both engines bit-identical). "
    "Cites the reference's E1 series quantizer (DSGT.py:137-166) — the "
    "same storage trade re-expressed for the vector column.",
    bench=True,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    stats = (
        emb.select(F.posexplode("embedding").alias("dim", "v"))
        .groupBy("dim")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
    )
    one = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, mn))), s -> s.mn)"
        ).alias("mins"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, mn, mx))), "
            f"s -> (s.mx - s.mn) / {EMB_Q_LEVELS})"
        ).alias("steps"),
    )
    codes, errs = [], []
    for d in range(EMBEDDING_DIM):
        x = f"CAST(embedding[{d}] AS DOUBLE)"
        mn, st = f"mins[{d}]", f"steps[{d}]"
        code = (
            f"CASE WHEN {st} = 0D THEN 0L ELSE "
            f"LEAST({EMB_Q_LEVELS}L, CAST(FLOOR(({x} - {mn}) / {st}) AS BIGINT)) END"
        )
        codes.append(code)
        errs.append(f"POWER({x} - ({mn} + ({code}) * {st}), 2)")
    code_sum = "(" + ") + (".join(codes) + ")"
    err_chain = errs[0]
    for e in errs[1:]:
        err_chain = f"({err_chain}) + ({e})"
    return emb.crossJoin(F.broadcast(one)).select(
        "vec_id",
        F.expr(code_sum).cast("long").alias("code_sum"),
        F.expr(f"round({err_chain}, 6)").alias("recon_err"),
    )


def _set_embq_oracle() -> None:
    from dataclasses import replace

    codes, errs = zip(*(_embq_term_sql(d) for d in range(EMBEDDING_DIM)))
    code_sum = "(" + ") + (".join(codes) + ")"
    err_chain = errs[0]
    for e in errs[1:]:
        err_chain = f"({err_chain}) + ({e})"
    sql = f"""
        WITH dimstats AS (
            SELECT dim,
                   min(CAST(v AS DOUBLE)) AS mn,
                   max(CAST(v AS DOUBLE)) AS mx
            FROM (
                SELECT unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS dim
                FROM embeddings
            )
            GROUP BY dim
        ),
        s AS (
            SELECT list(mn ORDER BY dim) AS mins,
                   list((mx - mn) / {EMB_Q_LEVELS} ORDER BY dim) AS steps
            FROM dimstats
        )
        SELECT e.vec_id,
               CAST({code_sum} AS BIGINT) AS code_sum,
               round({err_chain}, 6) AS recon_err
        FROM embeddings e CROSS JOIN s
    """
    REGISTRY["embedding_int8_quantize"] = replace(
        REGISTRY["embedding_int8_quantize"], oracle=sql
    )


_set_embq_oracle()


# --- block-wise int4 quantization (per-vector local scales) ----------------
# The complementary storage point to embedding_int8_quantize: int8 uses
# CORPUS-WIDE per-dim grids (one stats pass + broadcast-back), int4 uses
# PER-VECTOR per-block grids (8-dim blocks, min/max inside the row) — the
# FAISS SQ4 / GGUF block-quant shape.  16 levels halve int8's storage
# (32 B codes + 2 scales per block vs 64 B) and the operator needs ZERO
# shuffles and ZERO corpus passes: everything is row-local arithmetic, so
# it pipelines into any scan at any corpus size and quantizes STREAMING
# ingest without a stats job.  Round-half-up is spelled floor(x + 0.5) so
# both engines floor the identical double.
INT4_BLOCK = 8
INT4_LEVELS = 15  # 4-bit codes: 0..15


def _int4_code_expr(x: str, mn: str, mx: str) -> str:
    """Code for element x against its block's [mn, mx] grid — identical
    text evaluated by both engines (all literals CAST to DOUBLE so DuckDB
    does not slip into DECIMAL arithmetic)."""
    return (
        f"CASE WHEN ({mx} - {mn}) = 0 THEN 0 ELSE "
        f"LEAST({INT4_LEVELS}, CAST(FLOOR(({x} - {mn})"
        f" * CAST({INT4_LEVELS} AS DOUBLE) / ({mx} - {mn})"
        f" + CAST(0.5 AS DOUBLE)) AS INT)) END"
    )


def _balanced_sum(terms: list[str]) -> str:
    """Pairwise-balanced `+` tree over the terms — ~log2(n) expression
    depth instead of n (DuckDB's binder caps recursion at 128, which a
    64-term left-deep chain of CASE-bearing terms exceeds).  BOTH engines
    evaluate this identical text, so the fp accumulation order — the tree
    order — still matches bit-for-bit; only the shape changed."""
    while len(terms) > 1:
        terms = [
            f"({terms[i]} + {terms[i + 1]})"
            if i + 1 < len(terms)
            else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


def _int4_err_expr(x: str, mn: str, mx: str, c: str) -> str:
    """Squared reconstruction error; code 0 on a zero-range block
    reconstructs mn = x, so no special case is needed."""
    recon = (
        f"({mn} + CAST({c} AS DOUBLE) * ({mx} - {mn})"
        f" / CAST({INT4_LEVELS} AS DOUBLE))"
    )
    return f"(({x}) - {recon}) * (({x}) - {recon})"


@query(
    "embedding_int4_block_quantize",
    oracle=None,  # generated below (shared per-element expr builders)
    doc=f"BLOCK-WISE INT4 QUANTIZATION: each vector's {EMBEDDING_DIM} dims "
    f"split into {EMBEDDING_DIM // INT4_BLOCK} blocks of {INT4_BLOCK}; "
    "each block gets its own [min, max] grid from the ROW alone and "
    f"{INT4_LEVELS + 1}-level codes (8x smaller than float32 incl. "
    "scales). Unlike the corpus-grid int8 path this needs NO stats pass "
    "and NO shuffle of any kind — pure row-local arithmetic that "
    "pipelines into any scan and quantizes streaming ingest without a "
    "stats job; the trade is 16 levels vs 256 plus 2 scales per block. "
    "Codes serialize '-'-joined; qerr is the left-chained squared "
    "reconstruction error, bit-identical across engines (floor(x + 0.5) "
    "half-up on identical doubles).",
    bench=True,
)
def embedding_int4_block_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return int4_block_quantize_df(spread(load_table(spark, sf_dir, "embeddings")))


def int4_block_quantize_df(emb: DataFrame) -> DataFrame:
    """The int4 block-quantize transform over ANY embeddings DataFrame —
    pure row-local expressions, zero shuffles, zero corpus passes, so the
    SAME function quantizes a batch scan and each arriving streaming
    micro-batch (queries/streaming_queries.py::streaming_int4_quantize
    makes that claim executable)."""
    nb = EMBEDDING_DIM // INT4_BLOCK
    mnmx = []
    for b in range(nb):
        sl = (
            f"transform(slice(embedding, {b * INT4_BLOCK + 1}, "
            f"{INT4_BLOCK}), x -> CAST(x AS DOUBLE))"
        )
        mnmx.append(F.expr(f"array_min({sl})").alias(f"mn{b}"))
        mnmx.append(F.expr(f"array_max({sl})").alias(f"mx{b}"))
    s = emb.select("vec_id", "embedding", *mnmx)
    codes = "array(" + ", ".join(
        _int4_code_expr(
            f"CAST(embedding[{d}] AS DOUBLE)",
            f"mn{d // INT4_BLOCK}",
            f"mx{d // INT4_BLOCK}",
        )
        for d in range(EMBEDDING_DIM)
    ) + ")"
    c = s.select(
        "vec_id",
        "embedding",
        *[F.col(f"mn{b}") for b in range(nb)],
        *[F.col(f"mx{b}") for b in range(nb)],
        F.expr(codes).cast("array<int>").alias("codes"),
    )
    errs = [
        _int4_err_expr(
            f"CAST(embedding[{d}] AS DOUBLE)",
            f"mn{d // INT4_BLOCK}",
            f"mx{d // INT4_BLOCK}",
            f"codes[{d}]",
        )
        for d in range(EMBEDDING_DIM)
    ]
    err_chain = _balanced_sum(errs)
    return c.select(
        "vec_id",
        F.array_join(F.col("codes").cast("array<string>"), "-").alias(
            "codes"
        ),
        F.expr(f"round({err_chain}, 6)").alias("qerr"),
    )


def _set_int4_oracle() -> None:
    from dataclasses import replace

    nb = EMBEDDING_DIM // INT4_BLOCK
    mnmx = []
    for b in range(nb):
        elems = [
            f"CAST(embedding[{b * INT4_BLOCK + j + 1}] AS DOUBLE)"
            for j in range(INT4_BLOCK)
        ]
        mnmx.append(f"LEAST({', '.join(elems)}) AS mn{b}")
        mnmx.append(f"GREATEST({', '.join(elems)}) AS mx{b}")
    code_cols = [
        _int4_code_expr(
            f"CAST(embedding[{d + 1}] AS DOUBLE)",
            f"mn{d // INT4_BLOCK}",
            f"mx{d // INT4_BLOCK}",
        )
        + f" AS c{d}"
        for d in range(EMBEDDING_DIM)
    ]
    errs = [
        _int4_err_expr(
            f"CAST(embedding[{d + 1}] AS DOUBLE)",
            f"mn{d // INT4_BLOCK}",
            f"mx{d // INT4_BLOCK}",
            f"c{d}",
        )
        for d in range(EMBEDDING_DIM)
    ]
    err_chain = _balanced_sum(errs)
    codes_str = "concat_ws('-', " + ", ".join(
        f"CAST(c{d} AS VARCHAR)" for d in range(EMBEDDING_DIM)
    ) + ")"
    sql = f"""
        WITH s AS (
            SELECT vec_id, embedding, {", ".join(mnmx)}
            FROM embeddings
        ),
        c AS (
            SELECT vec_id, embedding,
                   {", ".join(f"mn{b}, mx{b}" for b in range(nb))},
                   {", ".join(code_cols)}
            FROM s
        )
        SELECT vec_id, {codes_str} AS codes, round({err_chain}, 6) AS qerr
        FROM c
    """
    REGISTRY["embedding_int4_block_quantize"] = replace(
        REGISTRY["embedding_int4_block_quantize"], oracle=sql
    )


_set_int4_oracle()


# ---------------------------------------------------------------------------
# Per-dimension exact quantile profile (feature preprocessing / profiling)
# ---------------------------------------------------------------------------
@query(
    "embedding_dim_quantiles",
    oracle=f"""
        WITH v AS (
            SELECT i.i AS dim, CAST(embedding[i.i + 1] AS FLOAT) AS val,
                   vec_id
            FROM embeddings, range({EMBEDDING_DIM}) i(i)
        ), r AS (
            SELECT dim, val,
                   row_number() OVER (
                       PARTITION BY dim ORDER BY val, vec_id
                   ) AS rn,
                   count(*) OVER (PARTITION BY dim) AS n
            FROM v
        )
        SELECT CAST(dim AS BIGINT) AS dim,
               CAST(max(n) AS BIGINT) AS n_values,
               min(val) AS min_val,
               max(CASE WHEN rn = (n + 1) // 2 THEN val END) AS p50_val,
               max(CASE WHEN rn = (9 * n + 9) // 10 THEN val END)
                   AS p90_val,
               max(val) AS max_val
        FROM r
        GROUP BY dim
    """,
    doc="PER-DIMENSION EXACT QUANTILE PROFILE (the feature-profiling / "
    "quantile-transform preprocessing class: rank-based per-coordinate "
    "statistics every normalization or drift monitor needs over an "
    "embedding column): posexplode the vectors to (dim, value) pairs, "
    "then per dimension — count, min/max, and EXACT nearest-rank p50 / "
    "p90 picked by row_number over the (value, vec_id) total order (the "
    "tiebreaker makes the selected ELEMENT deterministic, so the float "
    "outputs are bit-identical corpus elements, not interpolations — "
    "which is why this hashes where percentile_approx cannot).  Shape: "
    "ONE dim-keyed exchange; parallelism is bounded by EMBEDDING_DIM "
    "partitions and each holds a full corpus column sorted partition-"
    "locally — the honest cost of EXACT order statistics, priced "
    "against hist_quantile_rollup (the fixed-state mergeable-sketch "
    "path) which is what a 100 TB profile uses when per-mille accuracy "
    "suffices.  The two are the exact/approx pair of one family.",
    bench=True,
)
def embedding_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    )
    w = Window.partitionBy("dim").orderBy("val", "vec_id")
    r = v.select(
        "dim",
        "val",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("dim")).alias("n"),
    )
    return (
        r.groupBy("dim")
        .agg(
            F.max("n").alias("n_values"),
            F.min("val").alias("min_val"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("val"))
            ).alias("p50_val"),
            F.max(
                F.when(
                    F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("val")
                )
            ).alias("p90_val"),
            F.max("val").alias("max_val"),
        )
        .select(
            F.col("dim").cast("bigint").alias("dim"),
            F.col("n_values").cast("bigint").alias("n_values"),
            "min_val",
            "p50_val",
            "p90_val",
            "max_val",
        )
    )

"""Shared machinery for the §2.11 extension-surface family modules:
LSH/shingle oracle CTE fragments (kept in lockstep with functions/text.py),
the candidates-only Jaccard verify stack, and the md5 hash-to-integer SQL
helpers every family reuses.  Split out of the former monolithic
extensions.py (round 12); seisdb_spark.queries.extensions re-exports
everything, so external imports are unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from seisdb_spark.sources.tables import spread
from seisdb_spark.functions.text import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_PRIME,
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    SHINGLE_K,
    band_key_exprs,
    minhash_agg_exprs,
    shingle_tokens,
    with_token_hash,
)


STOPWORD_PATTERN = r"\b(the|a|of|and|to)\b"
JACCARD_THRESHOLD = 0.7
NEARDUP_COSINE = 0.95

# Sign-bucket key widths are derived from the input row count at execution
# (see functions/vectors.py::adaptive_bits_col): width = the smallest bits
# with expected bucket occupancy <= target, clamped to [min, MAX_SIGN_BITS].
# ANN targets larger buckets (the probed set must still contain a top-10);
# near-dup blocking targets small buckets (within-bucket work is quadratic).
ANN_TARGET_BUCKET_ROWS = 64
ANN_MIN_BITS = 2
NEARDUP_TARGET_BUCKET_ROWS = 8
NEARDUP_MIN_BITS = 4
NEARDUP_BANDS = 4
NEARDUP_BAND_STRIDE = 16  # band b slices sign-string chars [b*16+1, b*16+R]


# ---------------------------------------------------------------------------
# shared oracle CTE fragments (kept in lockstep with functions/text.py)
# ---------------------------------------------------------------------------
_TOK_CTE = """
    tok AS (
        SELECT DISTINCT doc_id, lang, source, word FROM (
            SELECT doc_id, lang, source,
                   unnest(string_split(text, ' ')) AS word
            FROM documents
        )
    )
"""

def _shingle_cte(src: str = "documents") -> str:
    """The word-k-shingle CTE over any source relation carrying
    (doc_id, text) — lockstep with functions/text.py::shingle_tokens."""
    return f"""
    starts AS (
        SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - {SHINGLE_K - 1}, 0))) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src})
    ),
    shingle AS (
        SELECT DISTINCT doc_id,
               {" || ' ' || ".join(f"w[i + {j}]" for j in range(SHINGLE_K))} AS sh
        FROM starts
    )
"""


_SHINGLE_CTE = _shingle_cte()

_HEX_ALPHA = "0123456789abcdef"


def _hash_bucket_sql(expr: str) -> str:
    """First 4 hex digits of md5 -> integer in [0, 65536), DuckDB side."""
    digits = [
        f"(strpos('{_HEX_ALPHA}', substr(md5({expr}), {k}, 1)) - 1)"
        for k in (1, 2, 3, 4)
    ]
    return f"({digits[0]} * 4096 + {digits[1]} * 256 + {digits[2]} * 16 + {digits[3]})"


def _hash32_sql(expr: str) -> str:
    """First 8 hex digits of md5 -> BIGINT in [0, 2^32), DuckDB side
    (mirrors sources/tables.py::shard_assignment digit for digit)."""
    digits = [
        f"(strpos('{_HEX_ALPHA}', substr(md5({expr}), {k}, 1)) - 1)"
        for k in range(1, 9)
    ]
    return "(" + " + ".join(
        f"{d} * {16 ** (8 - k)}" for k, d in enumerate(digits, start=1)
    ) + ")"


# One md5 per shingle, parsed to a 32-bit int by summing per-hex-digit
# strpos lookups (DuckDB's equivalent of Spark's conv(hex,16,10)); the 12
# signature lanes are (A*h+B) mod P transforms of it — in lockstep with
# functions/text.py::with_token_hash / minhash_agg_exprs.
_SIG_CTE = f"""
    sigsrc AS (
        SELECT doc_id, {_hash32_sql("sh")} AS h FROM shingle
    ),
    sig AS (
        SELECT doc_id,
               {", ".join(f"min(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_PRIME}) AS mh{i}" for i in range(N_MINHASH))}
        FROM sigsrc
        GROUP BY doc_id
    )
"""

def _band_concat(b: int) -> str:
    lanes = [f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
    return "concat(" + ", ',', ".join(lanes) + ")"


_BANDS_CTE = (
    "bands AS (\n"
    + "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, {_band_concat(b)} AS bk FROM sig"
        for b in range(N_BANDS)
    )
    + "\n    )"
)

_CAND_CTE = """
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
"""


def _jaccard_on_candidates(docs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard scored ONLY on LSH candidate pairs, built so the
    shingle explode runs ONCE: signatures, band join, set sizes, and the
    intersection count all consume the same distinct-shingle DataFrame, and
    every branch's plan bottoms out at the same distinct Exchange, which
    Spark de-duplicates (ReusedExchange).  (``min()`` is duplicate-
    insensitive, so signatures over the distinct table equal
    :func:`_lsh_candidates`'s.)

    The verify stage never touches non-candidate shingles: the shingle table
    is semi-filtered through the broadcast candidate-doc set before the
    intersection join, so verify cost scales with the (tiny, when LSH prunes
    well) candidate set rather than the corpus — at sf0.1 that is 486 of
    5000 docs; at 100 TB it is the difference between a corpus-sized
    shuffle and a candidate-sized one.  Returns (doc_a, doc_b, jaccard)
    unrounded.
    """
    sh = shingle_tokens(docs)
    sig = with_token_hash(sh).groupBy("doc_id").agg(*minhash_agg_exprs())
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*band_key_exprs())).alias("band", "bk")
    )
    ba, bb = bands.alias("a"), bands.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_jaccard(sh, cand)


def _verify_jaccard(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle Jaccard for GIVEN (doc_a, doc_b) candidate pairs over a
    distinct shingle table — the verify tail shared by the self-join dedup
    and the incremental batch-vs-corpus probe.  Cost scales with the
    candidate set, never the corpus."""
    cand_docs = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sh_c = sh.join(cand_docs, "doc_id", "left_semi")
    cnt = sh_c.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    ta, tb = sh_c.alias("ta"), sh_c.alias("tb")
    shared = (
        cand.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(
            tb,
            (F.col("doc_b") == F.col("tb.doc_id")) & (F.col("ta.sh") == F.col("tb.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca, cb = cnt.alias("ca"), cnt.alias("cb")
    jac = F.col("n_shared").cast("double") / (
        F.col("ca.n_sh") + F.col("cb.n_sh") - F.col("n_shared")
    )
    return (
        shared.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _lsh_candidates(docs: DataFrame) -> DataFrame:
    """shingle -> minhash -> band -> ONE bucket self-join.

    The self-join's two sides share one computation of the signature table:
    both sides' plans end at identical Exchanges, which Spark de-duplicates
    (ReusedExchange) — round 1 recomputed the signature lineage 4x."""
    sh = shingle_tokens(spread(docs), distinct=False)  # min() absorbs dups
    sig = with_token_hash(sh).groupBy("doc_id").agg(*minhash_agg_exprs())
    bands = sig.select(
        "doc_id", F.posexplode(F.array(*band_key_exprs())).alias("band", "bk")
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

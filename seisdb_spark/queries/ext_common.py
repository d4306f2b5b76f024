"""Shared machinery for the §2.11 extension-surface family modules:
LSH/shingle oracle CTE fragments (kept in lockstep with functions/text.py:
``_shingle_cte``, ``_SIG_CTE``, ``_BANDS_CTE``, ``_cand_cte`` — the twin of
``band_pairs`` — and ``_SCORED_CTE``), the candidates-only Jaccard verify
stack (``_lsh_candidates`` and ``_jaccard_on_candidates``, both over
``minhash_bands`` + ``band_pairs``; ``_verify_jaccard``), and the md5
hash-to-integer SQL helpers every family reuses.  Split out of the former
monolithic extensions.py (round 12); seisdb_spark.queries.extensions
re-exports everything, so external imports are unchanged."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from seisdb_spark.functions.text import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_PRIME,
    N_BANDS,
    N_MINHASH,
    ROWS_PER_BAND,
    SHINGLE_K,
    band_pairs,
    minhash_bands,
    shingle_tokens,
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

def _shingle_cte(
    src: str = "documents",
    k: int = SHINGLE_K,
    name: str = "shingle",
    id_col: str = "doc_id",
) -> str:
    """CTEs ``{name}_starts`` and ``{name}(id_col, sh)``: the distinct word
    k-shingles of any source relation carrying (doc_id, text) — lockstep
    with functions/text.py::shingle_tokens."""
    return f"""
    {name}_starts AS (
        SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - {k - 1}, 0))) AS i
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src})
    ),
    {name} AS (
        SELECT DISTINCT doc_id AS {id_col},
               {" || ' ' || ".join(f"w[i + {j}]" for j in range(k))} AS sh
        FROM {name}_starts
    )
"""


_SHINGLE_CTE = _shingle_cte()

_HEX_ALPHA = "0123456789abcdef"


def _md5_hex_sql(expr: str, n: int) -> str:
    """First ``n`` hex digits of md5 -> integer, DuckDB side: a sum of
    per-digit strpos lookups (Spark's twin is conv(substring(md5, 1, n), 16, 10))."""
    return "(" + " + ".join(
        f"(strpos('{_HEX_ALPHA}', substr(md5({expr}), {k}, 1)) - 1) * {16 ** (n - k)}"
        for k in range(1, n + 1)
    ) + ")"


def _hash_bucket_sql(expr: str) -> str:
    """First 4 hex digits of md5 -> integer in [0, 65536), DuckDB side."""
    return _md5_hex_sql(expr, 4)


def _hash32_sql(expr: str) -> str:
    """First 8 hex digits of md5 -> BIGINT in [0, 2^32), DuckDB side
    (mirrors sources/tables.py::shard_assignment digit for digit)."""
    return _md5_hex_sql(expr, 8)


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


def _cand_cte(pair: str = "a.doc_id < b.doc_id") -> str:
    """``cand(doc_a, doc_b)``: the band-bucket join of ``bands`` with itself
    under ``pair`` — the oracle twin of functions/text.py::band_pairs."""
    return f"""
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bk = b.bk AND {pair}
    )
"""


_CAND_CTE = _cand_cte()
_LSH_CTES = ",".join((_SHINGLE_CTE, _SIG_CTE, _BANDS_CTE, _CAND_CTE))

# scored(doc_a, doc_b, jaccard): exact shingle Jaccard of every cand pair,
# unrounded — the oracle twin of _verify_jaccard
_SCORED_CTE = """
    cnt AS (SELECT doc_id, count(*) AS n_sh FROM shingle GROUP BY doc_id),
    shared AS (
        SELECT c.doc_a, c.doc_b, count(*) AS n_shared
        FROM cand c
        JOIN shingle ta ON ta.doc_id = c.doc_a
        JOIN shingle tb ON tb.doc_id = c.doc_b AND tb.sh = ta.sh
        GROUP BY c.doc_a, c.doc_b
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CAST(n_shared AS DOUBLE) / (ca.n_sh + cb.n_sh - n_shared) AS jaccard
        FROM shared
        JOIN cnt ca ON shared.doc_a = ca.doc_id
        JOIN cnt cb ON shared.doc_b = cb.doc_id
    )
"""


def _jaccard_on_candidates(docs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard scored ONLY on LSH candidate pairs of ``docs``
    (callers pass it through ``spread``).  Signatures, band join and verify
    all consume one shingle DataFrame with no corpus-wide distinct:
    ``min()`` ignores duplicates, so the signatures equal
    :func:`_lsh_candidates`'s, and the verify's ``collect_set`` dedups
    within each doc.

    The executed plan reads the table once and explodes it into shingles
    twice: once over the whole corpus for the signatures, and once over
    the candidate docs for the verify (Catalyst pushes the LeftSemi with
    the broadcast candidate-doc set below the explode).  So verify cost
    scales with the candidate set (486 of 5000 docs at sf0.1), not the
    corpus.  Pinned by ``test_jaccard_on_candidates_explodes_the_corpus_once``.
    Returns (doc_a, doc_b, jaccard) unrounded.
    """
    sh = shingle_tokens(docs, distinct=False)
    return _verify_jaccard(sh, band_pairs(minhash_bands(sh)))


def _verify_jaccard(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle Jaccard for GIVEN (doc_a, doc_b) candidate pairs over a
    (doc_id, sh) shingle table, repeated rows allowed — the verify tail
    shared by the self-join dedup and the incremental batch-vs-corpus
    probe.  Each candidate doc's shingles are collected once, as a set;
    each pair joins its two sets and scores ``n / (|A| + |B| - n)`` with
    ``n = |A ∩ B|``.  Pairs sharing no shingle give no row.  Cost scales
    with the candidate set, never the corpus."""
    cand_docs = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    sets = (
        sh.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("s"))
    )
    a, b = sets.alias("a"), sets.alias("b")
    n = F.size(F.array_intersect("a.s", "b.s"))
    jac = n.cast("double") / (F.size("a.s") + F.size("b.s") - n)
    return (
        cand.join(a, F.col("doc_a") == F.col("a.doc_id"))
        .join(b, F.col("doc_b") == F.col("b.doc_id"))
        .filter(n > 0)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def _lsh_candidates(docs: DataFrame) -> DataFrame:
    """shingle -> minhash -> band -> ONE bucket self-join over ``docs``
    (callers pass it through ``spread``).

    The self-join's two sides share one computation of the signature
    table: the executed plan has one documents scan and one shingle
    explode, and the second side reads the signature aggregate's Exchange
    as a ReusedExchange — round 1 recomputed the signature lineage 4x.
    Pinned by ``test_lsh_candidates_share_one_signature_exchange``."""
    return band_pairs(minhash_bands(shingle_tokens(docs, distinct=False)))

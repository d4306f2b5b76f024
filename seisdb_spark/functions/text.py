"""Text-analysis expression builders: tokenization, k-shingling, MinHash
and its LSH primitives (:func:`minhash_bands`, the band table, and
:func:`band_pairs`, the band-bucket join every near-dup path runs),
SimHash, and language scoring — all pure ``pyspark.sql.functions`` column
math (JVM-side, whole-stage-codegen'd; no Python boundary).

Portability discipline (these feed DuckDB-oracle-checked queries):
  * hashing is md5 over explicit strings — identical hex in Spark and DuckDB;
  * hex parsing uses ``conv(hex, 16, 10)`` on the Spark side and summed
    ``strpos(alphabet, digit) - 1`` lookups on the DuckDB side — same value;
  * MinHash lanes are int64 multiply-add-mod transforms of that value —
    exact integer arithmetic, identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# MinHash-LSH geometry: 12 hashes in 4 bands x 3 rows. Band collision
# probability for Jaccard J is 1-(1-J^3)^4: J=0.9 -> 0.995, J=0.8 -> 0.94,
# J=0.5 -> 0.41, J=0.1 -> 0.004 — near-dups are caught, random pairs are
# pruned (vs round 1's 2x2 over unigrams which emitted 74% of all pairs).
N_MINHASH = 12
ROWS_PER_BAND = 3
N_BANDS = N_MINHASH // ROWS_PER_BAND
SHINGLE_K = 3

# Universal-hash family for MinHash: ONE md5 per shingle parsed to a 32-bit
# integer h, then mh_i = min((A_i*h + B_i) mod P) — 1 digest + 12 int64
# multiply-adds per row instead of 12 digests (the digests dominated the
# signature aggregate's cost). P is the smallest prime > 2^32; A_i <= 1e9
# keeps A*h + B < 2^63 (no int64 overflow, in Spark or DuckDB).
MINHASH_PRIME = 4294967311
MINHASH_A = (
    999999937, 961748941, 920419823, 899809363,
    838041647, 785877281, 715225741, 695928737,
    611953021, 534912163, 472882049, 433024253,
)
MINHASH_B = (
    15485863, 32452843, 49979687, 67867967,
    86028121, 104395301, 122949823, 141650939,
    160481183, 179424673, 198491317, 217645177,
)

# SimHash: 16-bit fingerprint from the first 4 hex digits of md5(token).
SIMHASH_BITS = 16
_HEX = "0123456789abcdef"


def word_tokens(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """Distinct (doc_id[, extra], word) whitespace-token set per document."""
    return docs.select(
        "doc_id",
        *extra_cols,
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    ).distinct()


def shingle_tokens(docs: DataFrame, k: int = SHINGLE_K, distinct: bool = True) -> DataFrame:
    """(doc_id, sh) word k-shingle rows per document.

    One narrow projection, no joins. Documents shorter than k words yield
    no shingles: they are filtered out before the explode, because
    ``sequence(1, n)`` counts DOWN for n < 1 (``sequence(1, 0)`` is
    ``[1, 0]``), which indexes past the word array — an
    ``INVALID_ARRAY_INDEX`` under ANSI, spurious shingles without it.  An
    empty text splits to one empty word, so it is short too.

    ``distinct=True`` (a shuffle) is required wherever set semantics matter
    (Jaccard counts); MinHash signatures pass ``distinct=False`` because
    ``min()`` is insensitive to duplicates — partial aggregation absorbs
    them map-side and the extra shuffle disappears.

    Built as ``explode(transform(sequence(...), i -> concat_ws(...)))``:
    the shingle STRINGS are assembled per document inside the (interpreted)
    HOF and only they cross the Generate — the earlier ``explode(sequence)``
    + post-explode subscript form carried the whole word array ``w`` as a
    Generate child output, copying the ~doc-sized array into every one of
    the ~50x-more-numerous shingle rows (r19 A/B at sf0.1, identical
    (doc_id, sh) multiset crc: raw generation 0.185 -> 0.142 s, distinct
    0.439 -> 0.393 s, k=8 distinct 0.358 -> 0.314 s).  An earlier r12 A/B
    rejected ``transform(..., slice(...))`` — the slice allocates a k-array
    per shingle inside the interpreter; the subscript lambda does not.
    """
    parts = ", ".join(f"w[i + {j - 1}]" for j in range(k))
    shingles = (
        f"transform(sequence(1, size(w) - {k - 1}), "
        f"i -> concat_ws(' ', {parts}))"
    )
    out = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .where(F.size("w") >= k)
        .select("doc_id", F.explode(F.expr(shingles)).alias("sh"))
    )
    return out.distinct() if distinct else out


def with_token_hash(df: DataFrame, token_col: str = "sh") -> DataFrame:
    """Adds ``h``: the first 8 hex digits of md5(token) as a bigint in
    [0, 2^32) — the ONE digest each MinHash row needs (the 12 signature
    lanes are integer transforms of it). ``conv`` is the Spark-side hex
    parse; the oracle twin sums per-digit ``strpos`` lookups (same value).
    Computed once as a projection so the aggregate lanes share it (agg
    expressions are not common-subexpression-eliminated across lanes).
    """
    return df.withColumn(
        "h",
        F.expr(
            f"cast(conv(substring(md5(cast({token_col} as binary)), 1, 8), 16, 10)"
            " as bigint)"
        ),
    )


def minhash_agg_exprs(hash_col: str = "h", n: int = N_MINHASH) -> list[Column]:
    """``min((A_i*h + B_i) mod P)`` aggregate per lane — the MinHash row over
    the universal-hash family (see MINHASH_A/B/PRIME; input column from
    :func:`with_token_hash`).

    Built as one parsed expression per lane (1 py4j round-trip each) rather
    than nested Column calls (~6 each) — these appear in every LSH plan and
    driver-side build time is part of the measured query cost.
    """
    return [
        F.expr(
            f"min(({MINHASH_A[i]} * {hash_col} + {MINHASH_B[i]})"
            f" % {MINHASH_PRIME}) AS mh{i}"
        )
        for i in range(n)
    ]


def band_key_exprs(
    n: int = N_MINHASH, rows_per_band: int = ROWS_PER_BAND
) -> list[Column]:
    """One join key per band: that band's minhash lanes concatenated. Plain
    string concat (not a digest) — the key only needs equality semantics
    within the band self-join."""
    return [
        F.expr(
            "concat_ws(','"
            + "".join(f", mh{b * rows_per_band + r}" for r in range(rows_per_band))
            + f") AS bk{b}"
        )
        for b in range(n // rows_per_band)
    ]


def minhash_sig(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh11): the MinHash signature of every document in a
    (doc_id, sh) shingle table — one digest per row, then one groupBy whose
    lanes partial-aggregate map-side. ``min()`` ignores duplicate rows, so
    a table built with ``distinct=False`` gives the same signatures."""
    return with_token_hash(sh).groupBy("doc_id").agg(*minhash_agg_exprs())


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, bk): the LSH band table of a (doc_id, sh) shingle
    table, one row per document and band — the input of :func:`band_pairs`."""
    return minhash_sig(sh).select(
        "doc_id", F.posexplode(F.array(*band_key_exprs())).alias("band", "bk")
    )


def band_pairs(
    a: DataFrame,
    b: DataFrame | None = None,
    key: str = "doc_id",
    out: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """DISTINCT (out[0], out[1]) pairs of rows that share a (band, bk)
    bucket of two band tables keyed by ``key`` — the LSH candidate join.

    With ``b=None`` it is the self-join of ``a`` under ``a.key < b.key``,
    so each unordered pair appears once; both sides are one lineage, so
    the second side reuses the first side's exchanges (ReusedExchange,
    pinned for the MinHash and the embedding band joins in
    tests/test_extensions.py). Otherwise ``a`` (a batch) probes ``b`` (a
    corpus) and every matching pair is kept. One equi-join on (band, bk),
    then one distinct: a pair that collides in several bands is emitted
    once."""
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.bk") == F.col("b.bk"))
    if b is None:
        b, on = a, on & (F.col(f"a.{key}") < F.col(f"b.{key}"))
    return (
        a.alias("a")
        .join(b.alias("b"), on)
        .select(F.col(f"a.{key}").alias(out[0]), F.col(f"b.{key}").alias(out[1]))
        .distinct()
    )


def simhash_agg(tokens: DataFrame) -> DataFrame:
    """Per-doc 16-bit SimHash over a (doc_id, word) token table.

    The token's 16-bit hash (first 4 hex digits of md5, digit k supplying
    bits 4k..4k+3, LSB-first within the digit) is parsed ONCE as a
    projection — aggregate expressions are not common-subexpression-
    eliminated, so inlining md5 into each of the 16 sum lanes would run 16
    digests per row. Each lane then sums +/-1 bit contributions; the
    fingerprint sets bit p iff the sum is positive. One shuffle on doc_id.
    """
    hashed = tokens.withColumn(
        "th",
        F.expr(
            "cast(conv(reverse(substring(md5(cast(word as binary)), 1, 4)), 16, 10)"
            " as int)"
        ),
    )
    # Reversing the 4 hex digits before parsing puts digit k at weight 16^k,
    # so the digit-k/bit-j (LSB-first) layout is just bit p = 4k+j of th.
    aggs = [
        F.expr(f"sum((floor(th / {2**p}) % 2) * 2 - 1) AS b{p}")
        for p in range(SIMHASH_BITS)
    ]
    summed = hashed.groupBy("doc_id").agg(*aggs)
    fp = " + ".join(
        f"CASE WHEN b{p} > 0 THEN {2**p} ELSE 0 END" for p in range(SIMHASH_BITS)
    )
    return summed.select("doc_id", F.expr(f"cast({fp} as int) AS simhash"))


def simhash_oracle_sql(source_cte: str = "tok") -> str:
    """DuckDB twin of :func:`simhash_agg` over a (doc_id, word) CTE."""
    hexparse = " + ".join(
        f"(strpos('{_HEX}', substr(md5(word), {k + 1}, 1)) - 1) * {16 ** k}"
        for k in range(4)
    )
    aggs = [
        f"sum(((th // {2**p}) % 2) * 2 - 1) AS b{p}" for p in range(SIMHASH_BITS)
    ]
    terms = " + ".join(
        f"CASE WHEN b{p} > 0 THEN {2**p} ELSE 0 END" for p in range(SIMHASH_BITS)
    )
    return f"""
        hashed AS (
            SELECT doc_id, {hexparse} AS th FROM {source_cte}
        ),
        summed AS (
            SELECT doc_id, {", ".join(aggs)}
            FROM hashed
            GROUP BY doc_id
        ),
        simhashed AS (
            SELECT doc_id, CAST({terms} AS INT) AS simhash FROM summed
        )
    """


# Deterministic per-language marker-word profiles for the n-gram/stopword
# language-ID heuristic. The driver corpus is synthetic (all langs share one
# vocabulary), so the *prediction quality* is meaningless there — the operator
# shape (K profile scores + deterministic argmax) is what's exercised and
# oracle-checked; on real text the profiles would be per-language stopwords.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "value", "row", "fast"),
    "de": ("window", "batch", "data", "key", "merge"),
    "es": ("query", "join", "order", "scan", "slow"),
    "fr": ("table", "part", "group", "line", "big"),
    "zh": ("spark", "hash", "stream", "column", "small"),
}


def lang_scores(text_col: str = "text") -> dict[str, Column]:
    """Profile-hit score per language: count of marker words present."""
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    out = {}
    for lang, words in LANG_PROFILES.items():
        score = None
        for w in words:
            hit = F.when(padded.contains(f" {w} "), 1).otherwise(0)
            score = hit if score is None else score + hit
        out[lang] = score
    return out


def lang_argmax(scores: dict[str, Column]) -> Column:
    """Deterministic argmax: first language (profile order) whose score is
    >= every later language's score — a first-match-wins CASE chain that both
    engines evaluate identically."""
    langs = list(scores)
    expr = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for other in langs[i + 1 :]:
            c = scores[langs[i]] >= scores[other]
            cond = c if cond is None else cond & c
        expr = F.when(cond, F.lit(langs[i])).otherwise(expr)
    return expr

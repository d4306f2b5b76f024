"""Extension surface — text analysis & quality family: stats, language-ID,
token estimates, fingerprints (simhash / winnowing), multimodal binary
columns, heuristic + trained quality gates (classifier, bigram-LM
perplexity), PII scan/redaction, and the BPE tokenizer queries.
Split out of extensions.py (round 12); see that module for the shared
portability discipline notes."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from seisdb_spark.functions.multimodal import (
    decode_payload_features,
    documents_as_binary,
)
from seisdb_spark.queries.registry import REGISTRY, query
from seisdb_spark.sources.tables import load_table, spread
from seisdb_spark.functions.text import (
    LANG_PROFILES,
    lang_argmax,
    lang_scores,
    shingle_tokens,
    simhash_agg,
    simhash_oracle_sql,
    with_token_hash,
    word_tokens,
)
from seisdb_spark.queries.ext_common import (
    STOPWORD_PATTERN,
    _TOK_CTE,
    _hash32_sql,
)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
def word_count() -> Column:
    """Whitespace word count of ``text``: its spaces + 1 (so '' is one
    word).  The one Spark definition every length gate and token budget
    calls; ``WORD_COUNT_SQL`` is its DuckDB twin."""
    return F.length("text") - F.length(F.translate(F.col("text"), " ", "")) + 1


def stopword_ratio() -> Column:
    """Stopword hits (``STOPWORD_PATTERN``) per word of ``text``, the
    content gate's ratio; ``STOPWORD_RATIO_SQL`` is its DuckDB twin."""
    hits = F.size(F.regexp_extract_all(F.col("text"), F.lit(STOPWORD_PATTERN), 0))
    return hits.cast("double") / word_count()


WORD_COUNT_SQL = "(length(text) - length(replace(text, ' ', '')) + 1)"
STOPWORD_RATIO_SQL = (
    f"CAST(len(regexp_extract_all(text, '{STOPWORD_PATTERN}')) AS DOUBLE) / {WORD_COUNT_SQL}"
)


@query(
    "text_stats",
    oracle=f"""
        SELECT doc_id, lang,
               length(text) AS n_chars_calc,
               {WORD_COUNT_SQL} AS n_words,
               round(CAST(length(replace(text, ' ', '')) AS DOUBLE) / {WORD_COUNT_SQL}, 4)
                   AS avg_word_len
        FROM documents
    """,
    doc="Per-document text statistics (char count, whitespace token count, "
    "mean word length) — all JVM-side expressions, no Python boundary.",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    nosp = F.length(F.translate(F.col("text"), " ", ""))
    n_words = word_count()
    return docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_calc"),
        n_words.alias("n_words"),
        F.round(nosp.cast("double") / n_words, 4).alias("avg_word_len"),
    )


@query(
    "token_count_by_lang",
    oracle=f"""
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum({WORD_COUNT_SQL}) AS BIGINT) AS total_tokens,
               round(avg({WORD_COUNT_SQL}), 4) AS avg_tokens
        FROM documents
        GROUP BY lang
    """,
    doc="Corpus-level token accounting per language — the budget query of a "
    "training-data pipeline. Single shuffle, partial aggregation map-side.",
    bench=True,
)
def token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", word_count().alias("nw"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").alias("total_tokens"),
            F.round(F.avg("nw"), 4).alias("avg_tokens"),
        )
    )


@query(
    "text_quality_score",
    oracle=f"""
        SELECT doc_id,
               round({STOPWORD_RATIO_SQL}, 4) AS stopword_ratio,
               CASE WHEN {WORD_COUNT_SQL} BETWEEN 20 AND 1000
                    THEN 1 ELSE 0 END AS length_ok
        FROM documents
    """,
    doc="Quality scoring: stopword-hit ratio (an n-gram language/quality "
    "heuristic) + length gate. regexp_extract_all counts non-overlapping "
    "matches identically in Java regex and RE2.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(stopword_ratio(), 4).alias("stopword_ratio"),
        F.when(word_count().between(20, 1000), 1).otherwise(0).alias("length_ok"),
    )


@query(
    "doc_repetition_stats",
    oracle="""
        WITH grams AS (
            SELECT doc_id,
                   w[i] || ' ' || w[i + 1] AS g
            FROM (
                SELECT doc_id, string_split(text, ' ') AS w,
                       unnest(generate_series(1, greatest(len(string_split(text, ' ')) - 1, 0))) AS i
                FROM documents
            )
        ),
        per_gram AS (
            SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
        ),
        per_doc AS (
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_bigrams,
                   max(c) AS top_c
            FROM per_gram GROUP BY doc_id
        ),
        words AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   len(list_distinct(string_split(text, ' '))) AS n_distinct
            FROM documents
        )
        SELECT p.doc_id,
               n_bigrams,
               round(CAST(top_c AS DOUBLE) / n_bigrams, 4) AS top_bigram_frac,
               round(1.0 - CAST(n_distinct AS DOUBLE) / n_words, 4) AS dup_word_frac
        FROM per_doc p JOIN words USING (doc_id)
    """,
    doc="Repetition filters (the Gopher-rule family): per doc, the fraction "
    "covered by the single most frequent word bigram and the duplicate-word "
    "fraction — the cheap structural signals that catch boilerplate and "
    "degenerate generations before any model-based scoring. One explode + "
    "per-doc aggregation, shuffle keyed on doc_id; at 100 TB the gram "
    "counts never leave the doc's partition group.",
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    grams = shingle_tokens(docs, k=2, distinct=False)
    per_doc = grams.groupBy("doc_id", F.col("sh").alias("g")).agg(
        F.count(F.lit(1)).alias("c")
    ).groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_c")
    )
    w = F.split(F.col("text"), " ")
    words = docs.select(
        "doc_id",
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
    )
    return per_doc.join(words, "doc_id").select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("top_c").cast("double") / F.col("n_bigrams"), 4).alias(
            "top_bigram_frac"
        ),
        F.round(
            1.0 - F.col("n_distinct").cast("double") / F.col("n_words"), 4
        ).alias("dup_word_frac"),
    )


_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-z]{2,}"
_PII_DIGITS = r"\d{6,}"
_PII_URL = r"https?://[^ ]+"


@query(
    "pii_scan_counts",
    oracle=f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{_PII_DIGITS}')) AS n_digit_runs,
               len(regexp_extract_all(text, '{_PII_URL}')) AS n_urls,
               CASE WHEN len(regexp_extract_all(text, '{_PII_EMAIL}')) = 0
                         AND len(regexp_extract_all(text, '{_PII_DIGITS}')) = 0
                    THEN 1 ELSE 0 END AS pii_clean
        FROM documents
    """,
    doc="PII pre-redaction scan: emails, long digit runs (phone/ID-shaped), "
    "and URLs counted per doc with pure JVM regex (non-overlapping match "
    "counts agree between Java regex and DuckDB's RE2 for these patterns), "
    "plus a clean flag — the gate a redaction/quarantine stage keys on. "
    "Zero shuffles; the regexes run inside whole-stage codegen next to the "
    "scan.",
)
def pii_scan_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n = lambda pat: F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0))  # noqa: E731
    return docs.select(
        "doc_id",
        n(_PII_EMAIL).alias("n_emails"),
        n(_PII_DIGITS).alias("n_digit_runs"),
        n(_PII_URL).alias("n_urls"),
        F.when((n(_PII_EMAIL) == 0) & (n(_PII_DIGITS) == 0), 1)
        .otherwise(0)
        .alias("pii_clean"),
    )


@query(
    "bpe_token_estimate",
    oracle="""
        SELECT doc_id,
               len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_regex_tokens,
               CAST(greatest(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')),
                             ceil(octet_length(encode(text)) / 4.0)) AS BIGINT)
                   AS bpe_token_estimate
        FROM documents
    """,
    doc="Token counting for budget planning: a BPE-ish regex tokenizer "
    "(word runs + single punctuation, the GPT-2 pre-tokenizer shape) plus "
    "the bytes/4 subword lower bound; the estimate is the max of the two. "
    "Pure JVM regex — no tokenizer library on the hot path.",
)
def bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), 0))
    sub = F.ceil(F.octet_length("text") / 4.0)
    return docs.select(
        "doc_id",
        toks.alias("n_regex_tokens"),
        F.greatest(toks.cast("long"), sub.cast("long")).alias("bpe_token_estimate"),
    )


@query(
    "lang_id_ngram",
    oracle=f"""
        SELECT doc_id, lang AS labeled_lang,
               {", ".join(
                   "("
                   + " + ".join(
                       f"CASE WHEN position(' {w} ' IN ' ' || text || ' ') > 0 "
                       f"THEN 1 ELSE 0 END"
                       for w in words
                   )
                   + f") AS score_{lang}"
                   for lang, words in LANG_PROFILES.items()
               )},
               CASE
                   {" ".join(
                       "WHEN "
                       + " AND ".join(
                           f"score_{lang} >= score_{other}"
                           for other in list(LANG_PROFILES)[i + 1:]
                       )
                       + f" THEN '{lang}'"
                       for i, lang in enumerate(list(LANG_PROFILES)[:-1])
                   )}
                   ELSE '{list(LANG_PROFILES)[-1]}'
               END AS predicted_lang
        FROM documents
    """,
    doc="Language-ID heuristic: per-language marker-word profile scores + "
    "deterministic first-match argmax (the n-gram/stopword LID shape; on "
    "this synthetic shared-vocabulary corpus the labels are arbitrary, so "
    "the oracle checks the operator, not LID accuracy). Narrow projection, "
    "zero shuffles.",
)
def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = lang_scores("text")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[c.alias(f"score_{lang}") for lang, c in scores.items()],
    )
    named = {lang: F.col(f"score_{lang}") for lang in scores}
    return scored.withColumn("predicted_lang", lang_argmax(named))


@query(
    "simhash_fingerprint",
    oracle=f"""
        WITH {_TOK_CTE},
        {simhash_oracle_sql("tok")}
        SELECT doc_id, simhash FROM simhashed
    """,
    doc="SimHash document fingerprinting: 16-bit sign-of-sums over token "
    "md5 bits — near-dup docs land at small Hamming distance. One explode + "
    "one groupBy(doc_id) with 16 sum aggregates, all codegen'd column math.",
    bench=True,
)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = word_tokens(spread(load_table(spark, sf_dir, "documents"))).select(
        "doc_id", "word"
    )
    return simhash_agg(tok)


@query(
    "doc_fingerprint",
    oracle="""
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               sha256(text) AS digest,
               substr(md5(text), 1, 8) AS short_fp
        FROM documents
    """,
    doc="Document fingerprinting over the binary (multimodal) representation "
    "of the payload: utf-8 byte length + sha256 content digest + md5 short "
    "fingerprint. The BinaryType + digest pattern is the multimodal-column "
    "backbone (opaque bytes, typed metadata).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    as_bytes = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length("text").alias("n_bytes"),
        F.sha2(as_bytes, 256).alias("digest"),
        F.substring(F.md5(as_bytes), 1, 8).alias("short_fp"),
    )


WINNOW_K = 8  # rolling k-gram length (chars)
WINNOW_W = 4  # winnowing window (consecutive k-gram hashes)


@query(
    "doc_winnowing_fingerprints",
    oracle=f"""
        WITH grams AS (
            SELECT doc_id, i, {_hash32_sql(f"substr(text, i, {WINNOW_K})")} AS h
            FROM documents,
                 unnest(generate_series(1, greatest(len(text) - {WINNOW_K - 1}, 0)))
                     AS t(i)
        ),
        wmins AS (
            SELECT doc_id, i,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                                         AND CURRENT ROW) AS wmin
            FROM grams
        )
        SELECT DISTINCT doc_id, wmin AS fp
        FROM wmins WHERE i >= {WINNOW_W}
    """,
    doc=f"Winnowing (rolling-hash) document fingerprints: every char "
    f"{WINNOW_K}-gram is hashed (one md5-derived 32-bit int per position) "
    f"and the minimum over each window of {WINNOW_W} consecutive positions "
    "is kept — the classic local-fingerprint scheme whose guarantee is that "
    "any shared substring of length >= k+w-1 yields a shared fingerprint, "
    "so plagiarism/overlap detection joins on fp. Per-doc window = one "
    "shuffle on doc_id (never global); fingerprints are a bounded fraction "
    "(~2/(w+1)) of positions.",
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    from pyspark.sql import Window

    k, w = WINNOW_K, WINNOW_W
    positions = F.when(
        F.length("text") >= k, F.sequence(F.lit(1), F.length("text") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "doc_id", F.explode(positions).alias("i"), F.col("text")
    ).select(
        "doc_id",
        "i",
        F.expr(
            f"cast(conv(substring(md5(cast(substring(text, i, {k}) as binary))"
            ", 1, 8), 16, 10) as bigint)"
        ).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(-(w - 1), 0)
    return (
        grams.select("doc_id", "i", F.min("h").over(win).alias("wmin"))
        .filter(F.col("i") >= w)
        .select("doc_id", F.col("wmin").alias("fp"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------
@query(
    "multimodal_payload_stats",
    oracle="""
        SELECT doc_id,
               'text' AS kind,
               octet_length(encode(text)) AS n_bytes,
               upper(substr(hex(encode(text)), 1, 16)) AS head_hex,
               ascii(substr(text, 1, 1)) AS first_byte
        FROM documents
    """,
    doc="Multimodal payload inspection via pure binary expressions: byte "
    "length, 8-byte head as hex, first byte — the metadata/validation pass "
    "that precedes a decode stage, entirely JVM-side.",
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.col("meta.kind").alias("kind"),
        F.col("meta.n_bytes").alias("n_bytes"),
        F.upper(F.substring(F.hex(F.col("payload")), 1, 16)).alias("head_hex"),
        F.ascii(F.col("payload").cast("string")).alias("first_byte"),
    )


@query(
    "multimodal_decode_features",
    oracle=None,  # mapInPandas decode — the Python boundary, rows-only check
    doc="Byte-level feature extraction over BinaryType payloads via Arrow-"
    "batched mapInPandas (numpy per batch): byte histogram stats + head "
    "bytes. The exact plumbing (schema, batch shape, partition-local "
    "execution) a real image/audio decode stage drops into; the image "
    "decode itself is stubbed behind NotImplementedError (no image libs in "
    "this container) with a deterministic fake-header path tested in "
    "tests/test_multimodal.py.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return decode_payload_features(mm)


def _le_u32_spark(payload: str, offset: int) -> F.Column:
    """Little-endian uint32 at byte ``offset`` (0-based) of a binary column,
    as pure JVM expressions: hex() the payload, slice 2-char digit pairs,
    conv(,16,10), weight by 256^i.  No Python touches the payload."""
    h = F.hex(F.col(payload))
    return sum(
        F.conv(F.substring(h, 2 * (offset + i) + 1, 2), 16, 10).cast("long")
        * (256**i)
        for i in range(4)
    ).cast("long")


def _le_u32_sql(payload: str, offset: int) -> str:
    """DuckDB twin of :func:`_le_u32_spark` (hex() is uppercase on both)."""
    byte = lambda i: (  # noqa: E731
        f"('0x' || substr(hex({payload}), {2 * (offset + i) + 1}, 2))::BIGINT"
    )
    return (
        "CAST("
        + " + ".join(f"{byte(i)} * {256 ** i}" for i in range(4))
        + " AS BIGINT)"
    )


@query(
    "multimodal_header_fields",
    oracle=f"""
        SELECT doc_id,
               {_le_u32_sql("encode(text)", 0)} AS field0,
               {_le_u32_sql("encode(text)", 4)} AS field1,
               octet_length(encode(text)) AS n_bytes
        FROM documents
        WHERE octet_length(encode(text)) >= 8
    """,
    doc="Fixed-offset binary header decode WITHOUT Python: two little-endian "
    "uint32 fields parsed from the payload's first 8 bytes via hex()+conv() "
    "expressions — whole-stage-codegen'd, pushdown-friendly, the shape of a "
    "100 TB metadata-extraction pass over image/audio blobs (magic numbers, "
    "dimensions, sample rates live at fixed offsets in every real "
    "container format). The driver corpus carries text payloads, so the "
    "parsed values are synthetic — the capability under test is the "
    "declarative byte-field extraction, hash-matched against DuckDB doing "
    "the same parse; the real fake-image header path (struct-packed "
    "width/height) exercises identical logic in tests/test_multimodal.py.",
)
def multimodal_header_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    mm = documents_as_binary(load_table(spark, sf_dir, "documents"))
    return mm.filter(F.col("meta.n_bytes") >= 8).select(
        "doc_id",
        _le_u32_spark("payload", 0).alias("field0"),
        _le_u32_spark("payload", 4).alias("field1"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )


@query(
    "quality_filter_pipeline",
    oracle=f"""
        SELECT doc_id,
               CASE
                   WHEN {WORD_COUNT_SQL} < 20 THEN 'drop:too_short'
                   WHEN {WORD_COUNT_SQL} > 1000 THEN 'drop:too_long'
                   WHEN {STOPWORD_RATIO_SQL} > 0.5 THEN 'drop:stopword_heavy'
                   ELSE 'keep'
               END AS verdict
        FROM documents
    """,
    doc="Composite quality gate (the filter stage of a curation pipeline): "
    "length window + stopword-density ceiling, emitting keep/drop with the "
    "first failing reason — a deterministic CASE cascade, fully JVM-side; "
    "downstream stages filter on verdict = 'keep' as a pushed predicate.",
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_words = word_count()
    verdict = (
        F.when(n_words < 20, "drop:too_short")
        .when(n_words > 1000, "drop:too_long")
        .when(stopword_ratio() > 0.5, "drop:stopword_heavy")
        .otherwise("keep")
    )
    return docs.select("doc_id", verdict.alias("verdict"))


# Quality-classifier weights: a deterministic hashed-feature linear model.
# w(word) = (h(word) mod QC_WEIGHT_MOD) - QC_WEIGHT_SHIFT, an INTEGER in
# [-1000, 1000] — integer weights make the per-document sum exact and
# order-independent, so both engines produce bit-identical margins from ONE
# final fp division (a float-weight SUM would accumulate in engine order).
QC_WEIGHT_MOD = 2001
QC_WEIGHT_SHIFT = 1000


@query(
    "quality_classifier_score",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        ),
        w AS (
            SELECT doc_id,
                   ({_hash32_sql("word")} % {QC_WEIGHT_MOD})
                       - {QC_WEIGHT_SHIFT} AS wt
            FROM tok
        ),
        agg AS (
            SELECT doc_id, CAST(sum(wt) AS BIGINT) AS sum_w,
                   count(*) AS n_tok
            FROM w GROUP BY doc_id
        )
        SELECT doc_id,
               round(CAST(sum_w AS DOUBLE) / ({QC_WEIGHT_SHIFT}.0 * n_tok), 6)
                   AS quality_margin,
               CASE WHEN sum_w >= 0 THEN 1 ELSE 0 END AS keep
        FROM agg
    """,
    doc="Model-based quality filtering (the fastText-classifier stage of "
    "C4/CCNet-style pipelines) as pure engine inference: a hashed bag-of-"
    "words LINEAR model whose per-token weights are a deterministic "
    "function of md5(token) — the engine-side contract is exactly a real "
    "exported linear classifier (hash token -> weight lookup -> mean "
    "margin), with the learned weight table replaced by a hash-derived "
    "stand-in since no model artifact ships in-container. BAG semantics "
    "(every token occurrence contributes, as fastText averages input "
    "vectors) — deliberately NOT a distinct word set, which would cost a "
    "second (doc_id, word) dedup shuffle. Integer weights in [-1000,1000] "
    "keep the document sum exact and order-independent (bit-identical "
    "across engines); the margin (sum / (1000 * n_tokens)) is ONE fp "
    "division, and keep = margin >= 0 is the filter verdict (sigmoid is "
    "monotone — thresholding the margin IS thresholding the probability). "
    "Scale: one projection + ONE groupBy(doc_id) shuffle with map-side "
    "partial sums, all JVM expressions (asserted at 10x/100x in the scale "
    "harness); a real weight table would broadcast-join on the token hash.",
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = with_token_hash(
        docs.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        ),
        token_col="word",
    )
    wt = (F.col("h") % QC_WEIGHT_MOD - QC_WEIGHT_SHIFT).alias("wt")
    agg = (
        tok.select("doc_id", wt)
        .groupBy("doc_id")
        .agg(F.sum("wt").alias("sum_w"), F.count(F.lit(1)).alias("n_tok"))
    )
    return agg.select(
        "doc_id",
        F.round(
            F.col("sum_w").cast("double")
            / (F.lit(float(QC_WEIGHT_SHIFT)) * F.col("n_tok")),
            6,
        ).alias("quality_margin"),
        F.when(F.col("sum_w") >= 0, 1).otherwise(0).alias("keep"),
    )


# --- BPE merge candidates (tokenizer training, first iteration) ------------
# Training a BPE tokenizer over a 100 TB corpus starts by counting adjacent
# symbol pairs over the WORD-FREQUENCY table, not the raw token stream —
# the corpus collapses to its vocabulary (Zipf: orders of magnitude
# smaller) before any pair work happens.  This query is that first merge
# iteration: word counts (one combiner-friendly vocab-key shuffle), then
# per-distinct-word adjacent char pairs weighted by the word's frequency,
# then a pair rollup (alphabet^2-bounded keys) and top-K via
# TakeOrderedAndProject.  Subsequent merge iterations re-run the same
# shape on the re-segmented vocab table; the corpus is never re-scanned.
BPE_MERGE_TOPK = 20


@query(
    "bpe_merge_candidates",
    oracle=f"""
        WITH wfreq AS (
            SELECT word, count(*) AS wn
            FROM (
                SELECT unnest(string_split(text, ' ')) AS word FROM documents
            )
            GROUP BY word
        ),
        p0 AS (
            SELECT word, wn,
                   unnest(generate_series(1, greatest(length(word) - 1, 0)))
                       AS i
            FROM wfreq
        ),
        agg AS (
            SELECT substr(word, i, 2) AS pair,
                   CAST(sum(wn) AS BIGINT) AS n
            FROM p0 GROUP BY substr(word, i, 2)
        ),
        sel AS (
            SELECT * FROM agg ORDER BY n DESC, pair LIMIT {BPE_MERGE_TOPK}
        )
        SELECT pair, n,
               CAST(row_number() OVER (ORDER BY n DESC, pair) AS INT) AS rank
        FROM sel
    """,
    doc=f"BPE MERGE CANDIDATES (tokenizer training, iteration 1): corpus "
    "-> word-frequency table (ONE vocab-key combiner shuffle — Zipf makes "
    "the vocab orders of magnitude smaller than the corpus), then "
    "adjacent char pairs of each DISTINCT word weighted by its frequency, "
    f"pair rollup over alphabet^2-bounded keys, top-{BPE_MERGE_TOPK} by "
    "count via TakeOrderedAndProject. Exact integer counts everywhere; "
    "ties broken by pair text. Later merge iterations repeat this shape "
    "on the re-segmented vocab without re-scanning the corpus.",
    bench=True,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    wfreq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
    # Spark's sequence(1, 0) yields a DESCENDING [1, 0] rather than an
    # empty list — gate single-char words explicitly (same guard the
    # shingle builder uses)
    pairs = wfreq.select(
        F.explode(
            F.expr(
                "CASE WHEN length(word) >= 2 THEN "
                "transform(sequence(1, length(word) - 1), "
                "          i -> substring(word, i, 2)) "
                "ELSE array() END"
            )
        ).alias("pair"),
        "wn",
    )
    agg = pairs.groupBy("pair").agg(F.sum("wn").cast("long").alias("n"))
    sel = agg.orderBy(F.col("n").desc(), "pair").limit(BPE_MERGE_TOPK)
    w = Window.orderBy(F.col("n").desc(), "pair")
    return sel.select(
        "pair", "n", F.row_number().over(w).cast("int").alias("rank")
    )


# --- BPE training loop (iterations 1..K) -----------------------------------
# The full bounded-iteration training loop bpe_merge_candidates is
# iteration 1 of: apply the top merge, re-segment the vocab, re-count,
# repeat (functions/bpe.py — the cluster.py Lloyd-loop shape: one
# pair-key shuffle + a LIMIT-1 argmax collect + a map-only fold rewrite
# per iteration, 1-row driver state, vocab persisted across iterations,
# corpus never re-scanned).  Rows-only: the merge sequence is a
# data-dependent iterative fixpoint (each iteration's argmax becomes the
# next iteration's plan literals), not expressible as one static SQL
# text; determinism is exact-integer counts + a total argmax order, and
# the pure-Python golden in tests/test_extensions.py pins the entire
# sequence, with planted-merge tests pinning hand-computed cases.
BPE_TRAIN_ITERS = 8


@query(
    "bpe_train_merges",
    oracle=None,  # iterative data-dependent fixpoint — rows-only by design
    doc=f"BPE TRAINING LOOP (iterations 1..{BPE_TRAIN_ITERS}): the full "
    "merge-train recurrence over the word-frequency table — count "
    "adjacent symbol pairs (one combiner-friendly shuffle bounded by the "
    "pair vocabulary), pick the argmax (LIMIT 1, 1-row driver state), "
    "rewrite every segmentation with a map-only higher-order fold "
    "(greedy left-to-right non-overlapping, the standard BPE semantics), "
    "repeat; stops early when no pair remains. One row per executed "
    "merge: (iter, left_sym, right_sym, merged, n, total_syms); "
    "total_syms falls by exactly n per merge. Exact integer counts and "
    "a total argmax order make the sequence partitioning-independent; "
    "pytest pins it against a pure-Python golden and planted vocabs. "
    "At 100 TB the corpus is scanned ONCE into the Zipf-small vocab; "
    "every iteration is vocab-sized.",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.functions import bpe as bpe_lib

    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(F.explode(F.split("text", " ")).alias("word"))
    wfreq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
    merges = bpe_lib.train_merges(wfreq, iters=BPE_TRAIN_ITERS)
    schema = (
        "iter int, left_sym string, right_sym string, merged string, "
        "n long, total_syms long"
    )
    return spark.createDataFrame(
        [
            (
                m["iter"],
                m["left_sym"],
                m["right_sym"],
                m["merged"],
                m["n"],
                m["total_syms"],
            )
            for m in merges
        ],
        schema,
    )


@query(
    "bpe_apply_tokenize",
    oracle=None,  # merges are a data-dependent fixpoint — rows-only
    doc=f"BPE TOKENIZE (train -> APPLY): the trained {BPE_TRAIN_ITERS}-"
    "merge sequence (functions/bpe.py::train_merges, collected at plan "
    "time — k-bounded driver state, the codebook pattern) applied to the "
    "DISTINCT word table as chained map-only folds — Zipf means the "
    "vocab is segmented ONCE, then per-word token counts join back to "
    "the corpus word stream (AQE picks broadcast when the vocab is "
    "small) and roll up per document. One row per doc: (doc_id, "
    "n_words, n_bpe_tokens, tokens_per_word). This replaces the "
    "regex ESTIMATE (bpe_token_estimate) with counts from an actual "
    "learned tokenizer — the number a sequence-packing or budget stage "
    "actually needs. Rows-only: the merge sequence is data-dependent; "
    "pytest pins the segmentation against a pure-Python golden and "
    "planted merges.",
)
def bpe_apply_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from seisdb_spark.functions import bpe as bpe_lib

    docs = spread(load_table(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") >= 1)
    wfreq = tok.groupBy("word").agg(F.count(F.lit(1)).alias("wn"))
    merges = bpe_lib.train_merges(wfreq, iters=BPE_TRAIN_ITERS)
    # auto-dispatch: chained-fold expression form at this demo merge
    # count (zero Python); the Arrow mapInPandas kernel past the
    # expression form's documented bound (functions/bpe.py)
    vocab_tok = bpe_lib.segment_words_auto(
        wfreq.select("word"), merges
    ).select("word", "n_tokens")
    return (
        tok.join(vocab_tok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_bpe_tokens",
            F.round(
                F.col("n_bpe_tokens").cast("double") / F.col("n_words"), 4
            ).alias("tokens_per_word"),
        )
    )


# --- PII redaction transform ------------------------------------------------
# The transform stage pii_scan_counts gates: rewrite every email and long
# digit run to a typed placeholder, emit the redacted text's digest +
# length plus the redaction count.  Emails redact FIRST (they contain
# digit runs; the sequential order is part of the spec and identical in
# both engines).  Returning the md5 of the redacted text rather than the
# text keeps the driver row compact while still pinning every redacted
# byte; the real pipeline writes the redacted column to the shard sink.
# Zero shuffles — both regexp_replace calls run inside whole-stage codegen
# next to the scan (DuckDB needs the 'g' flag for replace-all; Spark's
# regexp_replace is replace-all by default).
@query(
    "pii_redaction",
    oracle=f"""
        WITH r1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_em,
                   regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g')
                       AS no_email
            FROM documents
        ),
        red AS (
            SELECT doc_id,
                   n_em + len(regexp_extract_all(no_email, '{_PII_DIGITS}'))
                       AS n_redactions,
                   regexp_replace(no_email, '{_PII_DIGITS}', '<DIGITS>', 'g')
                       AS redacted
            FROM r1
        )
        SELECT doc_id, n_redactions,
               length(redacted) AS redacted_len,
               md5(redacted) AS redacted_md5
        FROM red
    """,
    doc="PII REDACTION: emails then long digit runs rewritten to typed "
    "placeholders via sequential replace-all regex (order is part of the "
    "spec — emails contain digit runs), with the redaction count and the "
    "redacted text's length + md5 as the verifiable output. Pure map-side "
    "JVM regex, no shuffle; at 100 TB this is a projection the shard "
    "writer streams through.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    no_email = F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>")
    redacted = F.regexp_replace(no_email, _PII_DIGITS, "<DIGITS>")
    n_em = F.size(F.regexp_extract_all(F.col("text"), F.lit(_PII_EMAIL), 0))
    # digit runs counted on the email-redacted text: a run INSIDE an email
    # was already removed by the first pass and must not count twice
    n_dg = F.size(F.regexp_extract_all(no_email, F.lit(_PII_DIGITS), 0))
    return docs.select(
        "doc_id",
        (n_em + n_dg).alias("n_redactions"),
        F.length(redacted).alias("redacted_len"),
        F.md5(redacted.cast("binary")).alias("redacted_md5"),
    )


# --- Trained bigram-LM perplexity gate --------------------------------------
# CCNet-style model-based quality filtering (Wenzek et al. 2020, public):
# train a small LM on a trusted reference slice, score every candidate
# document by perplexity, keep the low-perplexity (in-domain-like) ones.
# The model here is an add-1-smoothed BIGRAM LM learned IN-ENGINE from
# the reference sources (unlike quality_classifier_score, whose weights
# are a hash-derived stand-in, this model is genuinely TRAINED from
# data): P(w2|w1) = (c12 + 1) / (c1 + V).  Per-bigram NLL is computed
# with NO libm call — octave-reduced integer log2 plus the [1/1] Pade
# fractional part, quantized to BIGINT nanonats (functions/ngram_lm.py
# docstring has the proof and the <= 1.2 % error measurement) — so every
# per-doc sum is exact integer arithmetic, order-free, engine-identical.
#
# Scale shape: training = ONE scan of the reference slice into the
# bigram count table; context counts (c1 = sum_w2 c12) and the vocab
# size are aggregations over that already-vocab-bounded table (the
# persisted LM is these tables, the sketch-table pattern); scoring =
# one corpus scan
# with two joins against the count tables (AQE decides broadcast — no
# hints) and ONE groupBy(doc_id) with map-side partial sums.  At sf0.01
# the reference slice (src0-src3) averages mean-NLL ~3.32e9 nanonats vs
# ~3.47e9 for out-of-domain sources — the LM discriminates, and the
# keep threshold sits between the two modes.
LM_REF_SOURCES = ("src0", "src1", "src2", "src3")
LM_KEEP_NLL_NANO = 3_400_000_000

_LM_REF_LIST = ", ".join(f"'{s}'" for s in LM_REF_SOURCES)


def lm_score_df(
    docs: DataFrame, bc: DataFrame, cc: DataFrame, vocab: DataFrame
) -> DataFrame:
    """Score a documents frame against a trained bigram LM — the
    transform SHARED by the batch gate and the streaming score-on-ingest
    twin (the int4_block_quantize_df precedent: one extracted function,
    so stream==batch is equality of code, not of intent).  Per-document
    scores depend only on that document's own text plus the static LM
    tables, so microbatch boundaries cannot change a single value."""
    from seisdb_spark.functions import ngram_lm as lm

    big = lm.bigram_pairs(docs, "doc_id")
    scored = (
        big.join(bc, ["w1", "w2"], "left")
        .join(cc, ["w1"], "left")
        .crossJoin(vocab)
        .select(
            "doc_id",
            (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1))
            .cast("long")
            .alias("bb"),
            (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
            .cast("long")
            .alias("a"),
        )
    )
    terms = scored.select(
        "doc_id", lm.nll_nano_expr("a", "bb").alias("nll")
    )
    agg = terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("nll").cast("long").alias("sum_nll"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.expr("sum_nll div n_bigrams").alias("mean_nll_nano"),
        F.when(
            F.expr("sum_nll div n_bigrams") < F.lit(LM_KEEP_NLL_NANO), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("ppl_keep"),
    )


def train_lm_from_corpus(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the reference bigram LM from the corpus's trusted slice —
    the shared train step (one reference scan; the count tables come
    back localCheckpointed, i.e. materialized: the persisted model)."""
    from seisdb_spark.functions import ngram_lm as lm

    docs = spread(load_table(spark, sf_dir, "documents"))
    ref = lm.bigram_pairs(docs.filter(F.col("source").isin(*LM_REF_SOURCES)))
    return lm.train_bigram_lm(ref)


@query(
    "ngram_lm_perplexity",
    oracle=f"""
        WITH arrs AS (
            SELECT doc_id, source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS l
            FROM documents
        ),
        big AS (
            SELECT doc_id, source, l[i] AS w1, l[i + 1] AS w2
            FROM arrs, unnest(generate_series(1, len(l) - 1)) AS u(i)
        ),
        refb AS (
            SELECT w1, w2 FROM big WHERE source IN ({_LM_REF_LIST})
        ),
        bc AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM refb GROUP BY w1, w2
        ),
        cc AS (
            SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
            FROM bc GROUP BY w1
        ),
        vocab AS (
            SELECT CAST(count(DISTINCT w) AS BIGINT) + 1 AS v
            FROM (SELECT w1 AS w FROM bc
                  UNION ALL SELECT w2 FROM bc)
        ),
        scored AS (
            SELECT b.doc_id,
                   COALESCE(cc.c1, 0) + v.v AS a,
                   COALESCE(bc.c12, 0) + 1 AS bb
            FROM big b
            LEFT JOIN bc ON bc.w1 = b.w1 AND bc.w2 = b.w2
            LEFT JOIN cc ON cc.w1 = b.w1
            CROSS JOIN vocab v
        ),
        terms AS (
            SELECT doc_id, {{NLL}} AS nll FROM scored
        ),
        agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                   CAST(sum(nll) AS BIGINT) AS sum_nll
            FROM terms GROUP BY doc_id
        )
        SELECT doc_id, n_bigrams,
               sum_nll // n_bigrams AS mean_nll_nano,
               CAST(CASE WHEN sum_nll // n_bigrams < {LM_KEEP_NLL_NANO}
                    THEN 1 ELSE 0 END AS INT) AS ppl_keep
        FROM agg
    """,
    doc=f"TRAINED bigram-LM perplexity gate (CCNet-style model-based "
    f"quality filtering): an add-1-smoothed bigram LM learned from the "
    f"reference sources {LM_REF_SOURCES} scores every document's mean "
    "bigram NLL in exact BIGINT nanonats (octave-reduced integer log2 "
    "+ IEEE-deterministic Pade fraction — no libm anywhere, so the "
    "values are bit-identical across engines); keep = mean NLL below "
    f"{LM_KEEP_NLL_NANO} nanonats (between the in-domain and out-of-"
    "domain modes at sf0.01).  Training is ONE reference scan into the "
    "bigram count table (context counts and vocab size derive from it, "
    "never a second corpus pass); scoring is one "
    "corpus scan, two AQE-decided joins against the LM tables, one "
    "partial-agged groupBy(doc_id).  At 100 TB the LM tables are the "
    "persisted KB-MB stat — train once, score every shard forever.",
    bench=True,
)
def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    bc, cc, vocab = train_lm_from_corpus(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents"))
    return lm_score_df(docs, bc, cc, vocab)


def _set_lm_oracle() -> None:
    from dataclasses import replace

    from seisdb_spark.functions.ngram_lm import nll_nano_sql

    spec = REGISTRY["ngram_lm_perplexity"]
    sql = spec.oracle.replace(
        "{NLL}", nll_nano_sql("a", "bb", dialect="duck")
    )
    REGISTRY["ngram_lm_perplexity"] = replace(spec, oracle=sql)


_set_lm_oracle()

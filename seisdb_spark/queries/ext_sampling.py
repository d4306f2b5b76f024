"""Extension surface — sampling & skew family: stratified hash sampling,
salted skew aggregation, and deterministic Efraimidis-Spirakis weighted
sampling without replacement.  Split out of extensions.py (round 12)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from seisdb_spark.queries.registry import REGISTRY, query
from seisdb_spark.sources.tables import load_table, spread
from seisdb_spark.queries.ext_common import _hash_bucket_sql, _md5_hex_sql


SAMPLE_RATES = {"en": 0.2, "de": 0.5, "es": 0.5, "fr": 0.5, "zh": 0.5}


def stratified_keep() -> Column:
    """The stratified-sample predicate: md5(doc_id)'s first 4 hex digits,
    a content-stable bucket in [0, 65536), below 65536 x the doc's
    ``SAMPLE_RATES`` rate (0.5 for other languages).  The one Spark
    definition every sampling stage calls; ``STRATIFIED_KEEP_SQL`` is its
    DuckDB twin."""
    h = F.md5(F.col("doc_id").cast("string").cast("binary"))
    rate = F.lit(0.5)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int") < 65536 * rate


STRATIFIED_KEEP_SQL = (
    f"{_hash_bucket_sql('CAST(doc_id AS VARCHAR)')} < 65536 * (CASE lang "
    + " ".join(f"WHEN '{lang}' THEN {rate}" for lang, rate in SAMPLE_RATES.items())
    + " ELSE 0.5 END)"
)


@query(
    "stratified_sample",
    oracle=f"""
        SELECT doc_id, lang
        FROM documents
        WHERE {STRATIFIED_KEEP_SQL}
    """,
    doc="Deterministic stratified sampling: per-language keep rates applied "
    "via a content-stable hash bucket (md5(doc_id) -> [0, 65536)), so the "
    "sample is reproducible across runs and engines — the rebalancing "
    "primitive of corpus curation. Pure pushed-down predicate, no shuffle, "
    "and at 100 TB the sample never materializes the rejected rows.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(stratified_keep()).select("doc_id", "lang")


N_SALT = 8


@query(
    "salted_skew_agg",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events
        GROUP BY event_type
    """,
    doc=f"Skew-safe two-phase aggregation: phase 1 groups by (key, salt) "
    f"with salt = event_id % {N_SALT} so one hot key spreads over "
    f"{N_SALT} reducers; phase 2 merges the partials per key. The oracle is "
    "the plain GROUP BY (identical result) — the salting only changes the "
    "shuffle layout. events has ~5 heavy keys over millions of rows: the "
    "exact shape where an unsalted agg at 100 TB sends each key's entire "
    "volume through one reducer. (Spark's partial aggregation already "
    "map-side combines; explicit salting is for when combiners can't keep "
    "up or the agg state is large.)",
)
def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    phase1 = (
        events.withColumn("salt", F.pmod(F.col("event_id"), F.lit(N_SALT)))
        .groupBy("event_type", "salt")
        .agg(F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv"))
    )
    return phase1.groupBy("event_type").agg(
        F.sum("pn").alias("n"),
        F.round(F.sum("pv"), 2).alias("sum_value"),
    )


# --- Deterministic weighted sampling without replacement --------------------
# Efraimidis-Spirakis (2006, public): a weighted-WOR sample of size K is
# the K items with the largest u_i^(1/w_i), u_i uniform — equivalently
# the K SMALLEST -ln(u_i)/w_i.  Curation pipelines need exactly this
# primitive (keep a fixed per-language budget, weight-proportional, so
# longer/higher-quality documents are kept preferentially but cheap docs
# still get mass), and the classic blocker for an engine version is that
# both the randomness and the log must be reproducible across engines.
# Both are solved with existing repo machinery: u derives from md5 (the
# oracle-portable hash discipline) as a 60-bit integer, and -ln(u) =
# ln(2^60 / (h + 1)) is the octave-Pade nanonat NLL from
# functions/ngram_lm.py — EXACT BIGINT arithmetic, so every priority
# key, and therefore the sampled set itself, is bit-identical in Spark
# and DuckDB.  One hash-partitioned window per language (partition-
# local sort; no global ordering), rejected rows never leave their
# partition.
ES_SAMPLE_K = 20
ES_HASH_HEX = 15  # 15 hex digits = 60 bits
ES_U_DENOM = 1 << 60


def _es_oracle_sql() -> str:
    from seisdb_spark.functions.ngram_lm import nll_nano_sql

    nll = nll_nano_sql("a", "bb", dialect="duck")
    return f"""
        WITH h AS (
            SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS weight,
                   {_md5_hex_sql("CAST(doc_id AS VARCHAR)", ES_HASH_HEX)} + 1
                       AS bb,
                   CAST({ES_U_DENOM} AS BIGINT) AS a
            FROM documents
            WHERE n_chars > 0
        ),
        pri AS (
            SELECT lang, doc_id, weight,
                   (({nll}) * 1000000) // weight AS es_key
            FROM h
        ),
        rk AS (
            SELECT lang, doc_id, weight, es_key,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY es_key, doc_id
                   ) AS rank
            FROM pri
        )
        SELECT lang, doc_id, weight, es_key, CAST(rank AS INT) AS rank
        FROM rk WHERE rank <= {ES_SAMPLE_K}
    """


def es_priorities(docs: DataFrame) -> DataFrame:
    """Row-local E-S priority keys ``(lang, doc_id, weight, es_key)`` —
    the transform SHARED by the batch sampler and its streaming twin
    (each key depends only on the row itself, so it is computable
    inside any microbatch).  Map-side only: no shuffle."""
    from seisdb_spark.functions.ngram_lm import nll_nano_sql

    h60 = F.conv(
        F.substring(
            F.md5(F.col("doc_id").cast("string").cast("binary")),
            1,
            ES_HASH_HEX,
        ),
        16,
        10,
    ).cast("long")
    base = docs.filter(F.col("n_chars") > 0).select(
        "lang",
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        (h60 + F.lit(1)).cast("long").alias("bb"),
        F.lit(ES_U_DENOM).cast("long").alias("a"),
    )
    nll = nll_nano_sql("a", "bb", dialect="spark")
    return base.select(
        "lang",
        "doc_id",
        "weight",
        F.expr(f"(({nll}) * 1000000) div weight").alias("es_key"),
    )


def es_take_topk(pri: DataFrame) -> DataFrame:
    """Per-lang bottom-K by (es_key, doc_id) with dense ranks — the
    selection step shared by batch and the streaming merge (bottom-K of
    a union of per-batch bottom-Ks IS the global bottom-K)."""
    w = Window.partitionBy("lang").orderBy("es_key", "doc_id")
    return (
        pri.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= ES_SAMPLE_K)
        .select(
            "lang",
            "doc_id",
            "weight",
            "es_key",
            F.col("rank").cast("int").alias("rank"),
        )
    )


@query(
    "weighted_sample_wor",
    oracle=None,  # set below (needs the ngram_lm import at def time)
    doc=f"DETERMINISTIC WEIGHTED SAMPLING WITHOUT REPLACEMENT "
    f"(Efraimidis-Spirakis): per-language top-{ES_SAMPLE_K} by the "
    "smallest -ln(u)/w, with u a 60-bit md5-derived uniform and the "
    "log the octave-Pade nanonat NLL (functions/ngram_lm.py) — no rand "
    "seed, no libm, every priority key exact BIGINT arithmetic, so the "
    "SAMPLED SET ITSELF is bit-identical across engines and runs (the "
    "reproducibility a training-data pipeline needs to re-derive any "
    "shipped corpus). Weight = n_chars: inclusion probability is "
    "weight-proportional (the E-S guarantee), pinned by a 200-strata "
    "distributional test. One hash-partitioned per-lang window "
    "(partition-local sort, never a global ordering); at 100 TB the "
    "per-partition top-K could further drop to a bounded heap via "
    "groupBy-collect, but the window form already moves no rejected "
    "row off its partition.",
    bench=True,
)
def weighted_sample_wor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return es_take_topk(es_priorities(docs))


def _set_es_oracle() -> None:
    from dataclasses import replace

    REGISTRY["weighted_sample_wor"] = replace(
        REGISTRY["weighted_sample_wor"], oracle=_es_oracle_sql()
    )


_set_es_oracle()

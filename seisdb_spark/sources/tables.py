"""Loaders for the driver-generated parquet tables (TESTDATA.md).

Plain ``spark.read.parquet`` — Parquet scans give predicate pushdown,
column pruning and min/max row-group pruning for free; nothing custom here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


# Logical type CLASS every query assumes per driver-table column — the
# schema-drift tripwire.  The driver's testdata has changed physical types
# across rounds once already (events.ts: timestamp[ns] -> timestamp[us]),
# and at 100 TB a production table WILL be rewritten by newer producers
# with widened ints, float32 embeddings, or re-annotated timestamps.
# Within-class drift is tolerated untouched (it hits the DuckDB oracle and
# Spark identically, and casting would only block scan pushdown); a
# cross-class change fails at load with ONE clear sentence instead of a
# wall of opaque downstream analysis errors (round 4: 29 test failures for
# want of this line).  Extra columns pass through untouched.
_INT = "integer"
_FLT = "floating"
_STR = "string"
_TSL = "timestamp-like"
# events.ts only: also accepts LongType, the resolution of legacy
# timestamp[ns] under nanosAsLong — events has a dedicated nanos decode
# path (_load_events).  Other _TSL columns stay strict: if nanosAsLong is
# set session-wide and e.g. o_orderdate drifts to timestamp[ns], a
# LongType there has NO decode path and must trip the wire at load, not
# surface as opaque date-function failures downstream.
_TSN = "timestamp-or-nanos"
_AFL = "numeric-array"
EXPECTED_COLUMNS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": _INT, "r_name": _STR},
    "nation": {"n_nationkey": _INT, "n_name": _STR, "n_regionkey": _INT},
    "customer": {
        "c_custkey": _INT, "c_name": _STR, "c_nationkey": _INT,
        "c_acctbal": _FLT, "c_mktsegment": _STR,
    },
    "supplier": {
        "s_suppkey": _INT, "s_name": _STR, "s_nationkey": _INT, "s_acctbal": _FLT,
    },
    "part": {
        "p_partkey": _INT, "p_name": _STR, "p_brand": _STR, "p_type": _STR,
        "p_size": _INT, "p_retailprice": _FLT,
    },
    "orders": {
        "o_orderkey": _INT, "o_custkey": _INT, "o_orderstatus": _STR,
        "o_totalprice": _FLT, "o_orderdate": _TSL, "o_orderpriority": _STR,
    },
    "lineitem": {
        "l_orderkey": _INT, "l_partkey": _INT, "l_suppkey": _INT,
        "l_linenumber": _INT, "l_quantity": _FLT, "l_extendedprice": _FLT,
        "l_discount": _FLT, "l_tax": _FLT, "l_returnflag": _STR,
        "l_linestatus": _STR, "l_shipdate": _TSL,
    },
    "events": {
        "event_id": _INT, "ts": _TSN, "user_id": _INT, "event_type": _STR,
        "value": _FLT, "props": _STR,
    },
    "documents": {
        "doc_id": _INT, "text": _STR, "lang": _STR, "source": _STR,
        "n_chars": _INT,
    },
    "embeddings": {"vec_id": _INT, "embedding": _AFL, "label": _INT},
}


def _type_class_ok(dt, cls: str) -> bool:
    from pyspark.sql import types as T

    if cls == _INT:
        return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    if cls == _FLT:
        return isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType))
    if cls == _STR:
        return isinstance(dt, (T.StringType, T.VarcharType, T.CharType))
    if cls == _TSL:
        return isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType))
    if cls == _TSN:
        # LongType = the legacy nanosAsLong resolution of timestamp[ns]
        return isinstance(
            dt, (T.TimestampType, T.TimestampNTZType, T.DateType, T.LongType)
        )
    if cls == _AFL:
        return isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.FloatType, T.DoubleType)
        )
    raise AssertionError(f"unknown type class {cls}")


def check_table_schema(name: str, schema, path: str) -> None:
    """Raise a one-line ``testdata schema changed`` error if any expected
    column is missing or drifted outside its logical type class."""
    expected = EXPECTED_COLUMNS.get(name)
    if expected is None:
        return
    fields = {f.name: f.dataType for f in schema.fields}
    for col, cls in expected.items():
        if col not in fields:
            raise TypeError(
                f"testdata schema changed: {name}.{col} is missing "
                f"(have {sorted(fields)}) in {path}"
            )
        if not _type_class_ok(fields[col], cls):
            raise TypeError(
                f"testdata schema changed: {name}.{col} is now "
                f"{fields[col].simpleString()} (expected {cls}) in {path}"
            )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        path = os.path.join(sf_dir, "events.parquet")
        df = _load_events(spark, path)
    else:
        path = os.path.join(sf_dir, f"{name}.parquet")
        df = spark.read.parquet(path)
    check_table_schema(name, df.schema, path)
    return df


def _events_layout_and_df(
    spark: SparkSession, path: str
) -> tuple[str, DataFrame | None]:
    """Probe the RESOLVED ``ts`` type of an events parquet and classify the
    physical layout, returning the probe's DataFrame so callers reuse it
    (the probe IS a file listing + footer read — not free at 100 TB, so it
    happens once per load, not twice).  Upstream testdata has already
    changed layout once (timestamp[ns] in rounds 1-4, timestamp[us] since)
    — at 100 TB a table's physical types WILL drift across producer
    versions, so the loader branches on what the footer actually says
    instead of hard-coding one layout.  Layouts: ``"native"`` (TIMESTAMP,
    use as-is), ``"ntz"`` (TIMESTAMP_NTZ, cast to the session timestamp
    type so DuckDB's naive-timestamp oracle semantics hold), ``"nanos"``
    (legacy timestamp[ns]: unreadable without
    ``spark.sql.legacy.parquet.nanosAsLong``, or already resolved LongType
    because that conf is set — df is None in the unreadable case).  Any
    other type fails loudly — a one-line testdata-drift tripwire instead
    of 29 opaque downstream failures.
    """
    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    try:
        df = spark.read.parquet(path)
        schema = df.schema
    except AnalysisException as e:
        if "nanosAsLong" in str(e) or "NANOS" in str(e):
            return "nanos", None
        raise
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return "nanos", df  # nanosAsLong already set session-wide
    if isinstance(ts_type, T.TimestampNTZType):
        return "ntz", df
    if isinstance(ts_type, T.TimestampType):
        return "native", df
    raise TypeError(
        f"testdata schema changed: events.ts is now {ts_type} "
        f"(expected timestamp, timestamp_ntz, or legacy timestamp[ns]) in {path}"
    )


def events_ts_layout(spark: SparkSession, path: str) -> tuple[str, "object"]:
    """Layout classification only (see :func:`_events_layout_and_df`)."""
    layout, df = _events_layout_and_df(spark, path)
    return layout, None if df is None else df.schema


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    layout, df = _events_layout_and_df(spark, path)
    if layout == "native":
        return df
    if layout == "ntz":
        # session tz is UTC (session.py); NTZ -> TIMESTAMP is wall-clock
        # identity, and keeps every downstream consumer (windows, as-of,
        # sessionize, streaming twins) on one timestamp type.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if df is not None:  # LongType resolution: nanosAsLong already active
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # legacy timestamp[ns]: read raw int64 nanos, truncate to micros — the
    # oracle casts TIMESTAMP_NS to TIMESTAMP, which truncates identically.
    # The conf is scoped: saved and restored so other parquet reads in the
    # same session are unaffected.
    prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        df = spark.read.parquet(path)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # force schema resolution while the conf is active; the scan itself
        # re-reads the footer lazily, so pin the conf per-read via the
        # DataFrame's analyzed schema (reader resolves eagerly here).
        df.schema  # noqa: B018
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view so the whole operator
    surface is also reachable through ``spark.sql(...)`` (SURVEY §7: the SQL
    string path is free once plans are declarative — same Catalyst plans,
    same pushdowns, as the DataFrame API)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the scan would yield
    fewer splits (a small single-file table serializes every downstream
    narrow stage — explode, hash chains, pandas UDFs — onto one core).

    For multi-file 100 TB inputs the scan already produces >=
    defaultParallelism splits and this is a no-op — never an unconditional
    full-corpus shuffle. The repartition Exchange doubles as the reuse
    point: every downstream consumer of the table shares it
    (ReusedExchange), so self-joins don't recompute the scan lineage and no
    .persist() is needed."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # inputFiles() is a cached-listing metadata call; df.rdd.getNumPartitions()
    # would trigger full physical planning (~1s per query build) just to ask
    # the same question. Non-file-backed DataFrames (createDataFrame in
    # tests) report zero files and get spread too — harmless and correct.
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


def write_bucketed(
    df: DataFrame, name: str, key: str, n_buckets: int = 8
) -> None:
    """Persist a table hash-bucketed (and bucket-sorted) on ``key``.

    Bucketing pre-shuffles the data ONCE at write time: every future
    equi-join or aggregation on ``key`` between tables with matching bucket
    counts reads co-located buckets and skips its Exchange entirely — the
    amortization that pays for itself after one reuse at 100 TB (the
    reference's per-processor file layout is the same idea, frozen at
    NPROC buckets; DDBbase.py:33-53).
    """
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(name)
    )


def read_bucketed(spark: SparkSession, name: str) -> DataFrame:
    """Read a bucketed table back with its bucket metadata intact (must go
    through the catalog — a plain path read loses bucketing)."""
    return spark.table(name)


def parquet_row_count(spark: SparkSession, path: str) -> int:
    """Exact row count from parquet FOOTERS only — no executor job.

    Every parquet footer records its file's num_rows; summing them
    driver-side answers ``count(*)`` without scanning a byte of data.  Used
    where a query needs the input cardinality BEFORE its main job (adaptive
    LSH key widths): an ``agg(count)`` subquery forces an extra scan+shuffle
    job ahead of the real one — the whole cold-start cost the round-5 bench
    flagged on ann_signbucket_topk (7.6 s cold vs 0.67 s warm).

    At 100 TB the first choice is catalog statistics (ANALYZE TABLE ...
    COMPUTE STATISTICS keeps rowCount in the metastore and this loop never
    runs); the footer sum is the no-catalog fallback, costing one metadata
    read per file, driver-side.  Non-local or unreadable files fall back to
    an empty-projection Spark count (footer-only reads executor-side)."""
    import pyarrow.parquet as pq

    df = spark.read.parquet(path)
    try:
        return sum(
            pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
            for f in df.inputFiles()
        )
    except OSError:
        return df.select().count()


def content_hash32(key: str, salt: str = "") -> F.Column:
    """First 8 hex digits of md5(salt || key) as a BIGINT in [0, 2^32) —
    THE content hash every sharding artifact derives from.  One definition
    so the shard assignment, the within-shard sort order, and the manifest
    checksum can never drift apart (extensions._hash32_sql is the DuckDB
    twin, kept digit-for-digit in lockstep)."""
    h = F.md5(F.concat(F.lit(salt), F.col(key).cast("string")).cast("binary"))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def shard_assignment(key: str, n_shards: int, salt: str = "") -> F.Column:
    """Content-stable shard id in [0, n_shards): :func:`content_hash32` mod
    n_shards.  A pure function of row content — reproducible across runs,
    cluster sizes, and input partitionings (the property ``repartition``
    alone cannot give: its assignment depends on the input split layout)."""
    return (content_hash32(key, salt) % n_shards).cast("int")


def write_training_shards(
    df: DataFrame,
    path: str,
    key: str,
    n_shards: int = 16,
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle -> fixed-shard training-set writer: the
    final stage of a curation pipeline.

    Rows land in ``shard=K/`` partition directories by a content-stable
    hash of ``key`` and are sorted by (hash, key) WITHIN each shard, so the
    byte-level output is a pure function of the data — rerunning on a
    different cluster or input layout reproduces it (training-data lineage
    audits depend on this).  One shuffle (repartition on the shard column),
    one sorted write; no Python, no driver collect.

    Returns the LAZY manifest plan (shard, n_rows, key_checksum) built over
    the WRITTEN shards — not over the input lineage — so consuming it never
    re-executes the upstream pipeline, and the audit reflects the bytes
    actually on disk."""
    out = df.withColumn("shard", shard_assignment(key, n_shards, salt))
    order = content_hash32(key, salt)
    (
        # the sort LEADS with the partition column: the partitioned writer
        # requires its input clustered by partition columns and would insert
        # its own (order-destroying) sort otherwise; with shard first, the
        # required ordering is already satisfied and the (hash, key) order
        # reaches the files intact.
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", order, F.col(key))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    # read back with the schema written: inferring it would run a footer
    # job, and the partition column reads back as the int it was written
    written = df.sparkSession.read.schema(out.schema).parquet(path)
    return shard_manifest(written, key, salt)


def shard_manifest(sharded: DataFrame, key: str, salt: str = "") -> DataFrame:
    """Per-shard audit row: (shard, n_rows, key_checksum).  The checksum is
    the sum of :func:`content_hash32` values — order-insensitive,
    integer-exact, and engine-portable (the DuckDB oracle mirrors it digit
    for digit)."""
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(content_hash32(key, salt)).alias("key_checksum"),
    )

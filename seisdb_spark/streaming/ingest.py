"""Structured Streaming ingest: watermarked event-time windows over the
events stream, the microbatch-log primitive every foreachBatch path runs
on, and a SPECFEM snapshot file stream feeding the batch encode tail.

Design notes (100 TB posture):
  * Event aggregations keep state keyed by (window, event_type) /
    (user_id, session) — the same shuffle keys as the batch twins, so state
    distributes across executors; the watermark bounds state size.
  * Microbatch logs: :func:`start_logs` is the one foreachBatch sink.  Each
    microbatch writes one directory per log,
    ``<root>/<log>/batch-<batch_id>``, in overwrite mode, so a batch that
    Spark replays after a crash (foreachBatch is at-least-once per
    batch_id) rewrites its own directory instead of adding its rows twice.
    :func:`read_log` reads a log back; :func:`run_logs` runs a stream to
    completion with its checkpoint at ``<root>/ckpt`` and returns its logs.
  * Snapshot ingest is decode-only per microbatch (narrow, no shuffle):
    files land, go through the batch scan's own frames and decode
    (``specfem.snapshot_frames`` with a streaming binaryFile reader, then
    ``specfem.read_snapshots``: the same file filter, force tagging,
    filename rule and one mapInPandas decode), and are
    staged in the log ``<staging_dir>/snapshots/batch-<batch_id>``. The
    wide assembly/encode runs once at finalize over the staged log, through
    the batch build's own tail (``pipeline.build.build_records``) — the
    correct split because SGT encoding needs each point's FULL time series
    (a per-key sort over all steps), which a running stream cannot emit
    incrementally without holding every sample in state anyway.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from seisdb_spark.schemas import ENCODING_LEVEL_DEFAULT
from seisdb_spark.sources.specfem import KINDS, read_snapshots, snapshot_frames

# A streaming file source needs its schema up front; the events table's
# physical ts layout has drifted upstream once already (timestamp[ns] in
# rounds 1-4, timestamp[us] since), so read_events_stream probes the
# batch-resolved schema per layout (tables.events_ts_layout) and picks the
# matching stream schema: TIMESTAMP_NTZ / TIMESTAMP for modern layouts, or
# the legacy raw-int64-nanos schema below — in which case the nanosAsLong
# conf must stay set for the stream's lifetime (each microbatch re-reads
# footers) and is restored via a StreamingQueryListener once the session's
# last active stream terminates. Batch loaders scope the conf per-read.
_EVENTS_FIELDS_AROUND_TS = (
    [T.StructField("event_id", T.LongType())],
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ],
)


def _events_schema(ts_type: T.DataType) -> T.StructType:
    pre, post = _EVENTS_FIELDS_AROUND_TS
    return T.StructType(pre + [T.StructField("ts", ts_type)] + post)


EVENTS_RAW_SCHEMA_LEGACY_NANOS = _events_schema(T.LongType())

BINARYFILE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("modificationTime", T.TimestampType()),
        T.StructField("length", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ]
)


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_nanos_lock = threading.Lock()
#: sessions whose nanosAsLong conf is currently held open for a stream:
#: id(session) -> mutable [listener, prior_value, generation].  The
#: generation bumps on every re-assert, so a termination event that raced
#: a newly built (not yet started) stream defers its restore to the next
#: termination instead of yanking the conf from under the new stream.
_nanos_holds: dict[int, list] = {}


def _hold_nanos_conf(spark: SparkSession) -> None:
    """Set nanosAsLong for a stream's lifetime and arrange restoration:
    a StreamingQueryListener restores the prior value when the session's
    LAST active streaming query terminates (the conf must hold while any
    stream that read it is running — microbatches re-read parquet footers).
    If the caller never starts the stream, the conf stays set until some
    stream runs and terminates; batch reads stay safe via
    ``tables.load_table``, which scopes the conf per read."""
    from pyspark.sql.streaming import StreamingQueryListener

    with _nanos_lock:
        hold = _nanos_holds.get(id(spark))
        if hold is not None:
            hold[2] += 1  # a new consumer under the same hold
            spark.conf.set(_NANOS_CONF, "true")
            return
        prior = spark.conf.get(_NANOS_CONF, None)
        spark.conf.set(_NANOS_CONF, "true")

        class _Restore(StreamingQueryListener):
            seen_gen = 0

            def onQueryStarted(self, event):  # noqa: D102
                pass

            def onQueryProgress(self, event):  # noqa: D102
                pass

            def onQueryIdle(self, event):  # noqa: D102
                pass

            def onQueryTerminated(self, event):  # noqa: D102
                with _nanos_lock:
                    cur = _nanos_holds.get(id(spark))
                    if cur is None or cur[0] is not self:
                        return
                    # a stream built after this listener last looked may not
                    # have started yet; defer restore to its termination
                    if cur[2] != self.seen_gen:
                        self.seen_gen = cur[2]
                        return
                    if spark.streams.active:
                        return
                    _nanos_holds.pop(id(spark), None)
                    if prior is None:
                        spark.conf.unset(_NANOS_CONF)
                    else:
                        spark.conf.set(_NANOS_CONF, prior)
                spark.streams.removeListener(self)

        listener = _Restore()
        spark.streams.addListener(listener)
        _nanos_holds[id(spark)] = [listener, prior, 0]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table with event-time ``ts``, one
    file per microbatch.

    Probes the batch-resolved ts layout once (tables.events_ts_layout) and
    declares the matching stream schema — a user-supplied schema on a file
    stream is NOT validated against the footers, so a layout mismatch here
    is a silent-wrong-answer bug, not a crash (round 4 shipped exactly that:
    int64-physical timestamp[us] read through a Long-nanos schema compressed
    every event time 1000x).  For the legacy timestamp[ns] layout this sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` for the stream's lifetime
    and RESTORES the prior value once the session's last active stream
    terminates (see :func:`_hold_nanos_conf`).
    """
    from seisdb_spark.sources.tables import events_ts_layout

    layout, _ = events_ts_layout(spark, os.path.join(sf_dir, "events.parquet"))
    # the file stream source lists a DIRECTORY; pathGlobFilter narrows it to
    # the events file (a single-file path is rejected: basePath must be a dir)
    def _stream(schema: T.StructType) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )

    if layout == "native":
        return _stream(_events_schema(T.TimestampType()))
    if layout == "ntz":
        # session tz is UTC (session.py): NTZ -> TIMESTAMP is wall-clock
        # identity, and keeps windows/watermarks on one timestamp type.
        raw = _stream(_events_schema(T.TimestampNTZType()))
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    _hold_nanos_conf(spark)
    raw = _stream(EVENTS_RAW_SCHEMA_LEGACY_NANOS)
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over one table of ``sf_dir`` (documents, embeddings,
    orders, lineitem, ...), one file per microbatch.  The stream schema is
    the BATCH-resolved schema of the same files (one footer probe), passed
    through the drift tripwire every batch load applies: a user-supplied
    schema on a file stream is not validated against the footers, so a
    drifted physical layout would otherwise be a silent wrong answer.  The
    events table has its own reader (:func:`read_events_stream`), which
    branches on the ts layout."""
    from seisdb_spark.sources.tables import check_table_schema

    name = f"{table}.parquet"
    path = os.path.join(sf_dir, name)
    schema = spark.read.parquet(path).schema
    check_table_schema(table, schema, path)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", name)
        .parquet(sf_dir)
    )


def tumbling_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of queries/relational.py::tumbling_window_counts —
    1-hour tumbling event-time windows; the watermark lets append-mode sinks
    finalize a window 2h after its end while bounding state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via the built-in session_window: events
    within ``gap`` of each other merge into one growing session per user.

    Semantics note vs the batch twin (lag + running-sum, gap *strictly*
    greater than 30 min starts a new session): session_window's interval is
    half-open, so two events exactly 30:00.000000 apart are the same session
    in batch but different sessions here — an edge that cannot occur at
    microsecond resolution with the driver's generator and is asserted
    equivalent in tests/test_streaming.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def sliding_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding event-time windows (1 hour long, every 30 minutes — each
    event lands in 2 overlapping windows). Same state shape as the tumbling
    variant, 2x the state keys; the watermark bounds both identically."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def dedup_events_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: first arrival of each event_id wins, later
    duplicates are dropped. The watermark bounds the seen-keys state — ids
    older than the watermark are evicted, so state is O(events per 2h), not
    O(all history). Emits the surviving rows (append semantics)."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def enrich_stream_static(events: DataFrame, customers: DataFrame) -> DataFrame:
    """Stream-static join: each microbatch of events joins the (batch)
    customer dimension on user_id == c_custkey, then aggregates per market
    segment. The static side is broadcast — the stream never shuffles for
    the join, only for the final segment aggregate."""
    dim = F.broadcast(
        customers.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    return (
        events.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink and return the result table — the test/driver harness path."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def start_logs(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    logs: dict[str, Callable[[DataFrame], DataFrame]],
) -> StreamingQuery:
    """The one foreachBatch sink: microbatch ``batch_id`` writes
    ``per_batch(bdf)`` of every ``name: per_batch`` in ``logs`` to
    ``<root>/<name>/batch-<batch_id>`` with mode("overwrite"), then the
    stream is started under ``checkpoint`` with the availableNow trigger.

    foreachBatch is at-least-once per batch_id: a crash after the sink ran
    but before the checkpoint commit replays the batch on restart, over the
    same offsets.  Overwriting a batch_id-derived path makes that replay
    rewrite its own directory instead of appending its rows a second time,
    so every log holds each input row's contribution exactly once."""

    def sink(bdf: DataFrame, batch_id: int) -> None:
        for name, per_batch in logs.items():
            per_batch(bdf).write.mode("overwrite").parquet(
                os.path.join(root, name, f"batch-{batch_id}")
            )

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_log(spark: SparkSession, root: str, name: str) -> DataFrame:
    """Read back one log written by :func:`start_logs`: the union of its
    ``batch-<id>`` directories, with the schema its parquet footers carry."""
    return spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(root, name)
    )


def run_logs(
    stream: DataFrame,
    root: str,
    logs: dict[str, Callable[[DataFrame], DataFrame]],
    persisted: tuple[DataFrame, ...] = (),
) -> list[DataFrame]:
    """Run :func:`start_logs` to completion (checkpoint ``<root>/ckpt``),
    unpersist the ``persisted`` static sides the per-batch functions read,
    and return the logs in ``logs`` order."""
    q = start_logs(stream, root, os.path.join(root, "ckpt"), logs)
    try:
        q.awaitTermination()
    finally:
        for df in persisted:
            df.unpersist()
    return [read_log(stream.sparkSession, root, name) for name in logs]


#: the log ``snapshot_ingest_stream`` stages decoded snapshot rows in
SNAPSHOT_LOG = "snapshots"


def snapshot_ingest_stream(
    spark: SparkSession,
    force_dirs: list[str],
    nspec: int,
    staging_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Stream SPECFEM snapshot files as they land (S6 streaming variant):
    a streaming binaryFile frame per force dir (``specfem.snapshot_frames``)
    -> the batch build's strain decode (``specfem.read_snapshots``) -> the
    staging log ``<staging_dir>/snapshots/batch-<id>`` via
    :func:`start_logs`, three files per microbatch.

    Returns the started StreamingQuery.  Its trigger is availableNow: it
    stages every file present at start, then stops; await it, then run
    :func:`finalize_sgt_from_staging`.  Restarting it on the same
    checkpoint stages only files that arrived since, and a replayed
    microbatch rewrites its own directory.  Decode is narrow — each
    microbatch is files-in, long-rows-out, no shuffle, no state."""
    reader = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option("maxFilesPerTrigger", 3)
    )
    frames = snapshot_frames(spark, force_dirs, KINDS["SGT"].name_data, reader)
    decoded = read_snapshots(frames, nspec, "SGT")
    return start_logs(
        decoded, staging_dir, checkpoint_dir, {SNAPSHOT_LOG: lambda bdf: bdf}
    )


def finalize_sgt_from_staging(
    spark: SparkSession,
    staging_dir: str,
    model_glob: str,
    nspec: int,
    step0: int,
    step1: int,
    dstep: int,
    points_per_element: int = 27,
    encoding_level: int = ENCODING_LEVEL_DEFAULT,
) -> DataFrame:
    """The SGT records of the streamed-in staging log
    (``<staging_dir>/snapshots``), through the batch build's own tail
    (``pipeline.build.build_records``).  The valid steps are those present
    in all forces *in the staged data*: the distinct (proc, force, step) of
    the staged log, collected in one job, is the listing, checked by the
    batch build's own predicate (``pipeline.build.stride_steps``)."""
    from seisdb_spark.pipeline.build import build_records, local_frame, stride_steps

    snaps = read_log(spark, staging_dir, SNAPSHOT_LOG)
    listing = snaps.select("proc", "force", "step").distinct().collect()
    # forder names one force per letter (N, E, Z)
    step_list = stride_steps(listing, len(KINDS["SGT"].forder), range(step0, step1, dstep))
    steps = local_frame(spark, step_list, "proc int, step int")
    _ngll, records = build_records(
        spark, model_glob, nspec, snaps, steps, "SGT", points_per_element, encoding_level
    )
    return records


def novelty_probe(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    batch_pred=None,
) -> DataFrame:
    """Ingest-path NOVELTY scoring: each arriving document is scored by the
    fraction of its distinct word shingles ABSENT from the static corpus's
    gram inventory — the streaming reading of
    queries/extensions.py::ngram_novelty_score, with the semantics shifted
    the way ingest requires: novelty is measured against the EXISTING
    corpus (batch docs never interact), not against ingestion order inside
    one batch.

    Streaming-curation conventions shared with the incremental-dedup probe
    (queries/streaming_queries.py::streaming_incremental_dedup):

    * the static corpus is doc_id % 10 != 0; the arriving batch is
      doc_id % 10 == 0 (override via ``batch_pred``);
    * the corpus gram inventory is computed ONCE and persisted across
      microbatches (Spark never reuses exchanges across foreachBatch
      actions); production writes it as a gram-bucketed parquet table so
      the per-batch membership join prunes buckets instead of scanning;
    * per-batch results land in the log ``<out_root>/scores``
      (:func:`run_logs`), idempotent under checkpoint-recovery replays;
    * per-batch cost scales with the batch: the batch gram set is the
      (small) build side of the membership join, the corpus side is
      pruned/streamed, never collected.

    Returns the union of all batch outputs:
    (doc_id, n_shingles, n_novel, novelty).
    """
    import shutil

    from seisdb_spark.functions.text import shingle_tokens
    from seisdb_spark.sources.tables import load_table

    if batch_pred is None:
        batch_pred = F.col("doc_id") % 10 == 0

    corpus = load_table(spark, sf_dir, "documents").filter(~batch_pred)
    corpus_grams = (
        shingle_tokens(corpus).select("sh").distinct()
        .withColumn("in_corpus", F.lit(1))
        .persist()
    )

    def scores(bdf: DataFrame) -> DataFrame:
        bsh = shingle_tokens(bdf.filter(batch_pred))
        novel = F.sum(F.when(F.col("in_corpus").isNull(), 1).otherwise(0))
        return (
            bsh.join(corpus_grams, "sh", "left")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_shingles"),
                novel.cast("long").alias("n_novel"),
                F.round(
                    novel.cast("double") / F.count(F.lit(1)), 6
                ).alias("novelty"),
            )
        )

    shutil.rmtree(out_root, ignore_errors=True)
    [out] = run_logs(
        read_table_stream(spark, sf_dir, "documents"), out_root,
        {"scores": scores}, (corpus_grams,),
    )
    return out

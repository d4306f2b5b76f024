"""Batch-equivalence tests for the Structured Streaming variants: the
streamed result (availableNow over the same files) must equal the batch
twin's result, and the streamed snapshot ingest must produce byte-identical
SGT records to the batch build."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from seisdb_spark.pipeline import generate_fixture
from seisdb_spark.queries.registry import REGISTRY
from seisdb_spark.streaming import (
    finalize_sgt_from_staging,
    read_events_stream,
    run_to_memory,
    sessionize_stream,
    snapshot_ingest_stream,
    tumbling_counts_stream,
)
from tests.conftest import SMOKE_SF_DIR


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(cols).reset_index(drop=True)


def test_tumbling_stream_equals_batch(spark):
    stream = tumbling_counts_stream(read_events_stream(spark, SMOKE_SF_DIR))
    got = _sorted(run_to_memory(stream, "t_tumbling").toPandas())
    want = _sorted(
        REGISTRY["tumbling_window_counts"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_sessionize_stream_equals_batch(spark):
    stream = sessionize_stream(read_events_stream(spark, SMOKE_SF_DIR))
    got = run_to_memory(stream, "t_sessions").toPandas()
    batch = REGISTRY["sessionize_events"].spark(spark, SMOKE_SF_DIR).toPandas()
    # same session boundaries -> same (user, start, end, n_events) sets;
    # the batch twin's session_id is a per-user ordinal the stream doesn't
    # carry, so compare on the invariant columns
    cols = ["user_id", "n_events", "session_start", "session_end"]
    pd.testing.assert_frame_equal(_sorted(got[cols]), _sorted(batch[cols]))


def test_incremental_probe_staging_reused_not_leaked(spark, tmp_path):
    """Re-invoking the incremental probe reuses (wipes and rewrites) its
    staging root instead of leaking a fresh temp tree per call, and the
    result is unchanged across re-runs."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_incremental_dedup

    out = str(tmp_path / "probe_staging")
    n1 = streaming_incremental_dedup(spark, SMOKE_SF_DIR, out_dir=out).count()
    n2 = streaming_incremental_dedup(spark, SMOKE_SF_DIR, out_dir=out).count()
    assert n1 == n2  # second run wiped the first run's pairs, not appended
    assert sorted(os.listdir(out)) == ["ckpt", "pairs"]  # one tree, reused


def _write_legacy_nanos_events(spark, out_dir):
    """Re-write the smoke events table as a parquet timestamp[ns] file (the
    rounds-1-4 upstream layout) so both loader branches stay regression-
    tested now that the shipped testdata moved to timestamp[us]."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from seisdb_spark.sources.tables import load_table

    out_dir.mkdir(parents=True, exist_ok=True)
    pdf = load_table(spark, SMOKE_SF_DIR, "events").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[ns]")
    path = out_dir / "events.parquet"
    # parquet format >= 2.6 carries TIMESTAMP(NANOS) natively
    pq.write_table(pa.Table.from_pandas(pdf), path, version="2.6")
    assert str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    return str(out_dir)


def test_legacy_nanos_layout_batch_and_stream(spark, tmp_path):
    """Both events loaders must still handle the legacy timestamp[ns]
    layout: batch load_table resolves identical timestamps, the stream
    holds nanosAsLong only while streams are active (restored by the
    termination listener once the last stream ends), and the streamed
    tumbling counts equal the batch twin's — i.e. event times survived the
    ns decode un-compressed."""
    import time

    from seisdb_spark.sources.tables import events_ts_layout, load_table

    ns_dir = _write_legacy_nanos_events(spark, tmp_path / "ns_events")
    assert events_ts_layout(spark, f"{ns_dir}/events.parquet")[0] == "nanos"

    # batch branch: same rows, proper timestamp type, per-read conf scoping
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    if spark.conf.get(conf, None) is not None:
        spark.conf.unset(conf)
    ev_ns = load_table(spark, ns_dir, "events")
    assert dict(ev_ns.dtypes)["ts"] == "timestamp"
    assert spark.conf.get(conf, None) is None  # batch read restored the conf
    want_ts = _sorted(
        load_table(spark, SMOKE_SF_DIR, "events").select("event_id", "ts").toPandas()
    )
    pd.testing.assert_frame_equal(
        _sorted(ev_ns.select("event_id", "ts").toPandas()), want_ts
    )

    # stream branch: conf held for the stream's lifetime, then restored
    assert not spark.streams.active  # clean baseline
    stream = tumbling_counts_stream(read_events_stream(spark, ns_dir))
    assert spark.conf.get(conf, None) == "true"  # held for the stream
    got = _sorted(run_to_memory(stream, "t_conf_restore").toPandas())
    for _ in range(100):  # listener dispatch is asynchronous
        if spark.conf.get(conf, None) is None:
            break
        time.sleep(0.1)
    assert spark.conf.get(conf, None) is None, "conf not restored after stream"
    want = _sorted(
        REGISTRY["tumbling_window_counts"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_events_ts_layout_tripwire(spark, tmp_path):
    """Testdata-drift tripwire: a ts column of an unexpected logical type
    must fail with one clear sentence at load, not 29 opaque failures
    downstream; the shipped testdata must classify as a known layout."""
    import pytest

    from seisdb_spark.sources.tables import events_ts_layout

    layout, _ = events_ts_layout(spark, f"{SMOKE_SF_DIR}/events.parquet")
    assert layout in ("native", "ntz", "nanos")

    bad = tmp_path / "bad"
    bad.mkdir()
    pd.DataFrame({"event_id": [1], "ts": ["not-a-time"]}).to_parquet(
        bad / "events.parquet"
    )
    with pytest.raises(TypeError, match="testdata schema changed"):
        events_ts_layout(spark, str(bad / "events.parquet"))


@pytest.mark.parametrize("dirs", ["absolute", "relative"])
def test_snapshot_stream_ingest_encode_equals_batch(
    spark, fixture_meta, sgt_records, tmp_path, monkeypatch, dirs
):
    """Files stream in (binaryFile source, 3 per microbatch), decode via the
    same kernel, land in staging; the finalize encode over staged rows must
    produce byte-identical records to the batch sgt_build (the session
    build of the same fixture).  Force dirs given relative to the working
    directory work as they do in the batch build."""
    m = dict(fixture_meta)
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    if dirs == "relative":
        monkeypatch.chdir(tmp_path)
        m["force_dirs"] = [os.path.relpath(d, tmp_path) for d in m["force_dirs"]]

    q = snapshot_ingest_stream(
        spark, m["force_dirs"], m["nspec"], staging, ckpt
    )
    q.awaitTermination()

    model_glob = f"{m['model_dir']}/proc*_ibool.bin"
    streamed = finalize_sgt_from_staging(
        spark, staging, model_glob, m["nspec"], m["step0"], m["step1"], m["dstep"]
    ).toPandas().set_index(["proc", "gll_id"]).sort_index()

    pdf, _meta, _steps = sgt_records
    batch = pdf.set_index(["proc", "gll_id"]).sort_index()

    assert list(streamed.index) == list(batch.index)
    for col in ("offset", "scale", "length", "start", "n_values"):
        pd.testing.assert_series_equal(streamed[col], batch[col], obj=col)
    for (idx, srow), (_bidx, brow) in zip(
        streamed.iterrows(), batch.iterrows(), strict=True
    ):
        assert bytes(srow.blob) == bytes(brow.blob), f"blob mismatch at {idx}"


def test_snapshot_stream_replayed_batch_is_not_staged_twice(spark, tmp_path):
    """foreachBatch is at-least-once: when the staging sink ran but the
    checkpoint commit did not, a restart replays the batch.  Simulated by
    deleting the commit log and every offset after batch 0, then running
    the stream again: finalize must encode what the first run encoded, not
    every staged sample twice."""
    m = generate_fixture(str(tmp_path / "fx"), nprocs=1, nspec=2, step1=40)
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    model_glob = f"{m['model_dir']}/proc*_ibool.bin"

    def ingest_and_finalize() -> pd.DataFrame:
        snapshot_ingest_stream(
            spark, m["force_dirs"], m["nspec"], staging, ckpt
        ).awaitTermination()
        return finalize_sgt_from_staging(
            spark, staging, model_glob, m["nspec"], m["step0"], m["step1"], m["dstep"]
        ).toPandas().set_index(["proc", "gll_id"]).sort_index()

    first = ingest_and_finalize()
    assert os.listdir(os.path.join(ckpt, "commits"))
    # a log entry is "<batch_id>" plus its checksum ".<batch_id>.crc"
    for log, keep_through in (("commits", -1), ("offsets", 0)):
        log_dir = os.path.join(ckpt, log)
        for name in os.listdir(log_dir):
            if int(name.removeprefix(".").removesuffix(".crc")) > keep_through:
                os.remove(os.path.join(log_dir, name))
    replayed = ingest_and_finalize()

    assert list(replayed.index) == list(first.index)
    assert list(replayed.n_values) == list(first.n_values)
    assert [bytes(b) for b in replayed.blob] == [bytes(b) for b in first.blob]


def test_stateful_running_totals_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: per-user totals must accumulate across
    microbatches (state carries over), and the final update per user must
    equal the batch groupBy totals."""
    import pyspark.sql.functions as F

    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming.ingest import EVENTS_RAW_SCHEMA_LEGACY_NANOS
    from seisdb_spark.streaming.stateful import running_user_totals_stream

    # split events into 4 files so availableNow + maxFilesPerTrigger=1
    # yields 4 microbatches
    ev = load_table(spark, SMOKE_SF_DIR, "events")
    src = tmp_path / "events_split"
    # ts re-written as a plain int64 nanos column, so no nanosAsLong conf is
    # needed to stream it back
    ev.withColumn("ts", F.unix_micros("ts") * 1000).repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA_LEGACY_NANOS)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    out = running_user_totals_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_running_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("t_running_totals").toPandas()

    n_users = ev.select("user_id").distinct().count()
    assert len(updates) > n_users, "expected multiple updates per user (multi-batch)"

    # final update per user = the row with that user's max cumulative count
    final = updates.loc[updates.groupby("user_id").n_events.idxmax()].set_index("user_id")
    batch = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .toPandas()
        .set_index("user_id")
    )
    final = final.sort_index()
    batch = batch.sort_index()
    assert (final.n_events == batch.n_events).all()
    assert (abs(final.sum_value - batch.sum_value) < 1e-6).all()


def test_sliding_stream_equals_batch(spark):
    from seisdb_spark.streaming import sliding_counts_stream

    stream = sliding_counts_stream(read_events_stream(spark, SMOKE_SF_DIR))
    got = _sorted(run_to_memory(stream, "t_sliding").toPandas())
    want = _sorted(
        REGISTRY["sliding_window_counts"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_dedup_drops_staged_duplicates(spark, tmp_path):
    """The same events staged TWICE: the watermarked dropDuplicates stream
    must emit each event_id exactly once (first arrival wins), so the
    deduped row count equals the single-copy count, not 2x."""
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import dedup_events_stream

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    n_unique = ev.count()
    src = tmp_path / "dups"
    # stage the SAME rows twice via Spark's own writer (layout-independent:
    # ts round-trips as parquet TIMESTAMP, no legacy schema involved)
    ev.coalesce(1).write.parquet(str(src / "copy_a"))
    ev.coalesce(1).write.parquet(str(src / "copy_b"))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src))
    )
    deduped = run_to_memory(
        dedup_events_stream(stream), "t_dedup", output_mode="append"
    )
    assert deduped.count() == n_unique
    assert deduped.select("event_id").distinct().count() == n_unique


def test_stream_static_enrich_equals_batch_join(spark):
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import enrich_stream_static

    events = read_events_stream(spark, SMOKE_SF_DIR)
    customers = load_table(spark, SMOKE_SF_DIR, "customer")
    got = _sorted(
        run_to_memory(enrich_stream_static(events, customers), "t_enrich").toPandas()
    )

    import pyspark.sql.functions as F

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    want = _sorted(
        ev.join(
            customers.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
            "user_id",
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, want)


def test_transformwithstate_totals_across_microbatches(spark, tmp_path):
    """transformWithStateInPandas (arbitrary-stateful v2): per-event-type
    totals must accumulate across microbatches via the typed ValueState,
    and the final update per key must equal the batch groupBy totals.

    ENV-GATED like h5py/PIL: the v2 state-server protocol needs
    google.protobuf, which this container lacks — in that case the
    operator must refuse loudly at build time (NOT crash the driver
    worker mid-stream), and the v1 applyInPandasWithState test above
    carries the stateful coverage."""
    import pyspark.sql.functions as F
    import pytest

    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming.stateful import running_type_totals_tws

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="google.protobuf"):
            running_type_totals_tws(
                load_table(spark, SMOKE_SF_DIR, "events")
            )
        return

    ev = load_table(spark, SMOKE_SF_DIR, "events")
    src = tmp_path / "events_split_tws"
    ev.repartition(4).write.parquet(str(src))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(src))
    )
    out = running_type_totals_tws(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("t_tws_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    updates = spark.table("t_tws_totals").toPandas()

    n_types = ev.select("event_type").distinct().count()
    assert len(updates) > n_types, "expected multiple updates per key (multi-batch)"

    final = updates.loc[updates.groupby("event_type").n.idxmax()].set_index(
        "event_type"
    )
    batch = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .toPandas()
        .set_index("event_type")
    )
    final, batch = final.sort_index(), batch.sort_index()
    assert (final.n == batch.n).all()
    assert (abs(final.sum_value - batch.sum_value) < 1e-6).all()


def test_streaming_quality_gate_equals_batch_classifier(spark):
    """The streamed (lang, keep) totals must equal aggregating the batch
    quality_classifier_score output joined back to languages — same hashed
    weights, same bag semantics, exact integer sums."""
    from tests.conftest import SF_DIR

    from pyspark.sql import functions as F

    streamed = (
        REGISTRY["streaming_quality_gate"].spark(spark, SF_DIR).toPandas()
    )
    per_doc = REGISTRY["quality_classifier_score"].spark(spark, SF_DIR)
    from seisdb_spark.queries.extensions import QC_WEIGHT_SHIFT
    from seisdb_spark.sources.tables import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "lang")
    # reconstruct each doc's integer weight sum from the rounded margin is
    # lossy; recompute sum_w exactly from margin * 1000 * n_tok instead of
    # trusting rounding — so derive it independently: keep flag + counts
    batch = (
        per_doc.join(docs, "doc_id")
        .groupBy("lang", "keep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .toPandas()
    )
    s = streamed.set_index(["lang", "keep"]).sort_index()
    b = batch.set_index(["lang", "keep"]).sort_index()
    assert (s.n_docs == b.n_docs).all()
    # kept groups aggregate only non-negative per-doc sums (and vice versa),
    # so each group's total has the keep flag's sign (strict for keep=0)
    sr = s.reset_index()
    assert (sr.loc[sr.keep == 1, "total_weight"] >= 0).all()
    assert (sr.loc[sr.keep == 0, "total_weight"] < 0).all()


def test_streaming_decontamination_equals_batch(spark):
    """The streamed per-doc collision counts must equal the batch twin's
    output exactly — per-doc results are complete within the doc's own
    microbatch, so the union over batches is the full answer."""
    from tests.conftest import SF_DIR

    streamed = (
        REGISTRY["streaming_decontamination"]
        .spark(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    batch = (
        REGISTRY["decontamination_overlap"]
        .spark(spark, SF_DIR)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        streamed.astype("int64"), batch.astype("int64")
    )


def test_novelty_probe_matches_batch_recompute(spark, tmp_path):
    """The foreachBatch novelty probe (round-8 candidate, library-only for
    now) must equal a batch recomputation of the same vs-corpus semantics:
    per arriving doc, the fraction of its distinct shingles absent from
    the static corpus gram inventory."""
    import pyspark.sql.functions as F

    from seisdb_spark.functions.text import shingle_tokens
    from seisdb_spark.sources.tables import load_table
    from seisdb_spark.streaming import novelty_probe
    from tests.conftest import SMOKE_SF_DIR

    streamed = (
        novelty_probe(spark, SMOKE_SF_DIR, str(tmp_path / "probe"))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    docs = load_table(spark, SMOKE_SF_DIR, "documents")
    corpus_grams = (
        shingle_tokens(docs.filter(F.col("doc_id") % 10 != 0))
        .select("sh")
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    bsh = shingle_tokens(docs.filter(F.col("doc_id") % 10 == 0))
    novel = F.sum(F.when(F.col("in_corpus").isNull(), 1).otherwise(0))
    batch = (
        bsh.join(corpus_grams, "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty"
            ),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(streamed) > 0
    pd.testing.assert_frame_equal(streamed, batch)


def test_novelty_probe_planted_extremes(spark, tmp_path):
    """An arriving doc made entirely of corpus-known grams scores 0.0; one
    made of never-seen words scores 1.0."""
    import pyspark.sql.functions as F  # noqa: F401

    from seisdb_spark.streaming import novelty_probe

    words = [f"k{i:02d}" for i in range(30)]
    corpus_text = " ".join(words)
    fresh_text = " ".join(f"z{i:02d}" for i in range(30))
    pdf = pd.DataFrame(
        {
            # corpus: doc 1 (id % 10 != 0); arriving batch: docs 10, 20
            "doc_id": [1, 10, 20],
            "text": [corpus_text, corpus_text, fresh_text],
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(corpus_text), len(corpus_text), len(fresh_text)],
        }
    )
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    pdf.to_parquet(data_dir / "documents.parquet")
    out = (
        novelty_probe(spark, str(data_dir), str(tmp_path / "probe"))
        .toPandas()
        .set_index("doc_id")
    )
    assert out.loc[10].novelty == 0.0
    assert out.loc[20].novelty == 1.0


def test_int4_stream_equals_batch_across_microbatches(spark, tmp_path):
    """The streaming int4 quantizer over the embeddings table split into
    SEVERAL files (maxFilesPerTrigger=1 -> several genuine microbatches)
    must equal the batch twin row-for-row — codes and qerr are row-local,
    so batching must not change a single value — and each microbatch must
    land in its own batch-id-derived directory."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_int4_quantize
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    emb = load_table(spark, SMOKE_SF_DIR, "embeddings")
    # three single-file "arrivals" named so the stream's glob picks each up
    pdf = emb.toPandas()
    for i in range(3):
        part = pdf[pdf.vec_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/embeddings.parquet", index=False)

    out = str(tmp_path / "int4_stream")
    got = _sorted(
        streaming_int4_quantize(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["embedding_int4_block_quantize"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    batches = sorted(os.listdir(os.path.join(out, "codes")))
    assert len(batches) == 3  # one directory per microbatch, idempotent keys


def test_hll_stream_split_invariant_across_microbatches(spark, tmp_path):
    """The streamed sketch table over the documents split into 3 files
    (3 genuine microbatches) must produce the SAME rollup as the batch
    twin over the unsplit table — HLL union takes per-register maxima,
    so batch boundaries cannot change the merged state — and each
    microbatch must land partials in its own batch-id directory."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_hll_rollup
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    for i in range(3):
        part = pdf[pdf.doc_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/documents.parquet", index=False)
    # the stream scans the split tree; the exact side inside the query
    # loads the same tree via load_table (recursive=False reads only
    # matching files), so point both at a dir holding ALL splits
    out = str(tmp_path / "hll_stream")
    got = _sorted(
        streaming_hll_rollup(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["hll_sketch_rollup"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "sketches"))) == 3


def test_topk_stream_split_matches_batch_gate(spark, tmp_path):
    """The streamed approx_top_k sketch table over the documents split
    into 3 files (3 genuine microbatches) must produce the SAME gate
    rows as the batch heavy_hitters_gate over the unsplit table.  This
    is only guaranteed in the capacity >= cardinality regime the query
    pins (top-k combine is NOT boundary-invariant past capacity —
    eviction order depends on the split), which is exactly why capacity
    is sized at 1.3x the full vocab.  Each microbatch must land its
    one-row partial in its own batch-id directory."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_topk_rollup
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    for i in range(3):
        part = pdf[pdf.doc_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/documents.parquet", index=False)
    out = str(tmp_path / "topk_stream")
    got = _sorted(
        streaming_topk_rollup(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["heavy_hitters_gate"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert (want.in_sketch == 1).all() and (want.est_within == 1).all()
    assert len(os.listdir(os.path.join(out, "sketches"))) == 3


def test_cm_stream_split_matches_batch_gate(spark, tmp_path):
    """The streamed count-min counter table over the documents split
    into 3 files (3 genuine microbatches) must produce the SAME gate
    rows as the batch cm_sketch_gate over the unsplit table — count-min
    merge is element-wise addition of exact integer counters, so batch
    boundaries provably cannot change the merged table (no capacity
    regime needed, unlike approx_top_k).  Each microbatch lands its
    partials in its own batch-id directory."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_cm_rollup
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    for i in range(3):
        part = pdf[pdf.doc_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/documents.parquet", index=False)
    out = str(tmp_path / "cm_stream")
    got = _sorted(
        streaming_cm_rollup(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["cm_sketch_gate"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert (want.ge_exact == 1).all() and (want.within_bound == 1).all()
    assert len(os.listdir(os.path.join(out, "sketches"))) == 3


def test_kmv_stream_split_matches_batch_gate(spark, tmp_path):
    """The streamed bottom-k signature table over the documents split
    into 3 files (3 genuine microbatches) must produce the SAME gate
    rows as the batch kmv_jaccard_gate over the unsplit table — the
    bottom-k of a union IS the bottom-k of the merged bottom-ks (exact,
    associative), so batch boundaries provably cannot change the merged
    signature.  Each microbatch lands its k-bounded per-source rows in
    its own batch-id directory."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_kmv_rollup
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    for i in range(3):
        part = pdf[pdf.doc_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/documents.parquet", index=False)
    out = str(tmp_path / "kmv_stream")
    got = _sorted(
        streaming_kmv_rollup(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["kmv_jaccard_gate"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert (want.jaccard_within == 1).all() and (want.union_within == 1).all()
    assert len(os.listdir(os.path.join(out, "signatures"))) == 3


def test_lm_score_stream_equals_batch_across_microbatches(spark, tmp_path):
    """The streaming LM scorer over the documents split into 3 files
    (3 genuine microbatches) must equal the batch gate row-for-row:
    the LM is trained once from the (complete) static tree, and each
    doc's score is a function of its own text plus the static tables —
    bigrams never span documents, documents never span microbatches.
    The nanonat encoding is exact integers, so the comparison has no
    tolerance."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_lm_score
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    for i in range(3):
        part = pdf[pdf.doc_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/documents.parquet", index=False)

    out = str(tmp_path / "lm_stream")
    got = _sorted(
        streaming_lm_score(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["ngram_lm_perplexity"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "scores"))) == 3


def test_lm_train_stream_equals_batch_across_microbatches(spark, tmp_path):
    """Incremental LM training over documents split into 3 files (3
    genuine microbatches) must score IDENTICALLY to the batch gate:
    bigram-count partials addition-merge, so batch boundaries cannot
    change a single model count — and therefore not a single nanonat
    score.  Integer arithmetic leaves no tolerance."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_lm_train
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    for i in range(3):
        part = pdf[pdf.doc_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/documents.parquet", index=False)

    out = str(tmp_path / "lmt_stream")
    got = _sorted(
        streaming_lm_train(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["ngram_lm_perplexity"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "model"))) == 3


def test_weighted_sample_stream_equals_batch_across_microbatches(
    spark, tmp_path
):
    """The streamed reservoir over documents split into 3 files (3
    genuine microbatches) must select the EXACT same sample as the
    batch sampler: priorities are row-local and deterministic, and the
    bottom-K of the union of per-batch bottom-Ks is the global bottom-K
    (every global winner survives its own batch's cut)."""
    import os

    from seisdb_spark.queries.streaming_queries import (
        streaming_weighted_sample,
    )
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "documents").toPandas()
    for i in range(3):
        part = pdf[pdf.doc_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/documents.parquet", index=False)

    out = str(tmp_path / "es_stream")
    got = _sorted(
        streaming_weighted_sample(
            spark, src + "/arrival*", out_dir=out
        ).toPandas()
    )
    want = _sorted(
        REGISTRY["weighted_sample_wor"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "candidates"))) == 3


def test_zone_maps_stream_split_matches_batch_gate(spark, tmp_path):
    """The streamed zone-map table over events split into 3 files (3
    genuine microbatches) must produce the SAME gate rows as the batch
    zorder_layout_gate over the unsplit table: the grid is published
    once from the static table (so every batch bins identically), and
    min-of-mins / max-of-maxes / sum-of-counts merges are associative
    and exact, so microbatch boundaries provably cannot change a single
    zone-map cell.  Each microbatch lands its <=128-row partials in its
    own batch-id directory."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_zone_maps
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "events").toPandas()
    for i in range(3):
        part = pdf[pdf.event_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/events.parquet", index=False)

    out = str(tmp_path / "zm_stream")
    got = _sorted(
        streaming_zone_maps(
            spark, src + "/arrival*", out_dir=out
        ).toPandas()
    )
    want = _sorted(
        REGISTRY["zorder_layout_gate"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "zonemaps"))) == 3
    assert len(os.listdir(os.path.join(out, "matched"))) == 3


def test_scd2_stream_split_matches_batch_build(spark, tmp_path):
    """The streamed SCD2 build over orders split into 3 files (3 genuine
    microbatches) must produce the SAME interval table as the batch build
    over the unsplit table: per-batch (customer, date) delta partials are
    exact integers, addition is associative, so the merged change log —
    and every version/interval/balance compacted from it — is split-
    invariant.  A customer whose orders land in different microbatches is
    the case that matters; o_orderkey % 3 splitting guarantees many."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_scd2_build
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "orders").toPandas()
    pdf["o_orderdate"] = pdf.o_orderdate.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.o_orderkey % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/orders.parquet", index=False)
    # the split must actually scatter some customer across batches
    assert (pdf.groupby("o_custkey").o_orderkey.apply(
        lambda k: (k % 3).nunique()) > 1).any()

    out = str(tmp_path / "scd2_stream")
    got = _sorted(
        streaming_scd2_build(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["scd2_history_build"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "changelog"))) == 3


def test_gapfill_stream_split_matches_batch(spark, tmp_path):
    """The streamed gap-fill over events split into 3 files (3 genuine
    microbatches) must produce the SAME filled series as the batch query
    over the unsplit table: per-batch (user, hour) count/max partials
    merge exactly (addition / max), and the grid + LOCF compaction is a
    deterministic function of the merged observation table.  A user whose
    observed hours land in different microbatches — changing which batch
    sees their min/max hour — is the case that matters; event_id % 3
    splitting guarantees many."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_gapfill
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "events").toPandas()
    pdf["ts"] = pdf.ts.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.event_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/events.parquet", index=False)
    assert (pdf.groupby("user_id").event_id.apply(
        lambda k: (k % 3).nunique()) > 1).any()

    out = str(tmp_path / "gf_stream")
    got = _sorted(
        streaming_gapfill(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["timeseries_gapfill"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "obs"))) == 3


def test_cohort_stream_split_matches_batch(spark, tmp_path):
    """The streamed cohort maintenance over events split into 3 files (3
    genuine microbatches) must produce the SAME retention table as the
    batch query: per-batch signup-month partials min-merge and activity
    pairs union-merge — both associative — and the retention compaction
    is a deterministic function of the merged partials.  The split
    scatters users' signups and activity across batches (a user whose
    earliest signup lands in a LATER batch than some activity is the
    case min-merge must get right)."""
    import os

    from seisdb_spark.queries.streaming_queries import (
        streaming_cohort_retention,
    )
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "events").toPandas()
    pdf["ts"] = pdf.ts.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.event_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/events.parquet", index=False)

    out = str(tmp_path / "cohort_stream")
    got = _sorted(
        streaming_cohort_retention(
            spark, src + "/arrival*", out_dir=out
        ).toPandas()
    )
    want = _sorted(
        REGISTRY["cohort_retention"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "signups"))) == 3
    assert len(os.listdir(os.path.join(out, "activity"))) == 3


def test_funnel_stream_split_matches_batch(spark, tmp_path):
    """The streamed funnel over events split into 3 files (3 genuine
    microbatches) must produce the SAME step table as the batch query:
    the observation log is the union of per-batch funnel-typed row sets
    (split-invariant by construction), and the fold is a deterministic
    compaction of the merged log.  The fold itself is NOT split-
    computable — a user whose view/click/purchase land in DIFFERENT
    microbatches (guaranteed by event_id % 3 splitting: consecutive
    event_ids go to different batches, and funnel steps are ordered by
    ts which correlates with event_id) is exactly the case a naive
    per-batch fold + merge would get wrong."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_funnel_steps
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "events").toPandas()
    pdf["ts"] = pdf.ts.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.event_id % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/events.parquet", index=False)
    # the case that matters exists: some user's funnel-typed events span
    # at least two different microbatches
    fun = pdf[pdf.event_type.isin(["view", "click", "purchase"])]
    assert (fun.groupby("user_id").event_id.apply(
        lambda k: (k % 3).nunique()) > 1).any()

    out = str(tmp_path / "funnel_stream")
    got = _sorted(
        streaming_funnel_steps(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["funnel_conversion_steps"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "log"))) == 3


@pytest.mark.parametrize("table", ["orders", "documents"])
def test_read_table_stream_schema_tripwire(spark, tmp_path, table):
    """A drifted table layout must fail at the stream reader's one-line
    tripwire (same contract as batch load_table), not deep inside the
    stages that consume the stream."""
    import pandas as pd
    import pytest

    from seisdb_spark.streaming import read_table_stream

    drifted = {
        "orders": {
            "o_orderkey": [1], "o_custkey": [1], "o_orderstatus": ["O"],
            "o_totalprice": ["not-a-number"],  # drifted: string, not double
            "o_orderdate": pd.to_datetime(["2024-01-01"]).astype("datetime64[us]"),
            "o_orderpriority": ["1-URGENT"],
        },
        "documents": {
            "doc_id": [1], "text": ["a b c"], "lang": ["en"], "source": ["web"],
            "n_chars": ["5"],  # drifted: string, not an integer
        },
    }[table]
    bad = tmp_path / "bad"
    bad.mkdir()
    pd.DataFrame(drifted).to_parquet(bad / f"{table}.parquet", index=False)
    with pytest.raises(TypeError, match="testdata schema changed"):
        read_table_stream(spark, str(bad), table)


def test_pagerank_stream_split_matches_batch(spark, tmp_path):
    """The streamed PageRank over lineitem split into 3 files (3 genuine
    microbatches) must produce the SAME top-k rank table as the batch
    query over the unsplit table: per-batch distinct (part, supplier)
    pairs re-distinct to the batch edge set exactly (distinct-of-union ==
    distinct-of-union-of-distincts), and the BIGINT supersteps are a
    deterministic compaction of that set.  A part whose orders land in
    different microbatches is the case that matters; l_orderkey % 3
    splitting guarantees many."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_pagerank_topk
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "lineitem").toPandas()
    pdf["l_shipdate"] = pdf.l_shipdate.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.l_orderkey % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/lineitem.parquet", index=False)
    # the split must actually scatter some part across batches
    assert (pdf.groupby("l_partkey").l_orderkey.apply(
        lambda k: (k % 3).nunique()) > 1).any()

    out = str(tmp_path / "pr_stream")
    got = _sorted(
        streaming_pagerank_topk(
            spark, src + "/arrival*", out_dir=out
        ).toPandas()
    )
    want = _sorted(
        REGISTRY["graph_pagerank_topk"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(os.listdir(os.path.join(out, "edgelog"))) == 3


def test_wcc_stream_split_matches_batch(spark, tmp_path):
    """The streamed WCC over lineitem split into 3 files (3 genuine
    microbatches) must produce the SAME component membership as the
    batch query over the unsplit table: per-batch windowed distinct
    (order, part) observations re-dedup to the batch edge set exactly
    (an order's parts scattered across batches is the case that
    matters — the l_orderkey % 3 split guarantees many), and the
    pointer-jump labeling is a deterministic compaction of that set."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_wcc_membership
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "lineitem").toPandas()
    pdf["l_shipdate"] = pdf.l_shipdate.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.l_orderkey % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/lineitem.parquet", index=False)

    out = str(tmp_path / "wcc_stream")
    got = _sorted(
        streaming_wcc_membership(spark, src + "/arrival*", out_dir=out).toPandas()
    )
    want = _sorted(
        REGISTRY["graph_wcc_membership"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert len(got) > 0  # the sf0.001 window must be non-empty
    assert len(os.listdir(os.path.join(out, "obslog"))) == 3


def test_triangle_stream_split_matches_batch(spark, tmp_path):
    """The streamed triangle census over lineitem split into 3 files (3
    genuine microbatches) must produce the SAME top-k census as the batch
    query over the unsplit table: per-batch distinct (order, part)
    observations re-dedup to the batch edge set exactly (a triangle whose
    three edges derive from orders in three different microbatches is the
    case that matters — the l_orderkey % 3 split guarantees many), and
    the oriented adjacency-intersection census is a deterministic
    compaction of that set."""
    import os

    from seisdb_spark.queries.streaming_queries import streaming_triangle_counts
    from seisdb_spark.sources.tables import load_table

    src = str(tmp_path / "sf_split")
    os.makedirs(src)
    pdf = load_table(spark, SMOKE_SF_DIR, "lineitem").toPandas()
    pdf["l_shipdate"] = pdf.l_shipdate.astype("datetime64[us]")
    for i in range(3):
        part = pdf[pdf.l_orderkey % 3 == i]
        os.makedirs(f"{src}/arrival{i}")
        part.to_parquet(f"{src}/arrival{i}/lineitem.parquet", index=False)
    # the split must actually scatter some part across batches
    assert (pdf.groupby("l_partkey").l_orderkey.apply(
        lambda k: (k % 3).nunique()) > 1).any()

    out = str(tmp_path / "tri_stream")
    got = _sorted(
        streaming_triangle_counts(
            spark, src + "/arrival*", out_dir=out
        ).toPandas()
    )
    want = _sorted(
        REGISTRY["graph_triangle_counts"].spark(spark, SMOKE_SF_DIR).toPandas()
    )
    pd.testing.assert_frame_equal(got, want)
    assert (want.tri_count > 0).any()  # the census must see real triangles
    assert len(os.listdir(os.path.join(out, "obslog"))) == 3

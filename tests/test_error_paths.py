"""Failure-mode probes (the verify recipe's 'probes worth repeating'):
corrupt binaries fail loudly with a precise message, empty inputs surface
the reference's explicit 'no valid steps' error, and degenerate strides
flow through as empty rather than crashing."""

from __future__ import annotations

import os
import struct

import numpy as np
import pytest

from seisdb_spark.pipeline import sgt_build, valid_steps
from seisdb_spark.sources.specfem import split_fortran_records


def test_truncated_fortran_record_fails_loudly(fixture_meta):
    m = fixture_meta
    path = os.path.join(m["force_dirs"][0], "proc000000_strain_field_Step_0.bin")
    raw = open(path, "rb").read()
    with pytest.raises(ValueError, match="truncated Fortran record"):
        list(split_fortran_records(raw[:-4]))  # chop the trailing marker


def test_corrupted_marker_fails_loudly(fixture_meta):
    m = fixture_meta
    path = os.path.join(m["force_dirs"][0], "proc000000_strain_field_Step_0.bin")
    raw = bytearray(open(path, "rb").read())
    # overwrite the first record's leading length marker with nonsense
    raw[:4] = struct.pack("<i", 10**8)
    with pytest.raises(ValueError, match="truncated Fortran record"):
        list(split_fortran_records(bytes(raw)))


def test_empty_force_dir_reports_no_valid_steps(spark, fixture_meta, tmp_path):
    m = fixture_meta
    empty_dirs = [str(tmp_path / d) for d in ("N", "E", "Z")]
    for d in empty_dirs:
        os.makedirs(d)
    with pytest.raises(ValueError, match="no valid steps"):
        sgt_build(
            spark,
            os.path.join(m["model_dir"], "proc*_ibool.bin"),
            empty_dirs,
            m["nspec"],
            m["step0"],
            m["step1"],
            m["dstep"],
        )


def test_degenerate_stride_is_empty_then_explicit_error(spark, fixture_meta):
    """step1 <= step0 must yield an empty stride (no 'illegal sequence
    boundaries' runtime error) and surface as the explicit ValueError."""
    m = fixture_meta
    vs = valid_steps(spark, m["force_dirs"], "strain_field", 50, 50, 10)
    assert vs.count() == 0
    with pytest.raises(ValueError, match="no valid steps"):
        sgt_build(
            spark,
            os.path.join(m["model_dir"], "proc*_ibool.bin"),
            m["force_dirs"],
            m["nspec"],
            50,
            50,
            10,
        )


def test_constant_series_zero_scale_guard():
    """A constant series must encode with scale=0 and all-zero codes (the
    reference divides by zero here) — numpy-level guard probe."""
    from tests.golden_numpy import encode_point

    offset, scale, codes, _blob = encode_point(np.full(24, 7.5, dtype=np.float32))
    assert offset == 7.5 and scale == 0.0
    assert not codes.any()

def test_plan_cache_lives_on_session_and_returns_same_plan(spark):
    """The registry's prepared-plan cache is stored ON the session object
    (session -> cache -> DataFrame -> session is a self-contained cycle, so
    a dropped session is cycle-collected); repeat invocation returns the
    identical DataFrame object."""
    from seisdb_spark.queries.registry import REGISTRY
    from tests.conftest import SMOKE_SF_DIR

    fn = REGISTRY["a3_counts"].spark
    d1 = fn(spark, SMOKE_SF_DIR)
    d2 = fn(spark, SMOKE_SF_DIR)
    assert d1 is d2
    assert ("a3_counts", SMOKE_SF_DIR) in spark.__dict__["_seisdb_plan_cache"]


def test_schema_drift_tripwire_all_tables(spark, tmp_path):
    """Physical-type drift WITHIN a logical class loads untouched (it hits
    the DuckDB oracle identically, so values still match); drift ACROSS
    classes fails at load with one clear sentence.  Round 4 burned entirely
    on silent drift — 29 opaque failures for want of this line."""
    import pandas as pd
    import pytest

    from seisdb_spark.sources.tables import load_table

    # within-class drift: narrower ints + float32 measures still load
    drifted = tmp_path / "drift_ok"
    drifted.mkdir()
    pd.DataFrame(
        {
            "doc_id": pd.array([1, 2], dtype="int32"),  # was int64
            "text": ["a b", "c d"],
            "lang": ["en", "de"],
            "source": ["s", "s"],
            "n_chars": pd.array([3, 3], dtype="int16"),  # was int64
        }
    ).to_parquet(drifted / "documents.parquet")
    docs = load_table(spark, str(drifted), "documents")
    assert docs.count() == 2

    # cross-class drift: a numeric column arriving as string must fail
    # loudly, naming table, column, and the offending type
    bad = tmp_path / "drift_bad"
    bad.mkdir()
    pd.DataFrame(
        {
            "doc_id": ["one", "two"],  # string where integer expected
            "text": ["a", "b"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [1, 1],
        }
    ).to_parquet(bad / "documents.parquet")
    with pytest.raises(TypeError, match="documents.doc_id is now string"):
        load_table(spark, str(bad), "documents")

    # dropped column: same loud failure
    gone = tmp_path / "drift_gone"
    gone.mkdir()
    pd.DataFrame({"doc_id": [1], "text": ["a"]}).to_parquet(
        gone / "documents.parquet"
    )
    with pytest.raises(TypeError, match="documents.lang is missing"):
        load_table(spark, str(gone), "documents")

    # the shipped testdata passes the tripwire for every table
    from seisdb_spark.sources.tables import TABLES
    from tests.conftest import SMOKE_SF_DIR

    for t in TABLES:
        load_table(spark, SMOKE_SF_DIR, t)


def test_extra_conf_malformed_tokens_raise(monkeypatch):
    """SPARK_GRAFT_EXTRA_CONF tokens without '=' (or with an empty key —
    a truncated 'key=' template) are typo'd or truncated overrides:
    before the r16 fix they silently became config(key, "") /
    config("", value) and corrupted the session config; now they raise
    before any session is built (well-formed pairs and a trailing comma
    still parse)."""
    from seisdb_spark.session import get_spark

    for bad in ("spark.foo.bar", "=true", "  =true"):
        monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", bad)
        with pytest.raises(ValueError, match="key=value"):
            get_spark(app_name="extra-conf-probe")


def test_clear_plan_cache_releases_session_checkpoints(spark):
    """clear_plan_cache is the long-lived-service unpersist hook (r16
    watch item): it must evict every cached plan, release the
    session-lifetime edge checkpoints those plans hold (pagerank_edges /
    copurchase_edges), and leave the registry fully functional — a
    re-invoked query rebuilds plan and checkpoint from scratch and
    returns identical values."""
    import pandas as pd

    from seisdb_spark.queries.registry import REGISTRY, clear_plan_cache
    from tests.conftest import SMOKE_SF_DIR

    def run():
        return (
            REGISTRY["graph_pagerank_topk"]
            .spark(spark, SMOKE_SF_DIR)
            .toPandas()
            .sort_values(["node_id"])
            .reset_index(drop=True)
        )

    want = run()
    jsc = spark.sparkContext._jsc
    held = jsc.getPersistentRDDs().size()
    assert held >= 1  # the pagerank edge checkpoint is materialized
    assert (
        len(spark.__dict__.get("_seisdb_session_checkpoints", [])) >= 1
    ), "pagerank_edges did not register its session checkpoint"

    evicted = clear_plan_cache(spark)
    assert evicted >= 1
    assert jsc.getPersistentRDDs().size() < held, (
        "clear_plan_cache did not release the edge checkpoint blocks"
    )
    assert "_seisdb_plan_cache" not in spark.__dict__
    assert "_seisdb_session_checkpoints" not in spark.__dict__

    # the evicted plan must NOT be reachable anymore (re-executing it
    # would read released checkpoint blocks); re-invocation rebuilds
    pd.testing.assert_frame_equal(run(), want)


def test_release_checkpoint_deregisters_session_list(spark):
    """Loop queries (sssp/bfs/wcc and the streaming graph twins) release
    their copurchase_edges checkpoint at build time; before the r17-advice
    fix the build-time registration stayed in the session-lifetime list, so
    each plan-cache-defeated bench pass appended one dead DataFrame ref
    that only clear_plan_cache would prune.  release_checkpoint must now
    deregister the df, so the list does not grow across fixpoint passes."""
    from seisdb_spark.functions.graph import release_checkpoint
    from seisdb_spark.queries.registry import (
        REGISTRY,
        register_session_checkpoint,
    )
    from tests.conftest import SMOKE_SF_DIR

    # direct contract: register then release removes the exact entry
    df = spark.range(3).localCheckpoint(eager=True)
    register_session_checkpoint(df)
    lst = spark.__dict__["_seisdb_session_checkpoints"]
    assert any(d is df for d in lst)
    release_checkpoint(df)
    assert not any(d is df for d in lst), (
        "release_checkpoint left the released df registered for the "
        "session lifetime"
    )

    # end-to-end: two plan-cache-defeated passes of a fixpoint loop query
    # (the bench protocol) must not grow the session list
    def defeated_pass():
        REGISTRY["graph_sssp_cost"].spark(spark, SMOKE_SF_DIR).count()
        spark.__dict__.get("_seisdb_plan_cache", {}).pop(
            ("graph_sssp_cost", SMOKE_SF_DIR), None
        )

    defeated_pass()
    n_after_first = len(spark.__dict__.get("_seisdb_session_checkpoints", []))
    defeated_pass()
    n_after_second = len(spark.__dict__.get("_seisdb_session_checkpoints", []))
    assert n_after_second == n_after_first, (
        f"session checkpoint list grew {n_after_first} -> {n_after_second} "
        "across fixpoint bench passes (dead refs accumulating)"
    )


@pytest.mark.parametrize("distinct", [True, False])
def test_short_documents_yield_no_shingles(spark, distinct):
    """Documents shorter than SHINGLE_K words — empty, 1 and 2 words — give
    no shingles under the session's real settings (ANSI on), instead of an
    INVALID_ARRAY_INDEX from ``sequence(1, 0)`` counting down; a 3-word
    document gives exactly its one shingle."""
    from seisdb_spark.functions.text import SHINGLE_K, shingle_tokens

    assert SHINGLE_K == 3
    docs = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "a b"), (3, "x y z")], "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.sh) for r in shingle_tokens(docs, distinct=distinct).collect()
    )
    assert got == [(3, "x y z")]

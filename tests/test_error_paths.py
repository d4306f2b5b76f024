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

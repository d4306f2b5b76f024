"""Reference-format export parity: the packed per-proc ``*_data.bin`` files
must be BYTE-IDENTICAL to what the reference writer produces (re-expressed
by the golden numpy builder on the same fixture), and the header table must
carry the HDF5 datasets/attrs (DSGT.py:118-196) in blob order."""

from __future__ import annotations

import glob
import os

import pytest

from seisdb_spark.pipeline import export_reference_format, sgt_build
from tests import golden_numpy as golden
from tests.conftest import NPROCS, jobs_run


@pytest.fixture(scope="session")
def exported(spark, tmp_path_factory, sgt_records, dgf_records):
    """``exported(kind)`` -> (out, summary): one export per kind per
    session of the session build (``sgt_records``/``dgf_records``), shared
    by the tests that only read the export."""
    cache = {}

    def get(kind):
        if kind not in cache:
            pdf, meta, _steps = {"SGT": sgt_records, "DGF": dgf_records}[kind]
            out = str(tmp_path_factory.mktemp(f"export_{kind}") / f"refdb_{kind}")
            cache[kind] = out, export_reference_format(spark.createDataFrame(pdf), meta, out)
        return cache[kind]

    return get


@pytest.mark.parametrize("kind", ["SGT", "DGF"])
def test_data_bin_bytes_equal_golden_writer(fixture_meta, exported, kind):
    m = fixture_meta
    out, summary = exported(kind)
    assert list(summary.proc) == list(range(NPROCS))
    gold_fn = golden.golden_sgt if kind == "SGT" else golden.golden_dgf
    suffix = "sgt_data" if kind == "SGT" else "dgf_data"
    for proc in range(NPROCS):
        g = gold_fn(
            m["model_dir"], m["force_dirs"], proc, m["nspec"],
            m["step0"], m["step1"], m["dstep"],
        )
        want = b"".join(g["blob"])  # the reference writer is exactly this
        path = os.path.join(out, f"proc{proc:06d}_{suffix}.bin")
        with open(path, "rb") as fh:
            got = fh.read()
        assert got == want, f"{kind} proc {proc} blob file differs"


def test_header_table_matches_golden(spark, fixture_meta, exported):
    m = fixture_meta
    out, _ = exported("SGT")
    hdr = (
        spark.read.parquet(os.path.join(out, "headers_parquet"))
        .toPandas()
        .sort_values("proc")
        .reset_index(drop=True)
    )
    assert set(hdr.columns) >= {
        "index", "start", "length", "length_sizeof", "offset", "scale",
        "proc_name", "ngll", "nstep", "nforce", "nparas", "dt", "nspec",
        "type", "forder", "version",
    }
    for proc in range(NPROCS):
        g = golden.golden_sgt(
            m["model_dir"], m["force_dirs"], proc, m["nspec"],
            m["step0"], m["step1"], m["dstep"],
        )
        row = hdr[hdr.proc == proc].iloc[0]
        assert list(row["index"]) == [int(x) for x in g["names"]]
        assert list(row["start"]) == g["start"]
        assert list(row["length"]) == g["length"]
        # the reference's sys.getsizeof quirk (DSGT.py:163): len + 33
        assert list(row["length_sizeof"]) == [n + 33 for n in g["length"]]
        assert list(row["offset"]) == pytest.approx(g["offset"])
        assert list(row["scale"]) == pytest.approx(g["scale"])
        assert row["ngll"] == len(g["names"])
        assert row["type"] == "SGT"
        assert row["proc_name"] == f"proc{proc:06d}"


def test_header_table_keeps_its_schema(spark, exported):
    """The stored header table keeps its column names, order and types
    (``index`` stays array<int>, the type of ``gll_id``)."""
    out, _ = exported("SGT")
    assert spark.read.parquet(os.path.join(out, "headers_parquet")).schema.simpleString() == (
        "struct<proc:int,index:array<int>,start:array<bigint>,length:array<bigint>,"
        "length_sizeof:array<bigint>,offset:array<double>,scale:array<double>,"
        "proc_name:string,ngll:bigint,nstep:bigint,nforce:int,nparas:int,dt:double,"
        "nspec:int,type:string,forder:string,version:string>"
    )


def test_empty_proc_still_gets_bin_and_header(spark, fixture_meta, tmp_path):
    """A proc present in db_meta but with zero surviving records must still
    produce its per-proc .bin file (empty) and a header row with empty
    dataset arrays — the reference writer always creates the file
    (DSGT.py:118-126 opens it before the record loop), so a consumer
    iterating procs from the header table never hits a missing file."""
    import os

    m = fixture_meta
    records, meta, _ = sgt_build(
        spark,
        os.path.join(m["model_dir"], "proc*_ibool.bin"),
        m["force_dirs"],
        m["nspec"],
        m["step0"],
        m["step1"],
        m["dstep"],
        network="CI",
        station="USC",
    )
    # drop every record of proc 0: meta still lists it
    out = str(tmp_path / "refdb_empty_proc")
    from pyspark.sql import functions as F

    summary = export_reference_format(
        records.filter(F.col("proc") != 0), meta, out
    )
    assert list(summary.proc) == list(range(NPROCS))
    row0 = summary[summary.proc == 0].iloc[0]
    assert row0.n_blobs == 0 and row0.n_bytes == 0
    path0 = os.path.join(out, "proc000000_sgt_data.bin")
    assert os.path.exists(path0) and os.path.getsize(path0) == 0
    hdr = spark.read.parquet(os.path.join(out, "headers_parquet")).toPandas()
    h0 = hdr[hdr.proc == 0].iloc[0]
    assert len(h0["index"]) == 0 and len(h0["start"]) == 0
    assert h0["proc_name"] == "proc000000"  # attrs still come from meta
    from tests.test_hdf5_min import read_hdf5

    ds, attrs = read_hdf5(os.path.join(out, "proc000000_header.hdf5"))
    assert set(ds) == {"index", "start", "length", "offset", "scale"}
    assert all(len(v) == 0 for v in ds.values())
    want = meta.filter("proc = 0").first()
    assert attrs["ngll"] == want.ngll and attrs["nstep"] == want.nstep
    assert attrs["nspec"] == want.nspec and attrs["type"] == want.kind


def test_hdf5_headers_written_without_h5py(spark, fixture_meta, exported):
    """The literal-.hdf5 conversion no longer needs h5py: the minimal
    spec-subset writer (pipeline/hdf5_min.py) produces one parseable file
    per proc (full content parity vs the parquet header table is covered
    in tests/test_hdf5_min.py)."""
    m = fixture_meta
    out, _ = exported("SGT")
    paths = sorted(glob.glob(os.path.join(out, "*.hdf5")))
    assert [os.path.basename(p) for p in paths] == [
        f"proc{p:06d}_header.hdf5" for p in range(m["nprocs"])
    ]
    from tests.test_hdf5_min import read_hdf5

    for p in paths:
        ds, attrs = read_hdf5(p)
        assert set(ds) == {"index", "start", "length", "offset", "scale"}
        assert attrs["type"] == "SGT"


def test_dgf_hdf5_header_names(spark, fixture_meta, exported):
    """The header file suffix follows the header table's ``type``: a DGF
    export writes the reference's ``proc%06d_dgf_header.hdf5`` (DDGF.py:116)
    next to ``proc%06d_dgf_data.bin``."""
    m = fixture_meta
    out, _ = exported("DGF")
    paths = sorted(glob.glob(os.path.join(out, "*.hdf5")))
    assert [os.path.basename(p) for p in paths] == [
        f"proc{p:06d}_dgf_header.hdf5" for p in range(m["nprocs"])
    ]
    assert sorted(f for f in os.listdir(out) if f.endswith(".bin")) == [
        f"proc{p:06d}_dgf_data.bin" for p in range(m["nprocs"])
    ]


def test_export_rejects_meta_with_two_kinds(spark, fixture_meta, tmp_path):
    """The kind is read from db_meta, so a meta that mixes kinds has no one
    file layout and must be refused before anything is written."""
    from pyspark.sql import functions as F

    m = fixture_meta
    records, meta, _ = sgt_build(
        spark,
        os.path.join(m["model_dir"], "proc*_ibool.bin"),
        m["force_dirs"],
        m["nspec"],
        m["step0"],
        m["step1"],
        m["dstep"],
    )
    mixed = meta.unionByName(meta.withColumn("kind", F.lit("DGF")))
    out = str(tmp_path / "refdb_mixed")
    with pytest.raises(ValueError, match="exactly one kind"):
        export_reference_format(records, mixed, out)
    assert not os.path.exists(out)


def test_inconsistent_start_fails_and_leaves_no_partial_file(spark, sgt_records, tmp_path):
    """A blob whose ``start`` is not its file position aborts the export:
    the pack drops its partial temp file and publishes no ``.bin``."""
    pdf, meta, _steps = sgt_records
    bad = pdf.copy()
    third = bad.sort_values(["proc", "start"]).groupby("proc").nth(2).index
    bad.loc[third, "start"] += 1  # every proc: two blobs written, then the check
    out = str(tmp_path / "refdb_bad")
    from pyspark.errors import PythonException

    with pytest.raises(PythonException, match="file position"):
        export_reference_format(spark.createDataFrame(bad), meta, out)
    assert glob.glob(os.path.join(out, "*.tmp")) == []
    assert glob.glob(os.path.join(out, "*_sgt_data.bin")) == []
    assert glob.glob(os.path.join(out, "*.hdf5")) == []


def test_second_export_overwrites_and_sweeps_temps(spark, sgt_records, exported, tmp_path):
    """Exporting again into the same dir replaces every file (here a .bin
    and an .hdf5 with trailing junk) and removes a dead attempt's temp."""
    first, _ = exported("SGT")
    pdf, meta, _steps = sgt_records
    out = str(tmp_path / "refdb_twice")
    export_reference_format(spark.createDataFrame(pdf), meta, out)
    for name in ("proc000000_sgt_data.bin", "proc000001_header.hdf5"):
        with open(os.path.join(out, name), "ab") as fh:
            fh.write(b"junk")
    open(os.path.join(out, "proc000000_sgt_data.bin.attempt-999999.tmp"), "wb").close()
    summary = export_reference_format(spark.createDataFrame(pdf), meta, out)
    assert list(summary.proc) == list(range(NPROCS))
    assert glob.glob(os.path.join(out, "*.tmp")) == []
    files = sorted(f for f in os.listdir(out) if f.endswith((".bin", ".hdf5")))
    assert files == sorted(f for f in os.listdir(first) if f.endswith((".bin", ".hdf5")))
    for name in files:
        with open(os.path.join(out, name), "rb") as a, open(os.path.join(first, name), "rb") as b:
            assert a.read() == b.read(), name


def test_proc_absent_from_meta_is_not_exported(spark, sgt_records, tmp_path):
    """Records of a proc that meta does not list have no header attrs: the
    proc gets no file, no header row and no summary row."""
    pdf, meta, _steps = sgt_records
    out = str(tmp_path / "refdb_meta_subset")
    summary = export_reference_format(spark.createDataFrame(pdf), meta.filter("proc = 0"), out)
    assert list(summary.proc) == [0]
    assert not [f for f in os.listdir(out) if f.startswith("proc000001")]
    hdr = spark.read.parquet(os.path.join(out, "headers_parquet")).toPandas()
    assert list(hdr.proc) == [0]


def test_export_of_local_records_runs_at_most_10_jobs(spark, sgt_records, tmp_path):
    """The full layout (.bin, .hdf5 and header table) comes from one pass,
    and the build's meta is a local relation: exporting the session build's
    collected SGT records runs at most 4 Spark jobs (17 when the headers
    were a second pass over the records and the .hdf5 files a driver-side
    collect of the header table, 9 while collecting the meta re-ran the
    ibool decode)."""
    pdf, meta, _steps = sgt_records
    records = spark.createDataFrame(pdf)
    out = str(tmp_path / "refdb_jobs")
    jobs = jobs_run(spark, lambda: export_reference_format(records, meta, out))
    assert 0 < jobs <= 4, jobs
    assert len(glob.glob(os.path.join(out, "*.hdf5"))) == NPROCS

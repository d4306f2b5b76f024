"""Golden-parity, round-trip, dedup-equivalence, read-path and storage-ratio
tests for the real SGT/DGF pipelines (SURVEY §5.2 items 2-5, VERDICT items
1/2/5/6).  The Spark pipeline and an independent numpy re-expression of the
reference algorithm run on the same synthetic SPECFEM fixture bytes; headers
and blobs must match bit-for-bit.
"""

from __future__ import annotations

import glob
import os
import re
import zlib

import numpy as np
import pandas as pd
import pytest

from seisdb_spark.pipeline import (
    assemble_series,
    decode_records,
    element_gll_ids,
    encode_records,
    read_db,
    select_gll_points,
    sgt_build,
    valid_steps,
    write_db,
)
from seisdb_spark.schemas import INDEX27, N_GLL_PER_ELEMENT
from seisdb_spark.sources import specfem
from tests import golden_numpy as golden

# fixture_meta (and NSPEC/NPROCS) and the session builds sgt_built/dgf_built,
# sgt_records/dgf_records live in tests/conftest.py, shared with the other
# build-level modules
from tests.conftest import NPROCS, NSPEC, jobs_run  # noqa: F401,E402


# ---------------------------------------------------------------- decode path
def test_fortran_parser_cross_validates(fixture_meta):
    """The engine's in-memory record parser and the golden module's
    independent file-handle reader agree on fixture bytes (S1)."""
    m = fixture_meta
    ib_path = os.path.join(m["model_dir"], "proc000000_ibool.bin")
    with open(ib_path, "rb") as fh:
        buf = fh.read()
    ours = specfem.decode_ibool(buf, m["nspec"])
    theirs = golden.load_ibool(ib_path, m["nspec"])
    np.testing.assert_array_equal(ours, theirs)

    strain_path = os.path.join(m["force_dirs"][0], "proc000000_strain_field_Step_0.bin")
    with open(strain_path, "rb") as fh:
        sbuf = fh.read()
    np.testing.assert_array_equal(
        specfem.decode_strain(sbuf, m["nspec"]),
        golden.load_strain_full(strain_path, m["nspec"]),
    )


def test_disp_decode_shape(fixture_meta):
    m = fixture_meta
    path = os.path.join(m["force_dirs"][1], "proc000001_disp_Step_10.bin")
    with open(path, "rb") as fh:
        dat = specfem.decode_disp(fh.read())
    assert dat.shape == (3, m["ngll_by_proc"][1])
    np.testing.assert_array_equal(dat, golden.load_disp(path))


def test_valid_steps_p3(spark, fixture_meta):
    """P3: the stride+existence filter rejects the step missing from 2 of 3
    force dirs, exactly like DDBbase.DCheck_valid_step."""
    m = fixture_meta
    steps = valid_steps(
        spark, m["force_dirs"], "strain_field", m["step0"], m["step1"], m["dstep"]
    )
    got = {
        (r.proc, r.step) for r in steps.collect()
    }
    want = {(p, s) for p in range(m["nprocs"]) for s in m["valid_steps"]}
    assert got == want


# ---------------------------------------------------------------- golden parity
def test_sgt_matches_golden_bit_exact(fixture_meta, sgt_records):
    m = fixture_meta
    pdf, _meta, _steps = sgt_records
    for proc in range(m["nprocs"]):
        g = golden.golden_sgt(
            m["model_dir"], m["force_dirs"], proc, m["nspec"],
            m["step0"], m["step1"], m["dstep"],
        )
        mine = pdf[pdf["proc"] == proc].reset_index(drop=True)
        assert list(mine["gll_id"]) == list(g["names"])
        np.testing.assert_array_equal(mine["offset"].to_numpy(), np.asarray(g["offset"]))
        np.testing.assert_array_equal(mine["scale"].to_numpy(), np.asarray(g["scale"]))
        np.testing.assert_array_equal(mine["length"].to_numpy(), np.asarray(g["length"]))
        np.testing.assert_array_equal(mine["start"].to_numpy(), np.asarray(g["start"]))
        for blob, gblob in zip(mine["blob"], g["blob"]):
            assert bytes(blob) == gblob  # zlib output identical => codes identical
        assert (mine["n_values"] == 18 * len(m["valid_steps"])).all()


def test_dgf_matches_golden_bit_exact(fixture_meta, dgf_records):
    m = fixture_meta
    pdf, _meta, _steps = dgf_records
    for proc in range(m["nprocs"]):
        g = golden.golden_dgf(
            m["model_dir"], m["force_dirs"], proc, m["nspec"],
            m["step0"], m["step1"], m["dstep"],
        )
        mine = pdf[pdf["proc"] == proc].reset_index(drop=True)
        assert list(mine["gll_id"]) == list(g["names"])
        np.testing.assert_array_equal(mine["offset"].to_numpy(), np.asarray(g["offset"]))
        np.testing.assert_array_equal(mine["scale"].to_numpy(), np.asarray(g["scale"]))
        for blob, gblob in zip(mine["blob"], g["blob"]):
            assert bytes(blob) == gblob


# ---------------------------------------------------------------- round trip
def test_roundtrip_error_bound(spark, fixture_meta, sgt_records):
    """decode(encode(x)) within one LSB: |x̂-x| <= scale/255 (+ float32 slack),
    including reconstruction of the full (force, para, step) layout."""
    m = fixture_meta
    pdf, _meta, _steps = sgt_records
    records = spark.createDataFrame(pdf)
    decoded = decode_records(records, n_force=3, n_para=6, kind="SGT").toPandas()
    g = golden.golden_sgt(
        m["model_dir"], m["force_dirs"], 0, m["nspec"], m["step0"], m["step1"], m["dstep"]
    )
    n_step = len(m["valid_steps"])
    sub = decoded[decoded["proc"] == 0]
    by_point = {gid: grp for gid, grp in sub.groupby("gll_id")}
    for i, gid in enumerate(g["names"]):
        grp = by_point[gid].sort_values(["force", "para", "step_idx"])
        xhat = grp["value"].to_numpy()
        x = g["flat"][i].astype(np.float64)
        assert xhat.size == x.size == 18 * n_step
        bound = g["scale"][i] / 255 * 1.0001 + 1e-12
        assert np.max(np.abs(xhat - x)) <= bound


def test_roundtrip_edge_cases(spark):
    """Constant series (A2 zero-scale guard) and negative-amplitude series
    encode/decode exactly within bound."""
    rows = [
        (0, 1, 0, 0, 4, [2.5, 2.5, 2.5, 2.5]),          # constant -> scale 0
        (0, 2, 0, 2, 4, [-3.0, -1.0, -2.0, -0.5]),      # all negative
        (0, 3, 0, 4, 4, [0.0, 0.0, 0.0, 1e-30]),        # tiny dynamic range
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["proc", "gll_id", "i_spec", "i_gll", "n_values", "series"])
    )
    enc = encode_records(df).toPandas().set_index("gll_id")
    # constant series: zero codes, scale 0, decode == offset exactly
    assert enc.loc[1, "scale"] == 0.0
    codes = np.frombuffer(zlib.decompress(enc.loc[1, "blob"]), dtype=np.uint8)
    assert (codes == 0).all()
    for gid, series in [(1, rows[0][5]), (2, rows[1][5]), (3, rows[2][5])]:
        offset, scale = enc.loc[gid, "offset"], enc.loc[gid, "scale"]
        codes = np.frombuffer(zlib.decompress(enc.loc[gid, "blob"]), dtype=np.uint8)
        xhat = codes.astype(np.float64) / 255 * scale + offset
        x = np.asarray(series, dtype=np.float32).astype(np.float64)
        assert np.max(np.abs(xhat - x)) <= scale / 255 * 1.0001 + 1e-12


def test_roundtrip_randomized_property(spark):
    """Property-style sweep over seeds/amplitudes (SURVEY §5.2-3)."""
    rng = np.random.default_rng(11)
    rows = []
    for gid in range(20):
        n = int(rng.integers(8, 64))
        amp = 10.0 ** rng.integers(-6, 6)
        series = (rng.standard_normal(n) * amp).astype(np.float32)
        rows.append((0, gid, 0, 0, n, [float(v) for v in series]))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["proc", "gll_id", "i_spec", "i_gll", "n_values", "series"])
    )
    enc = encode_records(df).toPandas().set_index("gll_id")
    for _, gid, _, _, _, series in rows:
        offset, scale = enc.loc[gid, "offset"], enc.loc[gid, "scale"]
        codes = np.frombuffer(zlib.decompress(enc.loc[gid, "blob"]), dtype=np.uint8)
        xhat = codes.astype(np.float64) / 255 * scale + offset
        x = np.asarray(series, dtype=np.float32).astype(np.float64)
        assert np.max(np.abs(xhat - x)) <= scale / 255 * 1.0001 + 1e-12 + abs(offset) * 1e-7


@pytest.mark.parametrize("level", [8, 16])
@pytest.mark.parametrize("kind", ["SGT", "DGF"])
def test_decode_records_batch_equals_per_record_reference(spark, kind, level):
    """The batched decode equals a per-record numpy decode exactly, on one
    Arrow batch that mixes series lengths (stations of different nstep)."""
    spec = specfem.KINDS[kind]
    n_force, n_para = 3, len(spec.paras)
    dtype = np.uint8 if level == 8 else np.uint16
    rng = np.random.default_rng(level)
    rows = []
    for gll_id, n_step in enumerate((1, 4, 7, 4, 2, 9)):
        codes = rng.integers(0, 2**level, n_force * n_para * n_step).astype(dtype)
        rows.append((gll_id % 2, gll_id, float(rng.normal()), float(rng.uniform(0, 3)),
                     zlib.compress(codes.tobytes())))
    pdf = pd.DataFrame(rows, columns=["proc", "gll_id", "offset", "scale", "blob"])
    got = (
        decode_records(spark.createDataFrame(pdf).coalesce(1), n_force, n_para, kind, level)
        .toPandas()
    )
    want = []
    for proc, gll_id, offset, scale, blob in rows:
        codes = np.frombuffer(zlib.decompress(blob), dtype=dtype)
        shape = {"force": n_force, "para": n_para, "step": codes.size // (n_force * n_para)}
        idx = dict(zip(spec.series_order, np.unravel_index(
            np.arange(codes.size), [shape[f] for f in spec.series_order]
        )))
        want.append(pd.DataFrame({
            "proc": np.int32(proc), "gll_id": np.int32(gll_id),
            "force": idx["force"].astype(np.int32), "para": idx["para"].astype(np.int32),
            "step_idx": idx["step"].astype(np.int32),
            "value": codes.astype(np.float64) / (2**level - 1) * scale + offset,
        }))
    pd.testing.assert_frame_equal(got, pd.concat(want, ignore_index=True), check_exact=True)


def test_decode_records_rejects_a_series_of_partial_steps(spark):
    """A blob whose length is not a whole number of (force, para) steps
    fails the decode instead of yielding out-of-range indices."""
    from pyspark.errors import PythonException

    pdf = pd.DataFrame(
        [(0, 0, 0.0, 1.0, zlib.compress(bytes(18 * 2 + 1)))],
        columns=["proc", "gll_id", "offset", "scale", "blob"],
    )
    with pytest.raises(PythonException, match="not a multiple of 3x6"):
        decode_records(spark.createDataFrame(pdf), 3, 6).collect()


# ---------------------------------------------------------------- dedup semantics
def test_dedup_equivalence_on_conforming_input(spark, fixture_meta):
    """D1: window first-occurrence == reference running-max on conforming
    SPECFEM input (SURVEY §5.2-4)."""
    m = fixture_meta
    ibool = specfem.read_ibool(
        spark, os.path.join(m["model_dir"], "proc*_ibool.bin"), m["nspec"]
    )
    pts = (
        select_gll_points(ibool, 27)
        .filter("proc = 0")
        .toPandas()
        .sort_values("gll_id")
        .reset_index(drop=True)
    )
    ib = golden.load_ibool(os.path.join(m["model_dir"], "proc000000_ibool.bin"), m["nspec"])
    names, cells = golden.running_max_dedup(ib, 27)
    assert list(pts["gll_id"]) == list(names)
    np.testing.assert_array_equal(pts[["i_spec", "i_gll"]].to_numpy(), cells)


def test_dedup_divergence_counterexample():
    """Documented divergence: running-max DROPS an unseen id that is smaller
    than the running max; first-occurrence keeps it.  Non-conforming input
    only — the window form is the order-independent semantics we ship."""
    ib = np.zeros((1, N_GLL_PER_ELEMENT), dtype=np.int32)
    ib[0, :] = np.arange(N_GLL_PER_ELEMENT)
    ib[0, INDEX27[0]] = 50  # first scanned cell gets a big id
    ib[0, INDEX27[1]] = 3   # unseen smaller id -> running-max drops it
    names, _ = golden.running_max_dedup(ib, 27)
    assert 3 not in names
    first_occurrence_ids = sorted({ib[0, c] for c in INDEX27})
    assert 3 in first_occurrence_ids
    assert len(first_occurrence_ids) != len(names)


# ---------------------------------------------------------------- read path L2/L3
def test_element_gll_ids_reorder(spark, fixture_meta):
    """L2: element -> 27 reordered global ids matches the reference's
    x-outer/z-inner emission (ibool_reader.py:82-88)."""
    m = fixture_meta
    ibool = specfem.read_ibool(
        spark, os.path.join(m["model_dir"], "proc*_ibool.bin"), m["nspec"]
    )
    got = (
        element_gll_ids(ibool, 27)
        .filter("proc = 1 AND i_spec = 2")
        .collect()[0]["gll_ids"]
    )
    ib = golden.load_ibool(os.path.join(m["model_dir"], "proc000001_ibool.bin"), m["nspec"])
    arr = ib[2][list(INDEX27)].reshape(3, 3, 3)
    want = [int(arr[k, j, i]) for i in range(3) for j in range(3) for k in range(3)]
    assert list(got) == want


def test_element_gll_ids_125(spark, fixture_meta):
    m = fixture_meta
    ibool = specfem.read_ibool(
        spark, os.path.join(m["model_dir"], "proc*_ibool.bin"), m["nspec"]
    )
    got = element_gll_ids(ibool, 125).filter("proc = 0 AND i_spec = 0").collect()[0]["gll_ids"]
    ib = golden.load_ibool(os.path.join(m["model_dir"], "proc000000_ibool.bin"), m["nspec"])
    assert list(got) == list(ib[0])


def test_element_lookup_out_of_range(spark, fixture_meta):
    """DOCUMENTED DEVIATION (element_gll_ids docstring): the reference
    zero-fills an out-of-range element lookup (ibool_reader.py:50-51 returns
    np.zeros(125), silently gathering GLL point 0's series); the relational
    form returns NO ROW — absence, not fabricated ids."""
    m = fixture_meta
    ibool = specfem.read_ibool(
        spark, os.path.join(m["model_dir"], "proc*_ibool.bin"), m["nspec"]
    )
    beyond = m["nspec"] + 10
    for ppe in (27, 125):
        rows = element_gll_ids(ibool, ppe).filter(f"i_spec = {beyond}").collect()
        assert rows == [], f"out-of-range element fabricated rows at ppe={ppe}"


def test_read_ibool_lists_a_large_dir_without_a_job(spark, fixture_meta, tmp_path):
    """The ibool dir is loaded under a pathGlobFilter and listed on the
    driver: making the frame over 40 ibool files (more than the 32 at which
    a glob path's listing becomes a parallel Spark job) runs no job."""
    src = os.path.join(fixture_meta["model_dir"], "proc000000_ibool.bin")
    for proc in range(40):
        os.symlink(src, tmp_path / f"proc{proc:06d}_ibool.bin")
    frames = []
    jobs = jobs_run(
        spark,
        lambda: frames.append(
            specfem.read_ibool(spark, str(tmp_path / "proc*_ibool.bin"), fixture_meta["nspec"])
        ),
    )
    assert jobs == 0, jobs
    assert len(frames[0].inputFiles()) == 40


def test_read_ibool_single_file_reads_only_that_file(spark, fixture_meta):
    m = fixture_meta
    path = os.path.join(m["model_dir"], "proc000001_ibool.bin")
    ibool = specfem.read_ibool(spark, path, m["nspec"])
    assert [f.removeprefix("file://") for f in ibool.inputFiles()] == [path]
    assert {r.proc for r in ibool.select("proc").distinct().collect()} == {1}


@pytest.mark.parametrize(
    "name", ["nothing*_ibool.bin", "proc000099_ibool.bin", "absent/proc*_ibool.bin"]
)
def test_read_ibool_missing_path_names_it(spark, fixture_meta, name):
    """A glob that matches no file, a missing single file and a missing
    directory all fail at once, naming what is missing."""
    path = os.path.join(fixture_meta["model_dir"], name)
    missing = os.path.dirname(path) if name.startswith("absent/") else path
    from pyspark.errors import AnalysisException

    with pytest.raises((AnalysisException, FileNotFoundError), match=re.escape(missing)):
        specfem.read_ibool(spark, path, fixture_meta["nspec"])


def test_build_raises_an_ibool_decode_error_at_call_time(spark, tmp_path):
    """The build selects its points when it is called, so a corrupt ibool
    file fails sgt_build itself, not a later action on its frames."""
    from pyspark.errors import PythonException

    from seisdb_spark.pipeline import generate_fixture

    m = generate_fixture(str(tmp_path / "fx"), nprocs=1, nspec=2, step1=20)
    path = os.path.join(m["model_dir"], "proc000000_ibool.bin")
    raw = open(path, "rb").read()
    with open(path, "wb") as fh:
        fh.write(raw[:-4])  # chop the trailing marker
    with pytest.raises(PythonException, match="truncated Fortran record"):
        sgt_build(
            spark, f"{m['model_dir']}/proc*_ibool.bin", m["force_dirs"], m["nspec"],
            m["step0"], m["step1"], m["dstep"],
        )


def test_element_gll_ids_plan_has_no_exchange(spark, fixture_meta):
    """The element lookup is a projection of the element rows: its executed
    plan has no exchange and no aggregate."""
    from seisdb_spark.plancheck import count_exchanges, final_plan, has_node, run_plan

    m = fixture_meta
    ibool = specfem.read_ibool(
        spark, os.path.join(m["model_dir"], "proc*_ibool.bin"), m["nspec"]
    )
    for ppe in (27, 125):
        ids = element_gll_ids(ibool, ppe).filter("proc = 1 AND i_spec = 2")
        run_plan(ids)
        plan = final_plan(ids)
        assert count_exchanges(plan) == 0, plan
        assert not has_node(plan, "Aggregate"), plan


def _written_db(spark, records_pdf, meta, path: str) -> str:
    write_db(spark.createDataFrame(records_pdf), meta, path, network="CI", station="USC")
    return path


@pytest.mark.parametrize("kind", ["SGT", "DGF"])
def test_read_db_schema_equals_written_schema(spark, request, tmp_path, kind):
    """DB_SCHEMAS is what Parquet infers from a written DB: same names,
    types and order, for records and db_meta; read_db returns it."""
    from seisdb_spark.pipeline.build import DB_SCHEMAS

    pdf, meta, _steps = request.getfixturevalue(f"{kind.lower()}_records")
    db = _written_db(spark, pdf, meta, str(tmp_path / "db"))

    def fields(schema):
        return [(f.name, f.dataType) for f in schema]

    for name, df in zip(DB_SCHEMAS, read_db(spark, db)):
        inferred = spark.read.parquet(f"{db}/{name}").schema
        assert fields(DB_SCHEMAS[name]) == fields(inferred), name
        assert fields(df.schema) == fields(inferred), name


def test_read_db_runs_no_job(spark, sgt_records, tmp_path):
    pdf, meta, _steps = sgt_records
    db = _written_db(spark, pdf, meta, str(tmp_path / "db"))
    assert jobs_run(spark, lambda: read_db(spark, db)) == 0


def test_lookup_runs_at_most_2_jobs(spark, fixture_meta, sgt_records, tmp_path):
    """One element lookup in the shape of perfbench's op (the element's ids
    from its proc's ibool file, the DB records of those ids, their decode)
    runs at most 2 Spark jobs, and returns every value of the 27 series."""
    from pyspark.sql import functions as F

    m = fixture_meta
    pdf, meta, _steps = sgt_records
    db = _written_db(spark, pdf, meta, str(tmp_path / "db"))
    proc, i_spec, out = 1, 2, []

    def lookup():
        ibool = specfem.read_ibool(
            spark, os.path.join(m["model_dir"], f"proc{proc:06d}_ibool.bin"), m["nspec"]
        )
        [row] = element_gll_ids(ibool).filter(
            (F.col("proc") == proc) & (F.col("i_spec") == i_spec)
        ).collect()
        records, _ = read_db(spark, db)
        hits = records.filter(
            (F.col("network") == "CI") & (F.col("station") == "USC")
            & (F.col("proc") == proc) & F.col("gll_id").isin(list(row["gll_ids"]))
        )
        out.extend(decode_records(hits, 3, 6).collect())

    jobs = jobs_run(spark, lookup)
    assert 0 < jobs <= 2, jobs
    assert len(out) == 27 * 18 * len(m["valid_steps"])


# ---------------------------------------------------------------- sink + meta
def test_write_read_db_partitioned(spark, fixture_meta, sgt_records, tmp_path):
    m = fixture_meta
    pdf, meta, _steps = sgt_records
    records = spark.createDataFrame(pdf)
    out = str(tmp_path / "db")
    write_db(records, meta, out, network="CI", station="USC")
    # E6: the reference's network/station directory layout, as partitions
    assert os.path.isdir(os.path.join(out, "records", "network=CI", "station=USC"))
    got_records, got_meta = read_db(spark, out)
    assert got_records.count() == len(pdf)
    mrow = got_meta.filter("proc = 0").collect()[0]
    assert mrow["proc_name"] == "proc000000"  # L4, DWidgets.py:9-11
    assert mrow["kind"] == "SGT" and mrow["forder"] == "NEZ"
    assert mrow["nforce"] == 3 and mrow["nparas"] == 6
    assert mrow["nstep"] == len(m["valid_steps"])
    assert mrow["ngll"] == len(pdf[pdf["proc"] == 0])
    # partition pruning: a (network, station) predicate prunes the scan
    plan = got_records.filter(
        "network = 'CI' AND station = 'USC' AND gll_id = 5"
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "network" in plan


def test_storage_ratio_parity(fixture_meta, sgt_records):
    """BASELINE.md target 3: the fixture-level reduction ratio.  Raw snapshot
    bytes vs compressed blob bytes; blobs are bit-identical to the golden
    zlib output (asserted above), so the ratio IS the reference's ratio."""
    m = fixture_meta
    pdf, _meta, _steps = sgt_records
    raw = sum(
        os.path.getsize(p)
        for d in m["force_dirs"]
        for p in glob.glob(os.path.join(d, "proc*_strain_field_Step_*.bin"))
    )
    compressed = int(pdf["length"].sum())
    ratio = raw / compressed
    # 27/125 spatial sub-sampling + shared-point dedup + 8-bit quantization
    # gives > 4x even on incompressible (random) fixtures; real wavefields
    # compress far better (README.md:10-11: ~3500x with temporal stride).
    assert ratio > 4, f"storage ratio {ratio:.2f} too low"


def test_dgf_roundtrip_error_bound(spark, fixture_meta, dgf_records):
    """DGF decode path: the [para][force][time] layout (DDGF.py:128-132)
    reconstructs within one LSB — the axis order differs from SGT and is
    exactly what decode_records(kind='DGF') must invert."""
    m = fixture_meta
    pdf, _meta, _steps = dgf_records
    decoded = decode_records(
        spark.createDataFrame(pdf), n_force=3, n_para=3, kind="DGF"
    ).toPandas()
    g = golden.golden_dgf(
        m["model_dir"], m["force_dirs"], 0, m["nspec"], m["step0"], m["step1"], m["dstep"]
    )
    n_step = len(m["valid_steps"])
    sub = decoded[decoded["proc"] == 0]
    by_point = {gid: grp for gid, grp in sub.groupby("gll_id")}
    for i, gid in enumerate(g["names"]):
        # DGF serialization is [para][force][time]
        grp = by_point[gid].sort_values(["para", "force", "step_idx"])
        xhat = grp["value"].to_numpy()
        x = g["flat"][i].astype(np.float64)
        assert xhat.size == x.size == 9 * n_step
        bound = g["scale"][i] / 255 * 1.0001 + 1e-12
        assert np.max(np.abs(xhat - x)) <= bound


def test_append_to_db_incremental_station(spark, fixture_meta, sgt_records, tmp_path):
    """append_to_db adds one station per call via dynamic partition
    overwrite: existing stations untouched, re-appending a station replaces
    (never duplicates) it.  One build's meta serves every station: the
    writer stamps it with the station it writes."""
    from seisdb_spark.pipeline import append_to_db

    pdf, meta, _steps = sgt_records
    records = spark.createDataFrame(pdf)
    out = str(tmp_path / "db")

    write_db(records, meta, out, network="CI", station="USC")
    append_to_db(records, meta, out, network="CI", station="LAX")

    got_records, got_meta = read_db(spark, out)
    assert got_records.count() == 2 * len(pdf)
    stations = {r["station"] for r in got_meta.select("station").distinct().collect()}
    assert stations == {"USC", "LAX"}
    assert os.path.isdir(os.path.join(out, "records", "network=CI", "station=LAX"))
    assert os.path.isdir(os.path.join(out, "records", "network=CI", "station=USC"))

    # idempotent replace: appending LAX again must not duplicate it
    append_to_db(records, meta, out, network="CI", station="LAX")
    got_records2, _ = read_db(spark, out)
    assert got_records2.count() == 2 * len(pdf)
    assert got_records2.filter("station = 'LAX'").count() == len(pdf)
    # the dynamic mode is a writer option: the session conf keeps its
    # static default
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"


def test_write_db_stamps_meta_with_the_writers_station(spark, sgt_records, tmp_path):
    """A meta built under one (network, station) and written under another
    lands beside its records, under the writer's labels."""
    pdf, meta, _steps = sgt_records
    assert {(r["network"], r["station"]) for r in meta.collect()} == {("CI", "USC")}
    out = str(tmp_path / "db")
    write_db(spark.createDataFrame(pdf), meta, out, network="IU", station="ANMO")
    got_records, got_meta = read_db(spark, out)
    for df in (got_records, got_meta):
        labels = {tuple(r) for r in df.select("network", "station").distinct().collect()}
        assert labels == {("IU", "ANMO")}, labels


# ---------------------------------------------------------------- plan shape
def _subtrees(plan: str) -> list[tuple[str, str]]:
    """(node line, subtree text) for every node of a plan tree string."""
    lines = plan.splitlines()
    cols = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    out = []
    for i, (line, col) in enumerate(zip(lines, cols)):
        end = next((j for j in range(i + 1, len(lines)) if cols[j] <= col), len(lines))
        out.append((line.strip(" :+-"), "\n".join(lines[i + 1 : end])))
    return out


def _executed_nodes(records) -> list[tuple[str, str]]:
    from seisdb_spark.plancheck import final_plan, run_plan

    run_plan(records)
    return _subtrees(final_plan(records))


def test_build_plan_decodes_snapshots_once_and_semi_joins_once(sgt_built):
    """The executed build: the force scans are unioned under ONE snapshot
    decode (a MapInPandas directly over the binaryFile scans), the valid
    steps are semi-joined ONCE, and the fact side shuffles exactly twice —
    the (proc, gll_id) assembly and the per-proc start-offset window."""
    records, _meta, _steps = sgt_built
    nodes = _executed_nodes(records)
    # a snapshot decode emits force; it sits on the scans, not on another map
    snapshot_decodes = [
        node for node, sub in nodes
        if node.startswith("MapInPandas") and "force#" in node
        and "FileScan binaryFile" in sub and "MapInPandas" not in sub
    ]
    assert len(snapshot_decodes) == 1, snapshot_decodes
    assert sum("LeftSemi" in node for node, _ in nodes) == 1
    # fact-side shuffles: every Exchange not below a broadcast
    broadcast_side = "\n".join(sub for node, sub in nodes if node.startswith("BroadcastExchange"))
    fact_keys = sorted(
        re.sub(r"#\d+", "", re.search(r"hashpartitioning\((.*), \d+\)", node).group(1))
        for node, _ in nodes
        if node.startswith("Exchange") and node not in broadcast_side
    )
    assert fact_keys == ["proc", "proc, gll_id"]


def test_stray_snapshot_files_are_skipped(spark, tmp_path):
    """Files the snapshot glob matches but the filename rule does not (a
    non-numeric step or proc) are ignored by the listing and the decode
    alike: valid steps and built records are unchanged.  Under ANSI a cast
    of their empty proc/step match would fail the whole job."""
    from seisdb_spark.pipeline import generate_fixture

    m = generate_fixture(str(tmp_path / "fx"), nprocs=1, nspec=2, step1=40)
    args = (
        spark, f"{m['model_dir']}/proc*_ibool.bin", m["force_dirs"], m["nspec"],
        m["step0"], m["step1"], m["dstep"],
    )

    def built():
        steps = valid_steps(
            spark, m["force_dirs"], "strain_field", m["step0"], m["step1"], m["dstep"]
        ).toPandas().sort_values(["proc", "step"]).reset_index(drop=True)
        records = sgt_build(*args)[0].toPandas().sort_values(["proc", "gll_id"])
        return steps, records.reset_index(drop=True)

    want_steps, want_records = built()
    for d in m["force_dirs"]:
        for name in ("proc000000_strain_field_Step_old.bin", "procABCDEF_strain_field_Step_0.bin"):
            with open(os.path.join(d, name), "wb") as fh:
                fh.write(b"not a snapshot")
    got_steps, got_records = built()
    pd.testing.assert_frame_equal(got_steps, want_steps)
    pd.testing.assert_frame_equal(got_records, want_records)


def test_semi_join_build_side_reads_no_file(sgt_built):
    """The valid steps are collected once per build: the LeftSemi's
    broadcast side is that local list, a LocalTableScan, not another
    listing of the snapshot dirs."""
    records, _meta, _steps = sgt_built
    [semi] = [sub for node, sub in _executed_nodes(records) if "LeftSemi" in node]
    broadcast = "\n".join(
        sub for node, sub in _subtrees(semi) if node.startswith("BroadcastExchange")
    )
    assert broadcast and "binaryFile" not in broadcast, broadcast
    assert "LocalTableScan" in broadcast, broadcast


def test_db_meta_is_driver_data(spark, sgt_built):
    """db_meta is built on the driver from the per-proc point counts and the
    step list: a local relation that reads no file, runs no job when
    collected and has the schema the writer writes and read_db reads."""
    from seisdb_spark.pipeline.build import DB_SCHEMAS

    _records, meta, _steps = sgt_built
    assert meta.inputFiles() == []
    assert jobs_run(spark, meta.collect) == 0
    assert [(f.name, f.dataType) for f in meta.schema] == [
        (f.name, f.dataType) for f in DB_SCHEMAS["db_meta"]
    ]


@pytest.mark.parametrize("kind", ["SGT", "DGF"])
def test_records_plan_reads_no_ibool_file(request, fixture_meta, kind):
    """The build decodes the ibool files once, when it selects the points:
    the executed records plan scans the snapshot dirs and no file under the
    model dir."""
    records, _meta, _steps = request.getfixturevalue(f"{kind.lower()}_built")
    roots = {root.removeprefix("file:") for root in _files_read(records)}
    assert roots == set(fixture_meta["force_dirs"]), roots


@pytest.mark.parametrize("kind", ["SGT", "DGF"])
def test_scale_stress_sgt_plan_contract_holds(request, kind):
    """tools/scale_stress_sgt.py's scale-invariant contract holds on the
    executed plan of the full records frame, the plan it times."""
    from seisdb_spark.plancheck import final_plan, run_plan
    from tools.scale_stress_sgt import plan_ok

    records, _meta, _steps = request.getfixturevalue(f"{kind.lower()}_built")
    run_plan(records)
    assert plan_ok(final_plan(records)) == (True, "ok")


def test_build_and_write_run_at_most_11_jobs(spark, fixture_meta, tmp_path):
    """One build + write lists the snapshot dirs once, on the driver,
    decodes the ibool files once and runs the snapshot lineage once: the
    point selection, the records write and the meta write together run at
    most 8 Spark jobs on the default fixture (24 when the meta recomputed
    every record and the steps were listed three times, 15 while the step
    check was a Spark listing plan, 11 while the meta was a Spark plan over
    the ibool files)."""
    m = fixture_meta

    def build_and_write():
        records, meta, _steps = sgt_build(
            spark, os.path.join(m["model_dir"], "proc*_ibool.bin"), m["force_dirs"],
            m["nspec"], m["step0"], m["step1"], m["dstep"],
        )
        write_db(records, meta, str(tmp_path / "db"), network="CI", station="USC")

    jobs = jobs_run(spark, build_and_write)
    assert 0 < jobs <= 8, jobs


@pytest.fixture(scope="module")
def every_step_tree(tmp_path_factory):
    """A strain tree with a snapshot at every step (60 per proc and force
    dir, 120 files in a full dir), built at stride 10."""
    from seisdb_spark.pipeline import generate_fixture

    root = str(tmp_path_factory.mktemp("every_step"))
    return generate_fixture(
        root, nprocs=2, nspec=2, step1=60, dstep=1, kinds=("strain_field",)
    )


def _files_read(df) -> dict[str, int]:
    """Run df's plan; 'number of files read' of each executed file scan,
    keyed by the scan's root paths."""
    from seisdb_spark.plancheck import run_plan

    run_plan(df)
    todo, read = [df._jdf.queryExecution().executedPlan()], {}
    while todo:
        node = todo.pop()
        name, kids = node.getClass().getSimpleName(), node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            todo.append(node.plan())
        elif name == "FileSourceScanExec":
            root = node.relation().location().rootPaths().mkString(",")
            read[root] = read.get(root, 0) + node.metrics().apply("numFiles").value()
    return read


def test_build_reads_only_snapshot_files_in_the_stride(spark, every_step_tree):
    """The decode reads a snapshot file only when its step is in the
    stride: the executed records plan's snapshot scans read exactly the
    stride's files on disk (all 356 when the decode read every listed
    file), and the records still equal the golden encoder's."""
    m = every_step_tree
    stride = range(0, 60, 10)
    records, _meta, _steps = sgt_build(
        spark, f"{m['model_dir']}/proc*_ibool.bin", m["force_dirs"], m["nspec"],
        stride.start, stride.stop, stride.step,
    )
    in_stride = sum(
        int(specfem.SNAPSHOT_RE.search(name).group(3)) in stride
        for d in m["force_dirs"] for name in os.listdir(d)
    )
    read = _files_read(records)
    snapshot_reads = [n for root, n in read.items() if root.removeprefix("file:") != m["model_dir"]]
    assert len(snapshot_reads) == len(m["force_dirs"]), read
    assert sum(snapshot_reads) == in_stride == 32, read

    pdf = records.toPandas().sort_values("gll_id")
    g = golden.golden_sgt(
        m["model_dir"], m["force_dirs"], 0, m["nspec"], stride.start, stride.stop, stride.step
    )
    mine = pdf[pdf["proc"] == 0]
    assert list(mine["gll_id"]) == list(g["names"])
    assert [bytes(b) for b in mine["blob"]] == g["blob"]


def test_valid_steps_on_large_dirs_runs_at_most_one_job(spark, every_step_tree):
    """Each force dir is listed once, on the driver: valid_steps over dirs
    of more than 32 snapshot files (where a glob path's listing is itself a
    parallel Spark job per dir) runs at most one job, collect included."""
    m = every_step_tree
    assert all(len(os.listdir(d)) > 32 for d in m["force_dirs"])
    got = []
    jobs = jobs_run(
        spark,
        lambda: got.extend(
            valid_steps(spark, m["force_dirs"], "strain_field", 0, 60, 10).collect()
        ),
    )
    assert jobs <= 1, jobs
    assert sorted(tuple(r) for r in got) == [
        (p, s) for p in range(2) for s in (0, 10, 20, 40, 50)
    ]


@pytest.mark.parametrize("kind", ["SGT", "DGF"])
def test_db_meta_rows_equal_record_counts_and_valid_steps(
    spark, fixture_meta, request, kind
):
    """Each meta row's ngll is its proc's record count and nstep its number
    of valid steps (the P3 listing, computed independently here)."""
    m = fixture_meta
    pdf, meta, _steps = request.getfixturevalue(f"{kind.lower()}_records")
    steps = valid_steps(
        spark, m["force_dirs"], specfem.KINDS[kind].name_data,
        m["step0"], m["step1"], m["dstep"],
    ).toPandas()
    got = sorted(tuple(r) for r in meta.select("proc", "ngll", "nstep").collect())
    want = sorted(
        (proc, len(grp), int((steps["proc"] == proc).sum()))
        for proc, grp in pdf.groupby("proc")
    )
    assert got == want

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
from tests.conftest import NPROCS, NSPEC  # noqa: F401,E402


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
    (never duplicates) it."""
    import pyspark.sql.functions as F

    from seisdb_spark.pipeline import append_to_db

    pdf, meta, _steps = sgt_records
    records = spark.createDataFrame(pdf)
    out = str(tmp_path / "db")

    write_db(records, meta, out, network="CI", station="USC")
    meta_lax = meta.withColumn("station", F.lit("LAX"))
    append_to_db(records, meta_lax, out, network="CI", station="LAX")

    got_records, got_meta = read_db(spark, out)
    assert got_records.count() == 2 * len(pdf)
    stations = {r["station"] for r in got_meta.select("station").distinct().collect()}
    assert stations == {"USC", "LAX"}
    assert os.path.isdir(os.path.join(out, "records", "network=CI", "station=LAX"))
    assert os.path.isdir(os.path.join(out, "records", "network=CI", "station=USC"))

    # idempotent replace: appending LAX again must not duplicate it
    append_to_db(records, meta_lax, out, network="CI", station="LAX")
    got_records2, _ = read_db(spark, out)
    assert got_records2.count() == 2 * len(pdf)
    assert got_records2.filter("station = 'LAX'").count() == len(pdf)
    # the conf flip is scoped: static default restored after the call
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"


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
    broadcast side is that local list, not another listing of the
    snapshot dirs."""
    records, _meta, _steps = sgt_built
    [semi] = [sub for node, sub in _executed_nodes(records) if "LeftSemi" in node]
    broadcast = "\n".join(
        sub for node, sub in _subtrees(semi) if node.startswith("BroadcastExchange")
    )
    assert broadcast and "binaryFile" not in broadcast, broadcast


def test_db_meta_reads_no_snapshot_file(sgt_built):
    """db_meta comes from the selected points and the step list: its plan
    reads the ibool files and no snapshot file."""
    _records, meta, _steps = sgt_built
    files = meta.inputFiles()
    assert files and all(specfem.IBOOL_RE.search(f) for f in files), files
    assert not any("_Step_" in f for f in files), files


@pytest.mark.parametrize("kind", ["SGT", "DGF"])
def test_scale_stress_sgt_plan_contract_holds(request, kind):
    """tools/scale_stress_sgt.py's scale-invariant contract holds on the
    executed plan of the full records frame, the plan it times."""
    from seisdb_spark.plancheck import final_plan, run_plan
    from tools.scale_stress_sgt import plan_ok

    records, _meta, _steps = request.getfixturevalue(f"{kind.lower()}_built")
    run_plan(records)
    assert plan_ok(final_plan(records)) == (True, "ok")


def test_build_and_write_run_at_most_15_jobs(spark, fixture_meta, tmp_path):
    """One build + write runs the snapshot lineage once: the step listing,
    the records write and the meta write together run at most 15 Spark
    jobs on the default fixture (the meta used to recompute every record,
    and the steps were listed three times: 24 jobs)."""
    m = fixture_meta
    sc = spark.sparkContext
    group = "test-build-and-write-jobs"
    sc.setJobGroup(group, "sgt_build + write_db")
    try:
        records, meta, _steps = sgt_build(
            spark, os.path.join(m["model_dir"], "proc*_ibool.bin"), m["force_dirs"],
            m["nspec"], m["step0"], m["step1"], m["dstep"],
        )
        write_db(records, meta, str(tmp_path / "db"), network="CI", station="USC")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 15, len(jobs)


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

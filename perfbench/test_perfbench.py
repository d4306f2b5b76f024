"""Self-test of the benchmark.  Run from the source root:

    python3 -m pytest perfbench -q

It runs every workload at a tiny size on one shared Spark session, checks
that every metric prints with its unit and sample count, that each output
gate fires on a planted corruption, and that a traced op's stage self
times add up to the traced op time.
"""

from __future__ import annotations

import copy
import os
import re
import time

import numpy as np
import pytest

from perfbench import harness, inputs, run, workloads

TINY = {
    "seisdb_lookup": {"nprocs": 1, "nspec": 4, "n_strides": 5},
    "corpus_curation": {"n_docs": 200, "factor": 2, "n_shards": 4},
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("env"))
    with pytest.MonkeyPatch.context() as mp:
        for key in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR", "SPARK_GRAFT_EXTRA_CONF"):
            mp.setenv(key, os.environ.get(key, ""))
        run.configure_env(work)
        session, _ = harness.start_session()
        yield session
        harness.stop_session(session)


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """One untraced and one traced tiny run per workload."""
    out = {}
    for name in TINY:
        for trace in (False, True):
            work = str(tmp_path_factory.mktemp(f"{name}-{int(trace)}"))
            out[name, trace] = (
                harness.run(name, 3, 0.1, trace, work, time.perf_counter(), spark=spark,
                            size=TINY[name]),
                work,
            )
    return out


@pytest.mark.parametrize("name", sorted(TINY))
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_prints_with_unit_and_samples(runs, name, trace):
    out, _ = runs[name, trace]
    result = out["result"]
    assert result["correct"], out["health"]["problems"]
    assert result["failed"] == 0 and result["attempted"] >= harness.MIN_OPS[trace]
    expected = harness.PER_LAYER if trace else harness.END_TO_END
    assert list(result["metrics"]) == list(expected)
    text = harness.report(out).splitlines()
    for metric, unit in expected.items():
        line = next(x for x in text if x.startswith(f"{metric} = "))
        assert re.fullmatch(rf"{re.escape(metric)} = \S+ {re.escape(unit)} \(n=\d+\)", line), line
        assert result["metrics"][metric]["unit"] == unit
    if not trace:
        assert all(result["metrics"][m]["value"] > 0 for m in expected)


@pytest.mark.parametrize("name", sorted(TINY))
def test_traced_self_times_sum_to_traced_op_time(runs, name):
    out, _ = runs[name, True]
    bench = out["bench"]
    assert bench.traced, "no traced ladder ran"
    for rec in bench.traced:
        assert sum(rec["self_s"].values()) == pytest.approx(rec["op_s"], rel=1e-9, abs=1e-9)
    spans = bench.tracer.spans
    selfs = bench.tracer.self_times()
    roots = [i for i, s in enumerate(spans) if s["parent"] is None]
    for op_id in {s["op"] for s in spans}:
        mine = [i for i, s in enumerate(spans) if s["op"] == op_id]
        root = next(i for i in roots if spans[i]["op"] == op_id)
        total = sum(selfs[i] for i in mine)
        assert total == pytest.approx(spans[root]["end"] - spans[root]["start"], rel=1e-9)


def test_build_gate_fires_on_a_flipped_blob_byte(runs):
    out, work = runs["seisdb_lookup", False]
    wl = out["bench"].wl
    golden = {p: wl.golden_sgt["S0", p] for p in range(TINY["seisdb_lookup"]["nprocs"])}
    cols = workloads.read_station(os.path.join(work, "db"), "S0")
    assert workloads.check_station(cols, golden) == []
    bad = copy.deepcopy(cols)
    blob = bytearray(bad["blob"][0])
    blob[len(blob) // 2] ^= 0x01
    bad["blob"][0] = bytes(blob)
    assert workloads.check_station(bad, golden)


def test_lookup_gate_fires_on_a_value_off_by_more_than_one_step(runs):
    out, _ = runs["seisdb_lookup", False]
    wl = out["bench"].wl
    station, proc, ids, rows = wl.last
    g = wl.golden[station, proc]
    want = wl.element_ids(station, proc, wl.request[2])
    cols = {k: [r[k] for r in rows] for k in ("gll_id", "force", "para", "step_idx", "value")}
    assert workloads.check_lookup_rows(cols, ids, want, g) == []
    j = int(np.argmax(g["scale"][np.searchsorted(g["names"], cols["gll_id"])]))
    cols["value"][j] += 2 * g["scale"][np.searchsorted(g["names"], cols["gll_id"][j])] / 255
    assert workloads.check_lookup_rows(cols, ids, want, g)


def test_lookup_gate_accepts_the_golden_encoders_own_rounding(tmp_path):
    """Seed 210's strain trees hold a point that the golden float32 encoder
    itself reconstructs at 1.0000019 x scale/255."""
    golden_numpy = workloads._golden()
    for k in range(2):
        m = inputs.strain_tree(str(tmp_path / f"S{k}"), 210 * 100 + k, 2, 10, 6)
        for proc in range(2):
            g = golden_numpy.golden_sgt(
                m["model_dir"], m["force_dirs"], proc, m["nspec"], m["step0"], m["step1"], m["dstep"]
            )
            flat = np.stack(g["flat"])
            n_step = flat.shape[1] // 18
            golden = {"names": np.asarray(g["names"]), "flat": flat, "n_step": n_step,
                      "scale": np.asarray(g["scale"]), "offset": np.asarray(g["offset"])}
            point, pos = np.divmod(np.arange(flat.size), flat.shape[1])
            rows = {
                "gll_id": golden["names"][point],
                "force": pos // (6 * n_step),
                "para": pos // n_step % 6,
                "step_idx": pos % n_step,
                "value": (np.stack(g["codes"]).astype(np.float64) / 255
                          * golden["scale"][:, None] + golden["offset"][:, None]).ravel(),
            }
            ids = golden["names"].tolist()
            assert workloads.check_lookup_rows(rows, ids, ids, golden) == []


def test_manifest_gate_fires_on_a_dropped_row(runs):
    out, _ = runs["corpus_curation", False]
    manifest = out["bench"].wl.manifest
    assert len(manifest) > 1
    assert workloads.check_manifest(list(manifest), manifest) == []
    assert workloads.check_manifest(manifest[1:], manifest)


def test_corpus_replicas_keep_the_duplicate_rate(tmp_path):
    import pyarrow.parquet as pq

    inputs.documents(str(tmp_path), seed=5, n_docs=300, factor=3)
    table = pq.read_table(os.path.join(tmp_path, "documents.parquet")).to_pydict()
    texts, ids = table["text"], table["doc_id"]
    assert len(set(ids)) == len(ids) == 900
    base = texts[:300]
    for r in (1, 2):
        replica = texts[300 * r : 300 * (r + 1)]
        assert replica == [" ".join(f"{w}_r{r}" for w in t.split(" ")) for t in base]
    dups = sum(t.endswith(" dup") for t in base)
    assert 0 < dups < 60

"""The two workloads: what one op does, how its output is checked, and the
traced ladder that splits an op into per-layer self times.

Every op rebuilds its DataFrames through the engine's public API and runs
them to the real sink or ``collect()``; none re-executes an already
executed physical plan.  Traced ladders run prefix plans of the op into
Spark's ``noop`` sink; a stage's self time is its prefix time minus the
prefix times of its inputs, so the stage self times of one traced op sum
to the time of the op's own actions exactly.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import random
import time
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import inputs
from seisdb_spark.curation import build_training_set, curate
from seisdb_spark.functions.graph import cc_auto
from seisdb_spark.functions.text import shingle_tokens
from seisdb_spark.pipeline import (
    add_start_offsets,
    append_to_db,
    assemble_series,
    decode_records,
    element_gll_ids,
    encode_records,
    read_db,
    select_gll_points,
    sgt_build,
    valid_steps,
)
from seisdb_spark.queries.extensions import decon_join
from seisdb_spark.schemas import INDEX27, REORDER27
from seisdb_spark.sources import specfem
from seisdb_spark.sources.tables import load_table, spread, write_training_shards

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NETWORK = "XX"
N_FORCE, N_PARA, MAX_CODE = 3, 6, 255

# Input sizes, chosen so that one run (session, set-up, warm-up and the
# measured window) fits the benchmark's time budget on a 4-core box.
SIZES = {
    "seisdb_lookup": {"nprocs": 2, "nspec": 10, "n_strides": 6},
    "corpus_curation": {"n_docs": 1000, "factor": 1, "n_shards": 8},
}


def _golden():
    """tests/golden_numpy.py, imported read-only by path (tests/ is not a
    package): the independent numpy reader and encoder."""
    spec = importlib.util.spec_from_file_location(
        "golden_numpy", os.path.join(ROOT, "tests", "golden_numpy.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@dataclass(frozen=True)
class Stage:
    """One rung of a traced ladder: ``run`` executes the stage's prefix plan;
    ``inputs`` are the rungs whose prefixes it contains; ``action`` marks
    the op's own actions, whose times sum to the traced op time."""

    name: str
    run: Callable[[], object]
    inputs: tuple[str, ...] = ()
    action: bool = False


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f) for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def prefix_self_times(stages: list[Stage], times: dict[str, float]) -> dict[str, float]:
    """Self time of each ladder stage: its prefix time minus the prefix
    times of the stages it consumes."""
    return {s.name: times[s.name] - sum(times[i] for i in s.inputs) for s in stages}


def _build_args(meta: dict) -> tuple:
    return (
        f"{meta['model_dir']}/proc*_ibool.bin",
        meta["force_dirs"],
        meta["nspec"],
        meta["step0"],
        meta["step1"],
        meta["dstep"],
    )


# ---------------------------------------------------------------------------
# output gates: pure functions so the self-test can plant corruptions
# ---------------------------------------------------------------------------
def check_build_rows(rows: dict, golden: dict) -> list[str]:
    """One proc's written (gll_id, offset, scale, blob) against golden_sgt."""
    order = np.argsort(rows["gll_id"])
    got_ids = np.asarray(rows["gll_id"])[order]
    if not np.array_equal(got_ids, np.asarray(golden["names"])):
        return [f"gll_id set differs ({len(got_ids)} rows vs {len(golden['names'])})"]
    problems = []
    for name, want in (("offset", golden["offset"]), ("scale", golden["scale"])):
        got = np.asarray(rows[name])[order]
        if not np.array_equal(got, np.asarray(want, dtype=np.float64)):
            problems.append(f"{name} differs from the golden encoder at {int(np.sum(got != want))} row(s)")
    blobs = [rows["blob"][i] for i in order]
    bad = sum(1 for g, w in zip(blobs, golden["blob"]) if bytes(g) != w)
    if bad:
        problems.append(f"{bad} blob(s) differ from the golden encoder")
    return problems


def check_lookup_rows(rows: dict, ids: list[int], want_ids: list[int], golden: dict) -> list[str]:
    """Decoded values of one element against the raw strain from the golden
    reader: each within one quantization step (scale/255), plus the float32
    rounding slack of the encoder, as tests/test_quantize_property.py bounds
    it (the golden encoder itself reaches 1.0000019 x scale/255)."""
    want_ids = [int(x) for x in want_ids]
    if [int(x) for x in ids] != want_ids:
        return ["element gll ids differ from the golden ibool reader"]
    gll = np.asarray(rows["gll_id"])
    if set(gll.tolist()) != set(want_ids):
        return ["decoded gll ids differ from the element's ids"]
    n_step = golden["n_step"]
    expected = len(set(want_ids)) * N_FORCE * N_PARA * n_step
    if len(gll) != expected:
        return [f"{len(gll)} decoded values, expected {expected}"]
    idx = np.searchsorted(golden["names"], gll)
    pos = (np.asarray(rows["force"]) * N_PARA + np.asarray(rows["para"])) * n_step + np.asarray(
        rows["step_idx"]
    )
    err = np.abs(np.asarray(rows["value"]) - golden["flat"][idx, pos])
    scale, offset = golden["scale"][idx], golden["offset"][idx]
    bound = scale / MAX_CODE * 1.0001 + 1e-12 + np.abs(offset) * 1e-6 + scale * 1e-6
    over = int(np.sum(err > bound))
    return [f"{over} decoded value(s) off by more than scale/255"] if over else []


def check_manifest(manifest: list[tuple], reference: list[tuple]) -> list[str]:
    return [] if manifest == reference else ["shard manifest differs from the first op's"]


# ---------------------------------------------------------------------------
# the build path: one station through sgt_build -> append_to_db
# ---------------------------------------------------------------------------
def build_station(spark, meta: dict, db: str, station: str) -> None:
    records, db_meta, _ = sgt_build(spark, *_build_args(meta), network=NETWORK, station=station)
    append_to_db(records, db_meta, db, NETWORK, station)


def build_ladder(spark, meta: dict, db: str, station: str) -> list[Stage]:
    """Prefix plans of ``sgt_build``: listing, ibool, select, scan, assemble,
    encode, start offsets, then the real sink."""
    model_glob, force_dirs, nspec, s0, s1, ds = _build_args(meta)

    def ibool():
        return specfem.read_ibool(spark, model_glob, nspec)

    def steps():
        return valid_steps(spark, force_dirs, "strain_field", s0, s1, ds)

    def snaps():
        return specfem.read_strain_snapshots(spark, force_dirs, nspec)

    def series():
        return assemble_series(snaps(), select_gll_points(ibool()), steps())

    return [
        Stage("specfem.listing", lambda: noop(steps())),
        Stage("specfem.ibool", lambda: noop(ibool())),
        Stage("build.select_points", lambda: noop(select_gll_points(ibool())), ("specfem.ibool",)),
        Stage("specfem.scan_decode", lambda: noop(snaps())),
        Stage(
            "build.assemble",
            lambda: noop(series()),
            ("specfem.scan_decode", "build.select_points", "specfem.listing"),
        ),
        Stage("build.encode", lambda: noop(encode_records(series())), ("build.assemble",)),
        Stage(
            "build.start_offsets",
            lambda: noop(add_start_offsets(encode_records(series()))),
            ("build.encode",),
        ),
        Stage(
            "build.sink",
            lambda: build_station(spark, meta, db, station),
            ("build.start_offsets",),
            action=True,
        ),
    ]


def read_station(db: str, station: str) -> dict:
    """A station's written records, read with pyarrow (not the engine)."""
    part = os.path.join(db, "records", f"network={NETWORK}", f"station={station}")
    return pq.ParquetDataset(part).read(
        columns=["proc", "gll_id", "offset", "scale", "length", "blob"]
    ).to_pydict()


def check_station(cols: dict, golden_by_proc: dict) -> list[str]:
    """Every proc of one written station, bit-equal to golden_sgt."""
    problems = []
    for proc, golden in sorted(golden_by_proc.items()):
        mine = [j for j, p in enumerate(cols["proc"]) if p == proc]
        rows = {k: [cols[k][j] for j in mine] for k in ("gll_id", "offset", "scale", "blob")}
        problems += [f"proc {proc}: {p}" for p in check_build_rows(rows, golden)]
    if len(cols["proc"]) != sum(len(g["names"]) for g in golden_by_proc.values()):
        problems.append(f"{len(cols['proc'])} records, golden has a different count")
    return problems


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class SeisdbLookup:
    """Each op is one analyst request: the 27-point SGT series of one random
    (station, proc, element), read from a small DB.  Set-up ``k``
    generates station ``k``'s strain tree and builds it into the DB
    through ``sgt_build`` -> ``append_to_db``, so the build path is timed
    (``setup_s``), checked against the golden encoder and, in traced runs,
    split into its layers."""

    name = "seisdb_lookup"
    setup_repeats = 1  # one station: a cold build (see NOTES.md for why only one)
    setup_layer, op_layer = "build", "lookup"  # whose jobs/tasks per op they report
    setup_stages = (
        "specfem.listing", "specfem.ibool", "build.select_points", "specfem.scan_decode",
        "build.assemble", "build.encode", "build.start_offsets", "build.sink",
    )
    op_stages = ("specfem.ibool", "lookup.element_ids", "lookup.read_db", "lookup.decode")

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.rng = random.Random(seed)
        self.db = os.path.join(work, "db")
        self.stations: dict[str, dict] = {}

    def setup(self, k: int, run_ladder=None) -> dict:
        t = time.perf_counter()
        station = f"S{k}"
        meta = inputs.strain_tree(
            os.path.join(self.work, "in", station), self.seed * 100 + k,
            self.size["nprocs"], self.size["nspec"], self.size["n_strides"],
        )
        self.stations[station] = meta
        generate_s = time.perf_counter() - t
        if run_ladder is None:
            build_station(self.spark, meta, self.db, station)
        else:
            run_ladder(build_ladder(self.spark, meta, self.db, station))
        return {"inputs.generate_s": generate_s}

    def prepare_checks(self) -> list[list[str]]:
        """Golden tables for every (station, proc), then the build gate of
        each set-up station, returned in set-up order."""
        golden_numpy = _golden()
        self.golden, self.golden_sgt = {}, {}
        self.files = self.input_bytes = 0
        problems = []
        for station, m in self.stations.items():
            files, nbytes = inputs.tree_input_bytes(m)
            self.files += files
            self.input_bytes += nbytes
            by_proc = {}
            for proc in range(m["nprocs"]):
                by_proc[proc] = golden_numpy.golden_sgt(
                    m["model_dir"], m["force_dirs"], proc,
                    m["nspec"], m["step0"], m["step1"], m["dstep"],
                )
                ib = golden_numpy.load_ibool(
                    os.path.join(m["model_dir"], f"proc{proc:06d}_ibool.bin"), m["nspec"]
                )
                self.golden_sgt[station, proc] = by_proc[proc]
                flat = np.stack(by_proc[proc]["flat"])
                self.golden[station, proc] = {
                    "names": np.asarray(by_proc[proc]["names"]),
                    "flat": flat,
                    "scale": np.asarray(by_proc[proc]["scale"]),
                    "offset": np.asarray(by_proc[proc]["offset"]),
                    "n_step": flat.shape[1] // (N_FORCE * N_PARA),
                    "ibool": ib,
                }
            cols = read_station(self.db, station)
            self.records, self.blob_bytes = len(cols["proc"]), sum(cols["length"])
            problems.append(check_station(cols, by_proc))
        return problems

    def _request(self) -> tuple[str, int, int]:
        station = sorted(self.stations)[self.rng.randrange(len(self.stations))]
        return station, self.rng.randrange(self.size["nprocs"]), self.rng.randrange(self.size["nspec"])

    def _ibool(self, station: str, proc: int):
        m = self.stations[station]
        return specfem.read_ibool(
            self.spark, os.path.join(m["model_dir"], f"proc{proc:06d}_ibool.bin"), m["nspec"]
        )

    def _element_ids(self, station: str, proc: int, i_spec: int) -> list[int]:
        row = (
            element_gll_ids(self._ibool(station, proc))
            .filter((F.col("proc") == proc) & (F.col("i_spec") == i_spec))
            .collect()
        )
        return list(row[0]["gll_ids"])

    def _records(self, station: str, proc: int, ids: list[int]):
        records, _ = read_db(self.spark, self.db)
        return records.filter(
            (F.col("network") == NETWORK)
            & (F.col("station") == station)
            & (F.col("proc") == proc)
            & F.col("gll_id").isin(ids)
        )

    def _decode(self, station: str, proc: int, ids: list[int]) -> None:
        rows = decode_records(self._records(station, proc, ids), N_FORCE, N_PARA).collect()
        self.last = (station, proc, ids, rows)

    def op(self, i: int) -> None:
        self.request = self._request()
        station, proc, i_spec = self.request
        self._decode(station, proc, self._element_ids(station, proc, i_spec))

    def check(self, i: int) -> list[str]:
        station, proc, ids, rows = self.last
        cols = {k: [r[k] for r in rows] for k in ("gll_id", "force", "para", "step_idx", "value")}
        self.records_per_op = len(rows)
        want_ids = self.element_ids(station, proc, self.request[2])
        return check_lookup_rows(cols, ids, want_ids, self.golden[station, proc])

    def element_ids(self, station: str, proc: int, i_spec: int) -> list[int]:
        """The element's 27 ids from the golden ibool reader, in the
        reference's x-outer/z-inner emission order."""
        ib = self.golden[station, proc]["ibool"]
        return ib[i_spec, list(INDEX27)][list(REORDER27)].tolist()

    def stored_bytes(self) -> int:
        return parquet_bytes(self.db)

    def ladder(self, i: int, span) -> list[Stage]:
        self.request = self._request()
        station, proc, i_spec = self.request
        state = {}

        def element_ids():
            state["ids"] = self._element_ids(station, proc, i_spec)

        return [
            Stage("specfem.ibool", lambda: noop(self._ibool(station, proc))),
            Stage("lookup.element_ids", element_ids, ("specfem.ibool",), action=True),
            Stage("lookup.read_db", lambda: noop(self._records(station, proc, state["ids"]))),
            Stage(
                "lookup.decode",
                lambda: self._decode(station, proc, state["ids"]),
                ("lookup.read_db",),
                action=True,
            ),
        ]

    def layer_counts(self, per_stage: dict) -> dict:
        return {
            "specfem.scan_tasks": per_stage.get("specfem.scan_decode", (0, 0, 0))[2],
            "specfem.files": self.files,
            "specfem.input_bytes": self.input_bytes,
            "build.records": self.records,
            "build.blob_bytes": self.blob_bytes,
            "lookup.records_per_op": self.records_per_op,
        }


class CorpusCuration:
    """Each op is ``curation.build_training_set`` over a seeded documents
    corpus: shingling, MinHash/LSH, connected components and the shard
    sink, with no seismic layer involved."""

    name = "corpus_curation"
    setup_repeats = 3
    setup_layer, op_layer = None, "curation"
    setup_stages = ()
    op_stages = ("tables.load_docs", "text.shingle", "curation.decon", "graph.cc", "tables.shard_write")

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.out = os.path.join(work, "shards")
        self.reference = None

    def setup(self, k: int, run_ladder=None) -> dict:
        t = time.perf_counter()
        self.sf_dir = os.path.join(self.work, f"sf{k}")
        self.input_bytes = inputs.documents(
            self.sf_dir, self.seed, self.size["n_docs"], self.size["factor"]
        )
        return {"inputs.generate_s": time.perf_counter() - t}

    def prepare_checks(self) -> list[list[str]]:
        return []

    def op(self, i: int) -> None:
        manifest = build_training_set(
            self.spark, self.sf_dir, self.out, n_shards=self.size["n_shards"]
        )
        self.manifest = sorted(tuple(r) for r in manifest.collect())

    def check(self, i: int) -> list[str]:
        self.kept_docs = sum(r[1] for r in self.manifest)
        if self.reference is None:
            self.reference = self.manifest
        return check_manifest(self.manifest, self.reference)

    def stored_bytes(self) -> int:
        return parquet_bytes(self.out)

    def ladder(self, i: int, span) -> list[Stage]:
        spark, state = self.spark, {}

        def docs():
            return spread(load_table(spark, self.sf_dir, "documents"))

        def timed_cc(pairs):
            with span("graph.cc_auto"):
                return cc_auto(pairs)

        def keep_set():
            state["kept"] = curate(docs(), cc=timed_cc)

        def shard_write():
            manifest = write_training_shards(
                state["kept"], self.out, "doc_id", n_shards=self.size["n_shards"]
            )
            self.manifest = sorted(tuple(r) for r in manifest.collect())

        return [
            Stage("tables.load_docs", lambda: noop(docs())),
            Stage("text.shingle", lambda: noop(shingle_tokens(docs())), ("tables.load_docs",)),
            Stage("curation.decon", lambda: noop(decon_join(docs())), ("text.shingle",)),
            Stage("graph.cc", keep_set, ("curation.decon",), action=True),
            Stage("tables.shard_write", shard_write, action=True),
        ]

    def layer_counts(self, per_stage: dict) -> dict:
        return {"curation.kept_docs": self.kept_docs}


WORKLOADS = {w.name: w for w in (SeisdbLookup, CorpusCuration)}

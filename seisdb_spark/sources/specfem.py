"""SPECFEM3D binary sources (SURVEY §2.1, operators S1-S6).

The reference reads SPECFEM's Fortran unformatted-sequential dumps with file
handles and raw byte offsets on a single node
(`/root/reference/seisdb/DSEM_Utils/bin_reader.py:13-74`,
`ibool_reader.py:14-33`, `disp_reader.py:13-25`,
`strainfield_reader.py:13-72`).  Here the same formats are decoded
*distributedly*: files arrive as ``(path, content)`` rows from Spark's
``binaryFile`` source (the driver lists each snapshot dir once, by name
only; the bytes are read in the tasks, one input split per file), and
pure-numpy kernels inside Arrow-batched maps turn each snapshot file into
long rows and each ibool file into one row per element, against explicit
schemas.
Everything that differs between the SGT and DGF databases (file name,
paras, decode kernel, serialization order, suffixes) is one entry of
``KINDS``; the build, the stream and the export read it from there.

Decode kernels are format knowledge, not ported code:

* A Fortran unformatted-sequential record is ``[int32 len][payload][int32
  len]``.  The reference skips the markers with sample offsets
  (``offset=1``, ``inter_offset=2`` at ``strainfield_reader.py:43-45``);
  we parse the framing explicitly and validate the trailing marker.
* ibool payload: ``NSPEC*125`` int32, **1-based** on disk; shifted to
  0-based at decode (reference does the same at ``ibool_reader.py:31``);
  each element's 125 ids stay together as one list.
* strain payload: 6 records of ``NSPEC*125`` float32 in order
  ``(trace, xx_dev, yy_dev, xy, xz, yz)``; full-tensor completion
  (``strainfield_reader.py:57-59``) is float32 arithmetic:
  ``exx = xx_dev + tr/3; eyy = yy_dev + tr/3; ezz = tr - exx - eyy``.
* displacement payload: one record of ``NGLL*3`` float32, point-major
  ``(ux, uy, uz)`` per point (the reference's reshape+transpose at
  ``disp_reader.py:25`` is an AoS->SoA pivot that vanishes in long form).
"""

from __future__ import annotations

import functools
import os
import re
import struct
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seisdb_spark.schemas import IBOOL_SCHEMA, N_GLL_PER_ELEMENT

# filename convention: proc%06d_<kind>_Step_%d.bin (DDBbase.py:74-76) and
# proc%06d_ibool.bin (DDBbase.py:50-51).
SNAPSHOT_RE = re.compile(r"proc(\d{6})_(.+)_Step_(\d+)\.bin$")
IBOOL_RE = re.compile(r"proc(\d{6})_ibool\.bin$")


# ---------------------------------------------------------------------------
# numpy decode kernels (S1/S2 framing, S4/S5/S6 payload semantics)
# ---------------------------------------------------------------------------
def split_fortran_records(buf: bytes) -> list[bytes]:
    """S1: parse Fortran unformatted-sequential framing into record payloads.

    Validates that each trailing length marker matches the leading one —
    corrupt or truncated files fail loudly instead of yielding garbage.
    """
    out: list[bytes] = []
    pos, n = 0, len(buf)
    while pos + 4 <= n:
        (reclen,) = struct.unpack_from("<i", buf, pos)
        end = pos + 4 + reclen
        if end + 4 > n:
            raise ValueError(f"truncated Fortran record at byte {pos} (len={reclen})")
        (trailer,) = struct.unpack_from("<i", buf, end)
        if trailer != reclen:
            raise ValueError(f"record marker mismatch at byte {pos}: {reclen} != {trailer}")
        out.append(buf[pos + 4 : end])
        pos = end + 4
    if pos != n:
        raise ValueError(f"{n - pos} trailing bytes after last Fortran record")
    return out


def decode_ibool(buf: bytes, nspec: int) -> np.ndarray:
    """S4: ibool scan -> (NSPEC, 125) int32, shifted to 0-based ids."""
    payload = split_fortran_records(buf)[0]
    ib = np.frombuffer(payload, dtype="<i4")
    if ib.size != nspec * N_GLL_PER_ELEMENT:
        raise ValueError(f"ibool size {ib.size} != NSPEC*125 = {nspec * N_GLL_PER_ELEMENT}")
    # disk ids are 1-based (ibool_reader.py:31)
    return ib.reshape(nspec, N_GLL_PER_ELEMENT) - 1


def decode_strain(buf: bytes, nspec: int) -> np.ndarray:
    """S6: strain scan + deviatoric->full completion -> (6, NSPEC, 125) float32.

    Record order on disk is (trace, xx_dev, yy_dev, xy, xz, yz); output
    component order is SGT's paras (exx, eyy, ezz, exy, exz, eyz).
    All arithmetic in float32 to match the reference bit-for-bit.
    """
    n = nspec * N_GLL_PER_ELEMENT
    recs = split_fortran_records(buf)
    if len(recs) != 6:
        raise ValueError(f"strain file has {len(recs)} records, expected 6")
    tr, xxd, yyd, xy, xz, yz = (np.frombuffer(r, dtype="<f4", count=n) for r in recs)
    exx = xxd + tr / 3.0  # float32 array / python scalar stays float32
    eyy = yyd + tr / 3.0
    ezz = tr - exx - eyy
    full = np.stack([exx, eyy, ezz, xy, xz, yz])
    return full.reshape(6, nspec, N_GLL_PER_ELEMENT)


def decode_disp(buf: bytes) -> np.ndarray:
    """S5: displacement scan -> (3, NGLL) float32 channel-major.  NGLL is
    inferred from the record length (procs in one distributed job can have
    different point counts)."""
    payload = split_fortran_records(buf)[0]
    dat = np.frombuffer(payload, dtype="<f4")
    if dat.size % 3:
        raise ValueError(f"disp record of {dat.size} floats is not 3 channels per point")
    return dat.reshape(dat.size // 3, 3).T


# ---------------------------------------------------------------------------
# the SGT/DGF kind table: everything that differs between the two builds
# ---------------------------------------------------------------------------
def _strain_cells(buf: bytes, nspec: int) -> tuple[dict[str, np.ndarray], np.ndarray]:
    full = decode_strain(buf, nspec)  # (6, nspec, 125)
    nsp = full.shape[1]
    cell = {
        "i_spec": np.repeat(np.arange(nsp, dtype=np.int32), N_GLL_PER_ELEMENT),
        "i_gll": np.tile(np.arange(N_GLL_PER_ELEMENT, dtype=np.int32), nsp),
    }
    return cell, full.reshape(len(full), -1)


def _disp_cells(buf: bytes, nspec: int) -> tuple[dict[str, np.ndarray], np.ndarray]:
    dat = decode_disp(buf)  # (3, n_points); NGLL is not a function of nspec
    return {"gll_id": np.arange(dat.shape[1], dtype=np.int32)}, dat


@dataclass(frozen=True)
class Kind:
    """One database kind (DSGT.py vs DDGF.py).

    ``cells`` decodes one snapshot file into its cell-key columns and a
    (n_para, n_cell) value array.  ``cell_key`` names those columns; with
    ``proc`` it is the gather key against the selected points (J1 on the
    (i_spec, i_gll) cell for strain, J2 on gll_id for displacement).
    ``series_order`` is the struct sort of the assembled series, i.e. the
    serialization order: [force][para][time] for SGT (DSGT.py:131-135),
    [para][force][time] for DGF (DDGF.py:128-132).  ``forder`` names the
    force dirs in order (DSGT.py:193 / DDGF.py:187)."""

    name_data: str
    paras: tuple[str, ...]
    cell_key: tuple[str, ...]
    cells: Callable[[bytes, int], tuple[dict[str, np.ndarray], np.ndarray]]
    series_order: tuple[str, str, str]
    forder: str
    data_suffix: str
    header_suffix: str

    @property
    def gather_key(self) -> list[str]:
        return ["proc", *self.cell_key]

    @property
    def schema(self) -> T.StructType:
        """Long snapshot rows: one per (proc, force, step, cell)."""
        ids = ("proc", "force", "step", *self.cell_key)
        return T.StructType(
            [T.StructField(c, T.IntegerType(), False) for c in ids]
            + [T.StructField(p, T.FloatType(), False) for p in self.paras]
        )


KINDS: dict[str, Kind] = {
    "SGT": Kind(
        "strain_field", ("exx", "eyy", "ezz", "exy", "exz", "eyz"), ("i_spec", "i_gll"),
        _strain_cells, ("force", "para", "step"), "NEZ", "sgt_data", "header",
    ),
    "DGF": Kind(
        "disp", ("ux", "uy", "uz"), ("gll_id",),
        _disp_cells, ("para", "force", "step"), "ENZ", "dgf_data", "dgf_header",
    ),
}


# ---------------------------------------------------------------------------
# Spark readers: binaryFile -> mapInPandas -> long DataFrames
# ---------------------------------------------------------------------------
def _local_abspath(path: str) -> str:
    """A scheme-less relative path resolved against this process's working
    directory; Hadoop would resolve it against the JVM's, which a caller
    that changed directory after the session started does not expect."""
    return path if urlparse(path).scheme else os.path.abspath(path)


def read_ibool(spark: SparkSession, path_glob: str, nspec: int) -> DataFrame:
    """Distributed S4: every proc's ibool file -> one ``IBOOL_SCHEMA`` row
    per element, (proc, i_spec, gll_ids), its 125 ids in i_gll order.  One
    task per file; ids already 0-based.  The list column is built from the
    flat decode (one Arrow ``ListArray`` per file, no per-element Python
    object).

    ``path_glob`` is a directory plus a file-name pattern (``proc*_ibool.bin``
    or one file's name).  The directory is loaded under a
    ``pathGlobFilter``, as in :func:`snapshot_frames`, so Spark lists it
    once, on the driver: no listing job at any file count.  A missing
    directory fails with PATH_NOT_FOUND, which names it; a pattern that
    matches no file in it raises ``FileNotFoundError`` naming
    ``path_glob``."""

    def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for path, content in zip(batch["path"].to_pylist(), batch["content"].to_pylist()):
                m = IBOOL_RE.search(os.path.basename(path))
                if not m:
                    continue
                ib = decode_ibool(content, nspec)
                nsp, ng = ib.shape
                bounds = pa.array(np.arange(0, nsp * ng + 1, ng, dtype=np.int32))
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(nsp, int(m.group(1)), dtype=np.int32)),
                        pa.array(np.arange(nsp, dtype=np.int32)),
                        pa.ListArray.from_arrays(bounds, pa.array(ib.ravel())),
                    ],
                    names=IBOOL_SCHEMA.names,
                )

    directory, pattern = os.path.split(_local_abspath(path_glob))
    files = spark.read.format("binaryFile").option("pathGlobFilter", pattern).load(directory)
    if not files.inputFiles():
        raise FileNotFoundError(f"no ibool file matches {path_glob}")
    return files.select("path", "content").mapInArrow(decode, IBOOL_SCHEMA)


def snapshot_frames(
    spark: SparkSession, force_dirs: list[str], name_data: str, reader=None
) -> list[DataFrame]:
    """One binaryFile frame per force dir, in ``force_dirs`` order: that
    order defines force ids 0/1/2, mirroring the reference's dNEZ_dirList
    convention (DSGT.py:103-111).  ``reader`` is a batch (default) or
    streaming binaryFile reader.

    Each dir is loaded as a directory under a ``pathGlobFilter``, not as a
    glob path, so Spark lists it once, on the driver, when the frame is
    made: no listing job at any file count.  An empty dir yields a frame of
    no files (the build's "no valid steps" check, DDBbase.py:82-84); a
    missing dir fails with PATH_NOT_FOUND, which names it."""
    reader = (reader or spark.read.format("binaryFile")).option(
        "pathGlobFilter", f"proc*_{name_data}_Step_*.bin"
    )
    return [reader.load(_local_abspath(d)) for d in force_dirs]


def snapshot_listing(frames: list[DataFrame]) -> list[tuple[int, int, int]]:
    """(proc, force, step) of every snapshot file in the batch ``frames``,
    parsed with ``SNAPSHOT_RE`` from the names the driver listed when the
    frames were made: no job runs and no file is read.  A name the glob
    matches but the rule does not (``proc000000_x_Step_old.bin``) is
    skipped."""
    return [
        (int(m.group(1)), force, int(m.group(3)))
        for force, frame in enumerate(frames)
        for m in (SNAPSHOT_RE.search(os.path.basename(f)) for f in frame.inputFiles())
        if m
    ]


def stride_frames(frames: list[DataFrame], stride: range) -> list[DataFrame]:
    """The batch ``frames`` cut to the files whose step, parsed from the
    name, is in the non-empty ``stride``.  The filter is on
    ``_metadata.file_name``, so it prunes each frame's file index and no
    other file is read.  It is stride arithmetic, of one size at any file
    count; ``try_cast`` turns a stray name's step into null under ANSI, and
    the file is dropped."""
    step = F.regexp_extract("_metadata.file_name", SNAPSHOT_RE.pattern, 3).try_cast("int")
    lo, hi = sorted((stride[0], stride[-1]))
    in_stride = step.between(lo, hi) & ((step - stride.start) % stride.step == 0)
    return [frame.filter(in_stride) for frame in frames]


def read_snapshots(frames: list[DataFrame], nspec: int, kind: str) -> DataFrame:
    """Distributed S5/S6: the per-force snapshot frames of
    :func:`snapshot_frames` -> one long ``KINDS[kind].schema`` DataFrame.
    Each frame is tagged with its force id as a literal, and the frames are
    unioned under ONE mapInPandas (one Arrow/Python boundary), batch or
    streaming alike.  The decode parses proc and step from each file name
    with ``SNAPSHOT_RE`` and skips a name the rule does not match."""
    spec = KINDS[kind]
    files = functools.reduce(
        DataFrame.unionByName,
        [f.select("path", "content", F.lit(i).alias("force")) for i, f in enumerate(frames)],
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, force, content in zip(pdf["path"], pdf["force"], pdf["content"]):
                m = SNAPSHOT_RE.search(os.path.basename(path))
                if not m:
                    continue
                cell, values = spec.cells(bytes(content), nspec)
                n = values.shape[1]
                yield pd.DataFrame(
                    {
                        "proc": np.full(n, int(m.group(1)), dtype=np.int32),
                        "force": np.full(n, force, dtype=np.int32),
                        "step": np.full(n, int(m.group(3)), dtype=np.int32),
                        **cell,
                        **dict(zip(spec.paras, values)),
                    }
                )

    return files.mapInPandas(decode, spec.schema)


def read_strain_snapshots(spark: SparkSession, force_dirs: list[str], nspec: int) -> DataFrame:
    """Distributed S6: every strain snapshot of ``force_dirs`` -> long SGT
    rows (i_spec, i_gll, exx..eyz per force and step)."""
    frames = snapshot_frames(spark, force_dirs, KINDS["SGT"].name_data)
    return read_snapshots(frames, nspec, "SGT")

"""SPECFEM3D binary sources (SURVEY §2.1, operators S1-S6).

The reference reads SPECFEM's Fortran unformatted-sequential dumps with file
handles and raw byte offsets on a single node
(`/root/reference/seisdb/DSEM_Utils/bin_reader.py:13-74`,
`ibool_reader.py:14-33`, `disp_reader.py:13-25`,
`strainfield_reader.py:13-72`).  Here the same formats are decoded
*distributedly*: files arrive as ``(path, content)`` rows from Spark's
``binaryFile`` source (one task per file, no driver involvement, scales to
millions of snapshot files), and pure-numpy kernels inside ``mapInPandas``
(Arrow-batched) turn each file into long rows against an explicit schema.
Everything that differs between the SGT and DGF databases (file name,
paras, decode kernel, serialization order, suffixes) is one entry of
``KINDS``; the build, the stream and the export read it from there.

Decode kernels are format knowledge, not ported code:

* A Fortran unformatted-sequential record is ``[int32 len][payload][int32
  len]``.  The reference skips the markers with sample offsets
  (``offset=1``, ``inter_offset=2`` at ``strainfield_reader.py:43-45``);
  we parse the framing explicitly and validate the trailing marker.
* ibool payload: ``NSPEC*125`` int32, **1-based** on disk; shifted to
  0-based at decode (reference does the same at ``ibool_reader.py:31``).
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
from pyspark.errors import AnalysisException
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


def _binary_files(spark: SparkSession, path_glob: str) -> DataFrame:
    return spark.read.format("binaryFile").load(_local_abspath(path_glob))


def read_ibool(spark: SparkSession, path_glob: str, nspec: int) -> DataFrame:
    """Distributed S4: every proc's ibool file -> long (proc, i_spec, i_gll,
    gll_id) rows.  One task per file; ids already 0-based."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                m = IBOOL_RE.search(os.path.basename(path))
                if not m:
                    continue
                proc = int(m.group(1))
                ib = decode_ibool(bytes(content), nspec)
                nsp, ng = ib.shape
                yield pd.DataFrame(
                    {
                        "proc": np.full(nsp * ng, proc, dtype=np.int32),
                        "i_spec": np.repeat(np.arange(nsp, dtype=np.int32), ng),
                        "i_gll": np.tile(np.arange(ng, dtype=np.int32), nsp),
                        "gll_id": ib.ravel().astype(np.int32),
                    }
                )

    return _binary_files(spark, path_glob).select("path", "content").mapInPandas(
        decode, IBOOL_SCHEMA
    )


def _snapshot_files(
    spark: SparkSession, force_dirs: list[str], name_data: str, reader=None
) -> DataFrame:
    """(proc, force, step, content): every snapshot file of every force dir.

    ``force_dirs`` order defines force ids 0/1/2, mirroring the reference's
    dNEZ_dirList convention (DSGT.py:103-111); each dir's scan is tagged
    with its id as a literal, so relative dirs work in batch and stream
    alike.  ``reader`` is a batch (default) or streaming binaryFile reader.
    The one filename rule is ``SNAPSHOT_RE``: a file the glob matches but
    the rule does not (``proc000000_x_Step_old.bin``) is dropped before
    proc and step are cast.  A dir with no matching file
    yields zero rows, not a PATH_NOT_FOUND error, so an empty dir surfaces
    through the build's explicit "no valid steps" check, as in the
    reference (DDBbase.py:82-84)."""
    reader = reader or spark.read.format("binaryFile")
    parts = []
    for force, d in enumerate(force_dirs):
        glob = _local_abspath(os.path.join(d, f"proc*_{name_data}_Step_*.bin"))
        try:
            files = reader.load(glob)
        except AnalysisException:
            files = spark.createDataFrame([], "path string, content binary")
        parts.append(files.select("path", "content", F.lit(force).alias("force")))
    files = functools.reduce(DataFrame.unionByName, parts)
    base = F.element_at(F.split("path", "/"), -1)
    return files.filter(base.rlike(SNAPSHOT_RE.pattern)).select(
        F.regexp_extract(base, SNAPSHOT_RE.pattern, 1).cast("int").alias("proc"),
        "force",
        F.regexp_extract(base, SNAPSHOT_RE.pattern, 3).cast("int").alias("step"),
        "content",
    )


def snapshot_listing(spark: SparkSession, force_dirs: list[str], name_data: str) -> DataFrame:
    """(proc, force, step) file listing (path metadata only — the content
    column is pruned, so no file bytes are read).  Feeds the P3 valid-step
    filter (DDBbase.py:55-84) as a join instead of a driver-side
    os.path.exists loop."""
    return _snapshot_files(spark, force_dirs, name_data).select("proc", "force", "step")


def read_snapshots(
    spark: SparkSession,
    force_dirs: list[str],
    nspec: int,
    kind: str,
    name_data: str | None = None,
    reader=None,
) -> DataFrame:
    """Distributed S5/S6: the per-force snapshot dirs -> one long
    ``KINDS[kind].schema`` DataFrame.  The force scans are unioned first and
    decoded by ONE mapInPandas (one Arrow/Python boundary per scan), batch
    or streaming alike (see :func:`_snapshot_files`)."""
    spec = KINDS[kind]
    files = _snapshot_files(spark, force_dirs, name_data or spec.name_data, reader)

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for proc, force, step, content in zip(
                pdf["proc"], pdf["force"], pdf["step"], pdf["content"]
            ):
                cell, values = spec.cells(bytes(content), nspec)
                n = values.shape[1]
                yield pd.DataFrame(
                    {
                        "proc": np.full(n, proc, dtype=np.int32),
                        "force": np.full(n, force, dtype=np.int32),
                        "step": np.full(n, step, dtype=np.int32),
                        **cell,
                        **dict(zip(spec.paras, values)),
                    }
                )

    return files.mapInPandas(decode, spec.schema)


def read_strain_snapshots(
    spark: SparkSession, force_dirs: list[str], nspec: int, name_data: str = "strain_field"
) -> DataFrame:
    """Distributed S6: strain snapshots -> long SGT rows (i_spec, i_gll,
    exx..eyz per force and step)."""
    return read_snapshots(spark, force_dirs, nspec, "SGT", name_data)

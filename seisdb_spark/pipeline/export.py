"""Literal reference-format export (DSGT.py:118-196 / DDGF.py:115-193).

The engine's native sink is partitioned Parquet (``build.write_db`` —
SURVEY §1.1 documents that design call).  This module closes the remaining
parity hole for consumers of the reference's raw on-disk layout (the
author's ``seisgen``-style read path, ibool_reader.py:94-111): per
processor one ``proc%06d_{sgt,dgf}_data.bin`` file of zlib blobs
concatenated in ``start`` order (DSGT.py:126-171), plus a header table
mirroring the HDF5 datasets (``index/start/length/offset/scale``) and
scalar attrs (``ngll/nstep/nforce/nparas/dt/nspec/type/forder/version``,
DSGT.py:172-194).

Execution shape: blob packing is DISTRIBUTED — records hash-partition by
``proc`` and each task streams its procs' blobs to disk in ``start`` order
(a proc never spans tasks, so every task owns whole files; no driver
collect, no shuffle beyond the one repartition).  On a cluster the files
land on the executor-visible filesystem (the reference's layout is
inherently file-per-proc; at 100 TB per-proc files parallelize across the
fleet exactly like the reference's per-proc jobs did on one node).

Headers: written as ONE parquet table (``headers_parquet/``, a row per
proc: array columns = the HDF5 datasets, scalar columns = the attrs).
:func:`write_hdf5_headers` converts that table into literal ``.hdf5`` files
with the built-in minimal HDF5 writer (``pipeline/hdf5_min.py``), which
needs no HDF5 bindings.

Documented deviation: the reference header's ``length`` dataset stores
``sys.getsizeof(blob)`` = ``len(blob) + 33`` (CPython bytes-object header,
DSGT.py:163) even though its ``start`` positions advance by the TRUE length
(``fw.tell()``, DSGT.py:166).  We store the true byte length in ``length``
and the reference's quirky value in ``length_sizeof`` so a byte-level
consumer can pick either; SURVEY §2.7 E3 records the deviation.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seisdb_spark.sources.specfem import KINDS

# CPython bytes-object overhead baked into the reference's header `length`
# dataset (sys.getsizeof(b"...") - len(b"...") on CPython 3 x86-64).
_SIZEOF_OVERHEAD = 33

_PACK_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("proc", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("n_blobs", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ]
)


def export_reference_data_bins(
    records: DataFrame, saving_dir: str, kind: str = "SGT"
) -> pd.DataFrame:
    """Write ``<saving_dir>/proc%06d_{sgt,dgf}_data.bin`` per processor:
    the zlib blobs concatenated in ``start`` order — byte-identical to the
    reference writer's output (DSGT.py:126-171, asserted vs the golden
    numpy writer in tests/test_reference_export.py).

    Returns a small pandas frame (one row per proc: path, n_blobs, n_bytes)
    — the only data that ever reaches the driver.
    """
    suffix = KINDS[kind].data_suffix
    parts = (
        records.select("proc", "start", "length", "blob")
        .repartition("proc")
        .sortWithinPartitions("proc", "start")
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Tasks write to an attempt-unique temp name and os.replace() on
        # completion: a retried or speculative duplicate attempt can never
        # interleave with / truncate a committed file — the last completed
        # attempt atomically wins (POSIX rename).
        from pyspark import TaskContext

        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        os.makedirs(saving_dir, exist_ok=True)
        open_proc, fh, path, tmp, written, n_blobs = None, None, "", "", 0, 0

        def commit():
            nonlocal fh
            if fh is not None:
                fh.close()
                fh = None
                os.replace(tmp, path)
                # sweep orphan temps left by attempts killed hard (their
                # finally never ran): the committing attempt owns the final
                # file, so foreign *.tmp for this path are dead. A still-
                # running speculative loser keeps its (now-unlinked) fd and
                # its own later os.replace fails — harmless, Spark already
                # counted the task as succeeded.
                import glob as _glob

                for stale in _glob.glob(f"{path}.attempt-*.tmp"):
                    try:
                        os.remove(stale)
                    except OSError:
                        pass

        results: list[tuple[int, str, int, int]] = []
        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    if row.proc != open_proc:
                        if open_proc is not None:
                            commit()
                            results.append((open_proc, path, n_blobs, written))
                        open_proc, written, n_blobs = row.proc, 0, 0
                        path = os.path.join(saving_dir, f"proc{row.proc:06d}_{suffix}.bin")
                        tmp = f"{path}.attempt-{attempt}.tmp"
                        fh = open(tmp, "wb")
                    if row.start != written:
                        raise ValueError(
                            f"blob start {row.start} != file position {written} "
                            f"for proc {row.proc} — records out of order or "
                            "start offsets inconsistent"
                        )
                    fh.write(bytes(row.blob))
                    written += len(row.blob)
                    n_blobs += 1
            if open_proc is not None:
                commit()
                results.append((open_proc, path, n_blobs, written))
        finally:
            if fh is not None:  # error path: drop the partial temp file
                fh.close()
                if os.path.exists(tmp):
                    os.remove(tmp)
        yield pd.DataFrame(results, columns=["proc", "path", "n_blobs", "n_bytes"])

    return (
        parts.mapInPandas(pack, _PACK_RESULT_SCHEMA)
        .toPandas()
        .sort_values("proc")
        .reset_index(drop=True)
    )


def reference_headers(records: DataFrame, meta: DataFrame) -> DataFrame:
    """One row per proc mirroring the reference header file: array columns =
    the HDF5 datasets in blob order (DSGT.py:172-185), scalars = the attrs
    (DSGT.py:186-194) taken from the ``db_meta`` table.  Lazy plan; one
    shuffle (the per-proc collect_list).

    Every proc in ``meta`` gets a row — a proc with zero surviving records
    gets EMPTY dataset arrays, matching the reference writer, which always
    creates the per-proc header even when n_gll == 0."""
    arr = F.sort_array(
        F.collect_list(F.struct("start", "gll_id", "length", "offset", "scale"))
    )
    per_proc = records.groupBy("proc").agg(arr.alias("a"))
    headers = per_proc.select(
        "proc",
        F.transform("a", lambda x: x["gll_id"]).alias("index"),
        F.transform("a", lambda x: x["start"]).alias("start"),
        F.transform("a", lambda x: x["length"]).alias("length"),
        F.transform("a", lambda x: x["length"] + _SIZEOF_OVERHEAD).alias("length_sizeof"),
        F.transform("a", lambda x: x["offset"]).alias("offset"),
        F.transform("a", lambda x: x["scale"]).alias("scale"),
    )
    attrs = meta.select(
        "proc", "proc_name", "ngll", "nstep", "nforce", "nparas", "dt", "nspec",
        F.col("kind").alias("type"), "forder", "version",
    )
    # right join from meta: record-less procs survive with NULL arrays,
    # normalized to typed empty arrays
    joined = headers.join(F.broadcast(attrs), "proc", "right")
    types = dict(headers.dtypes)
    empties = [
        F.coalesce(F.col(c), F.expr(f"CAST(array() AS {types[c]})")).alias(c)
        for c in ("index", "start", "length", "length_sizeof", "offset", "scale")
    ]
    return joined.select("proc", *empties, *[c for c in attrs.columns if c != "proc"])


def export_reference_format(records: DataFrame, meta: DataFrame, saving_dir: str) -> pd.DataFrame:
    """Full reference-layout export: per-proc blob ``.bin`` files plus the
    header table at ``<saving_dir>/headers_parquet``.  Returns the per-proc
    pack summary.  The kind (and so the file suffix) is ``meta``'s ``kind``
    column; a meta holding more than one kind raises ``ValueError``.

    ``records`` feeds two actions (the pack and the header write); it is
    persisted for the duration so the upstream build lineage — the
    expensive distributed decode+encode — executes once, not twice.

    Procs present in ``meta`` but with zero surviving records still get
    their (empty) ``.bin`` file and an empty-array header row — the
    reference writer always creates the per-proc file (DSGT.py:118-126
    opens it before the record loop), and a consumer iterating procs from
    the header table must not hit a missing file."""
    records = records.persist()
    try:
        meta_rows = meta.select("proc", "kind").distinct().collect()
        kinds = sorted({r.kind for r in meta_rows})
        if len(kinds) != 1:
            raise ValueError(f"db_meta must hold exactly one kind, got {kinds}")
        kind = kinds[0]
        summary = export_reference_data_bins(records, saving_dir, kind)
        reference_headers(records, meta).write.mode("overwrite").parquet(
            os.path.join(saving_dir, "headers_parquet")
        )
    finally:
        records.unpersist()
    empty = sorted({r.proc for r in meta_rows} - set(summary.proc))
    if empty:
        os.makedirs(saving_dir, exist_ok=True)
        rows = []
        for proc in empty:
            path = os.path.join(saving_dir, f"proc{proc:06d}_{KINDS[kind].data_suffix}.bin")
            open(path, "wb").close()
            rows.append((proc, path, 0, 0))
        summary = (
            pd.concat(
                [summary, pd.DataFrame(rows, columns=summary.columns)],
                ignore_index=True,
            )
            .sort_values("proc")
            .reset_index(drop=True)
        )
    return summary


def _header_row_payload(row) -> tuple[dict, dict]:
    """(datasets, attrs) for one per-proc header row — the reference's
    exact HDF5 content (DSGT.py:172-194: ``length`` carries the writer's
    sys.getsizeof-quirk values, mirrored here as length_sizeof)."""
    import numpy as np

    datasets = {
        "index": np.asarray(list(row.index), dtype=np.int64),
        "start": np.asarray(list(row.start), dtype=np.int64),
        "length": np.asarray(list(row.length_sizeof), dtype=np.int64),
        "offset": np.asarray(list(row.offset), dtype=np.float64),
        "scale": np.asarray(list(row.scale), dtype=np.float64),
    }
    attrs = {
        "ngll": row.ngll, "nstep": row.nstep, "nforce": row.nforce,
        "nparas": row.nparas, "dt": row.dt, "nspec": row.nspec,
        "type": row.type, "forder": row.forder, "version": row.version,
    }
    return datasets, attrs


def write_hdf5_headers(spark, saving_dir: str) -> list[str]:
    """Convert the parquet header table into the reference's literal
    ``proc%06d_header.hdf5`` / ``proc%06d_dgf_header.hdf5`` files
    (DSGT.py:119 / DDGF.py:116), the suffix chosen by each row's ``type``.
    Written by the minimal spec-subset writer (pipeline/hdf5_min.py), whose
    output is structurally verified by an independent parser in
    tests/test_hdf5_min.py.  The parquet header table remains the canonical
    queryable surface."""
    from seisdb_spark.pipeline.hdf5_min import write_hdf5

    rows = (
        spark.read.parquet(os.path.join(saving_dir, "headers_parquet"))
        .toPandas()
        .sort_values("proc")
    )
    out: list[str] = []
    for row in rows.itertuples(index=False):
        suffix = KINDS[row.type].header_suffix
        path = os.path.join(saving_dir, f"{row.proc_name}_{suffix}.hdf5")
        write_hdf5(path, *_header_row_payload(row))
        out.append(path)
    return out

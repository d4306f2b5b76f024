"""Literal reference-format export (DSGT.py:118-196 / DDGF.py:115-193).

The engine's native sink is partitioned Parquet (``build.write_db`` —
SURVEY §1.1 documents that design call).  This module closes the remaining
parity hole for consumers of the reference's raw on-disk layout (the
author's ``seisgen``-style read path, ibool_reader.py:94-111).  Per
processor it writes, like the reference's one loop per proc:

  - ``proc%06d_{sgt,dgf}_data.bin``: the zlib blobs concatenated in
    ``start`` order (DSGT.py:126-171);
  - ``proc%06d_header.hdf5`` / ``proc%06d_dgf_header.hdf5``: the five HDF5
    datasets (``index/start/length/offset/scale``) and the scalar attrs
    (``ngll/nstep/nforce/nparas/dt/nspec/type/forder/version``,
    DSGT.py:172-194), by the minimal writer of ``pipeline/hdf5_min.py``,
    which needs no HDF5 bindings;
  - its row of ``headers_parquet/``, the queryable copy of the header
    (array columns = the datasets, scalar columns = the attrs).

Execution shape: ONE distributed pass.  ``db_meta`` holds one row per proc,
so it is collected once and its attrs reach the tasks as driver data (a
build's meta is a local relation: that collect runs no Spark job).  The
meta procs, a ``LocalTableScan`` made by ``build.local_frame``, are
left-joined to the records; the rows hash-partition by ``proc`` and each
task streams its procs' blobs to disk in ``start`` order (a proc never
spans tasks, so every task owns whole files), then writes the proc's
``.hdf5`` and yields its header row.  Writing those rows as
``headers_parquet`` is the only action over the records; the
returned summary reads back one count per proc from that table, so no
header array reaches the driver.  On a cluster the files land on the
executor-visible filesystem (the reference's layout is inherently
file-per-proc; at 100 TB per-proc files parallelize across the fleet
exactly like the reference's per-proc jobs did on one node).

Documented deviation: the reference header's ``length`` dataset stores
``sys.getsizeof(blob)`` = ``len(blob) + 33`` (CPython bytes-object header,
DSGT.py:163) even though its ``start`` positions advance by the TRUE length
(``fw.tell()``, DSGT.py:166).  The table stores the true byte length in
``length`` and the reference's quirky value in ``length_sizeof`` so a
byte-level consumer can pick either; the ``.hdf5`` carries the quirky value,
as the reference's does.  SURVEY §2.7 E3 records the deviation.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from seisdb_spark.pipeline.build import local_frame
from seisdb_spark.sources.specfem import KINDS

# CPython bytes-object overhead baked into the reference's header `length`
# dataset (sys.getsizeof(b"...") - len(b"...") on CPython 3 x86-64).
_SIZEOF_OVERHEAD = 33

# the HDF5 scalar attrs, in the reference's order (DSGT.py:186-194)
_ATTRS = ("ngll", "nstep", "nforce", "nparas", "dt", "nspec", "type", "forder", "version")

_HEADER_SCHEMA = (
    "proc int, index array<int>, start array<bigint>, length array<bigint>, "
    "length_sizeof array<bigint>, offset array<double>, scale array<double>, "
    "proc_name string, ngll bigint, nstep bigint, nforce int, nparas int, "
    "dt double, nspec int, type string, forder string, version string"
)


def _publish(tmp: str, path: str) -> None:
    """Atomically commit a task's ``tmp`` file as ``path`` (POSIX rename:
    a retried or speculative duplicate attempt can never interleave with or
    truncate a committed file; the last completed attempt wins), then sweep
    orphan temps left by attempts killed hard (their finally never ran).  A
    still-running speculative loser keeps its now-unlinked fd and its own
    later rename fails, which is harmless: Spark already counted the task
    as succeeded."""
    os.replace(tmp, path)
    for stale in glob.glob(f"{path}.attempt-*.tmp"):
        try:
            os.remove(stale)
        except OSError:
            pass


def export_reference_format(records: DataFrame, meta: DataFrame, saving_dir: str) -> pd.DataFrame:
    """Full reference-layout export into ``saving_dir``: every meta proc's
    ``.bin`` and ``.hdf5`` files plus its ``headers_parquet`` row, in one
    distributed pass.  The kind (and so the file suffixes) is ``meta``'s
    ``kind`` column; a meta holding more than one kind raises ``ValueError``
    before anything is written.

    Returns the per-proc summary (``proc, path, n_blobs, n_bytes``, sorted
    by proc; ``path`` is the ``.bin``).  The ``.bin`` bytes equal the
    reference writer's (asserted vs the golden numpy writer in
    tests/test_reference_export.py).

    Procs present in ``meta`` but with zero surviving records still get an
    empty ``.bin``, an ``.hdf5`` of empty datasets and an empty-array header
    row: the reference writer always creates the per-proc files
    (DSGT.py:118-126 opens them before the record loop), and a consumer
    iterating procs from the header table must not hit a missing file.
    Records of a proc absent from ``meta`` have no attrs, so no header, and
    are not exported."""
    rows = meta.withColumnRenamed("kind", "type").select("proc", "proc_name", *_ATTRS).collect()
    kinds = sorted({r.type for r in rows})
    if len(kinds) != 1:
        raise ValueError(f"db_meta must hold exactly one kind, got {kinds}")
    spec = KINDS[kinds[0]]
    attrs = {r.proc: r.asDict() for r in rows}

    def base(proc: int) -> str:
        return os.path.join(saving_dir, attrs[proc]["proc_name"])

    spark = records.sparkSession
    procs = local_frame(spark, [(p,) for p in sorted(attrs)], "proc int")
    parts = (
        procs.join(
            records.select("proc", "start", "gll_id", "length", "offset", "scale", "blob"),
            "proc",
            "left",
        )
        .repartition("proc")
        .sortWithinPartitions("proc", "start")
    )

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # every file is written to an attempt-unique temp name and published
        # by _publish once complete; the finally drops a partial temp
        from pyspark import TaskContext

        from seisdb_spark.pipeline.hdf5_min import write_hdf5

        ctx = TaskContext.get()
        tag = f"attempt-{ctx.taskAttemptId() if ctx is not None else os.getpid()}.tmp"
        os.makedirs(saving_dir, exist_ok=True)
        proc, fh, paths, temps, written, cols = None, None, (), (), 0, {}

        def finish() -> pd.DataFrame:
            # the proc's .bin is complete: publish it, then its .hdf5, and
            # return its header row
            fh.close()
            _publish(temps[0], paths[0])
            start = np.asarray(cols["start"], dtype=np.int64)
            length = np.asarray(cols["length"], dtype=np.int64)
            datasets = {
                "index": np.asarray(cols["gll_id"], dtype=np.int64),
                "start": start,
                "length": length + _SIZEOF_OVERHEAD,
                "offset": np.asarray(cols["offset"], dtype=np.float64),
                "scale": np.asarray(cols["scale"], dtype=np.float64),
            }
            a = attrs[proc]
            write_hdf5(temps[1], datasets, {k: a[k] for k in _ATTRS})
            _publish(temps[1], paths[1])
            return pd.DataFrame([{
                "proc": proc,
                "index": datasets["index"].astype(np.int32),
                "start": start,
                "length": length,
                "length_sizeof": datasets["length"],
                "offset": datasets["offset"],
                "scale": datasets["scale"],
                **a,
            }])

        try:
            for pdf in batches:
                for row in pdf.itertuples(index=False):
                    if row.proc != proc:
                        if proc is not None:
                            yield finish()
                        proc, written = row.proc, 0
                        cols = {c: [] for c in ("gll_id", "start", "length", "offset", "scale")}
                        paths = (
                            f"{base(proc)}_{spec.data_suffix}.bin",
                            f"{base(proc)}_{spec.header_suffix}.hdf5",
                        )
                        temps = tuple(f"{p}.{tag}" for p in paths)
                        fh = open(temps[0], "wb")
                    if row.blob is None:  # a meta proc with no records
                        continue
                    if row.start != written:
                        raise ValueError(
                            f"blob start {row.start} != file position {written} "
                            f"for proc {row.proc} — records out of order or "
                            "start offsets inconsistent"
                        )
                    fh.write(row.blob)
                    written += len(row.blob)
                    for c in cols:
                        cols[c].append(getattr(row, c))
            if proc is not None:
                yield finish()
        finally:
            if fh is not None:
                fh.close()
            for tmp in temps:  # error path: drop the partial temp files
                if os.path.exists(tmp):
                    os.remove(tmp)

    table = os.path.join(saving_dir, "headers_parquet")
    parts.mapInPandas(pack, _HEADER_SCHEMA).write.mode("overwrite").parquet(table)
    summary = (
        spark.read.schema(_HEADER_SCHEMA)
        .parquet(table)
        .select(
            "proc",
            F.size("index").cast("long").alias("n_blobs"),
            F.aggregate("length", F.lit(0).cast("long"), lambda acc, n: acc + n).alias("n_bytes"),
        )
        .toPandas()
        .sort_values("proc")
        .reset_index(drop=True)
    )
    summary.insert(1, "path", [f"{base(p)}_{spec.data_suffix}.bin" for p in summary.proc])
    return summary
